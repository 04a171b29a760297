"""The benchmark's workloads, each driven through the package's public
entry points by one closed-loop client (next call only after the last
one returned).

* ``QueryMix`` runs a fixed list of registered queries
  (``__spark_entry__.queries()``) over the project's sf0.01 test tables,
  copied into ``data/sf0.01``: one cold pass, then steady passes until
  the measuring window closes. The seed shuffles the order in every pass.
  Each execution is the builder call plus ``toPandas()``, so its time runs
  from input to the complete result in the caller's hands, and every
  result is checked against the query's DuckDB oracle.
* ``IngestCommitRead`` lands seeded api-log parquet files round after
  round, drains them with ``ingest.start_staged_ingest(available_now=True)``
  over several flush epochs, publishes them with ``ingest.commit_staged``,
  opens the table with ``maintenance.read_compacted_table`` and runs four
  ``queries.api_logs`` reads; after the window it compacts with
  ``maintenance.compact_parquet_table`` and reads again. Every commit is
  checked for exactly-once row counts and every read against DuckDB over
  the landed files.
"""

from __future__ import annotations

import math
import os
import random
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import pyarrow.parquet as pq

from oracle import check, duckdb_conn, duckdb_over_files
from sparkstats import GroupStats, union_length

#: The project's sf0.01 test tables, read in place by ``query_mix``.
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
#: A traced run measures this many windows, so it holds several traced and
#: untraced passes to compare.
TRACE_WINDOWS = 2


@dataclass
class Op:
    """One timed call: its span, the spans of its parts, and facts about it."""

    name: str
    span: object  # tracing.Span of the whole call
    traced: bool
    parts: dict = field(default_factory=dict)  # part name -> [Span]
    facts: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.span.seconds


@dataclass
class Pass:
    ops: list
    traced: bool

    @property
    def seconds(self) -> float:
        return sum(op.seconds for op in self.ops)


class Run:
    """What a workload's run needs and what it counts."""

    def __init__(self, spark, tracer, seed: int, seconds: float, trace: bool):
        self.spark, self.tracer = spark, tracer
        self.rng = random.Random(seed)
        self.seconds, self.trace = seconds, trace
        self.attempted = self.failed = 0

    def check(self, what: str, errors: list[str]) -> None:
        self.attempted += 1
        if errors:
            self.failed += 1
            print(f"WRONG {what}: {'; '.join(errors)[:500]}", file=sys.stderr)

    def guarded(self, what: str, fn):
        """Call ``fn``; an exception counts as a failed operation."""
        try:
            return fn()
        except Exception:  # a failing query must not stop the run
            self.attempted += 1
            self.failed += 1
            print(f"FAILED {what}:\n{traceback.format_exc()}", file=sys.stderr)
            return None

    def steady(self, one_pass, min_passes: int = 2) -> list:
        """Steady passes until the window closes and at least ``min_passes``
        ran, or until ``one_pass`` returns None. At least two, so a traced
        run has a traced and an untraced pass. A traced run traces every
        other pass and measures ``TRACE_WINDOWS`` windows."""
        window = self.seconds * (TRACE_WINDOWS if self.trace else 1)
        passes, start = [], time.perf_counter()
        while len(passes) < min_passes or time.perf_counter() - start < window:
            self.tracer.enabled = self.trace and len(passes) % 2 == 0
            done = one_pass()
            if done is None:
                break
            passes.append(done)
        self.tracer.enabled = self.trace
        return passes


def _median(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


def spark_layer(ops: list, stats: dict[str, GroupStats]) -> dict:
    """Span times of the ops' ``build`` and ``exec`` parts plus the Spark
    accounting of the jobs launched inside them."""
    total = GroupStats()
    out = {"build_s": 0.0, "exec_s": 0.0, "build_jobs": 0}
    wall = driver_only = 0.0
    for op in ops:
        for part in ("build", "exec"):
            for sp in op.parts[part]:
                gs = stats.get(sp.group, GroupStats())
                out[f"{part}_s"] += sp.seconds
                if part == "build":
                    out["build_jobs"] += gs.jobs
                total.add(gs)
                wall += sp.seconds
                driver_only += sp.seconds - union_length(gs.stage_intervals, sp.start, sp.end)
    out.update(
        jobs=total.jobs,
        stages=total.stages,
        tasks=total.tasks,
        driver_only_s=driver_only,
        stage_wait_s=total.stage_wait_s,
        executor_run_s=total.executor_run_s,
        executor_cpu_s=total.executor_cpu_s,
        busy_cores=total.executor_run_s / wall if wall else 0.0,
        shuffle_mb=total.shuffle_mb,
        spill_mb=total.spill_mb,
        gc_s=total.gc_s,
        task_skew=total.task_skew(),
    )
    return out


def median_layers(per_pass: list[dict]) -> dict:
    return {k: _median(p[k] for p in per_pass) for k in per_pass[0]}


def overhead(traced: list[float], untraced: list[float]) -> dict:
    """Traced minus untraced median, with the sample counts and the
    untraced samples' spread (max - min), which the difference must exceed
    to mean anything."""
    return {
        "s": _median(traced) - _median(untraced),
        "n_traced": len(traced),
        "n_untraced": len(untraced),
        "untraced_range_s": max(untraced) - min(untraced) if untraced else 0.0,
    }


# ---------------------------------------------------------------------------
# query_mix
# ---------------------------------------------------------------------------


class QueryMix:
    name = "query_mix"

    #: query -> (package module, family). Analyst queries from queries/:
    #: 0.1-1 s each, where fixed per-job and per-stage cost dominates.
    #: Curation operators from operators/: a driver-side graph loop and the
    #: dedup shuffles.
    QUERIES = {
        "q_count": ("queries", "reference"),
        "q_frequency_by_name": ("queries", "reference"),
        "q_recent_top20": ("queries", "reference"),
        "q_error_analysis": ("queries", "reference"),
        "q_hourly_rollup": ("queries", "reference"),
        "q_time_range_full_scan": ("queries", "reference"),
        "q_projection": ("queries", "reference"),
        "q_pricing_summary": ("queries", "tpch"),  # TPC-H Q1
        "q_funnel_conversion": ("queries", "analytics"),
        "q_dup_clusters_star": ("operators", "graph"),
        "q_dedup_ngram_jaccard": ("operators", "dedup"),
    }

    def prepare(self, spark, work_dir: str, seed: int) -> str:
        """The tables are fixed; the seed only orders the queries."""
        return DATA

    def run(self, run: Run, sf_dir: str, acct) -> dict:
        import __spark_entry__ as entry

        builders = entry.queries()
        oracle_sql = entry.oracle_sql()
        con = duckdb_conn(sf_dir)
        want = {n: con.execute(oracle_sql[n]).fetchdf() for n in self.QUERIES}
        con.close()
        spark, tracer = run.spark, run.tracer

        def execute(name: str):
            with tracer.span("query", query=name) as q:
                with tracer.span("build", tag_jobs=True) as b:
                    df = builders[name](spark, sf_dir)
                with tracer.span("exec", tag_jobs=True) as e:
                    result = df.toPandas()
            run.check(name, check(result, want[name], name))
            return Op(name, q, tracer.enabled, {"build": [b], "exec": [e]})

        def one_pass() -> Pass:
            order = list(self.QUERIES)
            run.rng.shuffle(order)
            traced = tracer.enabled
            ops = [op for n in order if (op := run.guarded(n, lambda n=n: execute(n)))]
            return Pass(ops, traced)

        # The JVM keeps speeding up over the first passes (pass times fell
        # from 7.4 to 4.6 s over the first four steady passes of one run),
        # so one untimed warm pass follows the cold one, and every run
        # measures at least three passes: a slow host must not move the
        # median to an earlier, slower point of that curve.
        cold = one_pass()
        warm = one_pass()
        passes = run.steady(one_pass, min_passes=3)
        per_query = {
            n: _median(op.seconds for p in passes for op in p.ops if op.name == n) for n in self.QUERIES
        }
        # The mix's latencies form clusters 0.1-2 s apart, so a median over
        # them jumps between clusters from run to run; the geometric mean of
        # the per-query medians weighs every query's relative change alike.
        e2e = {
            "pass_s": sum(per_query.values()),
            "latency_s": math.exp(statistics.fmean(math.log(v) for v in per_query.values() if v > 0)),
        }
        info = {
            "cold_pass_s": cold.seconds,
            "warm_pass_s": warm.seconds,
            "steady_passes": len(passes),
            "steady_pass_s": [p.seconds for p in passes],
            "mix": len(self.QUERIES),
            "cold_query_s": {op.name: op.seconds for op in cold.ops},
            "steady_query_s": per_query,
        }
        if not run.trace:
            return {"e2e": e2e, "info": info}

        stats = acct.by_group(with_task_quantiles=True)
        traced = [p for p in passes if p.traced]
        per_pass = [spark_layer(p.ops, stats) for p in traced]
        modules = {}
        for module in ("queries", "operators"):
            mine = [[op for op in p.ops if self.QUERIES[op.name][0] == module] for p in traced]
            layer = median_layers([spark_layer(ops, stats) for ops in mine])
            modules.update({f"{module}.{k}": v for k, v in layer.items()})
            cold_layer = spark_layer([op for op in cold.ops if self.QUERIES[op.name][0] == module], stats)
            modules[f"{module}.cold_build_s"] = cold_layer["build_s"]
            modules[f"{module}.cold_exec_s"] = cold_layer["exec_s"]
        for module, family in sorted(set(self.QUERIES.values())):
            modules[f"{module}.{family}_s"] = _median(
                sum(op.seconds for op in p.ops if self.QUERIES[op.name][1] == family) for p in traced
            )
        info["counts_repeat"] = len({(q["jobs"], q["stages"], q["tasks"]) for q in per_pass}) == 1
        cost = {"pass_s": overhead([p.seconds for p in traced], [p.seconds for p in passes if not p.traced])}
        return {"e2e": e2e, "info": info, "layer": median_layers(per_pass), "modules": modules, "overhead": cost}


# ---------------------------------------------------------------------------
# ingest_commit_read
# ---------------------------------------------------------------------------

ROWS_PER_ROUND = 8_000
FILES_PER_ROUND = 2
FILES_PER_EPOCH = 1
MAX_ROUNDS = 14

def _reads():
    """The four reference reads, as (name, plan over the table, DuckDB SQL)."""
    from api_log_iceberg_test_spark.queries import api_logs

    recent = ["time", "name", "bucket", "object", "requestId"]
    return [
        ("count_all", api_logs.count_all, "SELECT count(*) AS cnt FROM t"),
        (
            "frequency_by",
            lambda df: api_logs.frequency_by(df, "name"),
            "SELECT name, count(*) AS cnt FROM t GROUP BY name",
        ),
        (
            "error_analysis",
            lambda df: api_logs.error_analysis(df, "httpStatusCode", ["name", "httpStatusCode"]),
            "SELECT name, httpStatusCode, count(*) AS cnt FROM t "
            "WHERE httpStatusCode >= 400 GROUP BY name, httpStatusCode",
        ),
        (
            "recent_top_k",
            lambda df: api_logs.recent_top_k(df, "time", recent, 20),
            f"SELECT {', '.join(recent)} FROM t ORDER BY time DESC LIMIT 20",
        ),
    ]


class IngestCommitRead:
    name = "ingest_commit_read"

    def prepare(self, spark, work_dir: str, seed: int) -> str:
        from api_log_iceberg_test_spark.generator import generate_api_logs

        generate_api_logs(
            spark,
            ROWS_PER_ROUND * MAX_ROUNDS,
            seed=seed,
            num_partitions=FILES_PER_ROUND * MAX_ROUNDS,
        ).write.parquet(os.path.join(work_dir, "source"))
        return work_dir

    def run(self, run: Run, work_dir: str, acct) -> dict:
        from api_log_iceberg_test_spark.ingest import IngestConfig, commit_staged, start_staged_ingest
        from api_log_iceberg_test_spark.maintenance import compact_parquet_table, read_compacted_table

        spark, tracer = run.spark, run.tracer
        src = os.path.join(work_dir, "source")
        files = sorted(f for f in os.listdir(src) if f.endswith(".parquet"))
        schema = spark.read.parquet(src).schema
        landing = os.path.join(work_dir, "landing")
        target = os.path.join(work_dir, "table", "api")
        os.makedirs(landing)
        os.makedirs(os.path.dirname(target))
        config = IngestConfig(checkpoint_dir=os.path.join(work_dir, "checkpoint"))
        reads = _reads()
        landed: list[str] = []
        live = {"files": 0}

        def read_all(df, op: Op) -> float:
            """The four reads, checked against DuckDB over the landed files;
            returns when the first result arrived."""
            con = duckdb_over_files(landed)
            for name, plan, sql in reads:
                with tracer.span(f"read:{name}", tag_jobs=True) as sp:
                    result = plan(df).toPandas()
                op.parts["exec"].append(sp)
                run.check(f"{op.name} {name}", check(result, con.execute(sql).fetchdf(), name))
            con.close()
            return op.parts["exec"][0].end

        def one_round() -> Op | None:
            batch = files[len(landed): len(landed) + FILES_PER_ROUND]
            if not batch:
                return None
            with tracer.span("round") as r:
                op = Op("round", r, tracer.enabled, {"exec": []})
                for f in batch:  # the new files land
                    os.rename(os.path.join(src, f), os.path.join(landing, f))
                    landed.append(os.path.join(landing, f))
                stream = (
                    spark.readStream.schema(schema)
                    .option("maxFilesPerTrigger", FILES_PER_EPOCH)
                    .parquet(landing)
                )
                with tracer.span("flush") as sp:
                    query = start_staged_ingest(stream, target, config, available_now=True)
                    query.awaitTermination()
                op.parts["flush"] = [sp]
                with tracer.span("commit", tag_jobs=True) as sp:
                    commit_staged(target)
                op.parts["commit"] = [sp]
                with tracer.span("open", tag_jobs=True) as sp:
                    df = read_compacted_table(spark, target)
                op.parts["build"] = [sp]
                visible = read_all(df, op)
            rows_landed = sum(pq.ParquetFile(f).metadata.num_rows for f in landed)
            table = live_table(target)
            op.facts.update(
                table,
                visible_s=visible - r.start,
                epochs=len(query.recentProgress),
                flush_group=str(query.runId),  # the streaming query's job group
                files_written=table["live_files"] - live["files"],
            )
            live["files"] = table["live_files"]
            published = table["live_rows"]
            run.check(
                "exactly-once",
                [] if published == rows_landed else [f"{published} published != {rows_landed} landed"],
            )
            return op

        cold = run.guarded("round", one_round)
        rounds = run.steady(lambda: run.guarded("round", one_round))

        with tracer.span("maintenance") as m:
            after = Op("after compact", m, tracer.enabled, {"exec": []})
            with tracer.span("compact", tag_jobs=True) as sp:
                run.guarded("compact", lambda: compact_parquet_table(spark, target))
            after.parts["compact"] = [sp]
            run.guarded("read after compact", lambda: read_all(read_compacted_table(spark, target), after))

        e2e = {
            "pass_s": _median(op.seconds for op in rounds),
            "latency_s": _median(op.facts["visible_s"] for op in rounds),
        }
        info = {
            "cold_pass_s": cold.seconds if cold else None,
            "steady_rounds": len(rounds),
            "rows_per_round": ROWS_PER_ROUND,
        }
        if not run.trace:
            return {"e2e": e2e, "info": info}

        stats = acct.by_group(with_task_quantiles=True)
        traced = [op for op in rounds if op.traced]
        untraced = [op for op in rounds if not op.traced]

        def per_round(op: Op) -> dict:
            flush, commit = op.parts["flush"][0].seconds, op.parts["commit"][0].seconds
            return {
                "ingest.flush_s": flush,
                "ingest.epochs": op.facts["epochs"],
                "ingest.flush_jobs": stats.get(op.facts["flush_group"], GroupStats()).jobs,
                "ingest.files_written": op.facts["files_written"],
                "ingest.commit_s": commit,
                "ingest.rows_per_s": ROWS_PER_ROUND / (flush + commit),
                "maintenance.open_s": op.parts["build"][0].seconds,
                "maintenance.live_files": op.facts["live_files"],
                "maintenance.bytes_per_row": op.facts["live_bytes"] / max(1, op.facts["live_rows"]),
                "queries.read_s": sum(sp.seconds for sp in op.parts["exec"]),
                "visible_s": op.facts["visible_s"],
            }

        modules = median_layers([per_round(op) for op in traced])
        modules["maintenance.compact_s"] = after.parts["compact"][0].seconds
        modules["maintenance.read_after_compact_s"] = sum(sp.seconds for sp in after.parts["exec"])
        layer = median_layers([spark_layer([op], stats) for op in traced])
        cost = {
            "pass_s": overhead([op.seconds for op in traced], [op.seconds for op in untraced]),
            "latency_s": overhead(
                [op.facts["visible_s"] for op in traced], [op.facts["visible_s"] for op in untraced]
            ),
        }
        return {"e2e": e2e, "info": info, "layer": layer, "modules": modules, "overhead": cost}


def live_table(target: str) -> dict:
    """Files, bytes and rows of the live table version."""
    root = os.path.realpath(target)
    files = [os.path.join(dp, f) for dp, _, fs in os.walk(root) for f in fs if f.endswith(".parquet")]
    return {
        "live_files": len(files),
        "live_bytes": sum(os.path.getsize(f) for f in files),
        "live_rows": sum(pq.ParquetFile(f).metadata.num_rows for f in files),
    }


WORKLOADS = {w.name: w for w in (QueryMix(), IngestCommitRead())}
