"""The ``curation_queries`` workload: nine of the package's queries, one
pass per op, on table sets no op has read.

One op is one pass over ``QUERIES`` in order. Each query's DataFrame is
built and collected to the driver under a job group of its own, timed
from outside by the wall clock around both. The timed section stops once
``seconds`` of pass wall time have been measured (at least one pass).
After it, untimed, every collected result is compared with the query's
DuckDB oracle from ``__spark_entry__.oracle_sql()`` over the same table
files.

One warm-up pass runs first, on a table set of its own (seed -1), with
the nine queries in nine driver threads at once: the first pass over a
process is mostly class loading, code generation and Python worker
start-up, which this overlaps. The timed pass that follows is still on a
falling curve (the next pass of a process is about a quarter faster), but
a second warm-up pass would not fit the run budget; every run times the
same position on that curve.
"""

from __future__ import annotations

import math
import os
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import procstat
import tablesets
from harness import dir_bytes, host, spark_counts, start_session, stop
from tracing import Tracer

QUERIES = (
    "hybrid_search",
    "zone_transform",
    "ccnet_buckets",
    "kn_perplexity",
    "semantic_dedup",
    "dedup_minhash",
    "dsir_weights",
    "tpch_top_orders",
    "crawl_diff",
)
WARMUP_SEED = -1  # workload seeds are >= 0
WARMUP_PASSES = 1
MIN_OPS = 1

LAYERS = {
    **{f"query.{q}_s": "s" for q in QUERIES},
    **{f"query.{q}.spark_jobs": "count" for q in QUERIES},
    **{f"query.{q}.spark_stages": "count" for q in QUERIES},
}


def _norm(cols, rows):
    """Columns in name order and rows sorted by their repr, NaN as a
    string: the order-insensitive exact form the repository's oracle
    checks compare."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [
        tuple("NaN" if isinstance(r[i], float) and math.isnan(r[i]) else r[i] for i in order)
        for r in rows
    ]
    out.sort(key=repr)
    return [cols[i] for i in order], out


def check_pass(table_dir: str, results: dict) -> list[str]:
    """Problems with one pass's results; empty when every query agrees
    with its DuckDB oracle on the same table files."""
    import duckdb

    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    con = duckdb.connect()
    problems = []
    try:
        for t in tablesets.TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_dir}/{t}.parquet')"
            )
        for q in QUERIES:
            if q not in results:
                problems.append(f"{q}: no result")
                continue
            res = con.execute(oracles[q])
            want = _norm([d[0] for d in res.description], res.fetchall())
            have = _norm(*results[q])
            if have[0] != want[0]:
                problems.append(f"{q}: columns {have[0]} != oracle {want[0]}")
            elif have[1] != want[1]:
                problems.append(f"{q}: {len(have[1])} rows differ from the oracle's {len(want[1])}")
    finally:
        con.close()
    return problems


@dataclass
class PassResult:
    wall_s: float
    table_dir: str
    results: dict  # query -> (columns, rows)
    ok: bool = True
    query_s: dict = field(default_factory=dict)
    spark: dict = field(default_factory=dict)  # query -> (jobs, stages, tasks)
    jvm_cpu_s: float = 0.0
    workers_cpu_s: float = 0.0
    steal_frac: float = 0.0


@dataclass
class QueryRun:
    root: str
    workload: str
    seed: int
    seconds: float
    trace: bool
    corrupt: bool = False
    warmup: int | None = None

    def __post_init__(self):
        self.work = os.path.join(self.root, ".perfbench")
        self.cache = os.path.join(self.work, "tables")
        self.tracer = Tracer(self.trace)
        self.host = host()
        self.worker_hwm_mb = 0.0
        self.jvm_hwm_mb = 0.0

    def run_query(self, spark, table_dir: str, q: str, group: str):
        import __spark_entry__ as entry

        spark.sparkContext.setJobGroup(group, f"perfbench {self.workload} {group}")
        df = entry.queries()[q](spark, table_dir)
        return df.columns, [tuple(r) for r in df.collect()]

    def warmup_pass(self, spark, table_dir: str, name: str) -> float:
        t0 = time.perf_counter()
        with ThreadPoolExecutor(len(QUERIES)) as ex:
            list(ex.map(lambda q: self.run_query(spark, table_dir, q, f"{name}.{q}"), QUERIES))
        return time.perf_counter() - t0

    def timed_pass(self, spark, table_dir: str, name: str) -> PassResult:
        before = procstat.sample(self.jvm)
        ticks = procstat.host_ticks()
        res = PassResult(0.0, table_dir, {})
        t0 = time.perf_counter()
        with self.tracer.span("queries.pass", op=name):
            for q in QUERIES:
                t = time.perf_counter()
                with self.tracer.span(f"query.{q}"):
                    try:
                        res.results[q] = self.run_query(spark, table_dir, q, f"{name}.{q}")
                    except Exception as e:  # a failed query fails the op, the run goes on
                        print(f"{name} {q} raised {type(e).__name__}: {e}", file=sys.stderr)
                        res.ok = False
                res.query_s[q] = time.perf_counter() - t
        res.wall_s = time.perf_counter() - t0
        steal, total = (b - a for a, b in zip(ticks, procstat.host_ticks()))
        after = procstat.sample(self.jvm)
        self.worker_hwm_mb = max(self.worker_hwm_mb, after.worker_hwm_mb)
        self.jvm_hwm_mb = max(self.jvm_hwm_mb, after.jvm_hwm_mb)
        res.jvm_cpu_s = after.jvm_cpu_s - before.jvm_cpu_s
        res.workers_cpu_s = after.workers_cpu_s - before.workers_cpu_s
        res.steal_frac = steal / total if total else 0.0
        if self.trace:
            sc = spark.sparkContext
            res.spark = {q: spark_counts(sc, f"{name}.{q}") for q in QUERIES}
        print(
            f"{name} wall {res.wall_s:.3f} s steal {res.steal_frac:.3f} "
            + " ".join(f"{q}={s:.2f}" for q, s in res.query_s.items()),
            file=sys.stderr,
        )
        return res

    def execute(self) -> dict:
        warm = [tablesets.table_set(self.cache, WARMUP_SEED, i) for i in range(self.warmup or WARMUP_PASSES)]
        spark = None
        ops: list[PassResult] = []
        try:
            t0 = time.perf_counter()
            with self.tracer.span("session.get_spark", op="setup"):
                spark = start_session(self.work, self.host)
            t_session = time.perf_counter() - t0
            self.jvm = procstat.find_jvm(os.getpid())
            for i, d in enumerate(warm):
                with self.tracer.span("queries.warmup_pass", op=f"warmup{i}"):
                    wall = self.warmup_pass(spark, d, f"warmup{i}")
                print(f"warmup{i} wall {wall:.3f} s", file=sys.stderr)
            setup_s = time.perf_counter() - t0

            while sum(o.wall_s for o in ops) < self.seconds or len(ops) < MIN_OPS:
                d = tablesets.table_set(self.cache, self.seed, len(ops))
                ops.append(self.timed_pass(spark, d, f"op{len(ops)}"))
        finally:
            if spark is not None:
                stop(spark)

        for i, o in enumerate(ops):
            if self.corrupt and QUERIES[0] in o.results:
                cols, rows = o.results[QUERIES[0]]
                o.results[QUERIES[0]] = (cols, rows[1:])
            with self.tracer.span("check", op=f"op{i}"):
                try:
                    problems = check_pass(o.table_dir, o.results)
                except Exception as e:  # an unreadable result is a failed check
                    problems = [f"check raised {type(e).__name__}: {e}"]
            for p in problems:
                print(f"op{i} check failed: {p}", file=sys.stderr)
            o.ok = o.ok and not problems

        failed = sum(not o.ok for o in ops)
        metrics = self.end_to_end(setup_s, ops)
        if self.trace:
            metrics = self.layers(ops, t_session, setup_s, failed, metrics["op_s"][0])
            tdir = os.path.join(self.work, "traces")
            os.makedirs(tdir, exist_ok=True)
            self.tracer.dump(os.path.join(tdir, f"{self.workload}_seed{self.seed}.jsonl"))
        return {"attempted": len(ops), "failed": failed, "metrics": metrics}

    def end_to_end(self, setup_s: float, ops: list[PassResult]) -> dict:
        good = [o for o in ops if o.ok] or ops
        wall = sum(o.wall_s for o in good)
        in_bytes = [dir_bytes(o.table_dir) for o in good]
        docs = tablesets.N_DOCS * len(good)
        out_bytes = [
            sum(len(repr(rows).encode()) for _, rows in o.results.values()) for o in good
        ]
        return {
            "setup_s": (setup_s, "s"),
            "op_s": (statistics.median(o.wall_s for o in good), "s"),
            "docs_per_s": (docs / wall, "1/s"),
            "mb_per_s": (sum(in_bytes) / 1e6 / wall, "MB/s"),
            "worker_peak_rss_mb": (self.worker_hwm_mb, "MB"),
            "out_bytes_per_in_byte": (
                statistics.median(b / i for b, i in zip(out_bytes, in_bytes)), "ratio"
            ),
        }

    def layers(self, ops, t_session, setup_s, failed, op_s) -> dict:
        wall = sum(o.wall_s for o in ops)
        out = {
            "session.get_spark_s": (t_session, "s"),
            "warmup_s": (setup_s - t_session, "s"),
            "workers.cpu_s": (statistics.mean(o.workers_cpu_s for o in ops), "s"),
            "jvm.cpu_s": (statistics.mean(o.jvm_cpu_s for o in ops), "s"),
            "cores.busy_frac": (
                sum(o.workers_cpu_s + o.jvm_cpu_s for o in ops) / (wall * self.host["nproc"]),
                "frac",
            ),
            "jvm.peak_rss_mb": (self.jvm_hwm_mb, "MB"),
            "host.steal_frac": (statistics.mean(o.steal_frac for o in ops), "frac"),
            "op_fail_frac": (failed / len(ops), "frac"),
            "trace.op_s": (op_s, "s"),
        }
        for q in QUERIES:
            out[f"query.{q}_s"] = (statistics.median(o.query_s[q] for o in ops), "s")
            out[f"query.{q}.spark_jobs"] = (statistics.median(o.spark[q][0] for o in ops), "count")
            out[f"query.{q}.spark_stages"] = (statistics.median(o.spark[q][1] for o in ops), "count")
        for name, secs in sorted(self.tracer.self_times().items()):
            print(f"self time {name:34s} {secs:9.3f} s", file=sys.stderr)
        return out
