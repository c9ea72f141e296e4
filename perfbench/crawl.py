"""The crawl workload: ``plans.job.run_job`` over page shards no op has read.

One op is one ``run_job`` (fused, 8 buckets, one pass) from a fresh
parquet shard into a fresh out dir, timed from outside by the wall clock
around the call. Warm-up ops of the same shape, each on a shard of its
own, run first; at least ``MIN_OPS`` timed ops follow, until ``seconds``
of op wall time have been measured, and each is followed by an output
check.

A traced run repeats the same ops, then measures the layers one at a
time: Spark layer probes on fresh shards, the kernel's memo counters read
inside the Python workers, and an in-process replay of the fused UDF with
spans around every kernel stage.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field

import procstat
import shards
from harness import dir_bytes, host, spark_counts, start_session, stop
from tracing import Tracer

N_BUCKETS = 8
MIN_OPS = 4  # op_s is the median of at least this many timed ops
MAX_FAILED = 3  # a run stops after this many failed ops
WARMUP_SEED = -1  # workload seeds are >= 0
ARROW_BATCH = 2048  # spark.sql.execution.arrow.maxRecordsPerBatch in session.py


@dataclass(frozen=True)
class Spec:
    kind: str
    pages: int
    warmup: int
    sample: int  # URLs replayed in-process by each output check


WORKLOADS = {
    "crawl_large_pages": Spec(kind="large", pages=200, warmup=2, sample=4),
}

# Per-layer metrics of this workload only; the query workload prints them as 0.
STAGES = (
    "sniff_and_parse", "assess_quality", "preprocess", "fixed_format",
    "detect_anchors", "remaining_fields", "rest",
)
LAYERS = {
    "sources.scan_s": "s",
    "job.arrow_floor_s": "s",
    "parse.parse_pages_s": "s",
    "job.extract_fused_s": "s",
    "job.commit_s": "s",
    "lineage.partition_metrics_s": "s",
    "job.marshal_ms_per_doc": "ms",
    "job.spark_jobs": "count",
    "job.spark_stages": "count",
    "job.spark_tasks": "count",
    "job.out_bytes": "B",
    "extractor.kernel_ms_per_doc": "ms",
    **{f"extractor.{s}_ms_per_doc": "ms" for s in STAGES},
    "extractor.error_docs": "count",
    **{
        f"{memo}_{k}": u
        for memo in ("extractor.anchor_memo", "simtext.label_memo")
        for k, u in (("hit_ratio", "frac"), ("lookups", "count"),
                     ("evictions", "count"), ("max_entries", "count"))
    },
    "textproc.html_ms_per_mb": "ms/MB",
    "textproc.pdf_ms_per_mb": "ms/MB",
    "textproc.slowest_page_ms": "ms",
    "textproc.slowest_page_kb": "kB",
}


@dataclass
class Shard:
    path: str
    urls: list[str]
    payloads: dict[str, bytes]
    raw_bytes: int


def load_shard(cache: str, spec: Spec, seed: int, idx: int) -> Shard:
    import pyarrow.parquet as pq

    path = shards.shard_path(cache, spec.kind, seed, idx, spec.pages)
    t = pq.read_table(path, columns=["url", "html"]).to_pydict()
    rows = [{"url": u, "html": h} for u, h in zip(t["url"], t["html"])]
    stats = shards.shard_stats(rows)
    print(
        f"shard {os.path.basename(path)}: {stats['pages']} pages, "
        f"{stats['raw_mb']:.2f} MB raw, p50/p99/max {stats['p50_bytes']}/"
        f"{stats['p99_bytes']}/{stats['max_bytes']} B, "
        f"pdf {stats['pdf_share']:.3f}",
        file=sys.stderr,
    )
    return Shard(
        path=path,
        urls=t["url"],
        payloads=dict(zip(t["url"], t["html"])),
        raw_bytes=sum(len(h) for h in t["html"]),
    )


def sample_urls(urls: list[str], n: int) -> list[str]:
    """A deterministic sample: the ``n`` URLs with the smallest sha1."""
    return sorted(urls, key=lambda u: hashlib.sha1(u.encode()).digest())[:n]


def check_op(shard: Shard, out_dir: str, n_sample: int) -> list[str]:
    """Problems with one op's committed output; empty when it is correct."""
    import duckdb

    from ocr_poc_spark.extractor import extract_document

    problems: list[str] = []
    ext = os.path.join(out_dir, "extracted", "bucket=*", "*.parquet")
    lin = os.path.join(out_dir, "lineage", "bucket=*", "*.parquet")
    con = duckdb.connect()
    try:
        urls = [r[0] for r in con.execute(f"SELECT url FROM read_parquet('{ext}')").fetchall()]
        if len(urls) != len(shard.urls):
            problems.append(f"rows {len(urls)} != pages {len(shard.urls)}")
        if set(urls) != set(shard.urls):
            problems.append("url set differs from the input shard")
        (n_docs,) = con.execute(f"SELECT SUM(n_docs) FROM read_parquet('{lin}')").fetchone()
        if n_docs != len(urls):
            problems.append(f"lineage SUM(n_docs) {n_docs} != rows {len(urls)}")
        sample = sample_urls(shard.urls, n_sample)
        got = {
            u: (b, s)
            for u, b, s in con.execute(
                f"SELECT url, body_text, spans FROM read_parquet('{ext}') "
                "WHERE list_contains(?, url)",
                [sample],
            ).fetchall()
        }
    finally:
        con.close()
    manifest = os.path.join(out_dir, "_manifest")
    missing = [b for b in range(N_BUCKETS) if not os.path.exists(os.path.join(manifest, f"bucket_{b}.json"))]
    if missing:
        problems.append(f"manifest buckets not committed: {missing}")
    for u in sample:
        r = extract_document(u, shard.payloads[u])
        want = (r.body_text, [(f, s, e) for f, s, e in r.spans])
        body, spans = got.get(u, (None, None))
        have = (body, [(d["field"], d["start"], d["end"]) for d in (spans or [])])
        if have != want:
            problems.append(f"body_text/spans differ from the kernel replay for {u}")
    return problems


def corrupt_output(shard: Shard, out_dir: str, n_sample: int) -> None:
    """Damage the op's output the way a wrong kernel would: append a byte
    to body_text in the data file that holds the first sampled URL."""
    import glob

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    target = sample_urls(shard.urls, n_sample)[0]
    for f in glob.glob(os.path.join(out_dir, "extracted", "bucket=*", "*.parquet")):
        t = pq.read_table(f)
        if target in t.column("url").to_pylist():
            body = pc.binary_join_element_wise(
                pc.fill_null(t.column("body_text"), ""), pa.scalar("x"), ""
            )
            pq.write_table(t.set_column(t.schema.get_field_index("body_text"), "body_text", body), f)
            return


@dataclass
class OpResult:
    wall_s: float
    pages: int
    raw_bytes: int
    out_bytes: int
    ok: bool
    jvm_cpu_s: float = 0.0
    workers_cpu_s: float = 0.0
    steal_frac: float = 0.0
    spark: tuple[int, int, int] = (0, 0, 0)  # jobs, stages, tasks


@dataclass
class Run:
    root: str
    workload: str
    seed: int
    seconds: float
    trace: bool
    corrupt: bool = False
    pages: int | None = None
    warmup: int | None = None
    spec: Spec = field(init=False)

    def __post_init__(self):
        spec = WORKLOADS[self.workload]
        self.spec = Spec(
            kind=spec.kind,
            pages=self.pages or spec.pages,
            warmup=self.warmup or spec.warmup,
            sample=spec.sample,
        )
        self.work = os.path.join(self.root, ".perfbench")
        self.cache = os.path.join(self.work, "shards")
        self.out = os.path.join(self.work, "out", str(os.getpid()))
        self.tracer = Tracer(self.trace)
        self.host = host()
        self.worker_hwm_mb = 0.0
        self.jvm_hwm_mb = 0.0
        self._next_idx = 0

    # -- shards and session -------------------------------------------------
    def next_shard(self) -> Shard:
        idx = self._next_idx
        self._next_idx += 1
        return load_shard(self.cache, self.spec, self.seed, idx)

    def warmup_shards(self) -> list[Shard]:
        """Warm-up shards come from a seed of their own, the same in every
        run, so they are generated once per checkout; no timed op reads them."""
        return [load_shard(self.cache, self.spec, WARMUP_SEED, i) for i in range(self.spec.warmup)]

    # -- ops --------------------------------------------------------------
    def op(self, spark, shard: Shard, name: str) -> OpResult:
        from ocr_poc_spark.plans.job import run_job
        from ocr_poc_spark.sources.pages import read_pages

        out_dir = os.path.join(self.out, name)
        shutil.rmtree(out_dir, ignore_errors=True)
        sc = spark.sparkContext
        sc.setJobGroup(name, f"perfbench {self.workload} {name}")
        before = procstat.sample(self.jvm)
        ticks = procstat.host_ticks()
        with self.tracer.span("job.run_job", op=name):
            t0 = time.perf_counter()
            run_job(spark, read_pages(spark, shard.path), out_dir, n_buckets=N_BUCKETS)
            wall = time.perf_counter() - t0
        steal, total = (b - a for a, b in zip(ticks, procstat.host_ticks()))
        after = procstat.sample(self.jvm)
        self.worker_hwm_mb = max(self.worker_hwm_mb, after.worker_hwm_mb)
        self.jvm_hwm_mb = max(self.jvm_hwm_mb, after.jvm_hwm_mb)
        res = OpResult(
            wall_s=wall,
            pages=len(shard.urls),
            raw_bytes=shard.raw_bytes,
            out_bytes=dir_bytes(out_dir),
            ok=True,
            jvm_cpu_s=after.jvm_cpu_s - before.jvm_cpu_s,
            workers_cpu_s=after.workers_cpu_s - before.workers_cpu_s,
            steal_frac=steal / total if total else 0.0,
        )
        if self.trace:
            res.spark = spark_counts(sc, name)
        return res

    def timed_op(self, spark, shard: Shard, name: str) -> OpResult:
        t0 = time.perf_counter()
        try:
            res = self.op(spark, shard, name)
        except Exception as e:  # a failed op is counted, the run goes on
            print(f"{name} raised {type(e).__name__}: {e}", file=sys.stderr)
            return OpResult(time.perf_counter() - t0, len(shard.urls), shard.raw_bytes, 0, ok=False)
        out_dir = os.path.join(self.out, name)
        if self.corrupt:
            corrupt_output(shard, out_dir, self.spec.sample)
        with self.tracer.span("check", op=name):
            try:
                problems = check_op(shard, out_dir, self.spec.sample)
            except Exception as e:  # an unreadable output is a failed check
                problems = [f"check raised {type(e).__name__}: {e}"]
        for p in problems:
            print(f"{name} check failed: {p}", file=sys.stderr)
        res.ok = not problems
        print(
            f"{name} wall {res.wall_s:.3f} s steal {res.steal_frac:.3f} "
            f"cpu {res.jvm_cpu_s + res.workers_cpu_s:.2f} s ok={res.ok}",
            file=sys.stderr,
        )
        return res

    # -- the run ----------------------------------------------------------
    def execute(self) -> dict:
        os.makedirs(self.out, exist_ok=True)
        warm = self.warmup_shards()
        # One scan split per core: a single wave of tasks, as a job over
        # large files would run (more, smaller tasks mostly add per-task
        # Python worker and file-commit overhead at this input size).
        split = os.path.getsize(warm[0].path) // self.host["nproc"] + 1
        spark = None
        try:
            t0 = time.perf_counter()
            with self.tracer.span("session.get_spark", op="setup"):
                spark = start_session(
                    self.work, self.host, {"spark.sql.files.maxPartitionBytes": str(split)}
                )
            t_session = time.perf_counter() - t0
            self.jvm = procstat.find_jvm(os.getpid())
            for i, shard in enumerate(warm):
                res = self.op(spark, shard, f"warmup{i}")
                print(f"warmup{i} wall {res.wall_s:.3f} s steal {res.steal_frac:.3f}", file=sys.stderr)
                shutil.rmtree(os.path.join(self.out, f"warmup{i}"), ignore_errors=True)
            setup_s = time.perf_counter() - t0

            ops: list[OpResult] = []
            while (
                sum(o.wall_s for o in ops) < self.seconds or len(ops) < MIN_OPS
            ) and sum(not o.ok for o in ops) < MAX_FAILED:
                shard = self.next_shard()
                name = f"op{len(ops)}"
                ops.append(self.timed_op(spark, shard, name))
                last = (shard, os.path.join(self.out, name))
                if len(ops) > 1:
                    shutil.rmtree(os.path.join(self.out, f"op{len(ops) - 2}"), ignore_errors=True)

            metrics = self.end_to_end(setup_s, ops)
            if self.trace:
                layers = self.layers(spark, ops, last, t_session, setup_s)
        finally:
            if spark is not None:
                stop(spark)
            shutil.rmtree(self.out, ignore_errors=True)
        failed = sum(not o.ok for o in ops)
        if self.trace:
            tdir = os.path.join(self.work, "traces")
            os.makedirs(tdir, exist_ok=True)
            self.tracer.dump(os.path.join(tdir, f"{self.workload}_seed{self.seed}.jsonl"))
            layers["op_fail_frac"] = (failed / len(ops), "frac")
            layers["trace.op_s"] = (metrics["op_s"][0], "s")
            metrics = layers
        return {"attempted": len(ops), "failed": failed, "metrics": metrics}

    def end_to_end(self, setup_s: float, ops: list[OpResult]) -> dict:
        good = [o for o in ops if o.ok] or ops
        wall = sum(o.wall_s for o in good) or float("nan")
        return {
            "setup_s": (setup_s, "s"),
            "op_s": (statistics.median(o.wall_s for o in good), "s"),
            "docs_per_s": (sum(o.pages for o in good) / wall, "1/s"),
            "mb_per_s": (sum(o.raw_bytes for o in good) / 1e6 / wall, "MB/s"),
            "worker_peak_rss_mb": (self.worker_hwm_mb, "MB"),
            "out_bytes_per_in_byte": (
                statistics.median(o.out_bytes / o.raw_bytes for o in good),
                "ratio",
            ),
        }

    # -- traced run: per-layer numbers --------------------------------------
    def layers(self, spark, ops, last, t_session, setup_s) -> dict:
        from ocr_poc_spark.operators.lineage import partition_metrics
        from ocr_poc_spark.operators.parse import parse_pages
        from ocr_poc_spark.plans.job import extract_fused
        from ocr_poc_spark.sources.pages import read_pages

        n = self.host["nproc"]
        wall = sum(o.wall_s for o in ops)
        op_s = statistics.median(o.wall_s for o in ops)
        out = {
            "session.get_spark_s": (t_session, "s"),
            "warmup_s": (setup_s - t_session, "s"),
            "job.spark_jobs": (statistics.median(o.spark[0] for o in ops), "count"),
            "job.spark_stages": (statistics.median(o.spark[1] for o in ops), "count"),
            "job.spark_tasks": (statistics.median(o.spark[2] for o in ops), "count"),
            "workers.cpu_s": (statistics.mean(o.workers_cpu_s for o in ops), "s"),
            "jvm.cpu_s": (statistics.mean(o.jvm_cpu_s for o in ops), "s"),
            "cores.busy_frac": (
                sum(o.workers_cpu_s + o.jvm_cpu_s for o in ops) / (wall * n), "frac"
            ),
            "jvm.peak_rss_mb": (self.jvm_hwm_mb, "MB"),
            "host.steal_frac": (statistics.mean(o.steal_frac for o in ops), "frac"),
            "job.out_bytes": (statistics.median(o.out_bytes for o in ops), "B"),
        }
        out.update(memo_counters(spark, n))

        def noop(name, df):
            spark.sparkContext.setJobGroup(name, f"perfbench probe {name}")
            with self.tracer.span(name, op="probe"):
                t = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                return time.perf_counter() - t

        scan_shard, fused_shard = self.next_shard(), self.next_shard()
        pages = read_pages(spark, scan_shard.path).select("url", "html")
        out["sources.scan_s"] = (noop("sources.scan", pages), "s")
        out["job.arrow_floor_s"] = (
            noop("job.arrow_floor", pages.mapInPandas(_identity, pages.schema)), "s"
        )
        out["parse.parse_pages_s"] = (noop("parse.parse_pages", parse_pages(pages)), "s")
        fused_s = noop("job.extract_fused", extract_fused(read_pages(spark, fused_shard.path)))
        out["job.extract_fused_s"] = (fused_s, "s")
        out["job.commit_s"] = (op_s - fused_s, "s")
        extracted = spark.read.parquet(os.path.join(last[1], "extracted"))
        out["lineage.partition_metrics_s"] = (
            noop("lineage.partition_metrics", partition_metrics(extracted, "probe")), "s"
        )
        out.update(self.replay(last[0], [scan_shard, fused_shard]))
        for name, secs in sorted(self.tracer.self_times().items()):
            print(f"self time {name:34s} {secs:9.3f} s", file=sys.stderr)
        return out

    def replay(self, warm: Shard, traced: list[Shard]) -> dict:
        """In-process ``_fused_batches`` over the ``traced`` shards with a
        span around every kernel stage and page parser. This process's memos
        are first filled by an untraced pass over ``warm``, as the
        workers' are by the ops before."""
        import pandas as pd

        from ocr_poc_spark import extractor
        from ocr_poc_spark.plans import job

        def batches(s: Shard):
            df = pd.DataFrame({"url": s.urls, "html": [s.payloads[u] for u in s.urls]})
            return (df.iloc[i : i + ARROW_BATCH] for i in range(0, len(df), ARROW_BATCH))

        for _ in job._fused_batches(batches(warm)):
            pass
        stages = {
            "sniff_and_parse": "sniff_and_parse",
            "assess_quality": "assess_quality",
            "preprocess": "preprocess",
            "fixed_format": "extract_fixed_format_fields",
            "detect_anchors": "detect_anchors",
            "remaining_fields": "extract_remaining_fields",
            "extract_document": "extract_document",
        }
        pages: list[tuple[str, int, float]] = []

        def parser(kind, fn):
            def timed(payload):
                with self.tracer.span(f"textproc.{kind}_blocks"):
                    t = time.perf_counter()
                    r = fn(payload)
                    pages.append((kind, len(payload), time.perf_counter() - t))
                return r

            return timed

        saved = {a: getattr(extractor, a) for a in [*stages.values(), "parse_html_blocks", "parse_pdf_blocks"]}
        errors = 0
        try:
            for stage, attr in stages.items():
                setattr(extractor, attr, self.tracer.wrap(f"extractor.{stage}", saved[attr]))
            extractor.parse_html_blocks = parser("html", saved["parse_html_blocks"])
            extractor.parse_pdf_blocks = parser("pdf", saved["parse_pdf_blocks"])
            for shard in traced:
                with self.tracer.span("job._fused_batches", op="replay"):
                    for pdf in job._fused_batches(batches(shard)):
                        errors += int(pdf["doc_kind"].str.startswith("error/").sum())
        finally:
            for attr, fn in saved.items():
                setattr(extractor, attr, fn)

        docs = sum(len(s.urls) for s in traced)
        tot = {k: v[1] for k, v in self.tracer.totals().items()}
        self_t = self.tracer.self_times()
        out = {
            "extractor.kernel_ms_per_doc": (tot["extractor.extract_document"] * 1e3 / docs, "ms"),
            "job.marshal_ms_per_doc": (self_t["job._fused_batches"] * 1e3 / docs, "ms"),
            "extractor.error_docs": (errors, "count"),
        }
        for stage in stages:
            if stage == "extract_document":
                continue
            out[f"extractor.{stage}_ms_per_doc"] = (tot.get(f"extractor.{stage}", 0.0) * 1e3 / docs, "ms")
        out["extractor.rest_ms_per_doc"] = (self_t["extractor.extract_document"] * 1e3 / docs, "ms")
        for kind in ("html", "pdf"):
            mine = [(b, s) for k, b, s in pages if k == kind]
            mb = sum(b for b, _ in mine) / 1e6
            out[f"textproc.{kind}_ms_per_mb"] = (sum(s for _, s in mine) * 1e3 / mb if mb else 0.0, "ms/MB")
        slow = max(pages, key=lambda p: p[2])
        out["textproc.slowest_page_ms"] = (slow[2] * 1e3, "ms")
        out["textproc.slowest_page_kb"] = (slow[1] / 1e3, "kB")
        return out


def _identity(batches):
    yield from batches


def _memo_info(batches):
    import pandas as pd

    from ocr_poc_spark import extractor
    from ocr_poc_spark.textproc import simtext

    for _ in batches:
        pass
    a = extractor._anchor_matches.cache_info()
    lab = simtext.is_likely_label.cache_info()
    yield pd.DataFrame(
        {
            "pid": [os.getpid()],
            "a_hits": [a.hits], "a_misses": [a.misses], "a_size": [a.currsize],
            "l_hits": [lab.hits], "l_misses": [lab.misses], "l_size": [lab.currsize],
        }
    )


def memo_counters(spark, nproc: int) -> dict:
    """The kernel memos as the Python workers hold them, one row per
    worker process. Evictions = misses - entries held (an LRU evicts one
    entry per miss once full); the lookup base is hits + misses."""
    spark.sparkContext.setJobGroup("memo", "perfbench probe memo counters")
    schema = "pid long, a_hits long, a_misses long, a_size long, l_hits long, l_misses long, l_size long"
    rows = {
        r["pid"]: r
        for r in spark.range(0, nproc * 4, numPartitions=nproc * 4)
        .mapInPandas(_memo_info, schema)
        .collect()
    }.values()
    print(f"memo counters from {len(rows)} Python workers", file=sys.stderr)
    out = {}
    for key, name in (("a", "extractor.anchor_memo"), ("l", "simtext.label_memo")):
        hits = sum(r[f"{key}_hits"] for r in rows)
        lookups = hits + sum(r[f"{key}_misses"] for r in rows)
        out[f"{name}_hit_ratio"] = (hits / lookups if lookups else 0.0, "frac")
        out[f"{name}_lookups"] = (lookups, "count")
        out[f"{name}_evictions"] = (sum(r[f"{key}_misses"] - r[f"{key}_size"] for r in rows), "count")
        out[f"{name}_max_entries"] = (max(r[f"{key}_size"] for r in rows), "count")
    return out
