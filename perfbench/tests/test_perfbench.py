"""The benchmark's own tests: generator determinism, metric names against
BENCHMARK.json, and a smoke run of each workload, including one with a
corrupted output that must be counted as failed.

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import subprocess
import sys

import pytest

import shards
import tablesets
from tracing import Tracer

from conftest import BENCH, ROOT

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def smoke(workload, trace, *extra):
    """One short run: a single warm-up op, then one timed op (20 pages
    for the crawl workload)."""
    p = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "0", "--trace", str(trace),
         "--pages", "20", "--warmup", "1", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    return p.returncode, json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("kind", ["small", "large"])
def test_generator_is_deterministic_per_seed(kind):
    a = shards.gen_shard_rows(kind, 11, 2, 30)
    b = shards.gen_shard_rows(kind, 11, 2, 30)
    assert a == b
    assert shards.gen_shard_rows(kind, 12, 2, 30) != a
    assert shards.gen_shard_rows(kind, 11, 3, 30) != a
    assert len({r["url"] for r in a}) == 30


def test_table_sets_are_deterministic_per_seed(tmp_path):
    a = tablesets.gen_tables(11, 2)
    assert a == tablesets.gen_tables(11, 2)
    assert tablesets.gen_tables(12, 2) != a
    assert tablesets.gen_tables(11, 3) != a
    assert len(a["documents"]["doc_id"]) == tablesets.N_DOCS
    d1 = tablesets.table_set(str(tmp_path / "a"), 11, 2)
    d2 = tablesets.table_set(str(tmp_path / "b"), 11, 2)
    for t in tablesets.TABLES:
        with open(os.path.join(d1, f"{t}.parquet"), "rb") as f1, open(
            os.path.join(d2, f"{t}.parquet"), "rb"
        ) as f2:
            assert f1.read() == f2.read()


def test_shard_seeds_avoid_the_golden_corpus():
    seeds = {shards.shard_seed(k, s, i) for k in ("small", "large") for s in range(50) for i in range(20)}
    assert 42 not in seeds
    assert len(seeds) == 2 * 50 * 20


def test_shard_cache_is_keyed_and_stable(tmp_path):
    p1 = shards.shard_path(str(tmp_path / "a"), "large", 5, 0, 20)
    p2 = shards.shard_path(str(tmp_path / "b"), "large", 5, 0, 20)
    assert os.path.basename(p1) == os.path.basename(p2)
    assert shards.generator_hash() in os.path.basename(p1)
    with open(p1, "rb") as f1, open(p2, "rb") as f2:
        assert f1.read() == f2.read()
    mtime = os.path.getmtime(p1)
    assert shards.shard_path(str(tmp_path / "a"), "large", 5, 0, 20) == p1
    assert os.path.getmtime(p1) == mtime


def test_large_pages_have_a_long_tail():
    st = shards.shard_stats(shards.gen_shard_rows("large", 1, 0, 100))
    assert 30_000 < st["p50_bytes"] < 70_000
    assert st["max_bytes"] > 300_000
    small = shards.shard_stats(shards.gen_shard_rows("small", 1, 0, 500))
    assert small["max_bytes"] < 8_000


def test_self_time_subtracts_children():
    t = Tracer(True)
    with t.span("outer", op="x"):
        with t.span("inner"):
            sum(range(10000))
    self_t = t.self_times()
    total = {k: v[1] for k, v in t.totals().items()}
    assert self_t["inner"] == pytest.approx(total["inner"])
    assert self_t["outer"] == pytest.approx(total["outer"] - total["inner"])
    assert t.spans[1][3] == 0 and t.spans[1][4] == "x"
    off = Tracer(False)
    with off.span("outer"):
        pass
    assert off.spans == []


def test_benchmark_json_shape():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    names = [w["name"] for w in SPEC["workloads"]]
    import crawl
    import queries

    assert sorted(names) == sorted([*crawl.WORKLOADS, "curation_queries"])
    layers = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {**crawl.LAYERS, **queries.LAYERS}.items() <= layers.items()
    e2e = {m["name"]: m for m in SPEC["end_to_end"]}
    assert e2e["setup_s"]["unit"] == "s" and e2e["setup_s"]["better"] == "lower"
    assert all(0 < m["bound"] <= 0.25 for m in SPEC["end_to_end"])
    assert max(m["bound"] for m in SPEC["end_to_end"]) == e2e["setup_s"]["bound"]


@pytest.mark.parametrize("workload", ["crawl_large_pages", "curation_queries"])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run_prints_every_metric_once(workload, trace):
    rc, res = smoke(workload, trace)
    assert rc == 0
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    declared = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == {
        m["name"]: m["unit"] for m in declared
    }


@pytest.mark.parametrize("workload", ["crawl_large_pages", "curation_queries"])
def test_corrupted_output_counts_as_failed(workload):
    rc, res = smoke(workload, 0, "--corrupt")
    assert rc == 1
    assert res["correct"] is False
    assert res["failed"] == res["attempted"] >= 1


def test_bare_benchmark_directory_fails(tmp_path):
    import shutil

    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "crawl_large_pages",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""
