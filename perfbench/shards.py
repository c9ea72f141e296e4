"""Seeded page shards for the crawl workloads, cached on disk.

Each shard is a parquet file with the pages schema of
``ocr_poc_spark.fixtures`` (url, warc_ts, html, text, lang). Shards are
built from the package's public fixture functions and never from the
seed-42 corpus that the goldens and ``bench.py`` use:

- ``small``: ``fixtures.gen_pages`` as is (about 1.7 KB a page; 8% PDFs,
  10% degraded, 8% empty or malformed, skewed hosts).
- ``large``: the same page mix, with every HTML article or listing and
  every PDF enlarged by paragraphs, tables and nav link lists up to a
  log-normal target size (median 50 KB, long tail capped at 560 KB), so
  that the page-size tail moves work into ``textproc``. Degraded and
  empty pages stay small.

The hostile parser inputs of the robustness suite are not generated:
they are tests, not traffic.

A shard is named by its kind, workload seed, index, page count and a hash
of this file plus ``fixtures.py``, so editing either generator
invalidates the cache. It is written to a temporary name and renamed.
"""

from __future__ import annotations

import hashlib
import math
import os
import random
import statistics
from functools import lru_cache

import numpy as np

import ocr_poc_spark.fixtures as fx

# Kept back for later gain claims: no tuning run uses it.
HELD_OUT_SEED = 7_777

_LARGE_MEDIAN_BYTES = 50_000
_LARGE_SIGMA = 1.0
_LARGE_MAX_BYTES = 560_000
ROW_GROUPS = 16
_WORD_BLOCK = 1 << 16


def generator_hash() -> str:
    h = hashlib.sha256()
    for path in (__file__, fx.__file__):
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:12]


def shard_seed(kind: str, seed: int, idx: int) -> int:
    """Seed for ``gen_pages``: derived from (kind, workload seed, index),
    and never 42, the seed of the golden corpus."""
    digest = hashlib.sha256(f"{kind}/{seed}/{idx}".encode()).digest()
    s = int.from_bytes(digest[:6], "big")
    return s + 1 if s == 42 else s


class _Rng(random.Random):
    """``random.Random`` that also hands out vocabulary words, drawn with
    numpy in blocks of ``_WORD_BLOCK``: one draw per block instead of one
    ``random.choices`` call per sentence makes a 16 MB shard about three
    times faster to generate."""

    def __init__(self, seed: int):
        super().__init__(seed)
        self._np = np.random.default_rng(seed)
        self._vocab = {lang: np.array(w, dtype=object) for lang, w in fx._WORDS.items()}
        self._blocks: dict[str, tuple[list[str], int]] = {}

    def randint(self, a: int, b: int) -> int:
        # One C call instead of ``randrange``'s Python-level rejection loop.
        return a + int(self.random() * (b - a + 1))

    def words(self, lang: str, n: int) -> list[str]:
        block, pos = self._blocks.get(lang, ([], 0))
        if pos + n > len(block):
            vocab = self._vocab[lang]
            block, pos = vocab[self._np.integers(0, len(vocab), _WORD_BLOCK)].tolist(), 0
        self._blocks[lang] = (block, pos + n)
        return block[pos : pos + n]


def _sentence(rng: _Rng, lang: str, n: int) -> str:
    return " ".join(rng.words(lang, n)).capitalize() + "."


def _paragraph(rng: _Rng, lang: str) -> str:
    return " ".join(_sentence(rng, lang, rng.randint(8, 16)) for _ in range(rng.randint(2, 4)))


@lru_cache(maxsize=None)
def _menu(host: str) -> tuple[str, ...]:
    """The host's own 24 menu labels, the same on every page of the host."""
    menu = random.Random(host)
    return tuple(
        " ".join(menu.choices(fx._WORDS["en"], k=menu.randint(2, 4))).capitalize()
        for _ in range(24)
    )


def _nav_list(rng: _Rng, host: str) -> str:
    """Link list drawn from the host's own small menu, so it repeats
    across the host's pages the way site navigation does."""
    labels = _menu(host)
    items = "".join(
        f'<li><a href="/{i}">{labels[i]}</a></li>'
        for i in sorted(rng.sample(range(len(labels)), rng.randint(6, 16)))
    )
    return f"<div class='related'><ul>{items}</ul></div>"


def _table(rng: _Rng, lang: str) -> str:
    rows = "".join(
        f"<tr><td>{_sentence(rng, lang, rng.randint(8, 14))}</td>"
        f"<td>{rng.randint(1, 999)}</td></tr>"
        for _ in range(rng.randint(3, 10))
    )
    return f"<table>{rows}</table>"


def _filler(rng: _Rng, lang: str, host: str) -> str:
    r = rng.random()
    if r < 0.75:
        return f"<p>{_paragraph(rng, lang)}</p>"
    if r < 0.9:
        return _table(rng, lang)
    return _nav_list(rng, host)


def _target_sizes(rng: random.Random, n: int, m: int) -> list[int]:
    """Target sizes for the ``m`` enlargeable pages of an ``n``-page shard:
    the largest ``m`` of the ``n`` log-normal quantiles, shuffled. Every
    shard then has the same size profile and only its content differs,
    so op times vary with the system rather than with the draw."""
    dist = statistics.NormalDist(0.0, _LARGE_SIGMA)
    sizes = sorted(
        (min(_LARGE_MEDIAN_BYTES * math.exp(dist.inv_cdf((k + 0.5) / n)), _LARGE_MAX_BYTES)
         for k in range(n)),
        reverse=True,
    )[:m]
    rng.shuffle(sizes)
    return [int(x) for x in sizes]


def _enlarge_html(
    html: str, rng: _Rng, lang: str, host: str, target: int
) -> str:
    marker = "</article>" if "</article>" in html else "</body>"
    cut = html.rindex(marker)
    extra: list[str] = []
    size = len(html)
    while size < target:
        chunk = _filler(rng, lang, host)
        extra.append(chunk)
        size += len(chunk)
    return html[:cut] + "".join(extra) + html[cut:]


def _enlarge_pdf(payload: bytes, rng: _Rng, lang: str, target: int) -> bytes:
    head, rest = payload.split(b" stream\n", 1)
    body, tail = rest.split(b"\nendstream", 1)
    lines = [body]
    size = len(payload)
    y = 40
    while size < target:
        text = fx._pdf_escape(_sentence(rng, lang, rng.randint(8, 18)))
        line = f"BT /F1 12 Tf 72 {y} Td ({text}) Tj ET".encode("latin-1", "replace")
        lines.append(line)
        size += len(line) + 1
        y -= 40
    new_body = b"\n".join(lines)
    head = head[: head.rindex(b"/Length ")] + f"/Length {len(new_body)} >>".encode()
    return head + b" stream\n" + new_body + b"\nendstream" + tail


def gen_shard_rows(kind: str, seed: int, idx: int, n_pages: int) -> list[dict]:
    """Rows of one shard; the same arguments always give the same rows."""
    s = shard_seed(kind, seed, idx)
    rows = fx.gen_pages(n_pages, seed=s)
    rng = _Rng(s ^ 0x5EED)
    for r in rows:
        r["url"] = f"{r['url']}?shard={seed}.{idx}"
    if kind != "large":
        return rows
    grow = [
        r for r in rows
        if r["html"].startswith(b"%PDF-")
        or b"<article>" in r["html"]
        or b"class='promos'" in r["html"]
    ]
    for r, target in zip(grow, _target_sizes(rng, len(rows), len(grow))):
        if r["html"].startswith(b"%PDF-"):
            r["html"] = _enlarge_pdf(r["html"], rng, r["lang"], target)
        else:
            host = r["url"].split("/")[2]
            r["html"] = _enlarge_html(
                r["html"].decode("utf-8"), rng, r["lang"], host, target
            ).encode("utf-8")
    return rows


def shard_stats(rows: list[dict]) -> dict:
    sizes = sorted(len(r["html"]) for r in rows)
    q = statistics.quantiles(sizes, n=100, method="inclusive") if len(sizes) > 1 else sizes * 99
    return {
        "pages": len(rows),
        "raw_mb": sum(sizes) / 1e6,
        "p50_bytes": int(q[49]),
        "p99_bytes": int(q[98]),
        "max_bytes": sizes[-1],
        "pdf_share": sum(r["html"].startswith(b"%PDF-") for r in rows) / len(rows),
    }


def write_shard(path: str, rows: list[dict]) -> None:
    """Write ``rows`` as parquet in ``ROW_GROUPS`` row groups of about equal
    bytes, so that a scan split by bytes yields that many balanced tasks."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {
            "url": pa.array([r["url"] for r in rows], pa.string()),
            "warc_ts": pa.array([r["warc_ts"] for r in rows], pa.timestamp("us", tz="UTC")),
            "html": pa.array([r["html"] for r in rows], pa.binary()),
            "text": pa.array([r["text"] for r in rows], pa.string()),
            "lang": pa.array([r["lang"] for r in rows], pa.string()),
        }
    )
    total = sum(len(r["html"]) for r in rows)
    cuts, acc = [0], 0
    for i, r in enumerate(rows):
        acc += len(r["html"])
        if acc >= total * len(cuts) / ROW_GROUPS and len(cuts) < ROW_GROUPS:
            cuts.append(i + 1)
    cuts.append(len(rows))
    tmp = f"{path}.{os.getpid()}.tmp"
    with pq.ParquetWriter(tmp, table.schema) as writer:
        for a, b in zip(cuts, cuts[1:]):
            if b > a:
                writer.write_table(table.slice(a, b - a), row_group_size=b - a)
    os.replace(tmp, path)


def shard_path(cache_dir: str, kind: str, seed: int, idx: int, n_pages: int) -> str:
    """Path of the shard, generated on first use. Returns the cached file
    when one exists."""
    name = f"{kind}_s{seed}_i{idx}_n{n_pages}_{generator_hash()}.parquet"
    path = os.path.join(cache_dir, name)
    if not os.path.exists(path):
        os.makedirs(cache_dir, exist_ok=True)
        write_shard(path, gen_shard_rows(kind, seed, idx, n_pages))
    return path
