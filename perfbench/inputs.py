"""Benchmark inputs: synthetic corpora, their WARC shards and the oracle
goldens, all made from the workload seed and cached under ``.perfbench_cache``
in the checkout.

The cache key holds the generator parameters, the seed and a digest of every
source file the inputs and goldens are computed from (the corpus generator,
the oracle and the pinned kernels it shares with the pipeline). A change to
any of those files therefore regenerates instead of reusing stale inputs.
Crawl stores are never cached: every run builds its own with the code under
test.
"""

from __future__ import annotations

import datetime as dt
import gzip
import hashlib
import json
import os
import shutil

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".perfbench_cache")
WARC_SHARDS = 4

_SOURCES = (
    "sparkcrawl/synth.py", "sparkcrawl/canon.py", "sparkcrawl/extract.py",
    "sparkcrawl/config.py", "sparkcrawl/robots.py", "sparkcrawl/warc.py",
    "oracle/crawler.py",
)


def _source_digest() -> str:
    h = hashlib.sha256()
    for rel in _SOURCES:
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(rel.encode() + b"\0" + f.read())
    return h.hexdigest()[:16]


def _key(*parts) -> str:
    raw = json.dumps([_source_digest(), *parts], sort_keys=True, default=str)
    return hashlib.sha256(raw.encode()).hexdigest()[:20]


def _cached_dir(key: str, build) -> str:
    """Build ``build(tmp_dir)`` once per key; the rename publishes it."""
    final = os.path.join(CACHE, key)
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    try:
        os.rename(tmp, final)
    except OSError:  # a concurrent run published it first
        shutil.rmtree(tmp, ignore_errors=True)
    return final


def corpus(seed: int, params: dict) -> str:
    """Synthetic corpus directory (pages/seeds/robots/host_budget parquet)
    plus ``warc/``: every page as gzip WARC response records in four shards,
    one per core, for the ingest leg."""
    from sparkcrawl.synth import generate

    def build(d: str) -> None:
        generate(d, seed=seed, procs=4, **params)
        write_warc_shards(os.path.join(d, "pages.parquet"), os.path.join(d, "warc"))

    return _cached_dir("corpus-" + _key("corpus", seed, params), build)


def write_warc_shards(pages_path: str, out_dir: str) -> None:
    """Every page as a gzip WARC response record, dealt round-robin into
    ``WARC_SHARDS`` shards (one ingest task per core)."""
    import pyarrow.parquet as pq

    from sparkcrawl.warc import build_response_record

    os.makedirs(out_dir)
    t = pq.read_table(pages_path, columns=["url", "html", "status", "location"])
    ts = dt.datetime(2024, 1, 1)
    sinks = [
        gzip.open(os.path.join(out_dir, f"part-{i:05d}.warc.gz"), "wb", compresslevel=6)
        for i in range(WARC_SHARDS)
    ]
    try:
        for i, (url, html, status, loc) in enumerate(zip(
            t["url"].to_pylist(), t["html"].to_pylist(),
            t["status"].to_pylist(), t["location"].to_pylist(),
        )):
            sinks[i % WARC_SHARDS].write(
                build_response_record(url, ts, html, int(status), loc)
            )
    finally:
        for s in sinks:
            s.close()


def corpus_expectations(corpus_dir: str) -> dict:
    """What a WARC ingest of the corpus must yield, read straight from the
    corpus parquet: every page, and the characters of its pinned text."""
    import duckdb

    pages = os.path.join(corpus_dir, "pages.parquet")
    n, chars = duckdb.sql(
        f"SELECT count(*), sum(length(text)) FROM read_parquet('{pages}')"
    ).fetchone()
    return {"pages": int(n), "text_chars": int(chars)}


def golden_path(corpus_dir: str, cfg) -> str:
    import dataclasses

    return os.path.join(
        CACHE, "golden-" + _key("golden", corpus_dir, dataclasses.asdict(cfg)) + ".json"
    )


def golden(corpus_dir: str, cfg) -> dict:
    """Oracle crawl of the corpus: ordered per-round schedule, the seen set
    and a digest of the extracted text. Computed once per (corpus, config)."""
    path = golden_path(corpus_dir, cfg)
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    from oracle.crawler import crawl

    res = crawl(corpus_dir, cfg)
    out = {
        "rounds": res.rounds,
        "seen": sorted(res.seen),
        "text_digest": text_digest(res.text.items()),
    }
    tmp = f"{path}.tmp-{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, path)
    return out


def text_digest(items) -> str:
    h = hashlib.sha256()
    for canon, text in sorted(items):
        h.update(canon.encode() + b"\0" + text.encode("utf-8") + b"\0")
    return h.hexdigest()
