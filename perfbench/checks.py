"""Correctness checks and path guards, run outside every timed region.

Each check returns a list of mismatch descriptions; an empty list means the
output is correct. The store is read back by DuckDB straight from the parquet files each
snapshot manifest lists (no Spark job), and reference sets are computed with
DuckDB, so a check never shares a code path with the operation it checks.
"""

from __future__ import annotations

import glob
import json
import os

import duckdb

from perfbench.inputs import text_digest


def snapshot_files(store, name: str, snap: int | None = None) -> list[str]:
    """The parquet files a table snapshot's manifest lists."""
    tdir = os.path.join(store.root, name)
    if snap is None:
        snap = store.latest(name)
    with open(os.path.join(tdir, "snapshots", "snapshot-%08d.json" % snap)) as f:
        return [
            p for rel in json.load(f)["files"]
            for p in glob.glob(os.path.join(tdir, rel, "**", "*.parquet"), recursive=True)
        ]


def read_table(store, name: str, snap: int | None = None):
    """A table snapshot as an Arrow table, read by DuckDB."""
    return duckdb.read_parquet(snapshot_files(store, name, snap), union_by_name=True).arrow()


def crawl_vs_golden(store, gold: dict) -> list[str]:
    """Per-round scheduled lists (in schedule order), the seen set and the
    extracted-text digest against the oracle golden."""
    errs: list[str] = []
    log = read_table(store, "frontier_log")
    rows = duckdb.sql(
        "SELECT round, canon FROM log WHERE state <> 'ROBOTS_DENIED' "
        "ORDER BY round, priority DESC, seq"
    ).fetchall()
    got: dict[int, list[str]] = {}
    for rnd, canon in rows:
        got.setdefault(rnd, []).append(canon)
    for i, want in enumerate(gold["rounds"]):
        if got.get(i, []) != want:
            errs.append(f"round {i}: scheduled list differs from the oracle")
    extra = sorted(set(got) - set(range(len(gold["rounds"]))))
    if extra:
        errs.append(f"rounds {extra} scheduled but absent from the oracle")
    seen = set(read_table(store, "seen")["canon"].to_pylist())
    if seen != set(gold["seen"]):
        errs.append(f"seen set differs from the oracle ({len(seen)} vs {len(gold['seen'])})")
    ext = read_table(store, "extracted").select(["canon", "text"]).to_pydict()
    if text_digest(zip(ext["canon"], ext["text"])) != gold["text_digest"]:
        errs.append("extracted text digest differs from the oracle")
    return errs


def crawl_guards(store, tiers: bool) -> list[str]:
    """The crawl took the strategy path its workload is meant to measure."""
    errs: list[str] = []
    rounds = store.committed_rounds()
    with_sidecar = [r for r in rounds if "seen_filter" in store.round_manifest(r)["tables"]]
    metrics_t = read_table(store, "metrics")  # noqa: F841 (read by duckdb)
    n_cap = duckdb.sql(
        "SELECT count(*) FROM metrics_t WHERE key = 'cap_deferred' AND n > 0"
    ).fetchone()[0]
    if tiers:
        if len(with_sidecar) != len(rounds):
            errs.append(f"seen_filter missing from {len(rounds) - len(with_sidecar)} round manifests")
        if n_cap == 0:
            errs.append("the round cap never bound (cap_deferred == 0 in every round)")
    elif with_sidecar:
        errs.append(f"seen_filter present in {len(with_sidecar)} round manifests")
    return errs


def expected_forgotten(store, up_to_round: int) -> set[tuple[int, str]]:
    """Keys ``forget_seen(up_to_round)`` must expire, from the store as
    committed before maintenance: seen keys first enqueued at or before the
    round, minus keys still queued in the frontier."""
    snaps = store.round_manifest(store.committed_rounds()[-1])["tables"]
    seen_t = read_table(store, "seen", snaps["seen"])  # noqa: F841 (read by duckdb)
    frontier_t = read_table(store, "frontier", snaps["frontier"])  # noqa: F841
    return set(duckdb.sql(
        f"SELECT url_hash, canon FROM seen_t WHERE first_round <= {int(up_to_round)} "
        "EXCEPT SELECT url_hash, canon FROM frontier_t"
    ).fetchall())


def forgotten_vs_expected(store, want: set[tuple[int, str]]) -> list[str]:
    got = read_table(store, "forgotten").select(["url_hash", "canon"]).to_pydict()
    got_set = set(zip(got["url_hash"], got["canon"]))
    if got_set != want:
        return [f"forgotten set differs from DuckDB ({len(got_set)} vs {len(want)})"]
    return []


def reenqueued(store, n: int) -> list[str]:
    """``recrawl_enqueue`` returned ``n`` > 0 forgotten keys to the frontier
    as QUEUED rows, each carrying its recrawl score."""
    frontier_t = read_table(store, "frontier")  # noqa: F841 (read by duckdb)
    forgotten_t = read_table(store, "forgotten")  # noqa: F841
    got, outside = duckdb.sql(
        "SELECT count(*), count(*) FILTER (WHERE (url_hash, canon) NOT IN "
        "(SELECT (url_hash, canon) FROM forgotten_t)) FROM frontier_t "
        "WHERE meta LIKE '{\"recrawl_score_micro\":%'"
    ).fetchone()
    errs = [] if n > 0 else ["recrawl_enqueue re-enqueued nothing"]
    if got != n:
        errs.append(f"frontier holds {got} re-enqueued rows, recrawl_enqueue reported {n}")
    if outside:
        errs.append(f"{outside} re-enqueued rows were never forgotten")
    return errs
