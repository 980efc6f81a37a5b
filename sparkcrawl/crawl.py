"""Crawl driver loop: init/resume → round jobs → stop (SURVEY.md §3.4).

Ships via ``spark-submit --py-files sparkcrawl.zip sparkcrawl/crawl.py`` —
pure Python, no JVM extensions (BASELINE.json:14). Resume is deterministic
from any committed round boundary: state lives entirely in SnapStore
snapshots; an interrupted round leaves only uncommitted (unreferenced)
files, and the next run re-executes that round from the previous manifest —
bit-identical because every operator is deterministic (content-derived
``seq``, no clock, no rand).
"""

from __future__ import annotations

import os
import time

from pyspark.sql import SparkSession

from sparkcrawl.config import CrawlConfig
from sparkcrawl.rounds import init_crawl, one_round, prepare_pages
from sparkcrawl.snapstore import SnapStore


def schedule_view(spark: SparkSession, store: SnapStore):
    """The golden per-round schedule, reconstructed from frontier_log:
    scheduled rows are exactly those with a terminal fetch state, ordered
    within a round by (priority DESC, seq ASC)."""
    from pyspark.sql import functions as F

    return (
        store.read(spark, "frontier_log")
        # every fetch outcome is a scheduled url: 2xx (FETCHED), corpus miss
        # (ERROR), and F5 non-2xx (HTTP_<status>); ROBOTS_DENIED was not
        .filter(F.col("state") != "ROBOTS_DENIED")
        .select(
            "round", "url", "canon", "url_hash", "host", "depth", "priority", "seq"
        )
    )


def run_crawl(
    spark: SparkSession,
    corpus_dir: str,
    store_dir: str,
    cfg: CrawlConfig = CrawlConfig(),
    resume: bool = False,
    verbose: bool = False,
) -> list[dict]:
    """Run (or resume) a crawl; returns the per-round summary list."""
    store = SnapStore(store_dir)

    # AQE off for the crawl loop only (restored on exit): every AQE query
    # stage is a separate driver job, and a crawl round's multi-leg plans
    # fragment into dozens of ~0.1-0.2 s micro-jobs whose scheduling
    # latency is pure FIXED cost per round — the exact term the N→4N
    # efficiency bar punishes (measured: −0.3-0.5 s/round on the tiny-
    # corpus probe, uniform at both cluster sizes). Everything AQE would
    # decide at runtime is already decided statically here: shuffle
    # partitions ≈ cores, hot-host skew handled by explicit salting (P5),
    # small sides broadcast explicitly with driver-known sizes. Analytics
    # queries keep AQE (session default stays on).
    aqe_before = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        return _run_crawl_inner(
            spark, corpus_dir, store, cfg, resume, verbose
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe_before)


def _run_crawl_inner(
    spark: SparkSession,
    corpus_dir: str,
    store: "SnapStore",
    cfg: CrawlConfig,
    resume: bool,
    verbose: bool,
) -> list[dict]:

    if not resume and store.committed_rounds():
        raise ValueError(
            f"store {store.root!r} already has committed rounds; pass "
            "resume=True or use a fresh store (seen is append-only — "
            "re-init would corrupt it)"
        )
    if not resume or not store.committed_rounds():
        prepare_pages(spark, store, os.path.join(corpus_dir, "pages.parquet"), cfg)
        robots_path = os.path.join(corpus_dir, "robots.parquet")
        if os.path.exists(robots_path):
            store.overwrite("robots_corpus", spark.read.parquet(robots_path))
        else:
            store.overwrite(
                "robots_corpus",
                spark.createDataFrame([], "host string, status int, body string"),
            )
        init_crawl(spark, store, os.path.join(corpus_dir, "seeds.parquet"), cfg)
        start_round = 0
    else:
        start_round = max(store.committed_rounds()) + 1

    budget_path = os.path.join(corpus_dir, "host_budget.parquet")
    host_budget = (
        spark.read.parquet(budget_path) if os.path.exists(budget_path) else None
    )

    from sparkcrawl.rounds import corpus_caps
    from sparkcrawl.session import prewarm_python_workers

    prewarm_python_workers(spark)
    caps = corpus_caps(spark, store, cfg)

    summaries: list[dict] = []
    first = True
    crawl_t0 = time.monotonic()
    finish_reason = "max_rounds"  # loop exhausting cfg.max_rounds leaves this
    cum = {"pagecount": 0, "itemcount": 0, "errorcount": 0}
    for rnd in range(start_round, cfg.max_rounds):
        if first:  # resume guard; later rounds know queued_end arithmetically
            # pin to the last committed round manifest — the latest snapshot
            # may belong to a crashed (uncommitted) round attempt
            if store.read_at_round(spark, "frontier", rnd - 1).isEmpty():
                finish_reason = "finished"
                break
            first = False
        t0 = time.monotonic()
        s = one_round(spark, store, cfg, rnd, host_budget, corpus_caps=caps)
        s["wall_ms"] = int((time.monotonic() - t0) * 1000)
        summaries.append(s)
        if verbose:
            print(
                f"round {rnd}: scheduled={s.get('scheduled', 0)} "
                f"fetched={s.get('fetched', 0)} enqueued={s.get('enqueued', 0)} "
                f"queued_end={s['queued_end']} wall_ms={s['wall_ms']}"
            )
        # CloseSpider stop conditions (pinned semantics + check order in
        # CrawlConfig; the oracle mirrors all but the wall-clock timeout)
        cum["pagecount"] += (
            s.get("fetched", 0) + s.get("http_error", 0)
            + s.get("redirected", 0) + s.get("retried", 0)
        )
        cum["itemcount"] += s.get("fetched", 0)
        cum["errorcount"] += s.get("http_error", 0) + s.get("fetch_miss", 0)
        if s["queued_end"] == 0:
            finish_reason = "finished"
            break
        stop = next(
            (
                f"closespider_{k}"
                for k in ("pagecount", "itemcount", "errorcount")
                if getattr(cfg, f"closespider_{k}") and
                cum[k] >= getattr(cfg, f"closespider_{k}")
            ),
            None,
        )
        if stop is None and cfg.closespider_timeout and (
            time.monotonic() - crawl_t0 >= cfg.closespider_timeout
        ):
            stop = "closespider_timeout"
        if stop is not None:
            finish_reason = stop
            break
    if summaries:
        summaries[-1]["finish_reason"] = finish_reason
    if verbose:
        print(f"crawl closed: finish_reason={finish_reason}")
    return summaries


def main() -> None:
    import argparse

    from sparkcrawl.session import get_spark

    ap = argparse.ArgumentParser(description="sparkcrawl driver loop")
    ap.add_argument("corpus_dir")
    ap.add_argument("store_dir")
    ap.add_argument("--round-size", type=int, default=1000)
    ap.add_argument("--max-rounds", type=int, default=50)
    ap.add_argument("--depth-limit", type=int, default=6)
    ap.add_argument("--no-robots", action="store_true")
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--cores", type=int, default=None)
    ap.add_argument(
        "--forget-before", type=int, metavar="ROUND", default=None,
        help="maintenance mode: forget seen keys first enqueued at or "
             "before ROUND (seen-TTL / recrawl), rebuild the bloom sidecar "
             "from the kept keys if the store has one, then exit without "
             "crawling",
    )
    ap.add_argument(
        "--recrawl-budget", type=int, metavar="N", default=None,
        help="with --forget-before: after forgetting, re-enqueue the top-N "
             "forgotten URLs by the Cho & Garcia-Molina age*change-rate "
             "score as QUEUED frontier rows (they re-enter seen + sidecar; "
             "a --resume run then refetches them in policy order)",
    )
    ap.add_argument(
        "--export", metavar="FMT:DIR",
        help="after the crawl, export the extracted table (S6 feed export): "
             "FMT is jsonl or csv, e.g. --export jsonl:/tmp/out",
    )
    args = ap.parse_args()

    # validate --export before running the crawl: a bad FMT:DIR must fail in
    # argparse-time, not after the whole run (ADVICE r2)
    export_fmt = export_dir = None
    if args.export:
        from sparkcrawl.export import EXPORT_FORMATS

        if ":" not in args.export:
            ap.error(f"--export wants FMT:DIR, got {args.export!r}")
        export_fmt, export_dir = args.export.split(":", 1)
        if export_fmt not in EXPORT_FORMATS or not export_dir:
            ap.error(
                f"--export FMT must be one of {EXPORT_FORMATS} and DIR "
                f"non-empty, got {args.export!r}"
            )

    cfg = CrawlConfig(
        round_size=args.round_size,
        max_rounds=args.max_rounds,
        depth_limit=args.depth_limit,
        obey_robots=not args.no_robots,
    )
    if args.recrawl_budget is not None and args.forget_before is None:
        ap.error("--recrawl-budget requires --forget-before (it re-enqueues "
                 "the keys that maintenance run forgot)")
    spark = get_spark(cores=args.cores, app="sparkcrawl")
    if args.forget_before is not None:
        from sparkcrawl.rounds import forget_seen, recrawl_enqueue

        try:
            res = forget_seen(
                spark, SnapStore(args.store_dir), cfg, args.forget_before
            )
            print(
                f"forgot {res['forgot']} seen keys up to round "
                f"{args.forget_before} (sidecar: {res['sidecar']})"
            )
            if args.recrawl_budget is not None:
                rq = recrawl_enqueue(
                    spark, SnapStore(args.store_dir), cfg,
                    args.recrawl_budget,
                )
                print(
                    f"re-enqueued {rq['recrawled']} forgotten urls "
                    f"(budget {args.recrawl_budget}) — resume with "
                    "--resume to refetch"
                )
        finally:
            spark.stop()
        return
    try:
        summaries = run_crawl(
            spark, args.corpus_dir, args.store_dir, cfg, resume=args.resume,
            verbose=True,
        )
        total_sched = sum(s.get("scheduled", 0) for s in summaries)
        total_ms = sum(s["wall_ms"] for s in summaries) or 1
        print(
            f"done: rounds={len(summaries)} scheduled={total_sched} "
            f"throughput={total_sched / (total_ms / 1000):.1f} urls/s"
        )
        if export_fmt:
            from sparkcrawl.export import export_extracted

            n = export_extracted(
                spark, SnapStore(args.store_dir), export_dir, export_fmt
            )
            print(f"exported {n} rows to {export_dir} ({export_fmt})")
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
