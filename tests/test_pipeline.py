"""Spark pipeline ≡ oracle equivalence — the core correctness gate
(SURVEY.md §5.2.3, BASELINE.json:14-15):

- per-round scheduled canonical-URL sequences, exactly ordered
- final URL-seen set equality
- byte-identical extracted text per url
- per-round counters match the oracle's
- resume from a round boundary ≡ uninterrupted run
"""

import pytest
from pyspark.sql import functions as F

from oracle.crawler import crawl as oracle_crawl
from sparkcrawl.config import CrawlConfig
from sparkcrawl.crawl import run_crawl
from sparkcrawl.snapstore import SnapStore
from sparkcrawl.synth import generate

# bloom_min_seen=0 forces the bloom-probe dedup path (the at-scale strategy)
# through the whole oracle-equivalence suite; the below-threshold direct-join
# path is covered by test_bloom_threshold_crossing and the default-config
# no-robots variant
CFG = CrawlConfig(round_size=50, bloom_min_seen=0)


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("corpus"))
    # sitemap_rate=1.0: every robots-having host advertises a sitemap, so the
    # equivalence suite exercises the robots→sitemap→loc-links path end to end
    generate(d, seed=42, n_hosts=5, pages_per_host=20, n_seeds=3, sitemap_rate=1.0)
    return d


@pytest.fixture(scope="module")
def crawled(spark, corpus, tmp_path_factory):
    store_dir = str(tmp_path_factory.mktemp("store"))
    summaries = run_crawl(spark, corpus, store_dir, CFG)
    return SnapStore(store_dir), summaries


@pytest.fixture(scope="module")
def golden(corpus):
    return oracle_crawl(corpus, CFG)


def spark_rounds(spark, store):
    from sparkcrawl.crawl import schedule_view

    rows = (
        schedule_view(spark, store)
        .orderBy("round", F.desc("priority"), "seq")
        .select("round", "canon")
        .collect()
    )
    out: dict[int, list[str]] = {}
    for r in rows:
        out.setdefault(r["round"], []).append(r["canon"])
    return out


def test_crawl_ordering_exact(spark, crawled, golden):
    store, _ = crawled
    got = spark_rounds(spark, store)
    for i, g in enumerate(golden.rounds):
        assert got.get(i, []) == g, f"round {i}"
    assert set(got) <= set(range(len(golden.rounds)))


def test_seen_set_exact(spark, crawled, golden):
    store, _ = crawled
    seen = {r["canon"] for r in store.read(spark, "seen").select("canon").collect()}
    assert seen == golden.seen


def test_text_byte_identical(spark, crawled, golden):
    store, _ = crawled
    txt = {
        r["canon"]: r["text"]
        for r in store.read(spark, "extracted").select("canon", "text").collect()
    }
    assert set(txt) == set(golden.text)
    for canon, want in golden.text.items():
        assert txt[canon].encode("utf-8") == want.encode("utf-8"), canon


def test_metrics_match_oracle(spark, crawled, golden):
    store, _ = crawled
    rows = (
        store.read(spark, "metrics")
        .groupBy("round", "key")
        .agg(F.sum("n").alias("n"))
        .collect()
    )
    got: dict[int, dict[str, int]] = {}
    for r in rows:
        got.setdefault(r["round"], {})[r["key"]] = r["n"]
    for m in golden.metrics:
        rnd = m["round"]
        for key in (
            "queued_start", "robots_fetched", "robots_deferred", "robots_denied",
            "budget_deferred", "cap_deferred", "scheduled", "fetched",
            "fetch_miss", "http_error", "retried", "redirected",
            "links_extracted", "sitemap_urls", "nofollow_dropped",
            "url_guard_dropped", "ext_dropped", "regex_dropped",
            "depth_dropped", "offsite_dropped", "dup_in_batch",
            "dedup_dropped", "enqueued",
        ):
            assert got.get(rnd, {}).get(key, 0) == m[key], (rnd, key)
    # the corpus's non-2xx pages must actually exercise the F5 path
    assert sum(m["http_error"] for m in golden.metrics) > 0


def test_frontier_log_states(spark, crawled, golden):
    store, _ = crawled
    log = store.read(spark, "frontier_log").groupBy("state").count().collect()
    got = {r["state"]: r["count"] for r in log}
    want: dict[str, int] = {}
    for row in golden.frontier.values():
        if row.state != "QUEUED":
            want[row.state] = want.get(row.state, 0) + 1
    # RETRY log entries are per-attempt, not terminal frontier states: one
    # per retried schedule (the row itself returns to QUEUED)
    n_retry = sum(m["retried"] for m in golden.metrics)
    if n_retry:
        want["RETRY"] = n_retry
    assert got == want


def test_redirect_and_retry_exercised(golden):
    """The default synth corpus must actually hit both new paths (3xx follow
    + 5xx retry) so the equivalence suite is meaningful."""
    assert sum(m["redirected"] for m in golden.metrics) > 0
    assert sum(m["retried"] for m in golden.metrics) > 0
    # followed redirects appear as terminal REDIRECT frontier states
    assert any(r.state == "REDIRECT" for r in golden.frontier.values())


def test_sitemap_discovery_exercised(golden):
    """The corpus must actually drive the sitemap path: robots `Sitemap:`
    directives parsed, sitemap pages fetched (parent_url = the advertising
    robots.txt), and their <loc> entries enqueued as ordinary links."""
    assert sum(m["sitemap_urls"] for m in golden.metrics) > 0
    sm_rows = [
        r for r in golden.frontier.values()
        if r.parent_url is not None and r.parent_url.endswith("/robots.txt")
    ]
    assert sm_rows, "no sitemap candidates were enqueued"
    assert any(r.state == "FETCHED" for r in sm_rows)
    fetched_sm = {r.canon for r in sm_rows if r.state == "FETCHED"}
    # sitemap text is pinned empty; loc-entries surface as children
    assert all(golden.text[c] == "" for c in fetched_sm)
    assert any(
        r.parent_url is not None
        and any(r.parent_url == s.url for s in sm_rows)
        for r in golden.frontier.values()
    ), "no loc-entry of a fetched sitemap was enqueued"


def test_meta_propagation(spark, crawled, golden):
    """Request.meta analogue: seed meta surfaces on extracted rows (the
    Response.meta view item pipelines read), survives redirect/retry
    descent (request.replace semantics), and is never inherited by
    discovered links — oracle-mirrored per canonical url."""
    store, _ = crawled
    got = {
        r["canon"]: r["meta"]
        for r in store.read(spark, "extracted").select("canon", "meta").collect()
    }
    want = {
        row.canon: row.meta
        for row in golden.frontier.values()
        if row.state == "FETCHED"
    }
    assert got == want
    assert any(v is not None for v in got.values())  # non-null path exercised
    assert any(v is None for v in got.values())  # null path exercised
    # discovered links never inherit meta (only seeds and their
    # redirect-descendants can carry one)
    assert all(
        row.meta is None
        for row in golden.frontier.values()
        if row.depth > 0 and row.redirects == 0
    )


def test_resume_equals_uninterrupted(spark, corpus, crawled, golden, tmp_path_factory):
    store_b_dir = str(tmp_path_factory.mktemp("store_resume"))
    # phase 1: stop after 3 rounds (simulated interruption at a boundary)
    run_crawl(
        spark, corpus, store_b_dir,
        CrawlConfig(round_size=50, max_rounds=3, bloom_min_seen=0),
    )
    # phase 2: resume to completion
    run_crawl(spark, corpus, store_b_dir, CFG, resume=True)
    store_b = SnapStore(store_b_dir)
    got = spark_rounds(spark, store_b)
    for i, g in enumerate(golden.rounds):
        assert got.get(i, []) == g, f"round {i} after resume"
    seen = {r["canon"] for r in store_b.read(spark, "seen").select("canon").collect()}
    assert seen == golden.seen


def test_time_travel_reads(spark, crawled):
    store, summaries = crawled
    fr0 = store.read_at_round(spark, "frontier", -1)
    assert fr0.count() == 3  # the seeds
    # seen grows monotonically across round boundaries
    prev = 0
    for rnd in store.committed_rounds():
        n = store.read_at_round(spark, "seen", rnd).count()
        assert n >= prev
        prev = n


def test_no_robots_variant(spark, corpus, golden, tmp_path_factory):
    # default config ⇒ seen stays below bloom_min_seen ⇒ direct-join dedup path
    cfg = CrawlConfig(round_size=50, obey_robots=False)
    store_dir = str(tmp_path_factory.mktemp("store_nr"))
    run_crawl(spark, corpus, store_dir, cfg)
    o = oracle_crawl(corpus, cfg)
    got = spark_rounds(spark, SnapStore(store_dir))
    for i, g in enumerate(o.rounds):
        assert got.get(i, []) == g, f"round {i}"
    assert len(o.rounds[0]) == 3  # no robots deferral → seeds go in round 0


def test_bloom_threshold_crossing(spark, corpus, golden, tmp_path_factory):
    """Dedup strategy flips from direct join to bloom+semi mid-crawl (when
    seen crosses bloom_min_seen); the sidecar backfill at the crossover must
    keep results exactly equal to the all-direct golden run."""
    cfg = CrawlConfig(round_size=50, bloom_min_seen=20)  # seeds=3 < 20 < total
    store_dir = str(tmp_path_factory.mktemp("store_cross"))
    run_crawl(spark, corpus, store_dir, cfg)
    store = SnapStore(store_dir)
    got = spark_rounds(spark, store)
    for i, g in enumerate(golden.rounds):
        assert got.get(i, []) == g, f"round {i}"
    seen = {r["canon"] for r in store.read(spark, "seen").select("canon").collect()}
    assert seen == golden.seen
    # the sidecar only exists once the threshold was crossed
    assert store.exists("seen_filter")


def test_crash_resume_orphans_partial_snapshots(
    spark, corpus, golden, tmp_path_factory
):
    """A round attempt that committed table snapshots but died before the
    round manifest must be invisible to the re-run: reads and append-parents
    pin to the last committed round manifest (Iceberg retry semantics)."""
    import pyarrow as pa

    from sparkcrawl.rounds import METRICS_SCHEMA

    store_dir = str(tmp_path_factory.mktemp("store_crash"))
    cfg3 = CrawlConfig(round_size=50, max_rounds=3, bloom_min_seen=0)
    run_crawl(spark, corpus, store_dir, cfg3)
    store = SnapStore(store_dir)
    # simulate a crashed round-3 attempt: partial appends landed as table
    # snapshots (seen + frontier_log + an overwrite of frontier), no manifest
    junk = spark.createDataFrame(
        [(0, 1, "http://junk.example/", b"", 99)],
        "bucket int, url_hash long, canon string, fp binary, first_round int",
    )
    store.append("seen", junk, partition_by=["bucket"])
    store.overwrite("frontier", store.read(spark, "frontier").limit(0))
    store.append_local(
        "metrics",
        pa.table({"round": pa.array([99], pa.int32()),
                  "key": pa.array(["junk"], pa.string()),
                  "partition_id": pa.array([-1], pa.int32()),
                  "n": pa.array([1], pa.int64())}),
        METRICS_SCHEMA,
    )
    # resume: must re-run round 3 from the round-2 manifest, orphaning junk
    run_crawl(spark, corpus, store_dir, CFG, resume=True)
    got = spark_rounds(spark, store)
    for i, g in enumerate(golden.rounds):
        assert got.get(i, []) == g, f"round {i} after crash-resume"
    final_seen = {
        r["canon"] for r in store.read(spark, "seen").select("canon").collect()
    }
    assert final_seen == golden.seen
    assert "http://junk.example/" not in final_seen


def test_dedup_smj_guard_equals_broadcast_path(spark, corpus, golden, tmp_path_factory):
    """Broadcast guard (r1 #7): dedup_broadcast_max=0 forces the
    co-partitioned shuffle-join fallback for every round; results must equal
    the broadcast-path golden run bit-for-bit."""
    cfg = CrawlConfig(round_size=50, bloom_min_seen=0, dedup_broadcast_max=0)
    store_dir = str(tmp_path_factory.mktemp("store_smj"))
    run_crawl(spark, corpus, store_dir, cfg)
    store = SnapStore(store_dir)
    got = spark_rounds(spark, store)
    for i, g in enumerate(golden.rounds):
        assert got.get(i, []) == g, f"round {i}"
    seen = {r["canon"] for r in store.read(spark, "seen").select("canon").collect()}
    assert seen == golden.seen


def test_fetch_shuffle_guard_equals_broadcast_path(spark, corpus, golden, tmp_path_factory):
    """Fetch-join broadcast guard (VERDICT r3 #5): fetch_broadcast_max=0
    forces the shuffle-join fallback for the fetch, missed-keys, and
    redirect-leg joins every round; schedule ordering and the final seen set
    must equal the broadcast-path golden run bit-for-bit."""
    cfg = CrawlConfig(round_size=50, bloom_min_seen=0, fetch_broadcast_max=0)
    store_dir = str(tmp_path_factory.mktemp("store_fetchshuffle"))
    run_crawl(spark, corpus, store_dir, cfg)
    store = SnapStore(store_dir)
    got = spark_rounds(spark, store)
    for i, g in enumerate(golden.rounds):
        assert got.get(i, []) == g, f"round {i}"
    seen = {r["canon"] for r in store.read(spark, "seen").select("canon").collect()}
    assert seen == golden.seen


def test_redirects_idx_materialized_once(spark, crawled):
    """prepare_pages writes the one-time slim redirect index (VERDICT r3 #4):
    exactly the followable-3xx rows of pages_idx, no html column, and only
    one snapshot ever (per-round legs read it, never rewrite it)."""
    store, _ = crawled
    assert store.exists("redirects_idx")
    ridx = store.read(spark, "redirects_idx")
    assert "html" not in ridx.columns
    want = (
        store.read(spark, "pages_idx")
        .filter(
            (F.col("status") >= 300)
            & (F.col("status") < 400)
            & F.col("location").isNotNull()
        )
        .select("url_hash", "canon", "page_url", "status", "location")
    )
    got_rows = sorted(map(tuple, ridx.drop("bucket").collect()))
    want_rows = sorted(map(tuple, want.collect()))
    assert got_rows == want_rows and len(got_rows) > 0
    assert store.snapshots("redirects_idx") == [1]


def test_nondefault_bucket_and_salt_layout(spark, corpus, golden, tmp_path_factory):
    """Layout knobs are config (r1 #9): a crawl at n_buckets=8 / salt_n=4
    produces the identical schedule and seen set."""
    cfg = CrawlConfig(round_size=50, bloom_min_seen=0, n_buckets=8, salt_n=4)
    store_dir = str(tmp_path_factory.mktemp("store_nb8"))
    run_crawl(spark, corpus, store_dir, cfg)
    store = SnapStore(store_dir)
    got = spark_rounds(spark, store)
    for i, g in enumerate(golden.rounds):
        assert got.get(i, []) == g, f"round {i}"
    seen_rows = store.read(spark, "seen").select("bucket", "canon").collect()
    assert {r["canon"] for r in seen_rows} == golden.seen
    assert {r["bucket"] for r in seen_rows} <= set(range(8))


def test_feed_export_roundtrip(spark, crawled, golden, tmp_path_factory):
    """S6 feed export: jsonl keeps the nested links; csv flattens them —
    both read back with the full extracted row count."""
    from sparkcrawl.export import export_extracted

    store, _ = crawled
    n_expected = store.read(spark, "extracted").count()
    jdir = str(tmp_path_factory.mktemp("export_j")) + "/out"
    n = export_extracted(spark, store, jdir, "jsonl")
    assert n == n_expected
    back = spark.read.json(jdir)
    assert back.count() == n_expected
    assert "links" in back.columns and "text" in back.columns
    cdir = str(tmp_path_factory.mktemp("export_c")) + "/out"
    n2 = export_extracted(spark, store, cdir, "csv")
    assert n2 == n_expected
    backc = spark.read.option("header", True).csv(cdir)
    assert backc.count() == n_expected


def test_redirect_retry_disabled_equals_oracle(spark, corpus, tmp_path_factory):
    """redirect_max_times=0 + retry_times=0 make every 3xx/5xx terminal on
    the first attempt (the pre-r3 F5 behavior); pipeline and oracle must
    agree on that config too — covering the cap-exhaustion branches."""
    cfg = CrawlConfig(
        round_size=50, bloom_min_seen=0, redirect_max_times=0, retry_times=0
    )
    store_dir = str(tmp_path_factory.mktemp("store_rr0"))
    run_crawl(spark, corpus, store_dir, cfg)
    o = oracle_crawl(corpus, cfg)
    assert sum(m["redirected"] for m in o.metrics) == 0
    assert sum(m["retried"] for m in o.metrics) == 0
    store = SnapStore(store_dir)
    got = spark_rounds(spark, store)
    for i, g in enumerate(o.rounds):
        assert got.get(i, []) == g, f"round {i}"
    seen = {r["canon"] for r in store.read(spark, "seen").select("canon").collect()}
    assert seen == o.seen


def test_round_cap_path_equals_oracle(spark, corpus, tmp_path_factory):
    """Global round cap (O2): round_size below the per-round pass volume
    forces the orderBy+limit top-K path and the deferred_cap anti-join every
    round; ordering, seen set, and cap_deferred counters must still match
    the oracle exactly."""
    cfg = CrawlConfig(round_size=12, bloom_min_seen=0, max_rounds=30)
    store_dir = str(tmp_path_factory.mktemp("store_cap"))
    run_crawl(spark, corpus, store_dir, cfg)
    o = oracle_crawl(corpus, cfg)
    store = SnapStore(store_dir)
    got = spark_rounds(spark, store)
    for i, g in enumerate(o.rounds):
        assert got.get(i, []) == g, f"round {i}"
    seen = {r["canon"] for r in store.read(spark, "seen").select("canon").collect()}
    assert seen == o.seen
    # the cap must actually have bound at least once
    assert any(m["cap_deferred"] > 0 for m in o.metrics)
    rows = (
        store.read(spark, "metrics")
        .filter(F.col("key") == "cap_deferred")
        .groupBy("round").agg(F.sum("n").alias("n")).collect()
    )
    got_cap = {r["round"]: r["n"] for r in rows}
    for m in o.metrics:
        assert got_cap.get(m["round"], 0) == m["cap_deferred"], m["round"]


def test_round_cap_histogram_path_equals_oracle(spark, corpus, tmp_path_factory):
    """topk_histogram_min=0 forces the priority-histogram threshold-cutoff
    top-K (VERDICT r2 #9) whenever the cap binds; schedule ordering, seen
    set, and counters must equal the oracle (and hence the sort path)."""
    cfg = CrawlConfig(
        round_size=12, bloom_min_seen=0, max_rounds=30, topk_histogram_min=0
    )
    store_dir = str(tmp_path_factory.mktemp("store_caph"))
    run_crawl(spark, corpus, store_dir, cfg)
    o = oracle_crawl(corpus, cfg)
    store = SnapStore(store_dir)
    got = spark_rounds(spark, store)
    for i, g in enumerate(o.rounds):
        assert got.get(i, []) == g, f"round {i}"
    seen = {r["canon"] for r in store.read(spark, "seen").select("canon").collect()}
    assert seen == o.seen
    assert any(m["cap_deferred"] > 0 for m in o.metrics)


def test_finish_reason_matches_oracle(spark, corpus, crawled, golden, tmp_path_factory):
    """CloseSpider analogue ([scrapy: scrapy/extensions/closespider.py] —
    pinned-spec cite per SURVEY.md §0): pinned cumulative counters and check
    order live in CrawlConfig; every non-wall-clock finish_reason must agree
    with the oracle, and the stopped crawl must have run the same number of
    rounds."""
    from dataclasses import replace

    # the unrestricted module-scope crawl: drained or round-budget-bound,
    # whichever — pipeline and oracle must agree
    _, summaries = crawled
    assert summaries[-1]["finish_reason"] == golden.finish_reason
    assert golden.finish_reason == "finished"  # this corpus drains

    # pagecount threshold trips mid-crawl on both sides
    cfg = replace(CFG, closespider_pagecount=10)
    store_dir = str(tmp_path_factory.mktemp("store_csp"))
    s = run_crawl(spark, corpus, store_dir, cfg)
    o = oracle_crawl(corpus, cfg)
    assert o.finish_reason == "closespider_pagecount"
    assert s[-1]["finish_reason"] == "closespider_pagecount"
    assert len(s) == len(o.metrics)
    assert len(s) < len(summaries)  # it actually stopped early
    # overshoot is bounded by one round (threshold checked at round end)
    responses = sum(
        x.get("fetched", 0) + x.get("http_error", 0)
        + x.get("redirected", 0) + x.get("retried", 0) for x in s
    )
    assert responses >= 10
    assert responses - (
        s[-1].get("fetched", 0) + s[-1].get("http_error", 0)
        + s[-1].get("redirected", 0) + s[-1].get("retried", 0)
    ) < 10

    # round budget exhausted → engine-specific 'max_rounds' on both sides
    cfg = replace(CFG, max_rounds=1)
    store_dir = str(tmp_path_factory.mktemp("store_csm"))
    s = run_crawl(spark, corpus, store_dir, cfg)
    o = oracle_crawl(corpus, cfg)
    assert s[-1]["finish_reason"] == o.finish_reason == "max_rounds"

    # wall-clock timeout is engine-only: any positive elapsed wall beats an
    # epsilon timeout, so the crawl closes after exactly one round
    cfg = replace(CFG, closespider_timeout=1e-9)
    store_dir = str(tmp_path_factory.mktemp("store_cst"))
    s = run_crawl(spark, corpus, store_dir, cfg)
    assert s[-1]["finish_reason"] == "closespider_timeout"
    assert len(s) == 1


def test_forget_seen_ttl_maintenance(spark, corpus, tmp_path_factory,
                                     monkeypatch):
    """forget_seen (seen-TTL / recrawl): keys first enqueued at or before the
    cutoff leave the seen table AND stop probing positive in the sidecar,
    which is rebuilt from the kept keys; kept keys must still probe positive
    (no false negatives). The rebuild needs no look at the old blobs, so
    forget_seen runs no head() job on the sidecar. The rewritten round
    manifest carries the shrunken seen_total, so a resumed crawl continues
    from the post-forget state."""
    from pyspark.sql import DataFrame

    from sparkcrawl.bloom import BloomFilter
    from sparkcrawl.rounds import forget_seen

    cfg = CrawlConfig(round_size=50, bloom_min_seen=0)
    store_dir = str(tmp_path_factory.mktemp("store_forget"))
    run_crawl(spark, corpus, store_dir, cfg)
    store = SnapStore(store_dir)
    before = store.read(spark, "seen").select(
        "bucket", "url_hash", "first_round"
    ).collect()
    cutoff = 1
    expired = {(r["bucket"], r["url_hash"]) for r in before
               if r["first_round"] <= cutoff}
    kept = {(r["bucket"], r["url_hash"]) for r in before
            if r["first_round"] > cutoff}
    assert expired and kept  # the fixture crawl spans enough rounds

    def _no_head(self, n=None):
        raise AssertionError("forget_seen must not sniff the sidecar")

    with monkeypatch.context() as m:
        m.setattr(DataFrame, "head", _no_head)
        res = forget_seen(spark, store, cfg, up_to_round=cutoff)
    assert res["forgot"] == len(expired)
    assert res["sidecar"] == "rebuild"

    after = {(r["bucket"], r["url_hash"])
             for r in store.read(spark, "seen")
             .select("bucket", "url_hash").collect()}
    assert after == kept

    filters = {r["bucket"]: BloomFilter.from_bytes(bytes(r["filter"]))
               for r in store.read(spark, "seen_filter").collect()}
    for b, h in kept:  # hard invariant: kept keys never go negative
        assert filters[b].contains_many([h]).all(), (b, h)
    import numpy as np
    fp_hits = sum(int(filters[b].contains_many([h])[0])
                  for b, h in expired if b in filters)
    # expired keys may false-positive (resolved by the exact join) but the
    # population must be gone: allow only a tiny FP residue
    assert fp_hits <= max(1, len(expired) // 20), fp_hits

    # the rewritten manifest is the resume point
    last = store.committed_rounds()[-1]
    meta = store.round_manifest(last)["meta"]
    assert meta["forgot_keys"] == len(expired)
    assert meta["seen_total"] == len(before) - len(expired)


def test_forget_seen_exempts_queued_keys(spark, corpus, tmp_path_factory):
    """A seen key whose frontier row is still QUEUED must survive
    forget_seen even when old enough: forgetting it would let a later
    rediscovery enqueue a SECOND frontier row while the first still waits
    (double fetch). Stop the crawl early so the frontier is non-empty, then
    forget with a cutoff past every round."""
    from sparkcrawl.rounds import forget_seen

    cfg = CrawlConfig(round_size=50, bloom_min_seen=0, max_rounds=3)
    store_dir = str(tmp_path_factory.mktemp("store_forget_queued"))
    run_crawl(spark, corpus, store_dir, cfg)
    store = SnapStore(store_dir)
    queued = {(r["url_hash"], r["canon"])
              for r in store.read(spark, "frontier")
              .select("url_hash", "canon").collect()}
    before = {(r["url_hash"], r["canon"])
              for r in store.read(spark, "seen")
              .select("url_hash", "canon").collect()}
    assert queued  # early stop leaves work queued (fixture invariant)

    res = forget_seen(spark, store, cfg, up_to_round=99)
    want_kept = before & queued
    after = {(r["url_hash"], r["canon"])
             for r in store.read(spark, "seen")
             .select("url_hash", "canon").collect()}
    assert after == want_kept
    assert res["forgot"] == len(before) - len(want_kept)


def test_recrawl_enqueue_forget_score_requeue_refetch(
        spark, corpus, tmp_path_factory):
    """VERDICT r4 #5 end-to-end: forget → score → re-enqueue → refetch
    across a round boundary, mirrored by an independent pure-Python oracle
    over the same store tables. The re-enqueued set must be exactly the
    top-budget forgotten keys by the Cho & Garcia-Molina age·λ score
    (host-level λ from terminal fetch history, age to last_round+1, ties by
    url_hash), the rows must re-enter seen + the bloom sidecar in the same
    maintenance commit, and a --resume crawl must actually refetch them."""
    from sparkcrawl.canon import seq_for_seed
    from sparkcrawl.crawl import schedule_view
    from sparkcrawl.bloom import BloomFilter
    from sparkcrawl.rounds import forget_seen, recrawl_enqueue

    cfg = CrawlConfig(round_size=50, bloom_min_seen=0)
    store_dir = str(tmp_path_factory.mktemp("store_recrawl"))
    run_crawl(spark, corpus, store_dir, cfg)
    store = SnapStore(store_dir)
    last = store.committed_rounds()[-1]

    # ---- pure-Python oracle over the committed tables (pre-maintenance)
    log = [r.asDict() for r in store.read(spark, "frontier_log").collect()]
    seen_before = [r.asDict() for r in store.read(spark, "seen").collect()]
    queued = {(r["url_hash"], r["canon"])
              for r in store.read(spark, "frontier")
              .select("url_hash", "canon").collect()}
    cutoff = last  # forget everything not still queued
    expired = [r for r in seen_before
               if r["first_round"] <= cutoff
               and (r["url_hash"], r["canon"]) not in queued]
    assert len(expired) > 8

    fetches = [r for r in log if r["state"] not in ("ROBOTS_DENIED", "RETRY")]
    hosts: dict[str, list[int]] = {}
    for r in fetches:
        hosts.setdefault(r["host"], []).append(r["round"])
    rate = {}
    for h, rs in hosts.items():
        span = max(rs) - min(rs)
        n = len(rs)
        rate[h] = ((n - 1) // span) * 1000000 + (
            ((n - 1) % span) * 1000000) // span if span >= 1 else 0
    last_obs = {}
    host_of = {}
    for r in log:
        k = (r["url_hash"], r["canon"])
        last_obs[k] = max(last_obs.get(k, r["round"]), r["round"])
        host_of[k] = max(host_of.get(k, r["host"]), r["host"])
    def score(r):
        k = (r["url_hash"], r["canon"])
        age = (last + 1) - last_obs.get(k, r["first_round"])
        return age * rate.get(host_of.get(k), 0)
    budget = 6
    want = sorted(expired, key=lambda r: (-score(r), r["url_hash"]))[:budget]
    want_keys = {(r["url_hash"], r["canon"]) for r in want}
    want_scores = {(r["url_hash"], r["canon"]): score(r) for r in want}
    # the fixture must make the selection non-trivial (real score spread)
    assert len({score(r) for r in expired}) > 1

    # ---- pipeline: forget, then re-enqueue under budget
    frontier_before = {(r["url_hash"], r["canon"])
                       for r in store.read(spark, "frontier")
                       .select("url_hash", "canon").collect()}
    res_f = forget_seen(spark, store, cfg, up_to_round=cutoff)
    assert res_f["forgot"] == len(expired)
    res_r = recrawl_enqueue(spark, store, cfg, budget=budget)
    assert res_r["recrawled"] == budget

    fr = [r.asDict() for r in store.read(spark, "frontier").collect()]
    new_rows = [r for r in fr
                if (r["url_hash"], r["canon"]) not in frontier_before]
    assert {(r["url_hash"], r["canon"]) for r in new_rows} == want_keys
    for r in new_rows:
        k = (r["url_hash"], r["canon"])
        assert r["depth"] == 0 and r["retries"] == 0
        assert r["seq"] == seq_for_seed(r["canon"])
        assert r["discovered_round"] == last + 1
        assert r["priority"] == min(want_scores[k] // 1000, 2_000_000_000)
        assert f'"recrawl_score_micro":{want_scores[k]}' in r["meta"]

    # re-enqueued keys are back in seen (first_round = last+1) + sidecar
    seen_after = {(r["url_hash"], r["canon"]): r["first_round"]
                  for r in store.read(spark, "seen").collect()}
    for k in want_keys:
        assert seen_after[k] == last + 1
    filters = {r["bucket"]: BloomFilter.from_bytes(bytes(r["filter"]))
               for r in store.read(spark, "seen_filter").collect()}
    for r in new_rows:
        b = r["url_hash"] % cfg.n_buckets  # Python % ≡ Spark pmod for n>0
        assert filters[b].contains_many([r["url_hash"]]).all()
    # manifest carries the maintenance lineage
    meta = store.round_manifest(last)["meta"]
    assert meta["recrawled_keys"] == budget
    assert meta["forgot_keys"] == len(expired)

    # ---- round boundary: resume refetches the re-enqueued urls
    cfg2 = CrawlConfig(round_size=50, bloom_min_seen=0, max_rounds=last + 4)
    run_crawl(spark, corpus, store_dir, cfg2, resume=True)
    refetched = {r["canon"]
                 for r in schedule_view(spark, store)
                 .filter(F.col("round") > last).collect()}
    assert {c for _, c in want_keys} <= refetched


def test_recrawl_enqueue_requires_forget_first(spark, corpus,
                                               tmp_path_factory):
    from sparkcrawl.rounds import recrawl_enqueue

    store_dir = str(tmp_path_factory.mktemp("store_recrawl_noforget"))
    run_crawl(spark, corpus, store_dir, CFG)
    with pytest.raises(ValueError, match="forgotten"):
        recrawl_enqueue(spark, SnapStore(store_dir), CFG, budget=3)
