"""sparkcrawl benchmark: one closed-loop client driving a crawl, seen-set
maintenance and WARC ingest on ``local[4]``.

    python3 perfbench/run.py --workload crawl_fat --seed 1 --seconds 5 --trace 0

Workloads (see perfbench/README.md for why each exists and how they were
sized):

- ``crawl_fat``: fat pages, default strategy thresholds; no tier crosses
  its crossover, so the extraction UDFs dominate the round.
- ``crawl_tiers``: thin pages and a small binding round cap with the bloom
  sidecar, the salted window and the histogram top-K forced on; the
  sidecar, link work, snapshot writes and maintenance carry the cost.

A run builds its inputs from ``--seed`` (cached per seed), sets up Spark and
its Python workers and runs one untimed warm-up crawl, then repeats timed
cycles until ``--seconds`` have passed (at least one cycle). A cycle is a
fresh crawl followed, on ``crawl_fat``, by two WARC ingests of its corpus
and, on ``crawl_tiers``, by maintenance (forget_seen → recrawl_enqueue).
Every output, the warm-up's too, is checked outside the timed regions.
``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
ones; the last stdout line is the JSON result.
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import dataclasses  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.trace import RssSampler  # noqa: E402

CORES = 4
_FAT = {"n_links": (30, 50), "n_paras": (60, 120)}
_THIN = {"n_links": (30, 50), "n_paras": (2, 5)}
_TIERS = {"bloom_min_seen": 0, "salt_min_candidates": 0, "topk_histogram_min": 0}

WORKLOADS = {
    "crawl_fat": {
        "corpus": {"n_hosts": 200, "pages_per_host": 4, "n_seeds": 200,
                   "max_per_round": 60, **_FAT},
        "cfg": {"max_rounds": 1, "obey_robots": False, "n_buckets": 8},
        "tiers": False, "maintain": False, "ingest": 2,
    },
    "crawl_tiers": {
        "corpus": {"n_hosts": 150, "pages_per_host": 4, "n_seeds": 150,
                   "max_per_round": 60, **_THIN},
        "cfg": {"round_size": 60, "max_rounds": 1, "obey_robots": False, "n_buckets": 8,
                **_TIERS},
        "tiers": True, "maintain": True, "ingest": 0,
    },
}
# --size small: a tiny corpus for the self-check (perfbench/selfcheck.py)
SMALL = {"n_hosts": 6, "pages_per_host": 12, "n_seeds": 6}

END_TO_END = {
    "setup_s": "s", "crawl_urls_per_s": "urls/s", "job_s": "s", "peak_rss_mb": "MB",
}
_TABLES = ("frontier", "seen", "extracted", "frontier_log", "seen_filter", "metrics")
_STAGES = ("cand_counts", "linkwork", "table_writes", "work_materialize",
           "robots_plan", "commit_unpersist")
_COUNTS = ("scheduled", "links_extracted", "dup_in_batch", "dedup_dropped",
           "enqueued", "fetched", "cap_deferred")
PER_LAYER = {
    "session.get_spark_s": "s", "session.prewarm_s": "s",
    "rounds.prepare_pages_s": "s", "rounds.init_crawl_s": "s",
    "rounds.corpus_caps_s": "s", "rounds.one_round_s": "s",
    "rounds.one_round.self_s": "s",
    "crawl.loop_self_s": "s",
    **{f"stage.{s}_s": "s" for s in _STAGES},
    "stage.coverage": "ratio",
    "maintain.total_s": "s", "rounds.forget_seen_s": "s", "rounds.recrawl_enqueue_s": "s",
    **{f"rounds.{c}": "count" for c in _COUNTS},
    "frontier.dedup_useful_ratio": "ratio",
    "maintain.forgot": "count", "maintain.reenqueued": "count",
    "snapstore.write_s": "s", "snapstore.commit_round_s": "s",
    "snapstore.write_calls": "count",
    **{f"snapstore.bytes_written.{t}": "bytes" for t in _TABLES},
    "seenfilter.sidecar_bytes": "bytes", "seenfilter.python_s": "s",
    "udfs.python_s": "s", "udfs.bytes_to_python": "bytes",
    "udfs.rows_to_python": "count",
    "warc.pages_per_s": "pages/s", "warc.ingest_s": "s", "warc.python_s": "s",
    "warc.shard_bytes": "bytes",
    "warc.pages": "count",
    "spark.jobs_per_round": "count", "spark.stages_per_round": "count",
    "spark.tasks_per_round": "count", "spark.task_s": "s",
    "spark.task_cpu_s": "s", "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "spark.core_util": "ratio",
    "trace.crawl_wall_s": "s", "trace.job_s": "s",
    "calib.extract_pages_per_s": "pages/s", "calib.cores": "count",
}


def _dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def calibrate() -> float:
    """Single-thread ``extract.extract_page`` pages/s on a fixed page: the
    drift context printed beside every result (not a gated metric)."""
    import random

    from sparkcrawl.extract import extract_page

    rng = random.Random(1234)
    words = "alpha bravo charlie delta echo foxtrot golf hotel india".split()
    paras = "".join(
        "<p>" + " ".join(rng.choice(words) for _ in range(10)) + "</p>" for _ in range(90)
    )
    links = "".join(f'<a href="/p{rng.randrange(500)}.html">x</a> ' for _ in range(40))
    html = (f'<html><head><title>calib</title></head><body>{paras}{links}</body></html>').encode()
    for _ in range(20):
        extract_page(html, "http://h7.example/p13.html")
    reps, t0 = 200, time.monotonic()
    for _ in range(reps):
        extract_page(html, "http://h7.example/p13.html")
    return reps / (time.monotonic() - t0)


def workload_inputs(workload: str, size: str = "full"):
    """The corpus parameters and crawl config of a workload at a size."""
    from sparkcrawl.config import CrawlConfig

    spec = WORKLOADS[workload]
    params, cfg = spec["corpus"], CrawlConfig(**spec["cfg"])
    if size == "small":
        params = {**params, **SMALL}
        cfg = dataclasses.replace(cfg, round_size=max(1, cfg.round_size // 20))
    return params, cfg


class Bench:
    def __init__(self, args, work: str, rss: RssSampler) -> None:
        self.args = args
        self.work = work
        self.rss = rss
        self.spec = WORKLOADS[args.workload]
        self.corpus_params, self.cfg = workload_inputs(args.workload, args.size)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.tracer = None
        self.cycles: list[dict] = []

    # ----------------------------------------------------------- bookkeeping
    def op(self, name: str, fn, *a, **kw):
        """Run one counted operation; an exception fails it."""
        self.attempted += 1
        try:
            return fn(*a, **kw)
        except Exception as e:  # noqa: BLE001 — every failure is counted
            self.failed += 1
            self.errors.append(f"{name}: {type(e).__name__}: {e}")
            return None

    def check(self, name: str, fn) -> None:
        """Mismatches (or a check that cannot run) fail the checked operation."""
        try:
            errs = fn()
        except Exception as e:  # noqa: BLE001
            errs = [f"check raised {type(e).__name__}: {e}"]
        if errs:
            self.failed += 1
            self.errors.extend(f"{name}: {e}" for e in errs)

    @staticmethod
    def mark(label: str) -> None:
        """Phase timeline on stderr, for sizing the workloads."""
        print(f"perfbench t={time.monotonic() - T_START:7.2f}s {label}", file=sys.stderr)

    # ----------------------------------------------------------------- phases
    def run(self) -> dict:
        from perfbench import inputs

        t0 = time.monotonic()
        seed = self.args.seed
        self.corpus = inputs.corpus(seed, self.corpus_params)
        self.expect = inputs.corpus_expectations(self.corpus)
        self.gold = inputs.golden(self.corpus, self.cfg)
        self.calib = calibrate()
        excluded = time.monotonic() - t0
        self.mark("inputs + calibration")
        self.rss.start()

        if self.args.trace:
            from perfbench.trace import Tracer, install_program_spans

            self.tracer = Tracer()
            install_program_spans(self.tracer)
        self.setup()
        ready = time.monotonic() - T_START - excluded
        self.mark("session")
        # The first crawl in a JVM also compiles its plans and warms the JIT:
        # about twice the wall of the next one, and much less steady. Set-up
        # pays it, with the warm-up's own checks left out. The legs after the
        # crawl are not warmed: the time budget has no room for them.
        self.warmup = self.cycle("warmup", legs=False)
        self.setup_s = ready + self.warmup.get("job_s", 0.0)  # a failed crawl is in `failed`
        self.mark("setup (warm-up crawl done)")

        deadline = time.monotonic() + self.args.seconds
        k = 0
        while True:
            self.cycles.append(self.cycle(k))
            k += 1
            if time.monotonic() >= deadline:
                break
        self.stop_spark()
        self.peak_rss_mb = self.rss.stop()
        if self.tracer:
            self.tracer.unwrap_all()
        return self.result()

    def stop_spark(self) -> None:
        """Stop the session, then the JVM it runs in, and wait for it to exit."""
        from pyspark import SparkContext

        from perfbench.trace import descendants, wait_gone

        started = descendants() - {os.getpid()}
        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
            SparkContext._gateway = None
        wait_gone(started)  # the JVM's Python worker daemon exits after it

    def setup(self) -> None:
        import sparkcrawl.session as session

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work}/tmp",
        }
        if self.tracer:
            self.eventlog = os.path.join(self.work, "eventlog")
            os.makedirs(self.eventlog)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": self.eventlog,
                         "spark.eventLog.compress": "false"})
        t0 = time.time()
        self.spark = session.get_spark(cores=CORES, app="perfbench", extra=conf)
        if self.tracer:
            self.tracer.add("session.get_spark", t0, time.time())
        # looked up on the module so the traced run's wrapper sees the call
        session.prewarm_python_workers(self.spark)
        self.session_span = (t0, time.time())

    def ingest(self, warc_dir: str) -> tuple[int, int]:
        from pyspark.sql import functions as F

        from sparkcrawl.udfs import extract_page_udf
        from sparkcrawl.warc import warc_to_pages

        row = (
            warc_to_pages(self.spark, warc_dir)
            .select(F.length(extract_page_udf("html", "url")["text"]).alias("tlen"))
            .agg(F.count(F.lit(1)).alias("n"), F.sum("tlen").alias("chars"))
            .collect()[0]
        )
        return int(row["n"]), int(row["chars"] or 0)

    def cycle(self, k, legs: bool = True) -> dict:
        """One crawl of a fresh store, then (with ``legs``) the workload's
        follow-up legs; returns the cycle's walls (``job_s`` only if every
        leg succeeded)."""
        from perfbench import checks
        from sparkcrawl.crawl import run_crawl
        from sparkcrawl.snapstore import SnapStore

        rec: dict = {}
        store_dir = os.path.join(self.work, f"store-{k}")
        store = SnapStore(store_dir)

        # --- crawl
        t0, w0 = time.monotonic(), time.time()
        summaries = self.op("crawl", run_crawl, self.spark, self.corpus, store_dir, self.cfg)
        rec["crawl_wall"] = time.monotonic() - t0
        rec["crawl_span"] = (w0, time.time())
        self.mark("crawl")
        if summaries is None:
            return rec
        rec["summaries"] = summaries
        self.check("crawl", lambda: checks.crawl_vs_golden(store, self.gold)
                   + checks.crawl_guards(store, self.spec["tiers"]))
        if self.tracer:
            rec["store_bytes"] = {t: _dir_bytes(os.path.join(store_dir, t)) for t in _TABLES}
            rec["sidecar_bytes"] = self._sidecar_bytes(store)
            met = checks.read_table(store, "metrics").to_pydict()
            rec["counts"] = {c: sum(n for key, n in zip(met["key"], met["n"]) if key == c)
                             for c in _COUNTS}

        self.mark("crawl check")
        job_s = rec["crawl_wall"]
        if legs and self.spec["maintain"]:
            job_s += self.maintain(store, rec)
        if legs:
            job_s += self.ingests(rec)
        if job_s == job_s:  # NaN when a leg failed
            rec["job_s"] = job_s
        shutil.rmtree(store_dir, ignore_errors=True)
        return rec

    def maintain(self, store, rec: dict) -> float:
        """Forget the first half of the crawl, re-enqueue; returns the wall."""
        from perfbench import checks
        from sparkcrawl.rounds import forget_seen, recrawl_enqueue

        half = (self.cfg.max_rounds - 1) // 2  # every round of a one-round crawl
        try:
            want = checks.expected_forgotten(store, half)
        except Exception as e:  # noqa: BLE001 — reported by the check below
            want = {("unreadable pre-maintenance store", repr(e))}
        t0, w0 = time.monotonic(), time.time()
        forgot = self.op("forget_seen", forget_seen, self.spark, store, self.cfg, half)
        t1 = time.monotonic()
        enq = forgot and self.op("recrawl_enqueue", recrawl_enqueue, self.spark, store,
                                 self.cfg, budget=self.cfg.round_size)
        t2 = time.monotonic()
        rec["maintain_span"] = (w0, time.time())
        self.mark("maintenance")
        if not enq:
            return float("nan")
        rec.update(maintain_s=t2 - t0, forget_s=t1 - t0, enqueue_s=t2 - t1,
                   forgot=forgot["forgot"], reenqueued=enq["recrawled"])
        paths = {"rebuild", "cuckoo_delete"} if self.spec["tiers"] else {"none"}
        self.check("maintenance", lambda: checks.forgotten_vs_expected(store, want)
                   + checks.reenqueued(store, enq["recrawled"]) + (
            [] if forgot["sidecar"] in paths else [
                f"forget_seen took sidecar path {forgot['sidecar']!r}"]))
        return t2 - t0

    def ingests(self, rec: dict) -> float:
        """The workload's WARC ingests of its own corpus; returns their wall."""
        warc_dir = os.path.join(self.corpus, "warc")
        rec["ingest"], rec["ingest_spans"] = [], []
        for _ in range(self.spec["ingest"]):
            t0, w0 = time.monotonic(), time.time()
            got = self.op("warc_ingest", self.ingest, warc_dir)
            wall = time.monotonic() - t0
            rec["ingest_spans"].append((w0, time.time()))
            if got is None:
                continue
            rec["ingest"].append(wall)
            want_got = (self.expect["pages"], self.expect["text_chars"])
            self.check("warc_ingest", lambda: [] if got == want_got else [
                f"ingested (pages, chars) {got}, corpus has {want_got}"])
        if rec["ingest"]:
            self.mark("ingest")
        if len(rec["ingest"]) < self.spec["ingest"]:
            return float("nan")
        return sum(rec["ingest"])

    @staticmethod
    def _sidecar_bytes(store) -> int:
        """Size of the live seen sidecar (the last round's snapshot)."""
        from perfbench.checks import snapshot_files

        snaps = store.round_manifest(store.committed_rounds()[-1])["tables"]
        if "seen_filter" not in snaps:
            return 0
        return sum(os.path.getsize(f) for f in snapshot_files(
            store, "seen_filter", snaps["seen_filter"]))

    # ---------------------------------------------------------------- metrics
    def result(self) -> dict:
        metrics = self.per_layer() if self.tracer else self.end_to_end()
        units = PER_LAYER if self.tracer else END_TO_END
        ok = self.failed == 0 and all(k in metrics for k in units)
        for e in self.errors:
            print(f"perfbench error: {e}", file=sys.stderr)
        return {
            "correct": ok,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": metrics.get(k, 0.0), "unit": u} for k, u in units.items()},
        }

    def _done(self, key: str) -> list[dict]:
        return [c for c in self.cycles if key in c]

    def end_to_end(self) -> dict:
        out = {"setup_s": self.setup_s, "peak_rss_mb": self.peak_rss_mb}
        crawls = self._done("summaries")
        if crawls:
            out["crawl_urls_per_s"] = statistics.median(
                sum(r.get("scheduled", 0) + r.get("dedup_dropped", 0) for r in c["summaries"])
                / c["crawl_wall"] for c in crawls)
        jobs = self._done("job_s")
        if jobs:
            out["job_s"] = statistics.median(c["job_s"] for c in jobs)
        return out

    def per_layer(self) -> dict:
        from perfbench.trace import EventLog, covered

        tr = self.tracer
        ev = EventLog(self.eventlog)
        c = self.cycles[0]
        s0, s1 = self.session_span
        out: dict[str, float] = {
            "calib.extract_pages_per_s": self.calib, "calib.cores": CORES,
            "session.get_spark_s": sum(b - a for a, b in tr.within("session.get_spark", s0, s1)),
            "session.prewarm_s": sum(b - a for a, b in tr.within("session.prewarm", s0, s1)),
        }
        if "job_s" not in c:
            return out
        c0, c1 = c["crawl_span"]
        dur = lambda name: sum(b - a for a, b in tr.within(name, c0, c1))  # noqa: E731
        rounds = tr.within("rounds.one_round", c0, c1)
        writes = tr.within("snapstore.write", c0, c1) + tr.within("snapstore.commit_round", c0, c1)
        walls = [b - a for a, b in rounds]
        selfs = [(b - a) - covered(writes, a, b) for a, b in rounds]
        children = [iv for n in ("rounds.prepare_pages", "rounds.init_crawl",
                                 "rounds.corpus_caps", "session.prewarm",
                                 "rounds.one_round") for iv in tr.within(n, c0, c1)]
        stage_ms: dict[str, float] = {}
        for s in c["summaries"]:
            for k, v in (s.get("stage_ms") or {}).items():
                stage_ms[k] = stage_ms.get(k, 0.0) + v / 1000.0
        per_round = []
        for a, b in rounds:
            tasks = ev.tasks_in(a, b)
            per_round.append((
                ev.count_in(ev.jobs, a, b), ev.count_in(ev.stages, a, b), len(tasks),
                sum(t["finish"] - t["launch"] for t in tasks) / (CORES * (b - a)),
            ))
        crawl_tasks = ev.tasks_in(c0, c1)
        # a leg the workload does not run reads 0
        maint_tasks = ev.tasks_in(*c["maintain_span"]) if "maintain_span" in c else []
        ingest_tasks = [t for a, b in c["ingest_spans"] for t in ev.tasks_in(a, b)]
        ingest_s = statistics.median(c["ingest"]) if c["ingest"] else 0.0
        counts = c["counts"]
        useful = counts["enqueued"] + counts["dedup_dropped"] + counts["dup_in_batch"]
        shards = os.path.join(self.corpus, "warc")
        out.update({
            "rounds.prepare_pages_s": dur("rounds.prepare_pages"),
            "rounds.init_crawl_s": dur("rounds.init_crawl"),
            "rounds.corpus_caps_s": dur("rounds.corpus_caps"),
            "rounds.one_round_s": statistics.median(walls),
            "rounds.one_round.self_s": statistics.median(selfs),
            "crawl.loop_self_s": (c1 - c0) - covered(children, c0, c1),
            **{f"stage.{s}_s": stage_ms.get(s, 0.0) for s in _STAGES},
            "stage.coverage": sum(stage_ms.values()) / sum(walls),
            "maintain.total_s": c.get("maintain_s", 0.0),
            "rounds.forget_seen_s": c.get("forget_s", 0.0),
            "rounds.recrawl_enqueue_s": c.get("enqueue_s", 0.0),
            **{f"rounds.{k}": v for k, v in counts.items()},
            "frontier.dedup_useful_ratio": counts["enqueued"] / useful if useful else 0.0,
            "maintain.forgot": c.get("forgot", 0), "maintain.reenqueued": c.get("reenqueued", 0),
            "snapstore.write_s": dur("snapstore.write"),
            "snapstore.commit_round_s": dur("snapstore.commit_round"),
            "snapstore.write_calls": len(tr.within("snapstore.write", c0, c1)),
            **{f"snapstore.bytes_written.{t}": v for t, v in c["store_bytes"].items()},
            "seenfilter.sidecar_bytes": c["sidecar_bytes"],
            "seenfilter.python_s": EventLog.python(
                crawl_tasks + maint_tasks, "seenfilter", "time to run Python workers"),
            "udfs.python_s": EventLog.python(crawl_tasks, "udfs", "time to run Python workers"),
            "udfs.bytes_to_python": EventLog.python(
                crawl_tasks, "udfs", "data sent to Python workers"),
            "udfs.rows_to_python": EventLog.python(crawl_tasks, "udfs", "number of output rows"),
            "warc.pages_per_s": self.expect["pages"] / ingest_s if ingest_s else 0.0,
            "warc.ingest_s": ingest_s,
            "warc.python_s": EventLog.python(ingest_tasks, "warc", "time to run Python workers")
            / max(1, len(c["ingest_spans"])),
            "warc.shard_bytes": _dir_bytes(shards) if ingest_s else 0,
            "warc.pages": self.expect["pages"] if ingest_s else 0,
            "spark.jobs_per_round": statistics.median(r[0] for r in per_round),
            "spark.stages_per_round": statistics.median(r[1] for r in per_round),
            "spark.tasks_per_round": statistics.median(r[2] for r in per_round),
            "spark.task_s": sum(t["run_s"] for t in crawl_tasks),
            "spark.task_cpu_s": sum(t["cpu_s"] for t in crawl_tasks),
            "spark.gc_s": sum(t["gc_s"] for t in crawl_tasks),
            "spark.shuffle_write_bytes": sum(t["shuffle_write"] for t in crawl_tasks),
            "spark.shuffle_read_bytes": sum(t["shuffle_read"] for t in crawl_tasks),
            "spark.core_util": statistics.median(r[3] for r in per_round),
            "trace.crawl_wall_s": c["crawl_wall"],
            "trace.job_s": c["job_s"],
        })
        return out


def isolate(work: str) -> None:
    """Give the run its own scratch, shuffle, index-store and temp dirs
    inside the checkout, and let Spark's Python workers import the repo."""
    for sub in ("local", "index", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ.update({
        "SPARKCRAWL_LOCAL_DIR": os.path.join(work, "local"),
        "SPARKCRAWL_INDEX_STORE": os.path.join(work, "index"),
        "SPARKCRAWL_DRIVER_MEM": "2g",
        "TMPDIR": os.path.join(work, "tmp"),
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    os.environ.pop("SPARKCRAWL_PROFILE", None)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "small"), default="full")
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    isolate(work)
    if args.trace:
        os.environ["SPARKCRAWL_PROFILE"] = "1"  # per-stage walls in the summaries
    try:
        bench = Bench(args, work, RssSampler())
        result = bench.run()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run is using it
        except OSError:
            pass
    print("perfbench context: " + json.dumps({
        "workload": args.workload, "seed": args.seed, "cores": CORES,
        "cpu_count": os.cpu_count(), "extract_pages_per_s": round(bench.calib, 1),
        "cycles": len(bench.cycles),
        "warmup_crawl_wall_s": round(bench.warmup.get("crawl_wall", 0.0), 3),
        "crawl_wall_s": [round(c["crawl_wall"], 3) for c in bench.cycles],
    }))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
