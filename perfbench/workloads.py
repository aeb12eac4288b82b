"""The workloads: seeded inputs, one closed-loop pass over the library's
public surface, and output checks against the generator's predictions.

Each workload is a class with ``setup()`` (inputs, warm-up, and any state
the timed section starts from) and ``run()`` (the timed operations, one
after another). Both report operations attempted and failed; a failed
output check counts as a failed operation.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
from datetime import datetime, timedelta

from perfbench.synth import (
    CorpusSpec, Web, WebSpec, make_corpus, predict_corpus, predict_crawl,
)

DAY0 = datetime(2026, 1, 5, 6, 0)


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


class Ops:
    """Operation bookkeeping: wall per operation, attempts, failures."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.walls: list[float] = []
        self.problems: list[str] = []

    def check(self, ok: bool, what: str) -> bool:
        if not ok:
            self.problems.append(what)
            log(f"CHECK FAILED: {what}")
        return ok

    def timed(self, fn, *args, **kwargs):
        t0 = time.perf_counter()
        out = fn(*args, **kwargs)
        self.walls.append(time.perf_counter() - t0)
        return out


def table_digest(spark, df, cols: list[str]) -> tuple[int, int]:
    """(rows, order-insensitive digest) over ``cols``."""
    from pyspark.sql import functions as F

    r = df.select(F.pmod(F.xxhash64(*cols), F.lit(2**31)).alias("h")).agg(
        F.count("*").alias("n"), F.sum("h").alias("s")
    ).first()
    return int(r["n"]), int(r["s"] or 0)


# --- crawl_daily -------------------------------------------------------------------

DAILY_WEB = WebSpec(n_hosts=24, n_articles=300, new_per_day=10)
TINY_WEB = WebSpec(n_hosts=4, n_articles=16, new_per_day=2)

ARTICLE_COLS = ["_id", "url", "titel", "autor", "category", "published_date", "text", "content_hash"]
IMAGE_COLS = ["image_id", "w", "h", "caption", "phash"]
FRONTIER_COLS = ["url", "host", "kind", "state", "priority", "seq"]


class CrawlDaily:
    """Day 0 (setup) crawls the seeds into a fresh store; each timed day
    re-crawls the listings of a web that gained K articles per listing."""

    name = "crawl_daily"

    def __init__(self, spark, seed: int, seconds: int, workdir: str, tiny: bool):
        from german_newspaper_crawler_spark.sources.store import SnapshotStore

        self.spark, self.seed, self.workdir = spark, seed, workdir
        self.web = Web(seed, TINY_WEB if tiny else DAILY_WEB)
        # one timed day per ~25 s of requested measuring time: the store's
        # age at each day is then fixed by the arguments, not by speed
        self.days = max(1, round(seconds / 25))
        self.shape = f"days={self.days}"  # the outputs depend on it
        self.store_factory = SnapshotStore
        self.ops = Ops()
        self.items = 0
        self.counts = {"urls": 0, "articles": 0, "images": 0}

    def _cfg(self, day: int):
        """Every day, day 0 included, runs the same configuration, so the
        set-up also warms the Bloom and reseed code paths. A day is three
        rounds (listings, articles, images), so compacting every third round
        ends each day with a compaction of the frontier and articles tables
        and an expiry of the snapshots they no longer reference."""
        from german_newspaper_crawler_spark.plans.crawl import CrawlConfig

        return CrawlConfig(
            use_robots_table=True, use_bloom=True, reseed_listings=True,
            robots_ttl_hours=12, parsed_ts=DAY0 + timedelta(days=day),
            compact_every=3, expire_keep_last=2,
        )

    def crawl_day(self, store, day: int, timed: bool) -> dict:
        from german_newspaper_crawler_spark import schemas
        from german_newspaper_crawler_spark.plans import crawl

        from perfbench.fetcher import SynthFetcher

        web = self.web.at_day(day)
        seeds = self.spark.createDataFrame(web.seeds(), schemas.SEEDS)
        fetcher = SynthFetcher(web, getattr(self, "accumulators", None))
        self.ops.attempted += 1
        run = (lambda: crawl.run_crawl(self.spark, store, seeds, fetcher, self._cfg(day),
                                       run_id=f"day-{day}"))
        res = self.ops.timed(run) if timed else run()
        want = predict_crawl(self.web, day - 1, day)
        got = {k: res[k] for k in ("articles", "images")} | {"urls": res["fetched"]}
        ok = self.ops.check(
            got == {k: want[k] for k in ("urls", "articles", "images")},
            f"day {day}: committed {got} != predicted {want}",
        )
        self.ops.failed += not ok
        return res

    def check_store(self, store, last_day: int) -> tuple:
        """Frontier rows per state must equal the prediction; returns the
        digest of the committed tables."""
        from pyspark.sql import functions as F

        fr = store.read(self.spark, "frontier")
        states = {r["state"]: r["count"] for r in fr.groupBy("state").count().collect()}
        want = predict_crawl(self.web, -1, last_day)["frontier"]
        want["fetched"] += self.web.spec.n_hosts  # the listing rows
        want = {k: v for k, v in want.items() if v}
        self.ops.attempted += 1
        ok = self.ops.check(states == want, f"frontier states {states} != predicted {want}")
        self.ops.failed += not ok
        return (
            table_digest(self.spark, store.read(self.spark, "articles"), ARTICLE_COLS),
            table_digest(self.spark, store.read(self.spark, "images"), IMAGE_COLS),
            table_digest(self.spark, fr.where(F.col("kind") != "listing"), FRONTIER_COLS),
        )

    def setup(self) -> None:
        self.store_dir = os.path.join(self.workdir, "store-day0")
        from german_newspaper_crawler_spark.sources.store import SnapshotStore

        self.crawl_day(SnapshotStore(self.store_dir), 0, timed=False)

    def fresh_copy(self, tag: str) -> str:
        path = os.path.join(self.workdir, f"store-{tag}")
        shutil.copytree(self.store_dir, path)
        return path

    def run(self, tag: str = "timed") -> tuple:
        path = self.fresh_copy(tag)
        store = self.store_factory(path)
        for day in range(1, self.days + 1):
            self.crawl_day(store, day, timed=True)
            want = predict_crawl(self.web, day - 1, day)
            for k in self.counts:
                self.counts[k] += want[k]
            self.items += want["urls"]
        self.digest = self.check_store(store, self.days)
        self.store_mb = dir_mb(path)
        return self.digest


# --- dedup_corpus ------------------------------------------------------------------

CORPUS = CorpusSpec(n_docs=6000)
TINY_CORPUS = CorpusSpec(n_docs=400)
JOBS = ("dedup_exact", "dedup_ngram_jaccard", "curation_pipeline")


class DedupCorpus:
    """The three dedup registry jobs on a generated corpus, repeated."""

    name = "dedup_corpus"

    def __init__(self, spark, seed: int, seconds: int, workdir: str, tiny: bool):
        self.spark, self.seed, self.workdir = spark, seed, workdir
        self.spec = TINY_CORPUS if tiny else CORPUS
        # one pass of the three jobs (about 8 s on 4 cores) per 9 s of
        # requested measuring time, at least one
        self.reps = max(1, round(seconds / 9))
        self.shape = f"reps={self.reps}"
        self.ops = Ops()
        self.items = 0
        self.counts = {"docs": 0}

    def _write_corpus(self, seed: int, spec: CorpusSpec, path: str):
        import pandas as pd

        rows, origin = make_corpus(seed, spec)
        pdf = pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source", "n_chars"])
        os.makedirs(path, exist_ok=True)
        pdf.to_parquet(os.path.join(path, "documents.parquet"), index=False)
        return predict_corpus(rows, origin)

    def setup(self) -> None:
        # the first pass of the jobs runs about a third slower than the
        # ones after it, so the warm-up is one full pass, on a corpus of the
        # same spec and another seed
        warm = os.path.join(self.workdir, "corpus-warm")
        want = self._write_corpus(-self.seed - 1, self.spec, warm)
        self.job_set(warm, want, timed=False)
        self.sf_dir = os.path.join(self.workdir, "corpus")
        self.want = self._write_corpus(self.seed, self.spec, self.sf_dir)

    def job_set(self, sf_dir: str, want: dict, timed: bool):
        from german_newspaper_crawler_spark.plans.queries import REGISTRY

        out = {}
        for job in JOBS:
            self.ops.attempted += 1
            fn = REGISTRY[job].spark
            run = (lambda: fn(self.spark, sf_dir).collect())
            out[job] = self.ops.timed(run) if timed else run()
        checks = [
            (len(out["dedup_exact"]) == want["exact_groups"]
             and sum(r["n_dups"] for r in out["dedup_exact"]) == want["exact_docs"],
             "dedup_exact", f"{len(out['dedup_exact'])} groups, want {want['exact_groups']}"),
            (len(out["dedup_ngram_jaccard"]) == want["jaccard_pairs"],
             "dedup_ngram_jaccard", f"{len(out['dedup_ngram_jaccard'])} pairs, want {want['jaccard_pairs']}"),
            ({r["source"]: r["n_curated"] for r in out["curation_pipeline"]} == want["curated"],
             "curation_pipeline", "curated counts per source differ"),
        ]
        for ok, job, what in checks:
            self.ops.failed += not self.ops.check(ok, f"{job}: {what}")
        return (
            sorted((r["sig"], r["keeper"], r["n_dups"]) for r in out["dedup_exact"]),
            sorted((r["a"], r["b"], float(r["jaccard"])) for r in out["dedup_ngram_jaccard"]),
            sorted((r["source"], r["n_curated"]) for r in out["curation_pipeline"]),
        )

    def run(self, tag: str = "timed") -> tuple:
        first = None
        for _ in range(self.reps):
            got = self.job_set(self.sf_dir, self.want, timed=True)
            self.items += self.spec.n_docs
            self.counts["docs"] += self.spec.n_docs
            if first is None:
                first = got
            elif got != first:
                self.ops.attempted += 1
                self.ops.failed += 1
                self.ops.check(False, "job outputs differ between passes")
        import hashlib

        self.digest = (hashlib.sha256(repr(first).encode()).hexdigest()[:16],)
        return self.digest


def summary(wl, wall: float) -> dict:
    """The workload-specific metrics that apply to this workload, by name."""
    out = {}
    if isinstance(wl, CrawlDaily):
        out["urls_per_s"] = (wl.counts["urls"] / wall, "1/s")
        out["articles_per_s"] = (wl.counts["articles"] / wall, "1/s")
        out["images_per_s"] = (wl.counts["images"] / wall, "1/s")
        out["day_p50_s"] = (statistics.median(wl.ops.walls), "s")
        out["store_mb"] = (wl.store_mb, "MB")
    else:
        out["docs_per_s"] = (wl.counts["docs"] / wall, "1/s")
    out["failed_ops_share"] = (wl.ops.failed / max(wl.ops.attempted, 1), "share")
    return out


def dir_mb(path: str) -> float:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total / 2**20


WORKLOADS = {w.name: w for w in (CrawlDaily, DedupCorpus)}
