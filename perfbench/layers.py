"""The traced pass and its per-layer table.

``traced_pass`` re-runs the workload's timed section (on a fresh copy of
its starting state) with spans around the library's layer boundaries, then
joins the spans with what Spark recorded: jobs carry their span as job
group, stages carry executor time and bytes, and the Python plan nodes
carry the time and Arrow bytes of the fetch and parse UDFs.
"""

from __future__ import annotations

import dataclasses
import json
import os
import statistics

from german_newspaper_crawler_spark.sources.store import SnapshotStore

from perfbench.spans import Tracer, TracedStore, metric_values, spark_records

# every per-layer metric, in BENCHMARK.json order: name -> unit
PER_LAYER = {
    "session.start_s": "s",
    "fetch.calls": "count",
    "fetch.busy_s": "s",
    "fetch.failed_5xx": "count",
    "fetch.failed_exception": "count",
    "fetchparse.python_s": "s",
    "fetchparse.arrow_in_mb": "MB",
    "fetchparse.arrow_out_mb": "MB",
    "fetchparse.task_skew": "ratio",
    "images.python_s": "s",
    "images.arrow_in_mb": "MB",
    "frontier.pop_rows": "count",
    "frontier.refill_rows": "count",
    "frontier.refill_dropped": "count",
    "crawl.rounds": "count",
    "crawl.round_s": "s",
    "crawl.spark_jobs": "count",
    "crawl.driver_gap_s": "s",
    "seen.rows": "count",
    "seen.probe_rows": "count",
    "seen.skipped_rows": "count",
    "bloom.maintain_s": "s",
    "bloom.short_circuit_ratio": "ratio",
    "bloom.false_positives": "count",
    "robots.refresh_s": "s",
    "robots.fetches": "count",
    "robots.blocked": "count",
    "phash.images_in": "count",
    "phash.suppressed": "count",
    "exact.s": "s",
    "jaccard.s": "s",
    "jaccard.pairs": "count",
    "components.s": "s",
    "components.iterations": "count",
    "curation.s": "s",
    "enrich.s": "s",
    "ids.s": "s",
    "store.read_calls": "count",
    "store.read_s": "s",
    "store.append_s": "s",
    "store.merge_delta_s": "s",
    "store.compact_s": "s",
    "store.expire_s": "s",
    "store.live_snapshots": "count",
    "store.written_mb": "MB",
    "runlog.flush_s": "s",
    "runlog.rotate_s": "s",
    "spark.jobs": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.shuffle_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.gc_s": "s",
    "spark.tasks": "count",
    "trace.wall_s": "s",
    "trace.overhead_s": "s",
    "trace.root_self_s": "s",
}

# span names per layer; a layer's time is the self time of its spans
LAYER_SPANS = {
    "robots.refresh_s": ("robots.refresh",),
    "bloom.maintain_s": ("bloom.ensure", "bloom.update"),
    "enrich.s": ("enrich",),
    "ids.s": ("ids.assign",),
    "store.read_s": ("store.read",),
    "store.append_s": ("store.append", "store.overwrite"),
    "store.merge_delta_s": ("store.merge_delta",),
    "store.compact_s": ("store.compact",),
    "store.expire_s": ("store.expire", "store.prune"),
    "runlog.flush_s": ("runlog.flush",),
    "runlog.rotate_s": ("runlog.rotate",),
    "components.s": ("components", "components.iterate"),
}

# whole-job walls (the job's span including its children)
JOB_SPANS = {
    "exact.s": "job.dedup_exact",
    "jaccard.s": "job.dedup_ngram_jaccard",
    "curation.s": "job.curation_pipeline",
}

# which Python plan node a fetch-stage UDF is, by a column only it outputs
PY_NODE_KIND = (("titel", "articles"), ("sel_rank", "listings"), ("phash", "images"))
PY_TIME = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"


def install(tracer: Tracer) -> None:
    """Wrap the module attributes the library resolves at call time."""
    from pyspark.sql.classic.dataframe import DataFrame

    from german_newspaper_crawler_spark import observability
    from german_newspaper_crawler_spark.operators import (
        bloom, components, dedup, frontier, ids, robots,
    )
    from german_newspaper_crawler_spark.plans import crawl

    def pop(*args, **kwargs):
        tracer.next_round()
        with tracer.span("frontier.pop"):
            return orig_pop(*args, **kwargs)

    orig_pop = frontier.pop_batch
    tracer._patched.append((frontier, "pop_batch", orig_pop))
    frontier.pop_batch = pop

    for owner, attr, name in (
        (crawl, "fetch_parse_articles_stage", "fetchparse.articles"),
        (crawl, "fetch_parse_listings_stage", "fetchparse.listings"),
        (crawl, "fetch_images_stage", "images.stage"),
        (crawl, "refill_from_anchors", "frontier.refill"),
        (crawl, "prefilter_known_urls", "seen.prefilter"),
        (crawl, "skip_known_text", "seen.skip_text"),
        (crawl, "enrich_pos_tags", "enrich"),
        (robots, "refresh_robots_df", "robots.refresh"),
        (bloom, "ensure_blooms", "bloom.ensure"),
        (bloom, "update_blooms", "bloom.update"),
        (ids, "assign_ids", "ids.assign"),
        (dedup, "phash_suppress_near_dups", "phash.suppress"),
        (observability.RunLogger, "flush", "runlog.flush"),
        (observability.RunLogger, "rotate", "runlog.rotate"),
    ):
        tracer.wrap(owner, attr, name)

    # connected components materializes its edge lineage with the first
    # local checkpoint (the Jaccard edges execute there) and then iterates;
    # split the two so components.s is the iteration cost alone
    orig_cp = DataFrame.localCheckpoint

    def local_checkpoint(self, *args, **kwargs):
        if not tracer.stack or tracer.stack[-1]["name"] != "components":
            return orig_cp(self, *args, **kwargs)
        first = "_cc_edges" not in tracer.counts
        tracer.add("_cc_edges")
        if not first:
            tracer.add("components.iterations")
        with tracer.span("components.edges" if first else "components.iterate"):
            return orig_cp(self, *args, **kwargs)

    tracer._patched.append((DataFrame, "localCheckpoint", orig_cp))
    DataFrame.localCheckpoint = local_checkpoint

    def cc_done(out, args, kwargs):
        tracer.counts.pop("_cc_edges", None)
        return out

    tracer.wrap(components, "connected_components", "components", after=cc_done)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of it its child spans cover."""
    own = {s["id"]: s["t1"] - s["t0"] for s in spans}
    for s in spans:
        if s["parent"] is not None:
            own[s["parent"]] -= s["t1"] - s["t0"]
    return own


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def _state_counts(spark, store) -> dict:
    fr = store.read(spark, "frontier")
    rows = fr.groupBy("kind", "state").count().collect()
    return {(r["kind"], r["state"]): r["count"] for r in rows}


def _bloom_probe(spark, store, day_ts, seen_before: set, blooms_before) -> tuple[int, int, int]:
    """Re-probe the day's committed article text hashes against the Bloom
    filter as it stood when the day began: (probed, bypassed, false
    positives). The library's skip consults the same filter on the same
    hashes; the exact anti-join stays the authority."""
    from pyspark.sql import functions as F

    from german_newspaper_crawler_spark.functions.hashing import hash64
    from german_newspaper_crawler_spark.operators.bloom import bloom_prefilter

    if blooms_before is None:
        return 0, 0, 0
    arts = store.read(spark, "articles").where(
        (F.col("parsed_date") == F.lit(day_ts)) & (F.col("text") != "")
    )
    probe = arts.select(F.sha2(F.trim("text"), 256).alias("__h"))
    n_buckets = blooms_before.select("bucket").distinct().count()
    out = bloom_prefilter(
        probe, blooms_before, "__h",
        F.pmod(hash64(F.col("__h")), F.lit(n_buckets)).cast("int"),
    ).select("__h", "maybe_seen").collect()
    maybe = [r["__h"] for r in out if r["maybe_seen"]]
    return len(out), len(out) - len(maybe), sum(h not in seen_before for h in maybe)


def traced_pass(spark, wl, session_s: float, untraced_s: float):
    from german_newspaper_crawler_spark.operators.bloom import merge_bloom_tables

    from perfbench import workloads

    sc = spark.sparkContext
    tracer = Tracer(spark)
    acc = {k: sc.accumulator(0.0 if k == "busy_s" else 0)
           for k in ("busy_s", "calls", "5xx", "exc", "robots")}
    counts: dict[str, float] = {}
    crawl_intervals: list[tuple[float, float]] = []

    if isinstance(wl, workloads.CrawlDaily):
        wl.accumulators = acc
        wl.store_factory = lambda path: TracedStore(path, tracer)
        orig_day = wl.crawl_day

        def traced_day(store, day, timed):
            # benchmark-side counting reads the same store untraced
            plain = SnapshotStore(store.root)
            m = tracer.begin("trace.measure")
            before = _state_counts(spark, plain)
            seen = plain.read(spark, "seen")
            seen_before = {r[0] for r in seen.select("content_hash").collect()}
            blooms = None
            if plain.exists("blooms"):
                stored = plain.read(spark, "blooms")
                blooms = spark.createDataFrame(merge_bloom_tables(stored).collect(), stored.schema)
            n_images_before = plain.read(spark, "images").count()
            tracer.end(m)
            s = tracer.begin("crawl.run")
            try:
                res = orig_day(store, day, timed)
            finally:
                tracer.close_round()
                tracer.end(s)
            crawl_intervals.append((s["w0"], s["w1"]))
            m = tracer.begin("trace.measure")
            after = _state_counts(spark, plain)
            delta = {k: after.get(k, 0) - before.get(k, 0) for k in set(after) | set(before)}
            probed, bypassed, fps = _bloom_probe(
                spark, plain, wl._cfg(day).parsed_ts, seen_before, blooms
            )
            listed = sum(len(wl.web.at_day(day).articles(k)) for k in range(wl.web.spec.n_hosts))
            new_article_rows = sum(v for (kind, _), v in delta.items() if kind == "article")
            for key, v in {
                "crawl.rounds": res["rounds"],
                "frontier.pop_rows": res["fetched"],
                "frontier.refill_rows": sum(v for (kind, _), v in delta.items() if kind != "listing"),
                "frontier.refill_dropped": listed - new_article_rows,
                "seen.rows": len(seen_before),
                "seen.probe_rows": sum(v for (kind, _), v in delta.items() if kind == "article"),
                "seen.skipped_rows": delta.get(("article", "skipped"), 0),
                "robots.blocked": delta.get(("article", "blocked"), 0),
                "bloom.probed": probed, "bloom.bypassed": bypassed,
                "bloom.false_positives": fps,
                "phash.images_in": delta.get(("image", "fetched"), 0),
                "phash.suppressed": delta.get(("image", "fetched"), 0)
                - (plain.read(spark, "images").count() - n_images_before),
            }.items():
                counts[key] = counts.get(key, 0) + v
            counts["store.live_snapshots"] = store.live_snapshots()  # after the last day
            tracer.end(m)
            return res

        wl.crawl_day = traced_day
        # copying the day-0 store and checking the result are the
        # benchmark's own work, not the workload's: untraced store, own span
        orig_check = wl.check_store

        def measured_check(store, last_day):
            with tracer.span("trace.measure"):
                return orig_check(SnapshotStore(store.root), last_day)

        wl.check_store = measured_check
        tracer.wrap(wl, "fresh_copy", "trace.measure")
    else:
        orig_set = wl.job_set

        def traced_jobs(sf_dir, want, timed):
            from german_newspaper_crawler_spark.plans import queries

            saved = {}
            for job in workloads.JOBS:
                spec = queries.REGISTRY[job]
                saved[job] = spec

                def run(spark_, sf, _fn=spec.spark, _job=job):
                    with tracer.span(f"job.{_job}"):
                        df = _fn(spark_, sf)
                        return _Collecting(df, tracer, _job)

                queries.REGISTRY[job] = dataclasses.replace(spec, spark=run)
            try:
                return orig_set(sf_dir, want, timed)
            finally:
                queries.REGISTRY.update(saved)

        wl.job_set = traced_jobs

    install(tracer)
    try:
        root = tracer.begin("run")
        wl.run("traced")
        tracer.end(root)
    finally:
        tracer.unpatch()
    traced_s = root["t1"] - root["t0"]
    # benchmark-side counting (frontier states, Bloom re-probe) is not
    # tracing overhead the workload pays; take it out of the comparison
    measure_s = sum(s["t1"] - s["t0"] for s in tracer.spans if s["name"] == "trace.measure")

    rec = spark_records(spark)
    spans = tracer.spans
    own = self_times(spans)
    by_id = {s["id"]: s for s in spans}

    def span_s(names) -> float:
        return sum(own[s["id"]] for s in spans if s["name"] in names)

    # jobs and stages of the traced pass, by the span that triggered them
    group_of = {
        f"span-{s['id']}": s for s in spans
        if all(a["name"] != "trace.measure" for a in _ancestry(s, by_id))
    }
    jobs = [j for j in rec["jobs"] if j.get("jobGroup") in group_of]
    stage_ids = {sid for j in jobs for sid in j["stageIds"]}
    stages = [st for st in rec["stages"] if st["stageId"] in stage_ids]

    job_iv = [
        (j["submissionTime"] / 1e3, j["completionTime"] / 1e3)
        for j in jobs if j.get("submissionTime") and j.get("completionTime")
    ]
    gap = 0.0
    for a, b in crawl_intervals:
        inside = [(max(x, a), min(y, b)) for x, y in job_iv if y > a and x < b]
        gap += (b - a) - _union_s(inside)
    crawl_jobs = sum(
        1 for j in jobs
        if any(s["name"] == "crawl.run" for s in _ancestry(group_of[j["jobGroup"]], by_id))
    )

    py = {"articles": [], "listings": [], "images": []}
    traced_jobs = {j["jobId"] for j in jobs}
    for n in rec["python_nodes"]:
        if not traced_jobs.intersection(n["jobs"]):
            continue
        for col, kind in PY_NODE_KIND:
            if f"{col}#" in n["desc"]:
                py[kind].append(n["metrics"])
                break

    def py_sum(kinds, metric: str) -> float:
        return sum(
            metric_values(m[metric])[0] for kind in kinds for m in py[kind] if metric in m
        )

    # slowest task ÷ median task of the article fetch+parse node
    skew = 0.0
    for m in py["articles"]:
        v = metric_values(m.get(PY_TIME, "0 ms"))
        if len(v) == 4 and v[2] > 0:
            skew = max(skew, v[3] / v[2])

    rounds = [s["t1"] - s["t0"] for s in spans if s["name"] == "crawl.round"]
    n_rounds = counts.get("crawl.rounds", 0)
    values = {
        "session.start_s": session_s,
        "fetch.calls": acc["calls"].value,
        "fetch.busy_s": acc["busy_s"].value,
        "fetch.failed_5xx": acc["5xx"].value,
        "fetch.failed_exception": acc["exc"].value,
        "fetchparse.python_s": py_sum(("articles", "listings"), PY_TIME),
        "fetchparse.arrow_in_mb": py_sum(("articles", "listings"), PY_SENT),
        "fetchparse.arrow_out_mb": py_sum(("articles", "listings"), PY_RETURNED),
        "fetchparse.task_skew": skew,
        "images.python_s": py_sum(("images",), PY_TIME),
        "images.arrow_in_mb": py_sum(("images",), PY_SENT),
        "frontier.pop_rows": counts.get("frontier.pop_rows", 0),
        "frontier.refill_rows": counts.get("frontier.refill_rows", 0),
        "frontier.refill_dropped": counts.get("frontier.refill_dropped", 0),
        "crawl.rounds": n_rounds,
        "crawl.round_s": statistics.median(rounds) if rounds else 0.0,
        "crawl.spark_jobs": crawl_jobs / n_rounds if n_rounds else 0.0,
        "crawl.driver_gap_s": gap,
        "seen.rows": counts.get("seen.rows", 0),
        "seen.probe_rows": counts.get("seen.probe_rows", 0),
        "seen.skipped_rows": counts.get("seen.skipped_rows", 0),
        "bloom.short_circuit_ratio": (
            counts["bloom.bypassed"] / counts["bloom.probed"] if counts.get("bloom.probed") else 0.0
        ),
        "bloom.false_positives": counts.get("bloom.false_positives", 0),
        "robots.fetches": acc["robots"].value,
        "robots.blocked": counts.get("robots.blocked", 0),
        "phash.images_in": counts.get("phash.images_in", 0),
        "phash.suppressed": counts.get("phash.suppressed", 0),
        "jaccard.pairs": tracer.counts.get("jaccard.pairs", 0),
        "components.iterations": tracer.counts.get("components.iterations", 0),
        "store.read_calls": tracer.counts.get("store.read_calls", 0),
        "store.live_snapshots": counts.get("store.live_snapshots", 0),
        "store.written_mb": tracer.counts.get("store.written_mb", 0),
        "spark.jobs": len(jobs),
        "spark.executor_run_s": sum(st["executorRunTime"] for st in stages) / 1e3,
        "spark.executor_cpu_s": sum(st["executorCpuTime"] for st in stages) / 1e9,
        "spark.shuffle_mb": sum(st["shuffleReadBytes"] + st["shuffleWriteBytes"] for st in stages) / 2**20,
        "spark.spill_mb": sum(st["memoryBytesSpilled"] + st["diskBytesSpilled"] for st in stages) / 2**20,
        "spark.gc_s": sum(st["jvmGcTime"] for st in stages) / 1e3,
        "spark.tasks": sum(st["numTasks"] for st in stages),
        "trace.wall_s": traced_s,
        "trace.overhead_s": traced_s - measure_s - untraced_s,
        "trace.root_self_s": own[root["id"]],
    }
    for metric, names in LAYER_SPANS.items():
        values[metric] = span_s(names)
    for metric, name in JOB_SPANS.items():
        values[metric] = sum(s["t1"] - s["t0"] for s in spans if s["name"] == name)
    metrics = {k: (float(values[k]), unit) for k, unit in PER_LAYER.items()}

    # the span table: self time per span name, largest first
    table: dict[str, tuple[float, str]] = {}
    totals: dict[str, float] = {}
    for s in spans:
        totals[s["name"]] = totals.get(s["name"], 0.0) + own[s["id"]]
    for name, v in sorted(totals.items(), key=lambda kv: -kv[1]):
        table[f"self:{name}"] = (v, f"s ({100 * v / traced_s:.1f}% of traced wall)")
    _write_spans(wl, spans, own)
    return metrics, table


def _ancestry(s: dict, by_id: dict) -> list[dict]:
    out = [s]
    while out[-1]["parent"] is not None:
        out.append(by_id[out[-1]["parent"]])
    return out


def _write_spans(wl, spans: list[dict], own: dict) -> None:
    """Spans of the traced pass, written once the run is over."""
    from perfbench.run import ROOT

    path = os.path.join(ROOT, ".perfbench", f"spans-{wl.name}-{wl.seed}.json")
    with open(path, "w") as f:
        json.dump([{**s, "self_s": own[s["id"]]} for s in spans], f)


class _Collecting:
    """Stands in for a registry job's DataFrame: ``collect()`` runs inside
    the job's span and records the row count."""

    def __init__(self, df, tracer: Tracer, job: str):
        self.df, self.tracer, self.job = df, tracer, job

    def collect(self):
        with self.tracer.span(f"job.{self.job}"):
            rows = self.df.collect()
        if self.job == "dedup_ngram_jaccard":
            self.tracer.add("jaccard.pairs", len(rows))
        return rows
