"""Tiny-size self-check of the benchmark: every workload end to end, one
traced pass, the result-line contract, and the failure without the library.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench.layers import PER_LAYER
from perfbench.spans import metric_values
from perfbench.synth import Web, WebSpec, article_fate, predict_crawl

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
END_TO_END = {"setup_s": "s", "wall_s": "s", "items_per_s": "1/s", "peak_rss_mb": "MB"}


def bench(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=600,
    )


def result(p: subprocess.CompletedProcess) -> dict:
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    return out


@pytest.mark.parametrize("workload", ["crawl_daily", "dedup_corpus"])
def test_workload_tiny(workload):
    out = result(bench("--workload", workload, "--seed", "3", "--seconds", "1",
                       "--trace", "0", "--tiny"))
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    assert {k: v["unit"] for k, v in out["metrics"].items()} == END_TO_END
    assert all(v["value"] > 0 for v in out["metrics"].values())


def test_traced_pass_tiny():
    out = result(bench("--workload", "crawl_daily", "--seed", "3", "--seconds", "1",
                       "--trace", "1", "--tiny"))
    assert out["correct"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == PER_LAYER
    m = {k: v["value"] for k, v in out["metrics"].items()}
    assert m["crawl.rounds"] == 3 and m["crawl.spark_jobs"] > 0
    assert m["fetch.calls"] > 0 and m["fetchparse.python_s"] > 0
    assert m["store.read_calls"] > 0 and m["robots.fetches"] > 0
    assert m["store.compact_s"] > 0 and m["store.expire_s"] > 0
    assert m["jaccard.s"] == 0 and m["components.s"] == 0
    assert m["trace.root_self_s"] < 0.1 * m["trace.wall_s"]


def test_days_follow_seconds_on_one_seed():
    # --seconds sets the number of timed days and so the committed tables;
    # a run of the same seed with other seconds is checked on its own
    for seconds in ("1", "40"):
        out = result(bench("--workload", "crawl_daily", "--seed", "5", "--seconds", seconds,
                           "--trace", "0", "--tiny"))
        assert out["correct"] and out["failed"] == 0


def test_fails_without_the_library():
    lone = os.path.join(ROOT, ".perfbench", "lone-checkout")
    shutil.rmtree(lone, ignore_errors=True)
    os.makedirs(lone)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), lone)
        shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(lone, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        p = bench("--workload", "crawl_daily", "--seed", "1", "--seconds", "1",
                  "--trace", "0", cwd=lone)
        assert p.returncode != 0
        assert '"correct"' not in p.stdout
    finally:
        shutil.rmtree(lone, ignore_errors=True)


def test_prediction_matches_fetcher_fates():
    from perfbench.fetcher import FetchError, SynthFetcher

    web = Web(5, WebSpec(n_hosts=3, n_articles=40))
    fetch = SynthFetcher(web)
    fates = {"ok": 0, "5xx": 0, "exc": 0, "blocked": 0}
    for k in range(3):
        for i in web.articles(k):
            fates[article_fate(5, web.spec, k, i)] += 1
            d = "intern" if article_fate(5, web.spec, k, i) == "blocked" else "artikel"
            try:
                status = fetch(f"https://h{k:02d}-zeitung.example/{d}/a{i}")[0]
            except FetchError:
                status = 0
            want = {"ok": 200, "5xx": 503, "exc": 0, "blocked": 200}
            assert status == want[article_fate(5, web.spec, k, i)]
    p = predict_crawl(web, -1, 0)
    assert p["articles"] == fates["ok"] + fates["5xx"] + fates["exc"]
    assert p["frontier"]["blocked"] == fates["blocked"]


def test_benchmark_json_names_what_the_code_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == PER_LAYER
    assert {w["name"] for w in b["workloads"]} == {"crawl_daily", "dedup_corpus"}


def test_metric_values_parse_spark_formats():
    assert metric_values("1.9 s") == [1.9]
    assert metric_values("1120.0 B") == [1120.0 / 2**20]
    v = metric_values("total (min, med, max (stageId: taskId))\n"
                      "1.0 s (186 ms, 287 ms, 297 ms (stage 57.0: task 63))")
    assert v == pytest.approx([1.0, 0.186, 0.287, 0.297])
