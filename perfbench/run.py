"""Crawl-level benchmark of german_newspaper_crawler_spark.

    python3 perfbench/run.py --workload crawl_daily --seed 1 --seconds 15 --trace 0

Run from the repository root. One Spark driver process runs the workload on
``local[<cpus>]`` in a closed loop (each operation starts when the previous
one ends), checks the outputs against the generator's predictions, prints a
human-readable table and the run-environment stamp on stderr, and prints
one JSON result as the last line of stdout. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` reports the per-layer metrics of a traced
pass (see perfbench/README.md). ``--tiny`` shrinks every input for the
self-check.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def env_stamp() -> dict:
    """Recorded, never used to adjust numbers."""
    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i * i
    return {
        "cpus": os.cpu_count(),
        "affinity": len(os.sched_getaffinity(0)),
        "loadavg": list(os.getloadavg()),
        "spin_s": round(time.perf_counter() - t0, 4),
    }


def start_session(workdir: str, cpus: int):
    from german_newspaper_crawler_spark.session import get_spark

    local = os.path.join(workdir, "spark-local")
    os.makedirs(local)
    # the library's fixed-size heap (-Xms = -Xmx), but committed lazily:
    # peak RSS then shows what the run touched, and the heap is not resized
    # while the run goes on
    os.environ["SPARK_GRAFT_PRETOUCH"] = "0"
    spark = get_spark(
        app_name="perfbench", master=f"local[{cpus}]", shuffle_partitions=cpus,
        extra_conf={
            "spark.driver.memory": "3g",
            "spark.local.dir": local,
            "spark.driver.extraJavaOptions": f"-Xms3g -Djava.io.tmpdir={local}",
            "spark.ui.showConsoleProgress": "false",
            # keep every job, stage and SQL execution for the traced read-out
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def process_tree(root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(p))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def peak_rss_mb() -> float:
    """VmHWM of the JVM plus every Python worker under it."""
    from pyspark import SparkContext

    total_kb = 0
    for pid in process_tree(SparkContext._gateway.proc.pid):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


def _state(name: str) -> dict:
    path = os.path.join(ROOT, ".perfbench", name)
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f)


def _save_state(name: str, data: dict) -> None:
    path = os.path.join(ROOT, ".perfbench", name)
    with open(path + ".tmp", "w") as f:
        json.dump(data, f, indent=1, sort_keys=True)
    os.replace(path + ".tmp", path)


def check_digest(key: str, digest) -> bool:
    """Digests of one seed must agree across runs in this checkout."""
    seen = _state("digests.json")
    now = json.loads(json.dumps(digest))
    if key in seen:
        return seen[key] == now
    seen[key] = now
    _save_state("digests.json", seen)
    return True


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true")
    args = ap.parse_args()

    sys.path[0] = ROOT  # import the benchmark as the perfbench package
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    import german_newspaper_crawler_spark  # noqa: F401  (fail fast without the library)

    from perfbench import workloads

    cls = workloads.WORKLOADS.get(args.workload)
    if cls is None:
        raise SystemExit(f"unknown workload {args.workload!r}; have {sorted(workloads.WORKLOADS)}")

    stamp = {"start": env_stamp()}
    base = os.path.join(ROOT, ".perfbench")
    os.makedirs(base, exist_ok=True)
    workdir = tempfile.mkdtemp(prefix="run-", dir=base)
    os.environ["TMPDIR"] = workdir
    cpus = len(os.sched_getaffinity(0))
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(workdir, cpus)
        session_s = time.perf_counter() - t0
        wl = cls(spark, args.seed, args.seconds, workdir, args.tiny)
        # walls and digests are comparable only between runs of one shape
        key = f"{args.workload}/{'tiny' if args.tiny else 'full'}/{wl.shape}"
        wl.setup()
        setup_s = time.perf_counter() - t0
        walls = _state("walls.json")
        if args.trace:
            from perfbench.layers import traced_pass

            # tracing overhead is measured against the untraced wall of the
            # same timed section: earlier untraced runs of this workload in
            # this checkout, or else an untraced pass made here first
            untraced = walls.get(key)
            if not untraced:
                wl.run("untraced")
                untraced = [sum(wl.ops.walls)]
            metrics, table = traced_pass(spark, wl, session_s, statistics.median(untraced))
            digest = wl.digest
        else:
            digest = wl.run()
            wall = sum(wl.ops.walls)
            walls.setdefault(key, []).append(wall)
            _save_state("walls.json", walls)
            metrics = {
                "setup_s": (setup_s, "s"),
                "wall_s": (wall, "s"),
                "items_per_s": (wl.items / wall, "1/s"),
                "peak_rss_mb": (peak_rss_mb(), "MB"),
            }
            table = workloads.summary(wl, wall)
        stamp["end"] = {"loadavg": list(os.getloadavg())}
        if not check_digest(f"{key}/{args.seed}", digest):
            wl.ops.attempted += 1
            wl.ops.failed += 1
            wl.ops.check(False, "digest differs from an earlier run of this seed")
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(workdir, ignore_errors=True)

    print(f"environment: {json.dumps(stamp)}", file=sys.stderr)
    print(f"{args.workload} seed={args.seed} trace={args.trace}", file=sys.stderr)
    for name, (value, unit) in {**table, **metrics}.items():
        print(f"  {name:28s} {value:14.4f} {unit}", file=sys.stderr)
    print(json.dumps({
        "correct": not wl.ops.failed,
        "attempted": wl.ops.attempted,
        "failed": wl.ops.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
