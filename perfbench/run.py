#!/usr/bin/env python3
"""Retrieval benchmark for the BM25 engine: one command, two workloads.

    python3 perfbench/run.py --workload index --seed 1 --seconds 10 --trace 0

Run from the root of a checkout that holds the
`semantic_pdf_search_engine_spark` package. Each run starts one Spark
session at local[nproc], makes its inputs from `--seed` (written to
parquet before any clock starts), sets up, measures for `--seconds`,
checks every timed operation against the repo's oracles, and prints as
its last stdout line one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` runs the same
workload with spans around the calls into each layer and reports the
per-layer metrics. `--tiny` shrinks every input for the smoke test.
The metric definitions and the layer -> metric -> workload map are in
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback
from contextlib import nullcontext
from pathlib import Path

ROOT = Path.cwd()
sys.path.insert(0, str(Path(__file__).resolve().parent))

import proctree  # noqa: E402

WORKLOADS = ("index", "suite")


def _read_steal() -> tuple[int, int]:
    """(steal, total) jiffies from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    # cpu user nice system idle iowait irq softirq steal
    return int(fields[8]), sum(int(x) for x in fields[1:9])


def _driver_mem() -> str:
    """A quarter of physical RAM, at most 4g: the engine's own default
    (24g) exceeds small hosts, and the benchmark inputs are small."""
    with open("/proc/meminfo") as f:
        kb = int(f.readline().split()[1])
    return f"{max(1, min(4, kb // (4 * 1024 * 1024)))}g"


def pin_environment(work: Path) -> int:
    """Pin everything the engine reads from the environment before the
    JVM starts; returns the core count used for local[nproc]."""
    nproc = len(os.sched_getaffinity(0))
    tmp = work / "tmp"
    for d in (tmp, work / "spark-local", work / "index-cache"):
        d.mkdir(parents=True, exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(nproc),
            "SPARK_DRIVER_MEM": _driver_mem(),
            "SPARK_LOCAL_DIRS": str(work / "spark-local"),
            # the registry's prebuilt-index cache: per run, so set-up
            # always pays the build it measures
            "SPSE_INDEX_CACHE": str(work / "index-cache"),
            "TMPDIR": str(tmp),
            # Python workers import the package from the checkout
            "PYTHONPATH": os.pathsep.join(
                p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
            ),
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "PYSPARK_SUBMIT_ARGS": (
                "--conf spark.ui.showConsoleProgress=false "
                f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
            ),
        }
    )
    sys.path.insert(0, str(ROOT))
    return nproc


def start_spark(nproc: int):
    from semantic_pdf_search_engine_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench", master=f"local[{nproc}]", shuffle_partitions=nproc
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, if one started, then the JVM and the Python
    workers under it, and wait until every one has exited."""
    from pyspark import SparkContext

    me = os.getpid()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        if spark is not None:
            spark.stop()
        if gateway is not None:
            gateway.shutdown()
    finally:
        if proc is not None:
            _end_jvm(proc)
        _end_descendants(me)


def _end_jvm(proc) -> None:
    if proc.stdin:
        proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=10)


def _end_descendants(me: int) -> None:
    deadline = time.time() + 15
    while time.time() < deadline:
        left = proctree.descendants(me)
        if not left:
            return
        if time.time() > deadline - 5:
            for p in left:
                try:
                    os.kill(p, 9)
                except OSError:
                    pass
        time.sleep(0.2)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="smoke-test input sizes")
    ap.add_argument("--spans-out", help="write the traced run's spans here (JSON lines)")
    args = ap.parse_args(argv)

    if not (ROOT / "semantic_pdf_search_engine_spark" / "__init__.py").is_file():
        print(
            "perfbench: run from a checkout root holding the "
            "semantic_pdf_search_engine_spark package",
            file=sys.stderr,
        )
        return 2

    # a terminated run still stops Spark and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    steal0 = _read_steal()
    load1 = os.getloadavg()[0]
    nproc = pin_environment(work)
    import workloads  # noqa: E402  (needs the pinned environment)

    spark = None
    try:
        # the sampler's own CPU would count in the timed figures, and
        # peak memory is reported by the traced run only
        with proctree.PeakRss() if args.trace else nullcontext() as rss:
            c0, t0 = proctree.cpu_seconds(), time.perf_counter()
            spark = start_spark(nproc)
            session = (time.perf_counter() - t0, proctree.cpu_seconds() - c0)
            bench = workloads.Bench(
                spark, work, args.seed, args.seconds, bool(args.trace), args.tiny
            )
            result = workloads.run(args.workload, bench, session)
        if args.spans_out and bench.tracer is not None:
            bench.tracer.write(args.spans_out)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        try:
            stop_spark(spark)  # also when the session never finished starting
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                work.parent.rmdir()  # only when no other run is using it
            except OSError:
                pass

    steal1 = _read_steal()
    steal_pct = 100.0 * (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
    host = {"nproc": nproc, "steal_pct": steal_pct, "load_avg_1m_at_start": load1}
    print("host " + json.dumps(host))
    metrics = result["metrics"]
    if args.trace:
        metrics["host.steal_pct"] = (steal_pct, "%")
        metrics["host.load_avg_1m"] = (load1, "count")
        metrics["host.peak_rss_mb"] = (rss.peak / 2**20, "MB")
    print(
        json.dumps(
            {
                "correct": result["failed"] == 0,
                "attempted": result["attempted"],
                "failed": result["failed"],
                "metrics": {
                    k: {"value": float(v), "unit": u}
                    for k, (v, u) in sorted(metrics.items())
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
