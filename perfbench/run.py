#!/usr/bin/env python3
"""crawlspark benchmark: one process, one Spark session at local[<cores>],
one closed-loop driver.

    python3 perfbench/run.py --workload crawl-bulk --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``; the per-layer metrics of a traced
run with ``--trace 1``). The line before it reports the workload-only
numbers. Inputs are cached in ``.perfbench_cache/``; scratch lives in
``.perfbench_work/`` and is removed at exit; traces go to
``.perfbench_out/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# a hung run is stopped before three minutes have passed
DEADLINE_S = 170


def process_start() -> float:
    """Epoch seconds at which this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")


T_PROC = process_start()


def hwm_mb(pid: int | str) -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        line = next(ln for ln in f if ln.startswith("VmHWM:"))
    return int(line.split()[1]) * 1024 / 1e6


def start_spark(work: str, cores: int):
    from crawlspark.session import get_spark

    return get_spark(
        "perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions": f"-Xms2g -Djava.io.tmpdir={work}/tmp",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # the traced run reads every job back from the status store
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser(description="crawlspark benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (
        os.path.isdir(os.path.join(ROOT, "crawlspark"))
        and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
    ):
        print(f"perfbench: no crawlspark program under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import inputs
    from workloads import WORKLOADS, Ctx

    if a.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {a.workload!r}", file=sys.stderr)
        return 2

    def _timeout(*_):
        raise TimeoutError(f"run exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(DEADLINE_S)

    os.makedirs(os.path.join(ROOT, ".perfbench_work"), exist_ok=True)
    work = tempfile.mkdtemp(
        prefix=f"{a.workload}-", dir=os.path.join(ROOT, ".perfbench_work")
    )
    os.makedirs(os.path.join(work, "tmp"))
    # everything the run writes stays inside the checkout
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    cores = len(os.sched_getaffinity(0))
    spark = None
    try:
        t = time.time()
        in_dir = inputs.input_dir(a.workload, a.seed)
        if not inputs.cached(in_dir):
            # a child process, so its memory (DuckDB) stays out of peak_rss_mb
            subprocess.run(
                [sys.executable, os.path.join(HERE, "inputs.py"),
                 "--workload", a.workload, "--seed", str(a.seed)],
                check=True, stdout=subprocess.DEVNULL,
            )
        gen_s = time.time() - t

        spark = start_spark(work, cores)
        tracer = None
        if a.trace:
            from spans import Tracer

            tracer = Tracer(spark)
            tracer.install()
        res = WORKLOADS[a.workload](Ctx(spark, in_dir, work, a.seconds, cores, tracer))
        jvm = getattr(spark.sparkContext._gateway, "proc", None)
        peak = hwm_mb("self") + (hwm_mb(jvm.pid) if jvm else 0.0)
        if tracer is not None:
            tracer.collect_jobs()
            tracer.uninstall()
        stop_spark(spark)
        spark = None
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    signal.alarm(0)

    setup_s = res.first_op - T_PROC - gen_s
    e2e = {
        "setup_s": (setup_s, "s"),
        "round_s": (res.metrics["round_s"], "s"),
        "urls_per_s": (res.metrics["urls_per_s"], "1/s"),
        "peak_rss_mb": (peak, "MB"),
    }
    for p in res.problems:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    print(json.dumps({
        "workload": a.workload, "seed": a.seed, "input_s": round(gen_s, 3),
        "end_to_end": {k: v for k, (v, _) in e2e.items()}, "extra": res.extra,
    }))
    if a.trace:
        out = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        tracer.dump(os.path.join(out, f"trace-{a.workload}-s{a.seed}.json"))
        layer = tracer.layer_metrics(res.rounds, res.passes, inputs.DEDUP_QUERIES)
        metrics = {k: {"value": v, "unit": _unit(k)} for k, v in layer.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps({
        "correct": not res.problems,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }))
    return 0


def _unit(name: str) -> str:
    if name.endswith((".s", "_s")):
        return "s"
    if name.endswith(".yield"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
