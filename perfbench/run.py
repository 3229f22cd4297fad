"""CDC ingest-and-serve benchmark.

    python3 perfbench/run.py --workload backlog_replay --seed 1 --seconds 10 --trace 0

Run from the repository root. Generates the workload's inputs from the
seed (cached under ``.bench_work/cache``), starts a ``local[nproc]`` Spark
session, warms up, measures for ``--seconds`` and checks the engine's state
against the pure-pandas oracle. The last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics of a traced run with
``--trace 1``. The line before it carries host facts and sample counts.
Exits nonzero when the correctness gate fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_work")


def _confine_temp_dirs() -> None:
    """Keep every scratch file of Python, the JVM and Spark in WORK."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_<user>
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def host_ram_bytes() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def start_spark():
    from cdc_core_spark.session import get_spark
    # the repo default (24g) is sized for a 32-core host; the benchmark's
    # inputs are small, so 2 GB (or a quarter of a smaller host) is plenty
    gb = max(1, min(2, host_ram_bytes() // 4 // 2**30))
    os.environ["CDC_DRIVER_MEM"] = f"{gb}g"
    nproc = len(os.sched_getaffinity(0))
    spark = get_spark(app_name="perfbench", cores=nproc, extra_conf={
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.hadoop.hadoop.tmp.dir": os.environ["TMPDIR"]})
    return spark, nproc, gb


def stop_spark(spark) -> None:
    """Stop the session and wait until its JVM has exited."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _proc_tree(root_pid: int) -> list[int]:
    parent = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        parent[int(name)] = int(stat[stat.rindex(")") + 2:].split()[1])
    tree, frontier = [root_pid], [root_pid]
    while frontier:
        frontier = [p for p, pp in parent.items() if pp in frontier]
        tree += frontier
    return tree


def peak_rss_mb() -> float:
    """Summed VmHWM of this process, its JVM and the JVM's Python workers."""
    total_kb = 0
    for pid in _proc_tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


def main(argv=None) -> int:
    from perfbench import workloads
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    t_start = time.monotonic()
    spark, nproc, mem_gb = start_spark()
    session_s = time.monotonic() - t_start
    spark_version = spark.version
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        ctx = workloads.Ctx(spark=spark, work=run_dir,
                            cache=os.path.join(WORK, "cache"),
                            seed=args.seed, seconds=args.seconds,
                            trace=bool(args.trace), session_s=session_s)
        res = workloads.WORKLOADS[args.workload](ctx)
        res.metrics["peak_rss_mb"] = (peak_rss_mb(), "MB")
    finally:
        stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    info = {"workload": args.workload, "seed": args.seed, "nproc": nproc,
            "host_ram_gb": round(host_ram_bytes() / 2**30, 1),
            "driver_mem_gb": mem_gb, "spark": spark_version,
            "problems": res.problems[:20], **res.info}
    print("info " + json.dumps(info))
    if args.trace:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in res.layers.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in res.metrics.items()}
    correct = not res.problems
    print(json.dumps({"correct": correct, "attempted": res.attempted,
                      "failed": res.failed, "metrics": metrics}))
    sys.stdout.flush()
    return 0 if correct else 1


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    _confine_temp_dirs()
    sys.exit(main())
