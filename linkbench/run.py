#!/usr/bin/env python3
"""Linkage benchmark: one workload, one JSON result line.

    python3 linkbench/run.py --workload batch_link --seed 42 --seconds 1 --trace 0

Run from the repository root. The inputs are generated from ``--seed``
under ``.linkbench_work/``; the Spark session runs at ``local[nproc]``
with a 3g driver heap and its scratch directory inside the checkout.
``--trace 0`` prints the end-to-end metrics, ``--trace 1`` runs the
traced variant and prints the per-layer metrics; the spans of a traced
run go to ``.linkbench_work/traces/``. The last line of standard output
is ``{"correct", "attempted", "failed", "metrics"}``. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)


def load_spec() -> dict:
    """BENCHMARK.json: the workloads, and the metrics' names and units."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (user … steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor stole between two samples."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(sum(d), 1)


def configure(work: str) -> None:
    """Environment the session reads at launch: nproc cores, a 3g driver
    heap, and every scratch path inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEM"] = "3g"
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # every JVM spark-submit starts (launcher and driver): temp files in
    # the checkout, and no hsperfdata file, which would go to /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = \
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable


def stop_spark(spark) -> None:
    """Stop the session, then the driver JVM, and wait for it to exit."""
    from pyspark import SparkContext
    for q in spark.streams.active:
        q.stop()
    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    SparkContext._gateway = None
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main(argv=None) -> int:
    spec = load_spec()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=1.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--docs", type=int, default=None,
                    help="override the corpus size (self-tests)")
    args = ap.parse_args(argv)

    base = os.path.join(ROOT, ".linkbench_work")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    try:
        return _run(args, spec, base, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, spec: dict, base: str, work: str) -> int:
    # before the package import: session.py reads SPARK_GRAFT_CPUS then
    configure(work)
    from ehdc_llpg_address_matching_spark.session import get_spark
    from linkbench.spans import Tracer
    from linkbench.workloads import NOT_RUN, WORKLOADS, make_corpus

    # the load generator's cost: not part of set-up
    corpus = make_corpus(args.workload, args.seed,
                         os.path.join(work, "corpus"), args.docs)
    load_start, cpu_start = os.getloadavg()[0], cpu_times()
    t = time.perf_counter()
    spark = get_spark(app_name=f"linkbench-{args.workload}",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    setup_s = time.perf_counter() - t
    try:
        sc = spark.sparkContext
        sc.setLogLevel("ERROR")
        env = {"cores": sc.defaultParallelism,
               "driver_memory": sc.getConf().get("spark.driver.memory"),
               "local_dir": sc.getConf().get("spark.local.dir"),
               "load_1m_start": load_start}
        tracer = Tracer(spark, f"{args.workload}-s{args.seed}") \
            if args.trace else None
        res = WORKLOADS[args.workload](spark, corpus, args.seconds,
                                       tracer=tracer, work=work)
        env["load_1m_end"] = os.getloadavg()[0]
        env["cpu_steal_share"] = steal_share(cpu_start, cpu_times())
        jvm_pid = spark._jvm.ProcessHandle.current().pid()
        rss_mb = (vm_hwm_kb(jvm_pid) + vm_hwm_kb("self")) / 1024
    finally:
        stop_spark(spark)
    units = {m["name"]: m["unit"]
             for m in spec["per_layer" if args.trace else "end_to_end"]}
    if args.trace:
        # a layer the workload does not run prints 0, and is named here
        env["not_run"] = [k for k in units
                          if k.startswith(NOT_RUN[args.workload])]
    print(json.dumps({"env": env, "problems": res.problems}), flush=True)
    if not res.walls:
        return 1

    if args.trace:
        res.layer["session.start_s"] = setup_s
        res.layer["trace.run_wall_s"] = res.walls[0]
        res.layer["trace.overhead_s"] = tracer.overhead_s
        res.layer.update(dict.fromkeys(env["not_run"], 0.0))
        os.makedirs(os.path.join(base, "traces"), exist_ok=True)
        tracer.write(os.path.join(
            base, "traces", f"{args.workload}-seed{args.seed}.jsonl"))
        values = res.layer
    else:
        wall = statistics.median(res.walls)
        values = {
            "setup_s": setup_s, "run_wall_s": wall,
            "run_cpu_s": statistics.median(res.cpus),
            "docs_per_s": res.n_docs / wall,
            "peak_rss_mb": rss_mb, "f1": res.f1,
        }
    missing = set(units) - set(values)
    if missing:
        print(f"metrics not measured: {sorted(missing)}", file=sys.stderr)
        return 1
    print(json.dumps({
        "correct": not res.problems, "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": float(values[k]), "unit": u}
                    for k, u in units.items()}}), flush=True)
    return 0

if __name__ == "__main__":
    sys.exit(main())
