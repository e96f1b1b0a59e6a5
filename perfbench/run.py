"""Layered benchmark of the shovel_spark engine path.

Run from the repository root:

    python3 perfbench/run.py --workload ingest_small --seed 1 --seconds 10 --trace 0

The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. A full record
(machine, run, every sample, spans) goes to ``.perfbench_results/``.
See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

T_PROCESS = time.perf_counter()

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("ingest_small", "resume_replay")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _loadavg() -> list[float]:
    return [float(x) for x in Path("/proc/loadavg").read_text().split()[:3]]


def _cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat, in clock ticks."""
    return [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]


def _steal_share(start: list[int], end: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between."""
    d = [b - a for a, b in zip(start, end)]
    return d[7] / max(1, sum(d))


def _source_id() -> str:
    """The git commit, or a digest of the package sources outside git (also
    when the checkout sits inside some other git work tree)."""
    try:
        out = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        lines = out.stdout.split()
        if out.returncode == 0 and Path(lines[0]).resolve() == ROOT:
            return lines[1]
    except (OSError, subprocess.TimeoutExpired):
        pass
    import hashlib

    h = hashlib.sha256()
    for f in sorted((ROOT / "shovel_spark").rglob("*.py")):
        h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes())
    return "tree-sha256:" + h.hexdigest()[:16]


def machine_record(spark) -> dict:
    import pyarrow
    import pyspark

    rt = spark._jvm.java.lang.Runtime.getRuntime()
    return {
        "nproc": os.cpu_count(),
        "mem_total_bytes": _mem_total(),
        "spark_master": spark.sparkContext.master,
        "spark_driver_memory": spark.conf.get("spark.driver.memory"),
        "jvm_max_heap_bytes": int(rt.maxMemory()),
        "spark_version": pyspark.__version__,
        "java_version": spark._jvm.java.lang.System.getProperty("java.version"),
        "pyarrow_version": pyarrow.__version__,
        "python_version": sys.version.split()[0],
        "source": _source_id(),
    }


def _mem_total() -> int:
    for line in Path("/proc/meminfo").read_text().splitlines():
        if line.startswith("MemTotal:"):
            return int(line.split()[1]) * 1024
    raise KeyError("MemTotal")


def isolate(work: Path) -> None:
    """Keep Spark's and the JVM's scratch files inside the run's work dir."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def run(args, work: Path, record: dict) -> dict:
    """Set up, measure (or trace) one workload; returns the result object."""
    sys.path.insert(0, str(ROOT))
    from shovel_spark.session import get_spark

    import checks
    import inputs
    from engine import PAGES, Engine, judge
    from spans import Tracer

    tracer = Tracer()
    n = PAGES[args.workload]
    with tracer.span("session.start") as session:
        spark = get_spark(app_name=f"perfbench:{args.workload}")
    try:
        record["machine"] = machine_record(spark)
        with tracer.span("inputs"):
            pages = inputs.generate_pages(spark, work / "pages", args.seed, n)
        record["input"] = {"pages": n, "bytes": checks.tree_bytes([pages])}
        with tracer.span("config"):
            lang_map, strict, relaxed = inputs.oracle_config(spark)
            eng = Engine(spark, pages, work)
        with tracer.span("warm_up"):
            eng.warm_up(args.workload)

        if args.trace:
            metrics, ops = eng.traced(args.workload, tracer)
            metrics["session.start_s"] = session.seconds
            problems = tracer.problems()
            if problems:
                ops[-1].problems += problems
            out_metrics = per_layer(metrics)
        else:
            # set-up is everything before the first repetition, from the
            # process's start, plus a repetition's own preparation
            before_s = time.perf_counter() - T_PROCESS
            with tracer.span("measure"):
                m = eng.measure(args.workload, args.seconds)
            ops = m["ops"]
            setup_s = before_s + statistics.median(m["prepare_s"])
            record["samples"] = {
                "before_measuring_s": before_s,
                "prepare_s": m["prepare_s"], "repetition_s": m["repetition_s"],
                "sink_bytes": m["sink_bytes"],
                "peak_rss_bytes": m["peak_rss"],
                "ops": [{"name": o.name, "seconds": o.seconds, "check_s": o.check_s}
                        for o in ops],
            }
            out_metrics = end_to_end(n, setup_s, m)
        record["spans"] = tracer.records()
    finally:
        t0 = time.perf_counter()
        stop(spark)
        record["stop_s"] = time.perf_counter() - t0
    # the reference runs after the session has stopped, so it never competes
    # with set-up or measurement, whether or not it is cached
    t0 = time.perf_counter()
    ref = inputs.References(pages, ROOT / ".perfbench_cache", ROOT, lang_map,
                            {"strict": strict, "relaxed": relaxed})
    judge(ops, ref)
    record["reference"] = {"seconds": time.perf_counter() - t0, "computed": ref.computed}
    record["failures"] = [{"op": o.name, "problems": o.problems} for o in ops if o.problems]
    failed = sum(1 for o in ops if o.problems)
    return {"correct": failed == 0, "attempted": len(ops), "failed": failed,
            "metrics": out_metrics}


def stop(spark) -> None:
    """Stop the session and wait for the JVM this process launched."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def end_to_end(n: int, setup_s: float, measured: dict) -> dict:
    """Every end-to-end metric, on either workload."""
    cli_s = statistics.median(o.seconds for o in measured["ops"] if o.name == "cli_path")
    m = {
        "setup_s": (setup_s, "s"),
        "ingest_docs_per_s": (n / cli_s, "docs/s"),
        "repetition_s": (statistics.median(measured["repetition_s"]), "s"),
        "sink_bytes_per_doc": (statistics.median(measured["sink_bytes"]) / n, "B"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def per_layer(metrics: dict) -> dict:
    """The traced run's metrics with the units ``BENCHMARK.json`` declares;
    the two name lists must agree."""
    declared = {m["name"]: m["unit"]
                for m in json.loads((ROOT / "BENCHMARK.json").read_text())["per_layer"]}
    if set(metrics) != set(declared):
        raise RuntimeError(f"per-layer metrics differ from BENCHMARK.json: "
                           f"missing {sorted(set(declared) - set(metrics))}, "
                           f"undeclared {sorted(set(metrics) - set(declared))}")
    return {k: {"value": float(metrics[k]), "unit": declared[k]} for k in declared}


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops its JVM and removes its scratch space
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (ROOT / "shovel_spark").is_dir():
        print(f"perfbench: no shovel_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    isolate(work)
    sys.path.insert(0, str(HERE))
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "pid": os.getpid(), "loadavg_start": _loadavg(),
              "started_unix": time.time()}
    cpu_start = _cpu_times()
    try:
        result = run(args, work, record)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            work.parent.rmdir()  # only when no other run is using it
    record["loadavg_end"] = _loadavg()
    record["cpu_steal_share"] = _steal_share(cpu_start, _cpu_times())
    record["wall_s"] = time.perf_counter() - T_PROCESS
    record["result"] = result
    results = ROOT / ".perfbench_results"
    results.mkdir(exist_ok=True)
    name = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}.json"
    (results / name).write_text(json.dumps(record, indent=1) + "\n")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
