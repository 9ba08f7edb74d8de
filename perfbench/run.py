"""Benchmark runner for ocr_lib_spark.

    python3 perfbench/run.py --workload {bulk_extract,curation_battery}
                             --seed N --seconds S --trace {0,1}

Run from the root of a checkout. The program runs at its defaults on
``local[min(4, nproc)]``; inherited ``SPARK_GRAFT_*`` knobs are cleared.
Everything the run writes goes under ``.bench_work/`` in the checkout.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics of BENCHMARK.json with
``--trace 0``, its per-layer metrics with ``--trace 1``). The line before
it is a full report: every workload metric with its unit, sample count,
median and the highest percentile its samples support, the input
statistics, correctness problems and the run's provenance.
"""

from __future__ import annotations

import argparse
import json
import os
import math
import platform
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent

#: units of the workload-specific report metrics (not in BENCHMARK.json)
REPORT_UNITS = {
    "turns_per_s": ("1/s", "higher"), "turns_per_s_1core": ("1/s", "higher"),
    "scaling_eff_1to4": ("ratio", "higher"), "battery_s": ("s", "lower"),
    "battery_geomean_ms": ("ms", "lower"), "failed_share": ("ratio", "lower"),
}


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def pin_environment(root: Path) -> dict:
    """Clear the program's tuning knobs and keep every scratch file in
    the checkout; returns what was cleared."""
    work = root / ".bench_work"
    cleared = {k: os.environ.pop(k) for k in sorted(os.environ) if k.startswith("SPARK_GRAFT_")}
    for d in ("tmp", "spark-local"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(root), str(HERE)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    # the JVM's temp files go to the checkout too; its perf-data file
    # would go to /tmp whatever the temp dir, so it is turned off
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    return cleared


def cpu_times() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def provenance(root: Path, cleared: dict, cores: int) -> dict:
    import duckdb
    import pandas
    import pyarrow
    import pyspark

    commit = None
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                                text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        pass
    with open("/proc/loadavg") as f:
        load = f.read().split()[:3]
    return {
        "nproc": os.cpu_count(), "master": f"local[{cores}]", "loadavg_at_start": load,
        "cleared_env": cleared, "python": platform.python_version(),
        "spark": pyspark.__version__, "pandas": pandas.__version__,
        "pyarrow": pyarrow.__version__, "duckdb": duckdb.__version__, "git_commit": commit,
    }


def stop_jvm() -> None:
    """Shut the Spark driver JVM down and wait until it has exited; it
    leaves when its stdin closes, and it stops its Python workers first."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def summary(values: list[float]) -> dict:
    """Count, median, and the highest of p75/p90/p95/p99 that has at least
    ten samples beyond it (none below 40 samples; then the max is shown)."""
    xs = sorted(values)
    n = len(xs)
    out = {"n": n, "median": statistics.median(xs)}
    pct = [p for p in (99, 95, 90, 75) if n * (100 - p) / 100 >= 10]
    if pct:
        out[f"p{pct[0]}"] = xs[min(n - 1, math.ceil(n * pct[0] / 100) - 1)]
    else:
        out["max"] = xs[-1]
    return out


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = Path.cwd()
    if not (root / "BENCHMARK.json").is_file() or not (root / "ocr_lib_spark" / "__init__.py").is_file():
        fail("run from the root of an ocr_lib_spark checkout (BENCHMARK.json and ocr_lib_spark/ missing)")
    spec = json.loads((root / "BENCHMARK.json").read_text())
    cleared = pin_environment(root)
    sys.path[:0] = [str(root), str(HERE)]

    import spans
    import workloads

    if args.workload not in workloads.WORKLOADS:
        fail(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    cores = min(4, os.cpu_count() or 1)
    prov = provenance(root, cleared, cores)
    steal0, total0 = cpu_times()
    with spans.MemorySampler() as sampler:
        run = workloads.Run(root, args.seed, args.seconds, bool(args.trace), cores, sampler)
        try:
            m = workloads.WORKLOADS[args.workload](run)
        finally:
            run.stop()
            stop_jvm()
        sampler.sample()
    run.phase("end")
    steal1, total1 = cpu_times()
    # the share of this machine's CPU time its hypervisor gave to others
    # during the run: the main source of run-to-run spread on a shared host
    prov["cpu_steal_share"] = (steal1 - steal0) / max(total1 - total0, 1)
    m["peak_rss_mb"] = sampler.peak_mb
    m["failed_share"] = run.failed / max(run.attempted, 1)

    units = REPORT_UNITS | {d["name"]: (d["unit"], d["better"])
                            for d in spec["end_to_end"] + spec["per_layer"]}
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "inputs": m.pop("_inputs", {}) | {"crash_resume": m.pop("_resume_inputs", None)},
        "problems": run.problems, "phases_s": run.phases, "provenance": prov,
        "samples": {k: summary(list(v.values()) if isinstance(v, dict) else v)
                    for k, v in run.samples.items()},
        "sample_values": run.samples,
        "metrics": {k: {"value": v, **dict(zip(("unit", "better"), units.get(k, ("", ""))))}
                    for k, v in sorted(m.items())},
    }
    print(json.dumps(report))

    wanted = spec["per_layer" if args.trace else "end_to_end"]
    # a layer this workload does not exercise did no work in it: 0
    metrics = {d["name"]: {"value": float(m.get(d["name"], 0.0)), "unit": d["unit"]}
               for d in wanted if args.trace or d["name"] in m}
    correct = run.failed == 0 and len(metrics) == len(wanted)
    print(json.dumps({"correct": correct, "attempted": max(run.attempted, 1),
                      "failed": run.failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
