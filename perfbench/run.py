"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Run from the root of a checkout. Generates the workload's inputs from
the seed under ``data/perfbench/`` (ignored by git and removed at the
end), runs the workload closed-loop from this one process on
``local[nproc]`` for ``--seconds`` seconds (longer when the workload's
minimum number of calls takes longer), checks every output, and
prints as its last stdout line one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics of the traced run with
``--trace 1``. The line before it holds the run's host, input
properties, per-call times and ``failed_ops_frac``. Workloads and
metrics are listed in BENCHMARK.json; perfbench/README.md maps layers
to metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
from pathlib import Path

WORKLOADS = ("city_dense", "joins_corpus")


def process_age_s() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


def mem_available_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) / 2**20
    return 4.0


def configure_env(root: Path, data: Path) -> dict:
    """Host-fitted engine settings, set before the engine is imported."""
    nproc = len(os.sched_getaffinity(0))
    mem_gb = int(min(6, max(1, mem_available_gb() // 4)))
    tmp = data / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_GRAFT_DRIVER_MEM": f"{mem_gb}g",
        # read by the engine's synth module at import: the generated
        # city tables live here, under the name of the default scale
        "SPARK_GRAFT_SYNTH_ROOT": str(data),
        "SPARK_LOCAL_DIRS": str(tmp),
        "TMPDIR": str(tmp),
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(root), os.environ.get("PYTHONPATH")) if p),
        # -XX:-UsePerfData: no hsperfdata file in the system /tmp
        "PYSPARK_SUBMIT_ARGS": (
            "--driver-java-options "
            + shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
            + f" --conf spark.local.dir={shlex.quote(str(tmp))}"
            + " pyspark-shell"),
    }
    os.environ.update(env)
    return {"nproc": nproc, "driver_mem": env["SPARK_GRAFT_DRIVER_MEM"]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = Path(__file__).resolve().parent.parent
    if not (root / "osm_sidewalkreator_spark" / "__init__.py").is_file():
        print(f"engine package osm_sidewalkreator_spark not found under "
              f"{root}", file=sys.stderr)
        return 2
    data = (root / "data" / "perfbench"
            / f"{args.workload}-s{args.seed}-{os.getpid()}")
    host = configure_env(root, data)
    host["loadavg_1m"] = os.getloadavg()[0]
    cpu0 = cpu_times()
    sys.path.insert(0, str(root))

    from perfbench import workloads  # after the environment is set

    try:
        res = workloads.run(args.workload, args.seed, args.seconds,
                            bool(args.trace), data, process_age_s)
    finally:
        shutil.rmtree(data, ignore_errors=True)
    d = [b - a for a, b in zip(cpu0, cpu_times())]
    host["steal_pct"] = round(100.0 * d[7] / max(1, sum(d)), 2)
    detail = {"workload": args.workload, "seed": args.seed,
              "trace": args.trace, "host": host, **res["detail"]}
    print(json.dumps(detail, sort_keys=True))
    print(json.dumps({"correct": res["failed"] == 0,
                      "attempted": res["attempted"],
                      "failed": res["failed"],
                      "metrics": res["metrics"]}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
