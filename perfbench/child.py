"""One benchmark run inside the prepared environment (see ``run.py``).

Starts the engine's Spark session, runs the workload, prints a summary
with every metric and its unit, then the result object as the last
line of standard output. Exits non-zero without a result when the run
cannot complete.
"""

from __future__ import annotations

import argparse
import importlib
import json
import math
import os
import statistics
import sys
import time
from dataclasses import dataclass
from pathlib import Path

from .trace import Tracer

ROOT = Path(__file__).resolve().parents[1]


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _load1() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


@dataclass
class Context:
    spark: object
    tracer: Tracer
    seed: int
    seconds: float
    tiny: bool
    jvm_pid: int

    def peak_rss_mb(self) -> float:
        """Peak resident memory so far of this process plus its JVM."""
        kb = _vm_hwm_kb("self") + _vm_hwm_kb(self.jvm_pid)
        return kb / 1024.0


def tail(values: list[float]) -> tuple[int, float] | None:
    """The highest whole percentile with at least ten samples beyond
    it, and its value; None below eleven samples."""
    n = len(values)
    if n < 11:
        return None
    pct = math.floor(100 * (n - 10) / n)
    return pct, statistics.quantiles(values, n=100)[pct - 1]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true")
    args = ap.parse_args(argv)

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    workload = importlib.import_module(f"perfbench.{args.workload}")
    from library_data_warehouse_and_business_analytics_system_spark.session import get_spark

    load_start = _load1()
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    session_s = time.perf_counter() - t0
    sc = spark.sparkContext
    gateway = sc._gateway
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    tracer = Tracer(spark, run_id, enabled=bool(args.trace))
    ctx = Context(spark, tracer, args.seed, args.seconds, args.tiny,
                  gateway.proc.pid)
    try:
        out = workload.run(ctx)
    finally:
        spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(60)

    lat, ops = out["latencies"], out["op_times"]
    failures = out["failures"]
    attempted = max(out["attempted"], 1)
    e2e = {
        "setup_s": session_s + sum(out["setup_parts"].values()),
        "peak_rss_mb": out["peak_rss_mb"],
        # over the workload's typical operation times (registry_sweep:
        # each query's median over its passes, so a stall of the shared
        # host in one pass does not move them)
        "ops_per_s": len(ops) / sum(ops),
        # geometric mean, as TPC-H's power metric summarises query
        # times: every operation counts, so unlike a median of a few
        # unlike queries it does not jump between neighbours
        "op_geomean_s": math.exp(statistics.fmean(map(math.log, ops))),
    }
    units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    units.update({m["name"]: m["unit"] for m in spec["per_layer"]})

    print(f"perfbench workload={args.workload} seed={args.seed} "
          f"seconds={args.seconds:g} trace={args.trace} tiny={args.tiny}")
    print("host " + " ".join(
        f"{k}={os.environ.get(k, '')}" for k in
        ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_LOCAL_DIRS",
         "PYSPARK_SUBMIT_ARGS"))
        + f" nproc={len(os.sched_getaffinity(0))} load1_start={load_start}"
        f" load1_end={_load1()} cwd={os.getcwd()}")
    for k, v in out["setup_parts"].items():
        print(f"setup.{k} {v:.4f} s")
    print(f"setup.session_start {session_s:.4f} s")
    for k, v in e2e.items():
        print(f"metric {k} {v:.6g} {units[k]} (n={len(lat)})")
    t = tail(lat)
    print(f"latency p50 {statistics.median(lat):.6g} s, tail "
          + (f"p{t[0]} {t[1]:.6g} s" if t else "none (no percentile has "
             "ten samples beyond it)") + f", n={len(lat)}")
    for k, (v, unit) in out["summary"].items():
        print(f"workload {k} {v:.6g} {unit}")
    print(f"failed_share {len(failures) / attempted:.6g} "
          f"({len(failures)} of {attempted})")
    for f in failures:
        print(f"FAILED {f}")

    if args.trace:
        layers = {m["name"]: 0.0 for m in spec["per_layer"]}
        computed = _common_layers(tracer, session_s)
        computed.update(out.get("layers", {}))
        unknown = set(computed) - set(layers)
        if unknown:
            raise KeyError(f"per-layer metrics missing from BENCHMARK.json: "
                           f"{sorted(unknown)}")
        layers.update(computed)
        spans_dir = ROOT / ".perfbench_out"
        spans_dir.mkdir(exist_ok=True)
        path = spans_dir / f"spans-{run_id}.jsonl"
        tracer.write(str(path))
        print(f"spans {len(tracer.spans)} written to {path}")
        for k, v in layers.items():
            print(f"layer {k} {v:.6g} {units[k]}")
        metrics = layers
    else:
        metrics = e2e
    result = {
        "correct": not failures,
        "attempted": attempted,
        "failed": min(len(failures), attempted),
        "metrics": {k: {"value": float(v), "unit": units[k]}
                    for k, v in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


def _common_layers(tracer: Tracer, session_s: float) -> dict:
    """Per-layer metrics every workload records the same way: the
    session, the warehouse build and the report calls. A layer a
    workload never calls stays at zero."""
    out = {"session.start_s": session_s,
           "trace.overhead_s": tracer.overhead_s}
    if tracer.named("generators.to_spark"):
        out["generators.to_spark_s"] = tracer.mean("generators.to_spark")
        out["etl.build_s"] = tracer.mean("etl.build")
        out["etl.materialize_s"] = tracer.mean("etl.materialize")
        builds = len(tracer.named("etl.build"))
        for what in ("jobs", "stages"):
            out[f"etl.{what}"] = (tracer.total("etl.build", what)
                                  + tracer.total("etl.materialize", what)
                                  ) / builds
        for s in tracer.spans:
            if s.name.startswith("etl.") and s.name.endswith(".count"):
                out[f"{s.name}_s"] = tracer.mean(s.name)
    from .reports import KINDS

    for kind in KINDS:
        b, c = f"reports.{kind}.build", f"reports.{kind}.collect"
        if tracer.named(b):
            out[f"reports.{kind}.build_s"] = tracer.mean(b)
            out[f"reports.{kind}.collect_s"] = tracer.mean(c)
            for what in ("jobs", "stages"):
                out[f"reports.{kind}.{what}"] = (tracer.mean(b, what)
                                                 + tracer.mean(c, what))
    return out


if __name__ == "__main__":
    sys.exit(main())
