"""Benchmark of the library warehouse engine.

Usage, from the repository root::

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \\
        --trace <0|1> [--tiny]

Workloads (``BENCHMARK.json`` says why each was chosen):

- ``warehouse_loads``: generated library OLTP data, initial load,
  durable publish, then a closed loop of incremental loads, each
  followed by a consistent read and one LQY report
  (perfbench/warehouse_loads.py).
- ``registry_sweep``: a fixed subset of registered queries over the
  committed testdata copy, built and collected in a seeded order
  (perfbench/registry_sweep.py).

With ``--trace 0`` the result's metrics are the end-to-end ones; with
``--trace 1`` every span around a call into a package layer is
recorded, written to ``.perfbench_out/`` and turned into the per-layer
metrics. ``--tiny`` is the self-test: testdata sf0.001 and generator
scale 0.02.

The run itself happens in a child process started with the repository
root on ``PYTHONPATH`` (so Python UDF workers import the package), with
one Spark task thread (``SPARK_GRAFT_CPUS=1``), an explicit driver heap,
and a scratch directory under ``.perfbench_tmp/`` as working directory,
``TMPDIR``, JVM temp dir and ``SPARK_LOCAL_DIRS``. The child leads a
session of its own; every process of that session is stopped, and the
scratch directory removed, before this launcher exits. The last line
of standard output is the result object; on any failure the exit code
is non-zero and no result is printed.
"""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = "library_data_warehouse_and_business_analytics_system_spark"
DRIVER_MEM = "3g"
TIMEOUT_S = 170


def _session_pids(sid: int) -> list[int]:
    """Live processes of the session ``sid``. The PySpark worker daemon
    moves to a process group of its own, but stays in the session."""
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(entry))
    return pids


def _stop_session(sid: int) -> None:
    """Terminate every process left in the run's session and wait until
    none is left."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        deadline = time.monotonic() + 10.0
        for pid in _session_pids(sid):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        while time.monotonic() < deadline:
            if not _session_pids(sid):
                return
            time.sleep(0.1)


def main() -> int:
    if not (ROOT / PACKAGE).is_dir() or not (ROOT / "BENCHMARK.json").is_file():
        print(f"{PACKAGE} or BENCHMARK.json not found under {ROOT}",
              file=sys.stderr)
        return 2
    # a terminated launcher still runs its clean-up below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    scratch = ROOT / ".perfbench_tmp" / f"run-{os.getpid()}"
    tmp = scratch / "tmp"
    tmp.mkdir(parents=True)
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), env.get("PYTHONPATH")) if p),
        # One task thread. On a shared virtual host the hypervisor steals
        # time from single vCPUs; with a task thread per core every stage
        # waits for the task on the stalled core, so a few percent of
        # steal slowed runs by a third. One thread leaves the other cores
        # to the JVM's compiler and collector and to the Python side.
        "SPARK_GRAFT_CPUS": "1",
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": str(scratch / "spark-local"),
        "TMPDIR": str(tmp),
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options -Djava.io.tmpdir={tmp} "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"),
        "PYTHONHASHSEED": "0",
    })
    log = scratch / "child.log"
    try:
        with open(log, "wb") as err:
            child = subprocess.Popen(
                [sys.executable, "-m", "perfbench.child", *sys.argv[1:]],
                cwd=scratch, env=env, stdout=subprocess.PIPE, stderr=err,
                start_new_session=True)
            try:
                out, _ = child.communicate(timeout=TIMEOUT_S)
            except subprocess.TimeoutExpired:
                _stop_session(child.pid)
                child.communicate()
                print(f"run exceeded {TIMEOUT_S}s", file=sys.stderr)
                return 1
            finally:
                _stop_session(child.pid)
        lines = out.decode().splitlines()
        if child.returncode != 0:
            sys.stderr.write("\n".join(lines[-20:]) + "\n")
            sys.stderr.write(log.read_text(errors="replace")[-4000:])
            print(f"run failed with exit code {child.returncode}",
                  file=sys.stderr)
            return 1
        print("\n".join(lines), flush=True)
        return 0
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
