"""Benchmark of the pipeline engine: the paper's JSON config jobs run by
the Orchestrator, and a mix of registry queries.

    python3 perfbench/run.py --workload etl_chain --seed 1 --seconds 5 --trace 0

Run from the repository root. One run:

1. generates the workload's inputs from ``--seed`` (``gen.py``, one
   process) under ``.perfbench_work/<workload>/``, with the expected
   outputs computed by DuckDB;
2. starts the measured process (``workload.py``) and times its set-up:
   from the spawn of the fresh process to a ready session plus a
   constructed ``Orchestrator``;
3. runs a fixed count of operations (``sizes.OPS``), whatever
   ``--seconds`` says: its sampled operations alone outlast the
   ``run_seconds`` of ``BENCHMARK.json``, and a count that followed the
   clock would sample different operations on a fast and a slow host;
4. prints every metric with its unit, then as the last line one JSON
   object with ``correct``, ``attempted``, ``failed`` and ``metrics``
   (end-to-end metrics with ``--trace 0``, per-layer ones with
   ``--trace 1``).

It exits non-zero, without the JSON line, when an operation fails or an
output check fails, or when the engine package is not beside it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from stats import median, tail_percentile  # noqa: E402

PACKAGE = "building_and_operating_data_pipelines_at_scale_using_ci_cd_spark"
WORKLOADS = ("etl_chain", "query_mix")
#: a child that has not finished by then is killed and the run fails
CHILD_TIMEOUT_S = 150

END_TO_END_UNITS = {
    "setup_s": "s",
    "first_run_s": "s",
    "run_s": "s",
    "rows_per_s": "rows/s",
    "write_amp": "ratio",
}


def _env(work: str) -> dict:
    """Environment of the measured processes: Spark's scratch space, temp
    files and Python workers' import path all stay inside the checkout."""
    env = dict(os.environ)
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    env["PYTHONPATH"] = ROOT + (os.pathsep + env["PYTHONPATH"] if env.get("PYTHONPATH") else "")
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["TMPDIR"] = os.path.join(work, "tmp")
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_<user>
    env["SPARK_SUBMIT_OPTS"] = (env.get("SPARK_SUBMIT_OPTS", "")
                                + f" -Djava.io.tmpdir={env['TMPDIR']} -XX:-UsePerfData").strip()
    env.pop("SPARK_GRAFT_CPUS", None)
    return env


def _child(args: list[str], work: str, log: str) -> tuple[float | None, dict | None, int]:
    """Run ``workload.py`` and time spawn → READY. Returns (set-up seconds,
    the RESULT payload, exit code); either of the first two is None if the
    child never printed it. The child runs in its own process group so a
    timeout takes its JVM down with it."""
    cmd = [sys.executable, os.path.join(HERE, "workload.py"), "--work", work, *args]
    got: dict = {}

    def read(proc, t0):
        for raw in proc.stdout:
            line = raw.decode(errors="replace").rstrip("\n")
            if line == "READY":
                got["setup"] = time.perf_counter() - t0
            elif line.startswith("RESULT "):
                got["result"] = json.loads(line[len("RESULT "):])

    with open(log, "ab") as err:
        t0 = time.perf_counter()
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, cwd=work,
                                env=_env(work), start_new_session=True)
        reader = threading.Thread(target=read, args=(proc, t0), daemon=True)
        reader.start()
        try:
            proc.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            pass
        finally:
            _stop_group(proc)
        reader.join(timeout=10)
    return got.get("setup"), got.get("result"), proc.returncode


def _stop_group(proc) -> None:
    """Kill whatever is left of the child's process group (its JVM can
    outlive it) and wait until every member has ended."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    for _ in range(200):
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the host's CPUs so far. Steal is time the
    hypervisor gave the host's CPUs to other guests; it slows every
    timing, so each run prints its share to explain outliers."""
    try:
        with open("/proc/stat") as fh:
            fields = [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return (fields[7] if len(fields) > 7 else 0), sum(fields[:8])


def end_to_end(setup: float, res: dict) -> dict:
    return {
        "setup_s": setup,
        "first_run_s": res["first_s"],
        "run_s": median(res["warm_s"]),
        "rows_per_s": res["rows_per_s"],
        "write_amp": res["write_amp"],
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="accepted; the operation count is fixed (see sizes.py)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)) or not os.path.exists(
        os.path.join(ROOT, "__spark_entry__.py")
    ):
        print(f"perfbench: the engine package ({PACKAGE}) is not beside the benchmark", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    log = os.path.join(work, "spark.log")
    t_gen = time.perf_counter()
    gen = subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), "--workload", a.workload,
                          "--seed", str(a.seed), "--out", work], cwd=work, env=_env(work))
    if gen.returncode != 0:
        print("perfbench: input generation failed", file=sys.stderr)
        return 1

    print(f"perfbench timing: inputs {time.perf_counter() - t_gen:.1f}s", file=sys.stderr)
    t_main = time.perf_counter()
    steal0, total0 = _cpu_ticks()
    setup, res, rc = _child(["--workload", a.workload, "--trace", str(a.trace)], work, log)
    steal1, total1 = _cpu_ticks()
    steal = (steal1 - steal0) / (total1 - total0) if total1 > total0 else 0.0
    print(f"perfbench timing: measured process {time.perf_counter() - t_main:.1f}s", file=sys.stderr)
    if rc != 0 or res is None or setup is None:
        print(f"perfbench: measured process exited {rc}; see {log}", file=sys.stderr)
        return 1

    print(f"workload {a.workload} seed {a.seed}: {res['attempted']} operations, "
          f"{res['failed']} failed; ramp (s): {' '.join(f'{x:.3f}' for x in res['ramp_s'])}; "
          f"warm samples (s): {' '.join(f'{x:.3f}' for x in res['warm_s'])}")
    for prob in res["problems"]:
        print(f"  FAILED {prob}")
    if res["failed"] or res["first_s"] is None or not res["warm_s"]:
        return 1
    e2e = end_to_end(setup, res)
    for k, v in e2e.items():
        print(f"  {k:<12} {v:>14.6g} {END_TO_END_UNITS[k]}")
    print(f"  {'fail_ratio':<12} {res['failed'] / res['attempted']:>14.6g} ratio")
    print(f"  {'failed_tasks':<12} {res['failed_tasks']:>14d} count")
    print(f"  {'host_steal':<12} {steal:>14.6g} ratio (CPU time taken by other guests)")
    p, v, n = tail_percentile(res["warm_s"])
    print("  run_s tail   " + (f"p{p} = {v:.6g} s over {n} samples" if p else f"none: {n} samples < 11"))

    if a.trace:
        layers = res["layers"]
        for k in sorted(layers):
            print(f"  {k:<40} {layers[k]:>14.6g}")
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(layers.items())}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": True, "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))
    return 0


def unit_of(name: str) -> str:
    """Unit of a per-layer metric, from its name."""
    if name.endswith("_ms"):
        return "ms"
    if name.endswith(("_s", ".s")):
        return "s"
    if "bytes" in name:
        return "B"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_share", "core_busy")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
