"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload catalog --seed 1 --seconds 8 --trace 0

Each run is a fresh worker process (``worker.py``) with its own state
dir, ``SPARK_LOCAL_DIRS`` and temp dir under ``.perfbench/`` in the
repository, so no cache of the engine survives from one run to the next.
The worker gets ``SPARK_GRAFT_CPUS`` = the CPUs this process may use;
every other engine setting stays at its default. ``--trace 1`` adds the
spans, Spark job counts and the Spark event log.

Prints a human-readable summary line, then, as the last line, the JSON
result with the end-to-end metrics (``--trace 0``) or the per-layer ones
(``--trace 1``). The full run record (both metric sets, settings,
failures) is kept in ``.perfbench/out/``. Exits non-zero without a
result if the run cannot complete.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("catalog", "batch")
RUN_TIMEOUT_S = 150.0      # with the stop below, a run ends within 180 s
STOP_WAIT_S = 10.0


def _session_pids(sid: int) -> list[int]:
    """Live processes of session ``sid``. The worker starts its own
    session, and every process Spark forks stays in it (the Python
    worker daemon changes its process group, not its session)."""
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(f[3]) == sid and f[0] != "Z":
            out.append(int(d))
    return out


def _stop_session(sid: int) -> None:
    for sig in (signal.SIGTERM, signal.SIGKILL):
        pids = _session_pids(sid)
        for p in pids:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + STOP_WAIT_S
        while pids and time.monotonic() < deadline:
            time.sleep(0.1)
            pids = _session_pids(sid)
        if not pids:
            return


def _child_env(root: str, work: str, trace: bool) -> dict:
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_")
           and k not in ("PYSPARK_SUBMIT_ARGS", "SPARK_LOCAL_DIRS",
                         "JAVA_TOOL_OPTIONS")}
    tmp = os.path.join(work, "tmp")
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    env["TMPDIR"] = tmp
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    # Every JVM (the spark-submit launcher too) keeps its temp files in
    # the run dir and writes no perf-data file to the system temp dir.
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # the event log is on in the traced run alone, via launch-time confs
    submit = []
    if trace:
        submit += ["--conf", "spark.eventLog.enabled=true",
                   "--conf", "spark.eventLog.compress=false",
                   "--conf", "spark.eventLog.dir=file://"
                   + os.path.join(work, "events")]
    env["PYSPARK_SUBMIT_ARGS"] = shlex.join(submit + ["pyspark-shell"])
    return env


def _result(record: dict) -> dict:
    metrics = record["end_to_end" if not record["trace"] else "per_layer"]
    failed, attempted = record["failed"], record["attempted"]
    return {
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "tmdb_sync_spark",
                                        "__init__.py"))
            and os.path.isfile(os.path.join(root, "bench.py"))):
        print("perfbench: run from the repository root; "
              "tmdb_sync_spark/ or bench.py is missing", file=sys.stderr)
        return 2

    base = os.path.join(root, ".perfbench")
    work = os.path.join(base, f"work-{os.getpid()}")
    out = os.path.join(base, "out")
    for d in ("tmp", "local", "state", "events"):
        os.makedirs(os.path.join(work, d))
    os.makedirs(out, exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    record_path = os.path.join(out, tag + ".json")
    if os.path.exists(record_path):
        os.remove(record_path)
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--state", os.path.join(work, "state"),
           "--events", os.path.join(work, "events"),
           "--record", record_path]
    log_path = os.path.join(out, tag + ".log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log,
                                stderr=subprocess.STDOUT,
                                env=_child_env(root, work, bool(a.trace)),
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            _stop_session(proc.pid)
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not os.path.exists(record_path):
        why = "timed out" if rc is None else f"exit code {rc}"
        with open(log_path, errors="replace") as fh:
            tail = fh.read()[-4000:]
        print(f"perfbench: worker {why}; log {log_path}:\n{tail}",
              file=sys.stderr)
        return 1
    with open(record_path) as fh:
        record = json.load(fh)
    e2e = record["end_to_end"]
    failed, attempted = record["failed"], record["attempted"]
    print(f"{tag}: failed_ratio={failed / max(attempted, 1):.3g} "
          f"({failed}/{attempted}) "
          + " ".join(f"{k}={v:.4g}{u}" for k, (v, u) in e2e.items()))
    print(json.dumps(_result(record)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
