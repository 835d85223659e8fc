"""The repository benchmark: one closed-loop workload run, one client, one process.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

Run from the repository root. Each run starts a fresh worker process with
its own temp, Spark-local and spool directories under ``.perfbench/``, all
removed afterwards; it generates its tables from ``--seed``, times whole
passes of the workload for at least ``--seconds``, checks every result and
prints, as its last stdout line, ``{"correct", "attempted", "failed",
"metrics"}``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. The line before it carries the details: every
metric with its sample count, the workload's own metric names, the machine
identity, the failures and where the run's inputs and spans were written.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = os.path.join(ROOT, "manipula_o_de_dataframes_spark")
RUN_TIMEOUT_S = 150


def metric_names() -> tuple[list[str], dict[str, str]]:
    """End-to-end metric names and per-layer units, as ``BENCHMARK.json`` lists them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return [m["name"] for m in spec["end_to_end"]], {m["name"]: m["unit"] for m in spec["per_layer"]}


def _group_alive(pgid: int) -> list[int]:
    """Pids of the live (not zombie) processes in process group ``pgid``."""
    alive = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            alive.append(int(entry))
    return alive


def _stop_group(pgid: int, grace_s: float = 10.0) -> None:
    """Wait for every process of the worker's group (the JVM included) to
    end; kill what is left after ``grace_s``."""
    deadline = time.monotonic() + grace_s
    while _group_alive(pgid):
        if time.monotonic() > deadline:
            for pid in _group_alive(pgid):
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)
            if time.monotonic() > deadline + grace_s:
                raise RuntimeError(f"processes of group {pgid} survived SIGKILL")
        time.sleep(0.2)


def run_worker(args, work: str) -> dict:
    for sub in ("tmp", "local", "spool"):
        os.makedirs(os.path.join(work, sub))
    tmp = os.path.join(work, "tmp")
    env = dict(os.environ)
    env.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_GRAFT_SPOOL_DIR=os.path.join(work, "spool"),
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        # Fixed string hashing, so Python-side set and dict orders replay too.
        PYTHONHASHSEED="0",
        # Every JVM (spark-submit's launcher too) keeps its temp files in the
        # run directory and writes no perf-data file to /tmp.
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYSPARK_SUBMIT_ARGS="--conf spark.ui.showConsoleProgress=false pyspark-shell",
    )
    out = os.path.join(work, "result.json")
    log = os.path.join(work, "worker.log")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--root", ROOT, "--out", out,
    ] + (["--sf", str(args.sf)] if args.sf else [])
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=fh, stderr=subprocess.STDOUT,
                                start_new_session=True)
        code = None
        try:
            code = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:
            # On a timeout, a failure or our own termination the JVM may
            # still run: kill the whole group before waiting for it.
            if code != 0:
                with contextlib.suppress(ProcessLookupError):
                    os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
            _stop_group(proc.pid)
    if code != 0 or not os.path.isfile(out):
        with open(log) as fh:
            tail = fh.read()[-4000:]
        raise RuntimeError(f"worker exited with {code}:\n{tail}")
    with open(out) as fh:
        return json.load(fh)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, help="scale factor override for dry runs (default: the workload's)")
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(ENGINE):
        print(f"perfbench: engine package not found at {ENGINE}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}-{time.time_ns()}")
    try:
        res = run_worker(args, work)
    except RuntimeError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    # Keep the resolved inputs and spans beside the checkout so any run can
    # be inspected and replayed from its seed.
    os.makedirs(os.path.join(base, "out"), exist_ok=True)
    record = os.path.join(base, "out", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(record, "w") as fh:
        json.dump(res, fh, indent=1)

    end_to_end, per_layer = metric_names()
    if args.trace:
        metrics = {k: {"value": float(res["layers"][k]), "unit": u} for k, u in per_layer.items()}
    else:
        metrics = {k: {"value": res["metrics"][k]["value"], "unit": res["metrics"][k]["unit"]} for k in end_to_end}
    details = {
        key: res[key]
        for key in ("workload", "machine", "metrics", "workload_metrics", "failed_share", "details")
    }
    details["failures"] = res["failures"][:20]
    details["record"] = os.path.relpath(record, ROOT)
    print(json.dumps(details))
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
