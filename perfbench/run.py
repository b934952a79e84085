"""Benchmark entry point for the validation engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

One run measures one workload in one fresh Spark session (``local[nproc]``),
driven as a closed loop by a single client: each iteration starts only after
the previous one's outputs were fully materialized.  This process is the
supervisor.  It starts ``perfbench/session_run.py`` in a new process session
(the Python driver, the JVM and every ``pyspark.daemon`` worker end up in
it), enforces the time limit on that whole session, and fails if anything
the run started outlives it.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end metrics
of BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``.  The lines before it give every measured number for people,
with units and sample counts.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from procs import LeftoverProcessError, kill_session, wait_session_exit  # noqa: E402

# The whole command must end within 180 s; the measured child gets this much.
CHILD_TIMEOUT_S = 160.0
# How long processes of the run may take to exit after the child returned.
EXIT_GRACE_S = 10.0


class RunTimeoutError(RuntimeError):
    """The measured run exceeded its time limit; its processes were killed."""


class RunFailedError(RuntimeError):
    """The measured run ended without a result."""


def run_child(args, work: str) -> dict:
    """Run the measured session in its own process session; return its result."""
    result_path = os.path.join(work, "result.json")
    env = dict(os.environ)
    # Spark's Python workers import the program from any working directory
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(env["TMPDIR"])
    # every JVM (the spark-submit launcher too): temp files inside the run's
    # directory, and no hsperfdata file under /tmp
    env["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, (
        env.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={env['TMPDIR']}", "-XX:-UsePerfData")))
    cmd = [sys.executable, os.path.join(HERE, "session_run.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--result", result_path]
    cmd += ["--tiny"] * args.tiny + ["--plant-wrong-count"] * args.plant_wrong_count
    child = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                             stdout=sys.stderr, start_new_session=True)
    try:
        child.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        kill_session(child.pid)
        child.wait()
        wait_session_exit(child.pid, EXIT_GRACE_S)
        raise RunTimeoutError(f"run exceeded {CHILD_TIMEOUT_S:.0f}s and was killed") from None
    wait_session_exit(child.pid, EXIT_GRACE_S)
    if child.returncode != 0:
        raise RunFailedError(f"measured run exited with code {child.returncode}")
    with open(result_path) as f:
        return json.load(f)


def report(workload: str, trace: int, res: dict) -> None:
    """Every measured number by name, with its unit and sample count."""
    print(f"# {workload} trace={trace} attempted={res['attempted']} failed={res['failed']} "
          f"failed_ratio={res['failed'] / res['attempted']:.4f} correct={res['correct']}")
    for name, m in sorted(res["metrics"].items()):
        n = res["samples"].get(name)
        print(f"#   {name:34s} {m['value']:>14.6g} {m['unit']:7s}" + (f" n={n}" if n else ""))
    for line in res["notes"]:
        print(f"#   {line}")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="self-test input sizes (a few hundred conversations)")
    ap.add_argument("--plant-wrong-count", action="store_true",
                    help="self-test: corrupt one expected value; the output check must fail")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "anomaly_detector_spark")):
        print(f"error: the program (anomaly_detector_spark/) is not in {ROOT}", file=sys.stderr)
        return 2

    runs_dir = os.path.join(HERE, ".work")
    os.makedirs(runs_dir, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=runs_dir)
    try:
        res = run_child(args, work)
    except (LeftoverProcessError, RunTimeoutError, RunFailedError, OSError, ValueError) as e:
        print(f"error: {type(e).__name__}: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(runs_dir)  # unless another run is using it
        except OSError:
            pass

    declared = spec["per_layer"] if args.trace else spec["end_to_end"]
    for m in declared:
        got = res["metrics"].get(m["name"])
        if got is None or got["unit"] != m["unit"]:
            print(f"error: metric {m['name']} [{m['unit']}] not measured: {got}", file=sys.stderr)
            return 1
    report(args.workload, args.trace, res)
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"],
                      "metrics": {m["name"]: res["metrics"][m["name"]] for m in declared}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
