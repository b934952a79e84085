"""Self-tests of the benchmark: one tiny run of each workload.

    python3 -m pytest perfbench -q

Each run starts a real Spark session (under a minute each on 4 cores).  The
tests check that every declared metric is printed with its unit, that a
planted wrong expected value fails the output check, and that no process of
a run is alive after the command exits.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
import uuid

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import layers  # noqa: E402
from procs import LeftoverProcessError, wait_session_exit  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def marked_processes(marker: bytes) -> dict[int, str]:
    """Live processes whose environment holds ``marker`` -> their command name."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/environ", "rb") as f:
                if marker not in f.read().split(b"\0"):
                    continue
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read().decode(errors="replace")
        except OSError:
            continue
        if stat[stat.rindex(")") + 2] != "Z":
            out[int(name)] = stat[stat.index("(") + 1:stat.rindex(")")]
    return out


def bench(*args: str, cwd: str = ROOT) -> tuple[int, list[str], dict | None]:
    """Run the benchmark command; return its exit code, its stdout lines and
    the parsed last line.  Every process the command starts inherits a
    marker in its environment (the JVM and the ``pyspark.daemon`` workers
    too).  Asserts that no process carrying the marker is alive once the
    command has exited, and that a run which started Spark was seen with a
    marked ``java`` process while it ran, so the check can see the JVM."""
    marker = f"PERFBENCH_TEST_MARKER={uuid.uuid4().hex}".encode()
    env = dict(os.environ, PERFBENCH_TEST_MARKER=marker.split(b"=")[1].decode())
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args]
    seen: set[str] = set()
    with tempfile.TemporaryFile("w+") as out:
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.DEVNULL,
                                text=True)
        deadline = time.monotonic() + 240
        while proc.poll() is None:
            assert time.monotonic() < deadline, "the benchmark command did not end in 240 s"
            seen.update(marked_processes(marker).values())
            time.sleep(0.2)
        alive = marked_processes(marker)
        out.seek(0)
        lines = out.read().strip().splitlines()
    assert alive == {}, f"processes of the run outlived it: {alive}"
    last = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    if last is not None:
        assert "java" in seen, f"no marked JVM seen while the run ran: {sorted(seen)}"
    return proc.returncode, lines, last


def assert_reports(lines: list[str], last: dict, declared: list[dict]) -> None:
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert set(last["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        assert last["metrics"][m["name"]]["unit"] == m["unit"]
        assert any(f" {m['name']} " in f" {line} " and f" {m['unit']}" in line
                   for line in lines[:-1]), f"{m['name']} not printed with its unit"


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_tiny_run_reports_every_metric(workload):
    trace = "1" if workload == "validate_realistic" else "0"
    rc, lines, last = bench("--workload", workload, "--seed", "1", "--seconds", "1",
                            "--trace", trace, "--tiny")
    assert rc == 0 and last is not None
    assert last["correct"] and last["failed"] == 0 and last["attempted"] >= 2
    assert_reports(lines, last, SPEC["per_layer" if trace == "1" else "end_to_end"])
    if trace == "1":
        text = "\n".join(lines)
        for name in ("kernel.ms_per_series", "drift.arrow_roundtrip_s", "runner.plan_build"):
            assert name in text
        with open(os.path.join(HERE, "traces", f"{workload}-seed1.json")) as f:
            spans = json.load(f)["spans"]
        assert {"start", "end", "parent", "iteration"} <= set(spans[0])
        assert any(s["name"] == "runner.plan_build" and s["parent"] is not None for s in spans)


# workload -> what the planted value corrupts, as a failed operation names it
PLANTED = {"validate_realistic": "uniqueness",
           "operator_battery": "q1_pricing_summary"}


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_planted_wrong_count_fails_the_check(workload):
    rc, lines, last = bench("--workload", workload, "--seed", "1", "--seconds", "1",
                            "--tiny", "--plant-wrong-count")
    assert rc == 0 and last is not None
    assert not last["correct"] and last["failed"] >= 2
    assert any(PLANTED[workload] in line and "FAILED" in line for line in lines)


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "traces", "__pycache__"))
    t0 = time.monotonic()
    rc, lines, last = bench("--workload", "validate_realistic", "--seed", "1",
                            "--seconds", "1", cwd=str(tmp_path))
    assert rc != 0 and last is None
    assert time.monotonic() - t0 < 30


def test_leftover_process_is_named_and_killed():
    proc = subprocess.Popen(["sleep", "30"], start_new_session=True)
    try:
        with pytest.raises(LeftoverProcessError, match="sleep 30"):
            wait_session_exit(proc.pid, 0.2)
        assert proc.wait(timeout=5) == -9
    finally:
        proc.kill()


def test_self_time_subtracts_children():
    tracer = layers.Tracer(enabled=True)
    with tracer.span("outer"):
        with tracer.span("inner"):
            time.sleep(0.05)
        time.sleep(0.02)
    self_t = tracer.self_times()
    assert 0.015 < self_t["outer"][0] < 0.05 and self_t["inner"][0] >= 0.05
