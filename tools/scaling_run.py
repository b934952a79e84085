"""Two-parallelism scaling run: the same validation job at local[N] and
local[4N] on the same input, reporting throughput at both plus scaling
efficiency = (T_4N / T_N) / 4 — the sandbox proxy for the north rule's
N -> 4N executor criterion.

Each measurement runs in a fresh subprocess (own JVM) so the sessions don't
share executors.  Results are appended to BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WORKER = r"""
import json, os, sys, time
sys.path.insert(0, %(repo)r)
from anomaly_detector_spark.session import get_spark
from anomaly_detector_spark.data import synth_transcripts, synth_registry
from anomaly_detector_spark.engine.runner import run_validation

cpus = int(sys.argv[1])
n_convs = int(sys.argv[2])
spark = get_spark(app_name=f"scaling-{cpus}", master=f"local[{cpus}]",
                  shuffle_partitions=max(cpus * 2, 16))
spark.sparkContext.setLogLevel("ERROR")
profile = os.environ.get("SCALING_PROFILE", "adversarial")
tag = "" if profile == "adversarial" else f"_{profile}"
path = f"/tmp/scaling_transcripts_{n_convs}{tag}.parquet"
if not os.path.isdir(path):
    synth_transcripts(spark, n_convs=n_convs, seed=42, profile=profile
                      ).write.mode("overwrite").parquet(path)
transcripts = spark.read.parquet(path)
registry = synth_registry(spark, n_convs=n_convs, seed=42)
n_turns = transcripts.count()
# two full passes: the first warms JIT, Python workers, and kernel caches;
# the second is the reported steady-state measurement.  Caches are cleared
# between passes: pass 2 builds plans identical to pass 1, and Spark's
# CacheManager would otherwise substitute pass-1's persisted intermediates
# (the violations union / fused-window rows), timing cache reads instead of
# the pipeline.
n_passes = int(os.environ.get("SCALING_PASSES", "3"))
walls = []
for _ in range(n_passes):
    spark.catalog.clearCache()
    t0 = time.time()
    res = run_validation(spark, transcripts, registry, cache_input=False)
    n_verdicts = res.verdicts.count()
    n_violations = res.violations.count()
    walls.append(time.time() - t0)
    res.release()
# pass 1 warms JIT/workers; the leg's wall is the best WARM pass (the
# least-throttled observation within this JVM)
wall = min(walls[1:]) if len(walls) > 1 else walls[0]
print(json.dumps({"cpus": cpus, "n_turns": n_turns, "wall_s": round(wall, 3), "wall_cold_s": round(walls[0], 3),
                  "walls_s": [round(w, 3) for w in walls],
                  "turns_per_sec": round(n_turns / wall, 1),
                  "n_verdicts": n_verdicts, "n_violations": n_violations}))
"""


def run_one(cpus: int, n_convs: int) -> dict:
    code = WORKER % {"repo": REPO}
    out = subprocess.run(
        [sys.executable, "-c", code, str(cpus), str(n_convs)],
        capture_output=True, text=True, timeout=3000,
    )
    line = [ln for ln in out.stdout.strip().splitlines() if ln.startswith("{")][-1]
    return json.loads(line)


def alu_probe(iters: int = 2_000_000) -> float:
    """Single-core ALU probe — annotates each leg so throttled measurements
    are identifiable.  Delegates to bench.alu_probe (one probe chain, one
    calibration)."""
    sys.path.insert(0, REPO)
    from bench import alu_probe as probe

    return round(probe(iters), 3)


def main() -> None:
    """Interleaved lo/hi legs x ROUNDS; efficiency from per-leg BEST warm
    wall.  The sandbox VM throttles sustained multi-core load unpredictably
    (round-3 observation: the identical local[4] job measured 93s on a clean
    host and 209-264s hours later, on BOTH round-2 and round-3 code), and the
    longer low-parallelism leg absorbs disproportionately more throttling —
    a naive single-pass ratio can land anywhere from 0.47 to a nonsense 1.63.
    Interleaving + best-of-N is the defense: each leg's best pass is its
    least-throttled observation."""
    n_convs = int(os.environ.get("SCALING_N_CONVS", "40000"))
    n_lo = int(os.environ.get("SCALING_N_LO", "8"))
    rounds = int(os.environ.get("SCALING_ROUNDS", "2"))
    # r6: realistic is the default profile for all NEW scaling series (the
    # adversarial synth's 38% turn disorder was a per-row interval bug,
    # NOTES_ROUND5.md — adversarial stays available as the violation-sink
    # stress series).  setdefault so the WORKER subprocess sees the same
    # value for the synth call + parquet path tag.
    os.environ.setdefault("SCALING_PROFILE", "realistic")
    # SCALING_WEAK=1: weak scaling — the 4N leg processes 4x the input, so
    # both legs run comparable wall time and absorb comparable throttling.
    # Efficiency = tps_hi / tps_lo / 4 either way (weak: ideal is equal wall).
    weak = os.environ.get("SCALING_WEAK", "0") == "1"
    n_hi = 4 * n_lo
    convs = {n_lo: n_convs, n_hi: n_convs * 4 if weak else n_convs}
    attempts = {n_lo: [], n_hi: []}
    # the canonical criterion series (1.2M convs / 30.6M turns) lives in
    # scaling.json; other input sizes get their own file so campaigns at a
    # different scale never clobber the headline record
    fname = "scaling.json" if n_convs == 1_200_000 else f"scaling_convs{n_convs}.json"
    if n_lo != 4:
        # a different N->4N pair (e.g. 2->8) is its own series; never let it
        # clobber the historical n_lo=4 records, whose filenames predate this
        fname = fname.replace(".json", f"_lo{n_lo}.json")
    profile = os.environ.get("SCALING_PROFILE", "adversarial")
    if profile != "adversarial":
        fname = fname.replace(".json", f"_{profile}.json")
    out_path = os.path.join(REPO, "BENCH", fname)
    # Leg order alternates between rounds: under the host's burst-credit
    # throttle the SECOND leg of a pair starts with a drained credit bucket,
    # so a fixed lo-first order systematically handicaps the hi leg and
    # deflates measured efficiency.  Alternation gives both legs first-slot
    # samples; per-leg best then picks each leg's least-throttled
    # observation.  SCALING_ORDER=hi_first starts with the hi leg.
    order = (n_lo, n_hi)
    if os.environ.get("SCALING_ORDER", "lo_first") == "hi_first":
        order = (n_hi, n_lo)
    for r in range(rounds):
        for cpus in order:
            probe = alu_probe()
            res = run_one(cpus, convs[cpus])
            res["probe_sec"] = probe
            attempts[cpus].append(res)
            print(f"round {r} local[{cpus}]:", json.dumps(res), flush=True)
        order = order[::-1]
    lo = min(attempts[n_lo], key=lambda a: a["wall_s"])
    hi = min(attempts[n_hi], key=lambda a: a["wall_s"])
    eff = (hi["turns_per_sec"] / lo["turns_per_sec"]) / 4.0
    report = {
        "n_convs": n_convs,
        "input_profile": os.environ.get("SCALING_PROFILE", "adversarial"),
        "weak_scaling": weak,
        f"local{n_lo}": lo,
        f"local{n_hi}": hi,
        "scaling_efficiency_N_to_4N": round(eff, 3),
        "n_lo": n_lo,
        "protocol": ("weak (4x input on 4N, matched leg durations), " if weak else "")
        + f"interleaved x{rounds}, per-leg best warm wall",
        "attempts": {str(k): v for k, v in attempts.items()},
    }
    print(json.dumps(report))
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(out_path, "w") as f:
        json.dump(report, f, indent=2)


if __name__ == "__main__":
    main()
