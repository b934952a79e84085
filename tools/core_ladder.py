"""Full core ladder for the strong-scaling criterion.

Runs the IDENTICAL validation job (same input, same code,
`scaling_run.run_one` — fresh JVM per leg, 3 passes, best warm wall) at
every core count in LADDER_CORES, and derives every N->4N efficiency pair
the ladder contains.  Attempts merge across invocations (the host throttle
varies on an hours scale; per-core best-of-merged picks each leg's
least-throttled observation).

Why a ladder instead of one pair: the north rule says "N and 4N executors"
without fixing N.  On this single-socket box the 16/32-core legs are bound
by the shared memory system (documented since round 2; the round-5 kernel
speedup cut the 4-core wall 19% and the 16-core wall ~1%), so the measured
N->4N ratio depends strongly on where N sits relative to the DRAM wall.
The ladder shows the whole curve — where scaling is near-ideal, where the
box saturates — which is both the honest presentation and the one that
transfers to the criterion's real regime (4N executors on a cluster add
DRAM channels with every node; a single socket cannot).

Provenance (round-6): every attempt is stamped at append time with the
Spark-pilot throughput observed immediately before the leg (`pilot_tps`)
and the derived `clean` flag (tps >= spark_pilot.min_tps()) — the r5
ladders mixed gated and ungated attempts indistinguishably, which let a
throttled 32-core sample publish an unqualified 8->32 number.  The report
now derives TWO pair dicts: ``efficiency_N_to_4N`` from clean-stamped legs
only (both legs must have >= 1 clean sample; attempts without a stamp —
all pre-r6 data — never qualify), and ``efficiency_N_to_4N_any`` from the
unconditional best-of-merged, carrying a per-pair cleanliness annotation.
Set LADDER_PILOT=0 to skip the per-leg pilot (attempts then get
``clean: null`` and stay out of the qualified dict).

Weak scaling (round-6): LADDER_WEAK=1 sizes the input to the core count
(LADDER_CONVS_PER_CORE convs per core, default 300000 ~ 7.65M turns/core)
so every leg runs comparable wall time — the regime that maps to the
10^12-turn cluster target where data grows with the cluster.  Ideal weak
scaling is equal tps-per-core at every width; the report adds
``tps_per_core`` per leg.

The partial record is rewritten after EVERY leg so a deadline kill loses
nothing.

Env: LADDER_CORES (default "1,2,4,8,16,32"), LADDER_N_CONVS (default
1200000), SCALING_PROFILE (realistic|adversarial, default realistic since
r6 — the adversarial profile's 38%-disorder turned out to be a synth
artifact, NOTES_ROUND5.md; it remains available as the violation-sink
stress series), SCALING_PASSES (default 3, reaches the worker),
LADDER_PILOT (default 1), LADDER_WEAK, LADDER_CONVS_PER_CORE.
Output: BENCH/scaling_ladder[_weak][_convs{N}][_{profile}].json
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from scaling_run import REPO, alu_probe, run_one  # noqa: E402
from spark_pilot import min_tps, run_subprocess_pilot  # noqa: E402


def _best(attempts_for_core: list, clean_only: bool) -> dict | None:
    pool = [a for a in attempts_for_core
            if not clean_only or a.get("clean") is True]
    return min(pool, key=lambda r: r["wall_s"]) if pool else None


def _pairs(best: dict[str, dict], weak: bool) -> dict:
    out = {}
    for c_str, lo in sorted(best.items(), key=lambda kv: int(kv[0])):
        hi = best.get(str(int(c_str) * 4))
        if hi:
            # strong: same input, ideal tps_hi = 4*tps_lo.  weak: 4x input on
            # 4x cores, ideal is ALSO tps_hi = 4*tps_lo (equal walls) — same
            # formula either way.
            out[f"{c_str}->{int(c_str) * 4}"] = round(
                hi["turns_per_sec"] / lo["turns_per_sec"] / 4.0, 3)
    return out


def _report(attempts: dict[str, list], n_convs: int, profile: str,
            weak: bool, convs_per_core: int) -> dict:
    best_clean = {c: b for c in attempts
                  if (b := _best(attempts[c], clean_only=True))}
    best_any = {c: b for c in attempts
                if (b := _best(attempts[c], clean_only=False))}
    any_pairs = {}
    for pair, eff in _pairs(best_any, weak).items():
        lo_c, hi_c = pair.split("->")
        qual = ("clean" if lo_c in best_clean and hi_c in best_clean
                else "UNQUALIFIED: leg(s) without a clean pilot stamp: "
                + ",".join(c for c in (lo_c, hi_c) if c not in best_clean))
        any_pairs[pair] = {"efficiency": eff, "window": qual}
    rep = {
        "n_convs": n_convs,
        "input_profile": profile,
        "weak_scaling": weak,
        "pilot_min_tps": min_tps(),
        "protocol": ("weak scaling (input ~ cores, "
                     f"{convs_per_core} convs/core), " if weak else "")
        + "fresh JVM per leg, best warm wall of SCALING_PASSES, "
          "merged across invocations; efficiency_N_to_4N uses clean-"
          "pilot-stamped legs only, *_any is best-of-all with per-pair "
          "cleanliness annotation",
        "best_clean": {c: best_clean[c] for c in sorted(best_clean, key=int)},
        "best_any": {c: best_any[c] for c in sorted(best_any, key=int)},
        "efficiency_N_to_4N": _pairs(best_clean, weak),
        "efficiency_N_to_4N_any": any_pairs,
        "attempts": {c: attempts[c] for c in sorted(attempts, key=int)},
    }
    if weak:
        rep["tps_per_core_clean"] = {
            c: round(b["turns_per_sec"] / int(c), 1)
            for c, b in rep["best_clean"].items()}
        rep["tps_per_core_any"] = {
            c: round(b["turns_per_sec"] / int(c), 1)
            for c, b in rep["best_any"].items()}
    return rep


def _pilot_stamp() -> tuple[float | None, bool | None]:
    """One fresh-JVM Spark pilot; (tps, clean) or (None, None) on failure."""
    try:
        rec = run_subprocess_pilot()
        tps = float(rec.get("tps", 0.0))
        return tps, tps >= min_tps()
    except Exception as e:  # noqa: BLE001 — a failed probe must not kill the leg
        print(f"pilot failed: {type(e).__name__}", flush=True)
        return None, None


def main() -> None:
    cores = [int(c) for c in os.environ.get("LADDER_CORES", "1,2,4,8,16,32").split(",")]
    weak = os.environ.get("LADDER_WEAK", "0") == "1"
    convs_per_core = int(os.environ.get("LADDER_CONVS_PER_CORE", "300000"))
    n_convs = int(os.environ.get("LADDER_N_CONVS", "1200000"))
    # setdefault so the WORKER subprocess (which reads the same env var for
    # the synth profile + parquet path tag) sees the identical default
    profile = os.environ.setdefault("SCALING_PROFILE", "realistic")
    do_pilot = os.environ.get("LADDER_PILOT", "1") == "1"
    fname = "scaling_ladder"
    if weak:
        fname += "_weak"
    if not weak and n_convs != 1_200_000:
        fname += f"_convs{n_convs}"
    if profile != "adversarial":
        fname += f"_{profile}"
    out_path = os.path.join(REPO, "BENCH", fname + ".json")

    attempts: dict[str, list] = {}
    if os.path.exists(out_path):
        try:
            with open(out_path) as f:
                prev = json.load(f)
            if (prev.get("n_convs") == n_convs
                    and bool(prev.get("weak_scaling")) == weak
                    and prev.get("input_profile", "adversarial") == profile):
                attempts = prev.get("attempts", {})
        except (json.JSONDecodeError, KeyError):
            pass

    for cpus in cores:
        pilot_tps, clean = _pilot_stamp() if do_pilot else (None, None)
        probe = alu_probe()
        leg_convs = convs_per_core * cpus if weak else n_convs
        res = run_one(cpus, leg_convs)
        res["probe_sec"] = probe
        res["pilot_tps"] = pilot_tps
        res["clean"] = clean
        attempts.setdefault(str(cpus), []).append(res)
        print(f"ladder local[{cpus}]:", json.dumps(res), flush=True)
        with open(out_path, "w") as f:
            json.dump(_report(attempts, n_convs, profile, weak, convs_per_core),
                      f, indent=2)

    print(json.dumps(_report(attempts, n_convs, profile, weak, convs_per_core)))


if __name__ == "__main__":
    main()
