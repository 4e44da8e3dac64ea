#!/usr/bin/env python3
"""Build artifacts/BENCH_sf10.json (the 100x-gate-scale slope artifact, round-15
verdict task 1) from two SAME-SESSION-EPOCH filtered Bench runs of the
worst-slope family: one at /tmp/sf1, one at /tmp/sf10 (ScaleUp-derived,
10x of sf1). Slopes are computed within this pair — same binary, same
machine epoch, drift probe recorded in both legs — rather than against
the round-14 sf1 numbers, so an environment shift between rounds cannot
alias into a "compounding slope" verdict.
Usage: bench_sf10.py fam_sf1.json fam_sf10.json out.json [notes.json]"""
import json, sys

a = json.load(open(sys.argv[1]))   # sf1 leg
b = json.load(open(sys.argv[2]))   # sf10 leg
m1, m10 = a["medians"], b["medians"]
assert set(m1) == set(m10), sorted(set(m1) ^ set(m10))
slopes = {k: round(m10[k] / m1[k], 2) for k in m1 if m1[k] > 0}
out = {
    "protocol": "",
    "family": sorted(m1),
    "sf1_median_sec": m1,
    "sf10_median_sec": m10,
    "slopes_sf1_to_sf10": dict(sorted(slopes.items(), key=lambda kv: -kv[1])),
    "sf1_leg_total_sec": round(sum(m1.values()), 3),
    "sf10_leg_total_sec": round(sum(m10.values()), 3),
}
for leg, d in (("sf1", a), ("sf10", b)):
    if "probe_start_sec" in d:
        out[f"probe_{leg}"] = {"start_sec": d["probe_start_sec"],
                               "end_sec": d["probe_end_sec"]}
    if "maxs" in d:
        out[f"spread_{leg}"] = {k: [d["queries"][k], d["maxs"][k]]
                                for k in d["maxs"]}
    if "mem" in d:
        out[f"mem_{leg}"] = d["mem"]
    if "aux" in d:
        out[f"aux_{leg}"] = d["aux"]
    # direct environment counters per probe segment (round-18: Bench
    # emits them; a slope adjudication cites these, not just the probe).
    # Apply the SAME healthy-band flagging as bench_medians.py (foreign
    # CPU > 10%, steal > 2%, iowait > 10%) so an unhealthy leg is
    # surfaced in the artifact, not left for an adjudicator to eyeball
    # raw fractions (round-18 review finding).
    if "env_segments" in d:
        out[f"env_{leg}"] = d["env_segments"]
        flagged = [s for s in d["env_segments"]
                   if s.get("foreign_cpu_frac", 0) > 0.10
                   or s.get("steal_frac", 0) > 0.02
                   or s.get("iowait_frac", 0) > 0.10]
        out[f"env_flagged_segments_{leg}"] = flagged
        if flagged:
            print(f"[bench-sf10] WARNING {leg} leg: {len(flagged)} probe "
                  f"segment(s) outside the healthy environment band: "
                  f"{flagged}")
if len(sys.argv) > 4:
    out.update(json.load(open(sys.argv[4])))
json.dump(out, open(sys.argv[3], "w"), indent=1)
print(f"wrote {sys.argv[3]}; slopes sf1->sf10: "
      + ", ".join(f"{k}={v}" for k, v in out["slopes_sf1_to_sf10"].items()))
