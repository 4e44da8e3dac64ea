#!/usr/bin/env python3
"""Build artifacts/BENCH_sf1.json (the 10x scale-trend artifact) from one full Bench
session at /tmp/sf1 plus the round's BENCH_MEDIANS best_of_both at sf0.1.
Usage: bench_sf1.py sf1_session.json BENCH_MEDIANS_rN.json out.json [notes.json]
notes.json may carry protocol/conclusion/annotations and any carried-over
keys (e.g. the hot-bucket stress block)."""
import json, sys

sf1 = json.load(open(sys.argv[1]))
med = json.load(open(sys.argv[2]))["best_of_both"]
assert not sf1.get("filtered"), "need a FULL sf1 session"
q1 = sf1["medians"]
common = sorted(set(q1) & set(med))
slopes = {k: round(q1[k] / med[k], 2) for k in common if med[k] > 0}
out = {
    "protocol": "",
    "sf1_total_sec": round(sum(sf1["queries"].values()), 3),
    "sf1_median_total_sec": round(sum(q1.values()), 3),
    "sf01_best_total_sec": round(sum(med[k] for k in common), 3),
    "queries_sf1": q1,
    "queries_sf01_best_of_2_sessions": med,
    "slopes_10x": slopes,
    "slopes_gt2x_precedented": {k: v for k, v in sorted(
        slopes.items(), key=lambda kv: -kv[1]) if v > 2.0},
    "conclusion": "",
}
if "aux" in sf1:
    out["aux_sf1"] = sf1["aux"]
if "probe_start_sec" in sf1:
    out["probe_sf1"] = {"start_sec": sf1["probe_start_sec"],
                        "end_sec": sf1["probe_end_sec"]}
if len(sys.argv) > 4:
    out.update(json.load(open(sys.argv[4])))
json.dump(out, open(sys.argv[3], "w"), indent=1)
tot_ratio = out["sf1_median_total_sec"] / max(out["sf01_best_total_sec"], 1e-9)
print(f"wrote {sys.argv[3]}: sf1 median total {out['sf1_median_total_sec']}s, "
      f"10x ratio {tot_ratio:.2f}, slopes>2x: {list(out['slopes_gt2x_precedented'])}")
