#!/usr/bin/env python3
"""Build artifacts/BENCH_sf1_lowmem.json (round-15 verdict task 2: demonstrate the
reference's bounded-peak-memory north star as a MEASUREMENT) from two
same-epoch FULL sf1 Bench sessions: one at the standard 8 GiB heap, one
at a deliberately HALVED 4 GiB heap (off-heap 4 GiB and
shuffle.partitions=32 unchanged in both). The claim under test: every
query completes under the constrained bound, degrading by spill rather
than failing — completion + per-query spill bytes + wall ratio are the
evidence.
Usage: bench_lowmem.py full8g.json lowmem4g.json out.json [notes.json]"""
import json, sys

full = json.load(open(sys.argv[1]))
low = json.load(open(sys.argv[2]))
assert not full.get("filtered") and not low.get("filtered"), \
    "need FULL sessions"
mf, ml = full["medians"], low["medians"]
assert set(mf) == set(ml), sorted(set(mf) ^ set(ml))
failed = sorted(k for k, v in ml.items() if v < 0)
ratios = {k: round(ml[k] / mf[k], 2) for k in mf if mf[k] > 0 and ml[k] >= 0}
out = {
    "protocol": "",
    "heap_full_mb": full.get("mem", {}).get("heap_max_mb"),
    "heap_lowmem_mb": low.get("mem", {}).get("heap_max_mb"),
    "completed": len([k for k in ml if ml[k] >= 0]),
    "failed": failed,
    "median_total_full_sec": round(sum(mf.values()), 3),
    "median_total_lowmem_sec": round(sum(v for v in ml.values() if v >= 0), 3),
    "wall_ratio_lowmem_over_full": round(
        sum(v for v in ml.values() if v >= 0) /
        max(sum(mf[k] for k in ml if ml[k] >= 0), 1e-9), 3),
    "per_query_ratio_desc": dict(
        sorted(ratios.items(), key=lambda kv: -kv[1])),
    "medians_full": mf,
    "medians_lowmem": ml,
    "peak_rss_mb": {"full": full.get("mem", {}).get("peak_rss_mb"),
                    "lowmem": low.get("mem", {}).get("peak_rss_mb")},
    "spill_full": full.get("mem", {}).get("spill", {}),
    "spill_lowmem": low.get("mem", {}).get("spill", {}),
}
for leg, d in (("full", full), ("lowmem", low)):
    if "probe_start_sec" in d:
        out[f"probe_{leg}"] = {"start_sec": d["probe_start_sec"],
                               "end_sec": d["probe_end_sec"]}
if len(sys.argv) > 4:
    out.update(json.load(open(sys.argv[4])))
json.dump(out, open(sys.argv[3], "w"), indent=1)
print(f"wrote {sys.argv[3]}: {out['completed']} completed, failed={failed}, "
      f"wall ratio {out['wall_ratio_lowmem_over_full']}x, "
      f"lowmem spillers={sorted(out['spill_lowmem'])}")
