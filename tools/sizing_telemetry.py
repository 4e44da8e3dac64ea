#!/usr/bin/env python3
"""Distill ExchangeSizingRule decision telemetry from a Bench stderr log
into a JSON artifact (round-16 verdict task 6: "publish the sizing rule's
decision telemetry as a contract").

Input: the stderr of a Bench run executed with
SPARK_GRAFT_SQL_CONFS=spark.graft.sizing.log=true
(decisions print as `[graft-sizing] ... -> Up(n)|Keep|Veto` lines DURING a
query's execution; the `[bench] <name> ...s` completion marker follows the
query, so each sizing line is attributed to the NEXT bench marker).

Output: per-query decision counts + parameters, plus a global summary —
how many exchanges the rule touched, at which estimate flavors and counts.
A protocol sf0.1 pass is expected to show ZERO Up decisions (the "flat by
construction" contract pinned by ExchangeSizingSpec's catalog subset test);
the sf10 pass documents which exchanges the rule resizes at decade 2.

Usage: sizing_telemetry.py bench_stderr.log out.json [notes.json]
"""
import json
import re
import sys

LINE = re.compile(
    r"\[graft-sizing\] (?P<node>\S+) origin=(?P<origin>\S+) "
    r"current=(?P<current>\d+) est=(?P<est>\S+) wide=(?P<wide>\S+) "
    r"fixed=(?P<fixed>\S+) runtime=(?P<runtime>\S+)"
    r"(?: leaves=(?P<leaves>\S+))? -> (?P<decision>.+)$")
# round-18 verdict task 4: the trust check's rejections are first-class
# telemetry — the artifact shows WHEN the fail-closed path fired, with the
# claimed/real byte pair, instead of the check being invisible when silent
POISON = re.compile(
    r"\[graft-sizing\] poisoned-pin rejected rdd=(?P<rdd>\d+) "
    r"claimed=(?P<claimed>\d+) real=(?P<real>\d+)")
MARK = re.compile(r"\[bench\] (?P<name>\w+)\s+(-?[\d.]+)s")


def main(log_path, out_path, notes_path=None):
    pending = []
    queries = {}
    total = {"lines": 0, "up": 0, "keep": 0, "veto": 0}
    up_detail = {}
    poisoned = []
    for raw in open(log_path, errors="replace"):
        pm = POISON.search(raw)
        if pm:
            d = pm.groupdict()
            poisoned.append({"rdd": int(d["rdd"]),
                             "claimed": int(d["claimed"]),
                             "real": int(d["real"]),
                             "ratio": round(int(d["claimed"])
                                            / max(int(d["real"]), 1), 1)})
            continue
        m = LINE.search(raw)
        if m:
            d = m.groupdict()
            total["lines"] += 1
            dec = d["decision"].strip()
            if dec.startswith("Up"):
                total["up"] += 1
                key = (f"{d['origin']} current={d['current']} -> {dec} "
                       f"runtime={d['runtime']}")
                up_detail[key] = up_detail.get(key, 0) + 1
            elif dec.startswith("Keep"):
                total["keep"] += 1
            else:
                total["veto"] += 1
            pending.append(d)
            continue
        mk = MARK.search(raw)
        if mk and pending:
            name = mk.group("name")
            q = queries.setdefault(name, {"decisions": 0, "up": 0,
                                          "keep": 0, "veto": 0, "ups": {}})
            for d in pending:
                q["decisions"] += 1
                dec = d["decision"].strip()
                if dec.startswith("Up"):
                    q["up"] += 1
                    k = f"current={d['current']} -> {dec}"
                    q["ups"][k] = q["ups"].get(k, 0) + 1
                elif dec.startswith("Keep"):
                    q["keep"] += 1
                else:
                    q["veto"] += 1
            pending = []
        elif mk:
            queries.setdefault(mk.group("name"),
                               {"decisions": 0, "up": 0, "keep": 0,
                                "veto": 0, "ups": {}})
    out = {
        "protocol": ("Bench run with SPARK_GRAFT_SQL_CONFS="
                     "spark.graft.sizing.log=true; each "
                     "[graft-sizing] stderr line attributed to the next "
                     "[bench] completion marker. Decision counts span the "
                     "query's warmup + timed runs (re-planned per run)."),
        "total": total,
        "poisoned_pins_rejected": {"count": len(poisoned),
                                   "detail": poisoned[:50]},
        "up_decisions_by_shape": dict(sorted(up_detail.items(),
                                             key=lambda kv: -kv[1])),
        "queries_with_up": {k: v for k, v in sorted(queries.items())
                            if v["up"] > 0},
        "per_query": dict(sorted(queries.items())),
    }
    if notes_path:
        out.update(json.load(open(notes_path)))
    json.dump(out, open(out_path, "w"), indent=1)
    print(f"wrote {out_path}: {total['lines']} decisions "
          f"({total['up']} Up, {total['keep']} Keep, {total['veto']} Veto) "
          f"across {len(queries)} queries; "
          f"{sum(1 for v in queries.values() if v['up'])} queries resized; "
          f"{len(poisoned)} poisoned pins rejected")


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2], sys.argv[3] if len(sys.argv) > 3 else None)
