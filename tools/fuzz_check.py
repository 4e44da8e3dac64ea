#!/usr/bin/env python3
"""Differential query fuzzer (round-15 verdict task 3): generates N
seeded random relational queries over the TPC-H-ish star schema,
runs each through BOTH the engine (graft.FuzzRunner -> spark.sql,
same session config as Verify) and DuckDB, and bit-compares the
results — hunting the corners the 209-query hand-written catalog
can't (null semantics from outer joins and rollups, window frame
boundaries, set-op dedup, EXISTS/NOT EXISTS decorrelation, type
coercion).

The grammar is DIALECT-SAFE BY CONSTRUCTION so a divergence is an
engine-semantics finding, not a dialect gap:
  - every ORDER BY (final + window) carries explicit NULLS FIRST
    (Spark defaults NULLS FIRST for ASC, DuckDB NULLS LAST);
  - money doubles enter arithmetic as exact integer cents
    (CAST(FLOOR(x*100+0.5) AS BIGINT) — floor is HALF-UP in both
    engines; a raw SUM(double) is partition-order-dependent and
    would fuzz the noise, not the engines);
  - SUM is wrapped CAST(... AS BIGINT) (DuckDB's SUM(BIGINT) is
    HUGEINT, Spark's is BIGINT);
  - ratio aggregates divide through NULLIF(COUNT,0) and exact
    int->double casts (IEEE division is bit-deterministic);
  - temporal predicates compare CAST(col AS DATE) to DATE literals
    (sidesteps the TIMESTAMP_NTZ/LTZ literal-typing split);
  - the final SELECT orders by every output ordinal and LIMITs, so
    row sets are totally determined.

Usage: fuzz_check.py [--sf DIR] [--n N] [--seed S] [--out FUZZ.json]
(--out defaults to FUZZ.json in the system temp dir.)
Exit 0 iff zero value mismatches (one-sided errors are reported in
the artifact for triage but are dialect-or-bug candidates, not
automatic failures)."""
import argparse
import json
import os
import random
import subprocess
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from selfcheck import floats_differ  # noqa: E402  (shared bit-compare)

import duckdb  # noqa: E402
import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# (kind, column) per table: int / money (double with <=2dp) / str / date
SCHEMA = {
    "lineitem": {"l_orderkey": "int", "l_partkey": "int", "l_suppkey": "int",
                 "l_linenumber": "int", "l_quantity": "money",
                 "l_extendedprice": "money", "l_discount": "money",
                 "l_tax": "money", "l_returnflag": "str",
                 "l_linestatus": "str", "l_shipdate": "date"},
    "orders": {"o_orderkey": "int", "o_custkey": "int",
               "o_orderstatus": "str", "o_totalprice": "money",
               "o_orderdate": "date", "o_orderpriority": "str"},
    "customer": {"c_custkey": "int", "c_name": "str", "c_nationkey": "int",
                 "c_acctbal": "money", "c_mktsegment": "str"},
    "supplier": {"s_suppkey": "int", "s_name": "str", "s_nationkey": "int",
                 "s_acctbal": "money"},
    "part": {"p_partkey": "int", "p_name": "str", "p_brand": "str",
             "p_type": "str", "p_size": "int", "p_retailprice": "money"},
    "nation": {"n_nationkey": "int", "n_name": "str", "n_regionkey": "int"},
    "region": {"r_regionkey": "int", "r_name": "str"},
    "events": {"event_id": "int", "ts": "date", "user_id": "int",
               "event_type": "str", "value": "money", "props": "str"},
}
# candidate unique ordering key (window/tiebreak determinism) — VERIFIED
# against the actual data at generator init: the driver's "TPC-H-ish"
# lineitem does NOT keep (l_orderkey, l_linenumber) unique (1161 dup
# keys in 6000 rows at sf0.001), and a non-total window order made
# lead/lag/frame values nondeterministic — the first fuzz sweep's only 3
# "mismatches" were exactly this harness artifact, not engine bugs.
# A table whose candidate key has duplicates falls back to ordering by
# EVERY column, which makes window outputs invariant under the remaining
# ties (fully identical rows are interchangeable in any frame).
PK = {"lineitem": ["l_orderkey", "l_linenumber"], "orders": ["o_orderkey"],
      "customer": ["c_custkey"], "supplier": ["s_suppkey"],
      "part": ["p_partkey"], "nation": ["n_nationkey"],
      "region": ["r_regionkey"], "events": ["event_id"]}
# low-cardinality grouping candidates
GROUPCOLS = {
    "lineitem": ["l_returnflag", "l_linestatus", "l_linenumber"],
    "orders": ["o_orderstatus", "o_orderpriority"],
    "customer": ["c_nationkey", "c_mktsegment"],
    "supplier": ["s_nationkey"],
    "part": ["p_brand", "p_type", "p_size"],
    "nation": ["n_regionkey", "n_name"], "region": ["r_name"],
    "events": ["event_type"],
}
# FK edges: (fact, dim, fact_col, dim_col)
EDGES = [("lineitem", "orders", "l_orderkey", "o_orderkey"),
         ("lineitem", "part", "l_partkey", "p_partkey"),
         ("lineitem", "supplier", "l_suppkey", "s_suppkey"),
         ("orders", "customer", "o_custkey", "c_custkey"),
         ("customer", "nation", "c_nationkey", "n_nationkey"),
         ("supplier", "nation", "s_nationkey", "n_nationkey"),
         ("nation", "region", "n_regionkey", "r_regionkey")]


def cents(ref):
    return f"CAST(FLOOR({ref} * 100 + 0.5) AS BIGINT)"


class Gen:
    def __init__(self, seed, con):
        self.r = random.Random(seed)
        # verify candidate keys; non-unique -> order by every column
        self.pk = {}
        for t, key in PK.items():
            dup = con.execute(
                f"SELECT COUNT(*) FROM (SELECT {', '.join(key)} FROM {t} "
                f"GROUP BY {', '.join(key)} HAVING COUNT(*) > 1)").fetchone()[0]
            self.pk[t] = key if dup == 0 else list(SCHEMA[t])
            if dup:
                print(f"[fuzz] {t}: candidate key {key} has {dup} dup "
                      "groups -> window order falls back to all columns")
        # deterministic literal pools per (table, col): min/max/quantiles
        # for numerics+dates, sorted distinct prefix for strings
        self.lits = {}
        for t, cols in SCHEMA.items():
            for c, k in cols.items():
                if k in ("int", "money", "date"):
                    q = con.execute(
                        f"SELECT quantile_disc({c}, [0.05,0.25,0.5,0.75,0.95])"
                        f" FROM {t}").fetchone()[0]
                    self.lits[(t, c)] = [str(v) if k != "date" else
                                         f"DATE '{str(v)[:10]}'" for v in q]
                else:
                    vs = [r[0] for r in con.execute(
                        f"SELECT DISTINCT {c} FROM {t} ORDER BY {c} LIMIT 40"
                    ).fetchall()]
                    self.lits[(t, c)] = vs

    def pick(self, xs):
        return xs[self.r.randrange(len(xs))]

    @staticmethod
    def esc(v):
        return str(v).replace("'", "''")

    def cols_of(self, t, kinds, alias):
        return [(f"{alias}.{c}", k) for c, k in SCHEMA[t].items()
                if k in kinds]

    # ---- predicates ----------------------------------------------------
    def pred(self, t, alias, depth=0):
        c, k = self.pick(list(SCHEMA[t].items()))
        ref = f"{alias}.{c}"
        r = self.r
        if k == "date":
            lits = self.lits[(t, c)]
            a, b = sorted([self.pick(lits), self.pick(lits)])
            base = f"CAST({ref} AS DATE) BETWEEN {a} AND {b}"
        elif k == "str":
            vs = self.lits[(t, c)]
            mode = r.randrange(4)
            if mode == 0:
                base = f"{ref} = '{self.esc(self.pick(vs))}'"
            elif mode == 1:
                # sorted: set iteration order is hash-randomized per
                # process and would break seed-reproducibility of the SQL
                ins = ", ".join(f"'{self.esc(v)}'" for v in
                                sorted({self.pick(vs) for _ in range(3)}))
                base = f"{ref} IN ({ins})"
            elif mode == 2:
                base = f"{ref} LIKE '{self.esc(self.pick(vs)[:2])}%'"
            else:
                base = f"length({ref}) > {r.randrange(3, 12)}"
        else:
            ref2 = cents(ref) if k == "money" else ref
            lit = self.pick(self.lits[(t, c)])
            lit2 = (f"CAST(FLOOR({lit} * 100 + 0.5) AS BIGINT)"
                    if k == "money" else lit)
            op = self.pick(["<", "<=", ">", ">=", "=", "<>"])
            base = f"{ref2} {op} {lit2}"
        if depth < 2 and r.random() < 0.4:
            conj = self.pick(["AND", "OR"])
            other = self.pred(t, alias, depth + 1)
            neg = "NOT " if r.random() < 0.15 else ""
            return f"({base} {conj} {neg}({other}))"
        return base

    # ---- scalar select exprs ------------------------------------------
    def scalar(self, t, alias):
        c, k = self.pick(list(SCHEMA[t].items()))
        ref = f"{alias}.{c}"
        r = self.r
        if k == "date":
            return f"CAST({ref} AS DATE)"
        if k == "str":
            return self.pick([
                ref, f"upper({ref})", f"substr({ref}, 1, 3)",
                f"length({ref})", f"{ref} || '_x'",
                f"coalesce(nullif({ref}, '{self.esc(self.pick(self.lits[(t, c)]))}'), 'dflt')"])
        e = cents(ref) if k == "money" else ref
        return self.pick([
            e, f"{e} % 97", f"{e} + 7", f"-{e}",
            f"CASE WHEN {e} % 2 = 0 THEN {e} ELSE -{e} END",
            f"CASE WHEN {e} > 50 THEN 'hi' WHEN {e} > 10 THEN 'mid' END"])

    # ---- aggregate exprs ----------------------------------------------
    def agg(self, t, alias):
        c, k = self.pick([(c, k) for c, k in SCHEMA[t].items()
                          if k in ("int", "money", "str")])
        ref = f"{alias}.{c}"
        e = cents(ref) if k == "money" else ref
        r = self.r
        if k == "str":
            return self.pick([f"COUNT({ref})", f"COUNT(DISTINCT {ref})",
                              f"MIN({ref})", f"MAX({ref})"])
        return self.pick([
            "COUNT(*)", f"COUNT({e})", f"COUNT(DISTINCT {e})",
            f"CAST(SUM({e}) AS BIGINT)", f"MIN({e})", f"MAX({e})",
            f"CAST(CAST(SUM({e}) AS BIGINT) AS DOUBLE) / NULLIF(COUNT(*), 0)"])

    # ---- join chains ---------------------------------------------------
    def chain(self, maxlen=3):
        t = self.pick([x for x in SCHEMA if x != "events"])
        tables = [t]
        joins = []  # (type, table, cond)
        while len(tables) < maxlen:
            opts = [e for e in EDGES
                    if (e[0] == tables[-1] and e[1] not in tables)
                    or (e[1] == tables[-1] and e[0] not in tables)]
            if not opts or self.r.random() < 0.35:
                break
            f, d, fc, dc = self.pick(opts)
            new = d if f == tables[-1] else f
            jt = self.pick(["JOIN", "JOIN", "LEFT JOIN", "RIGHT JOIN",
                            "FULL JOIN"])
            joins.append((jt, new, f, d, fc, dc))
            tables.append(new)
        # aliases t0.. in order; build FROM clause
        alias = {tb: f"t{i}" for i, tb in enumerate(tables)}
        frm = f"{tables[0]} t0"
        for jt, new, f, d, fc, dc in joins:
            frm += (f" {jt} {new} {alias[new]}"
                    f" ON {alias[f]}.{fc} = {alias[d]}.{dc}")
        return tables, alias, frm

    # ---- query templates ----------------------------------------------
    def q_agg(self):
        tables, alias, frm = self.chain()
        r = self.r
        gks = []
        for tb in tables:
            if r.random() < 0.6:
                gk = self.pick(GROUPCOLS[tb])
                gks.append(f"{alias[tb]}.{gk}")
        gks = list(dict.fromkeys(gks))[:3]
        aggs = []
        for _ in range(r.randrange(1, 4)):
            tb = self.pick(tables)
            aggs.append(self.agg(tb, alias[tb]))
        sel = [f"{g} AS c{i}" for i, g in enumerate(gks)]
        sel += [f"{a} AS c{len(gks) + i}" for i, a in enumerate(aggs)]
        where = ""
        if r.random() < 0.8:
            tb = self.pick(tables)
            where = f" WHERE {self.pred(tb, alias[tb])}"
        grouping_sets = False
        if gks:
            mode = r.randrange(6)
            klist = ", ".join(gks)
            if mode == 0 and len(gks) > 1:
                grp = f" GROUP BY ROLLUP({klist})"
                grouping_sets = True
            elif mode == 1 and len(gks) > 1:
                grp = f" GROUP BY CUBE({klist})"
                grouping_sets = True
            elif mode == 2 and len(gks) > 1:
                sets = f"({klist}), ({gks[0]}), ()"
                grp = f" GROUP BY GROUPING SETS ({sets})"
                grouping_sets = True
            else:
                grp = f" GROUP BY {klist}"
        else:
            grp = ""
        # grouping-function surface (round-16: the q72 finding's class):
        # project grouping()/grouping_id() alongside the aggregates, and
        # sometimes filter ON them in HAVING — the mask arithmetic and the
        # empty-input fallback both get patrolled against DuckDB. CASTs
        # pin the cross-dialect result type (Spark grouping() is TINYINT,
        # DuckDB's is BIGINT).
        if grouping_sets and r.random() < 0.6:
            gfn = self.pick(
                [f"CAST(grouping({self.pick(gks)}) AS BIGINT)",
                 f"CAST(grouping_id({', '.join(gks)}) AS BIGINT)"])
            sel.append(f"{gfn} AS c{len(sel)}")
        having = ""
        if grp and r.random() < 0.3:
            if grouping_sets and r.random() < 0.5:
                having = self.pick(
                    [f" HAVING grouping({self.pick(gks)}) = 0",
                     f" HAVING grouping_id({', '.join(gks)}) <> 0",
                     f" HAVING grouping({gks[0]}) = 1 OR COUNT(*) > "
                     f"{r.randrange(1, 5)}"])
            else:
                having = f" HAVING COUNT(*) > {r.randrange(1, 5)}"
        ncols = len(sel)
        order = ", ".join(f"{i + 1} NULLS FIRST" for i in range(ncols))
        return (f"SELECT {', '.join(sel)} FROM {frm}{where}{grp}{having}"
                f" ORDER BY {order} LIMIT 500")

    def q_filter_agg(self):
        """Aggregate FILTER clauses (round-17): per-aggregate predicates
        over grouped/rolled-up queries, incl. DISTINCT aggregates and a
        filtered-ratio form — probed bit-identical across both dialects
        (COUNT(DISTINCT ..) FILTER included). FILTER attaches to the
        FUNCTION CALL, never outside a CAST. NOT generated here: IGNORE
        NULLS navigation — Spark parses it OUTSIDE the call parens
        (`lead(x, 1) IGNORE NULLS OVER ..`), DuckDB INSIDE
        (`lead(x, 1 IGNORE NULLS) OVER ..`), so the same text cannot run
        on both engines (a dialect-syntax gap, same class as window
        EXCLUDE; see COVERAGE.md)."""
        r = self.r
        tables, alias, frm = self.chain(maxlen=2)

        def filt():
            tb = self.pick(tables)
            return f" FILTER (WHERE {self.pred(tb, alias[tb])})"

        def fagg():
            tb = self.pick(tables)
            c, k = self.pick([(c, k) for c, k in SCHEMA[tb].items()
                              if k in ("int", "money")])
            e = cents(f"{alias[tb]}.{c}") if k == "money" else f"{alias[tb]}.{c}"
            f = filt() if r.random() < 0.85 else ""
            kind = r.randrange(6)
            if kind == 0:
                return f"COUNT({e}){f}"
            if kind == 1:
                return f"COUNT(DISTINCT {e}){f}"
            if kind == 2:
                return f"CAST(SUM({e}){f} AS BIGINT)"
            if kind == 3:
                return f"{self.pick(['MIN', 'MAX'])}({e}){f}"
            if kind == 4:
                return f"COUNT(*){f}"
            # filtered ratio: the SAME filter on numerator and denominator
            # (exact BIGINT sum, IEEE division — deterministic both sides)
            return (f"CAST(CAST(SUM({e}){f} AS BIGINT) AS DOUBLE)"
                    f" / NULLIF(COUNT({e}){f}, 0)")

        gks = []
        for tb in tables:
            if r.random() < 0.7:
                gks.append(f"{alias[tb]}.{self.pick(GROUPCOLS[tb])}")
        gks = list(dict.fromkeys(gks))[:2]
        aggs = [fagg() for _ in range(r.randrange(2, 5))]
        sel = [f"{g} AS c{i}" for i, g in enumerate(gks)]
        sel += [f"{a} AS c{len(gks) + i}" for i, a in enumerate(aggs)]
        where = ""
        if r.random() < 0.5:
            tb = self.pick(tables)
            where = f" WHERE {self.pred(tb, alias[tb])}"
        if gks:
            klist = ", ".join(gks)
            # rollup x FILTER: filters evaluated inside null-extended groups
            grp = (f" GROUP BY ROLLUP({klist})"
                   if len(gks) > 1 and r.random() < 0.4
                   else f" GROUP BY {klist}")
        else:
            grp = ""
        having = ""
        if grp and r.random() < 0.3:
            having = f" HAVING COUNT(*){filt()} > {r.randrange(0, 4)}"
        order = ", ".join(f"{i + 1} NULLS FIRST" for i in range(len(sel)))
        return (f"SELECT {', '.join(sel)} FROM {frm}{where}{grp}{having}"
                f" ORDER BY {order} LIMIT 500")

    def q_window(self):
        r = self.r
        tables, alias, frm = self.chain(maxlen=2)
        t0 = tables[0]
        a0 = alias[t0]
        # total window order: the PKs of EVERY chained table — a reverse
        # FK join (dim -> fact) makes t0's PK non-unique in the result,
        # and row_number/frame-sums over a non-total order would be
        # nondeterministically "mismatched" on both engines
        pk = ", ".join(f"{alias[tb]}.{c} NULLS FIRST"
                       for tb in tables for c in self.pk[tb])
        # direction/null-placement permutations (round-17 verdict task 4):
        # any per-key ASC/DESC x NULLS FIRST/LAST permutation of a total
        # order stays total, so frames over it are deterministic — but the
        # frame CONTENTS flip, patrolling the sort-direction interaction
        # the pinned-NULLS-FIRST order never reached
        if r.random() < 0.5:
            pk = ", ".join(
                f"{alias[tb]}.{c} {self.pick(['ASC', 'DESC'])} "
                f"{self.pick(['NULLS FIRST', 'NULLS LAST'])}"
                for tb in tables for c in self.pk[tb])
        part = f"{a0}.{self.pick(GROUPCOLS[t0])}"
        sel = [f"{a0}.{c} AS c{i}" for i, c in enumerate(PK[t0])]
        sel.append(f"{part} AS cp")
        nw = r.randrange(1, 3)
        for i in range(nw):
            tb = self.pick(tables)
            c, k = self.pick([(c, k) for c, k in SCHEMA[tb].items()
                              if k in ("int", "money")])
            e = cents(f"{alias[tb]}.{c}") if k == "money" else f"{alias[tb]}.{c}"
            kind = r.randrange(7)
            if kind == 0:
                ob = f"ORDER BY {part} NULLS FIRST"  # ties on purpose
                wf = f"rank() OVER (PARTITION BY {part} ORDER BY {e} NULLS FIRST)"
                wf = self.pick([wf,
                                f"dense_rank() OVER (PARTITION BY {part} ORDER BY {e} NULLS FIRST)"])
            elif kind == 1:
                wf = f"row_number() OVER (PARTITION BY {part} ORDER BY {pk})"
            elif kind == 2:
                off = r.randrange(1, 3)
                fn = self.pick(["lag", "lead"])
                wf = f"{fn}({e}, {off}) OVER (PARTITION BY {part} ORDER BY {pk})"
            elif kind == 3:
                frame = self.pick([
                    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW",
                    f"ROWS BETWEEN {r.randrange(1, 5)} PRECEDING AND {r.randrange(0, 3)} FOLLOWING",
                    "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING"])
                ag = self.pick(["SUM", "MIN", "MAX", "COUNT"])
                wf = (f"CAST({ag}({e}) OVER (PARTITION BY {part} "
                      f"ORDER BY {pk} {frame}) AS BIGINT)")
            elif kind == 4:
                wf = (f"CAST(SUM({e}) OVER (PARTITION BY {part} ORDER BY {pk} "
                      "RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)")
            elif kind == 5:
                # VALUE-offset RANGE frame (round-16): the frame is keyed
                # on the ORDER value, not row position — tie-inclusive, so
                # deterministic even under duplicate keys. Single numeric
                # sort key as both dialects require; NULLS FIRST pinned.
                # The key is wrapped in COALESCE(key, 0) (round-16 ADVICE):
                # int/cents columns CAN be NULL in the data, and NULL-peer
                # semantics for offset RANGE frames are a known
                # cross-dialect divergence surface — the non-null invariant
                # must be enforced, not assumed.
                tb2 = self.pick(tables)
                c2, k2 = self.pick([(c, k) for c, k in SCHEMA[tb2].items()
                                    if k in ("int", "money")])
                key = (cents(f"{alias[tb2]}.{c2}") if k2 == "money"
                       else f"{alias[tb2]}.{c2}")
                key = f"COALESCE({key}, 0)"
                lo, hi = r.randrange(1, 500), r.randrange(0, 300)
                ag = self.pick(["SUM", "MIN", "MAX", "COUNT"])
                wf = (f"CAST({ag}({e}) OVER (PARTITION BY {part} "
                      f"ORDER BY {key} NULLS FIRST RANGE BETWEEN {lo} "
                      f"PRECEDING AND {hi} FOLLOWING) AS BIGINT)")
            else:
                wf = f"ntile({r.randrange(2, 6)}) OVER (PARTITION BY {part} ORDER BY {pk})"
            sel.append(f"{wf} AS cw{i}")
        where = ""
        if r.random() < 0.7:
            where = f" WHERE {self.pred(t0, a0)}"
        ncols = len(sel)
        order = ", ".join(f"{i + 1} NULLS FIRST" for i in range(ncols))
        return (f"SELECT {', '.join(sel)} FROM {frm}{where}"
                f" ORDER BY {order} LIMIT 500")

    def q_setop(self):
        r = self.r
        t = self.pick(list(SCHEMA))
        cols = [c for c, k in SCHEMA[t].items() if k in ("int", "str")][:3]
        proj = ", ".join(f"t0.{c} AS c{i}" for i, c in enumerate(cols))
        op = self.pick(["UNION", "UNION ALL", "INTERSECT", "EXCEPT"])
        p1, p2 = self.pred(t, "t0"), self.pred(t, "t0")
        order = ", ".join(f"{i + 1} NULLS FIRST" for i in range(len(cols)))
        return (f"(SELECT {proj} FROM {t} t0 WHERE {p1}) {op} "
                f"(SELECT {proj} FROM {t} t0 WHERE {p2})"
                f" ORDER BY {order} LIMIT 500")

    def q_exists(self):
        r = self.r
        f, d, fc, dc = self.pick(EDGES)
        outer, inner, oc, ic = ((f, d, fc, dc) if r.random() < 0.5
                                else (d, f, dc, fc))
        neg = "NOT " if r.random() < 0.5 else ""
        sel_cols = list(SCHEMA[outer])[:4]
        proj = ", ".join(f"t0.{c} AS c{i}" for i, c in enumerate(sel_cols))
        ipred = f" AND {self.pred(inner, 't1')}" if r.random() < 0.6 else ""
        opred = (f" AND {self.pred(outer, 't0')}" if r.random() < 0.5 else "")
        order = ", ".join(f"{i + 1} NULLS FIRST"
                          for i in range(len(sel_cols)))
        return (f"SELECT {proj} FROM {outer} t0 WHERE {neg}EXISTS "
                f"(SELECT 1 FROM {inner} t1 WHERE t1.{ic} = t0.{oc}{ipred})"
                f"{opred} ORDER BY {order} LIMIT 500")

    def q_corr_agg(self):
        """Correlated subqueries whose INNER body aggregates with the
        outer reference in play (round-16: the decorrelation surface the
        plain EXISTS production never reaches): (a) scalar correlated
        aggregate compared in WHERE; (b) EXISTS over an implicit-group
        aggregate whose HAVING references the outer row. Result types
        pinned with BIGINT casts; the correlation predicate is the FK
        equality so both engines' decorrelation applies."""
        r = self.r
        f, d, fc, dc = self.pick(EDGES)
        outer, inner, oc, ic = ((f, d, fc, dc) if r.random() < 0.5
                                else (d, f, dc, fc))
        sel_cols = list(SCHEMA[outer])[:4]
        proj = ", ".join(f"t0.{c} AS c{i}" for i, c in enumerate(sel_cols))
        nums = [(c, k) for c, k in SCHEMA[inner].items()
                if k in ("int", "money")]
        c2, k2 = self.pick(nums)
        e2 = cents(f"t1.{c2}") if k2 == "money" else f"t1.{c2}"
        ipred = f" AND {self.pred(inner, 't1')}" if r.random() < 0.5 else ""
        if r.random() < 0.5:
            # (a) scalar correlated aggregate in WHERE
            ag = self.pick([f"CAST(COUNT(*) AS BIGINT)",
                            f"CAST(COUNT({e2}) AS BIGINT)",
                            f"CAST(SUM({e2}) AS BIGINT)",
                            f"MIN({e2})", f"MAX({e2})"])
            op = self.pick([">", ">=", "<", "<=", "="])
            lit = r.randrange(0, 2000)
            cond = (f"(SELECT {ag} FROM {inner} t1 "
                    f"WHERE t1.{ic} = t0.{oc}{ipred}) {op} {lit}")
        else:
            # (b) EXISTS whose HAVING references the OUTER row: an
            # implicit-group aggregate, one group, outer column compared
            # against the inner aggregate
            onum = [(c, k) for c, k in SCHEMA[outer].items()
                    if k in ("int", "money")]
            c3, k3 = self.pick(onum)
            e3 = cents(f"t0.{c3}") if k3 == "money" else f"t0.{c3}"
            neg = "NOT " if r.random() < 0.4 else ""
            cond = (f"{neg}EXISTS (SELECT 1 FROM {inner} t1 "
                    f"WHERE t1.{ic} = t0.{oc}{ipred} "
                    f"HAVING CAST(COUNT(*) AS BIGINT) + 0 > {e3} % 13)")
        opred = f" AND {self.pred(outer, 't0')}" if r.random() < 0.5 else ""
        order = ", ".join(f"{i + 1} NULLS FIRST"
                          for i in range(len(sel_cols)))
        return (f"SELECT {proj} FROM {outer} t0 WHERE {cond}{opred}"
                f" ORDER BY {order} LIMIT 500")

    def q_setop_gs(self):
        """Set-ops OVER grouping-sets results (round-17 verdict task 4):
        ROLLUP/CUBE NULL group keys flowing into UNION/INTERSECT/EXCEPT
        dedup — patrols the null-equality set semantics neither production
        alone reaches. One agg expression text shared by both sides so the
        column types unify identically in both dialects."""
        r = self.r
        t = self.pick([x for x in SCHEMA if len(GROUPCOLS[x]) >= 2])
        gks = r.sample(GROUPCOLS[t], 2)
        ag = self.agg(t, "t0")

        def side():
            mode = self.pick([
                f"ROLLUP(t0.{gks[0]}, t0.{gks[1]})",
                f"CUBE(t0.{gks[0]}, t0.{gks[1]})",
                f"GROUPING SETS ((t0.{gks[0]}, t0.{gks[1]}), (t0.{gks[0]}), ())"])
            p = self.pred(t, "t0")
            return (f"SELECT t0.{gks[0]} AS c0, t0.{gks[1]} AS c1, "
                    f"CAST(grouping_id(t0.{gks[0]}, t0.{gks[1]}) AS BIGINT) AS c2, "
                    f"{ag} AS c3 FROM {t} t0 WHERE {p} GROUP BY {mode}")
        op = self.pick(["UNION", "UNION ALL", "INTERSECT", "EXCEPT"])
        order = ", ".join(f"{i + 1} NULLS FIRST" for i in range(4))
        return (f"({side()}) {op} ({side()})"
                f" ORDER BY {order} LIMIT 500")

    def q_decimal(self):
        """Exact DECIMAL arithmetic at precision/scale boundaries
        (round-17 verdict task 4): +,-,* chains over pinned DECIMAL
        operand casts, optional ROUND (half-away-from-zero in both
        dialects for decimals), final CAST to DECIMAL(38,6).

        CHAINED products widen through an explicit CAST(.. AS
        DECIMAL(20,4)) — dialect-safety, found by the r17 seed-1702
        sweep (f0123): DuckDB types a product of two int64-representable
        decimals as physical DECIMAL(18,·) regardless of p1+p2 (e.g.
        (10,0)x(12,2) -> DECIMAL(18,2), an internal performance rule),
        so a second multiply overflows at RUNTIME on values Spark's
        width-38 derivation handles exactly. Widening the accumulated
        product past 18 forces DuckDB's int128 path ((20,4)x(12,2) ->
        DECIMAL(32,6)); both engines are then exact at every operand
        this schema can produce, so any value difference is a
        type-derivation/rounding engine bug, not float noise."""
        r = self.r
        tables, alias, frm = self.chain(maxlen=2)

        def operand():
            tb = self.pick(tables)
            c, k = self.pick([(c, k) for c, k in SCHEMA[tb].items()
                              if k in ("int", "money")])
            return (f"CAST({alias[tb]}.{c} AS DECIMAL(12,2))" if k == "money"
                    else f"CAST({alias[tb]}.{c} AS DECIMAL(10,0))")
        sel = []
        for i in range(r.randrange(2, 5)):
            e = f"({operand()} {self.pick(['+', '-', '*'])} {operand()})"
            if r.random() < 0.35:
                # push toward the p=38 boundary through the int128 gate.
                # (24,4), not (20,4) (round-17 ADVICE): e may be a product
                # of two DECIMAL(10,0) int-key operands, whose value at
                # sf>=100 (~3.6e17) exceeds the 1e16 integral ceiling of
                # (20,4) and would turn the draw into one-sided
                # engine-error noise at larger scale factors; (24,4) holds
                # 1e20 (still past DuckDB's 18-digit int64 rule, so the
                # int128 path is still forced) and (24,4)x(12,2) derives
                # DECIMAL(37,6), within p=38 on both engines.
                e = f"(CAST({e} AS DECIMAL(24,4)) * {operand()})"
            if r.random() < 0.4:
                e = f"ROUND({e}, {r.randrange(0, 3)})"
            sel.append(f"CAST({e} AS DECIMAL(38,6)) AS c{i}")
        tb = self.pick(tables)
        where = f" WHERE {self.pred(tb, alias[tb])}"
        order = ", ".join(f"{i + 1} NULLS FIRST" for i in range(len(sel)))
        return (f"SELECT {', '.join(sel)} FROM {frm}{where}"
                f" ORDER BY {order} LIMIT 500")

    def q_lateral(self):
        """LATERAL + correlated-aggregate composition (round-17 verdict
        task 4, q68's class): an aggregate lateral subquery is exactly
        one row (comma-join safe); the LEFT JOIN LATERAL ... ON TRUE
        variant adds a correlated HAVING so the lateral can be EMPTY and
        the outer row null-extends."""
        r = self.r
        f, d, fc, dc = self.pick(EDGES)
        outer, inner, oc, ic = ((f, d, fc, dc) if r.random() < 0.5
                                else (d, f, dc, fc))
        sel_cols = list(SCHEMA[outer])[:3]
        proj = ", ".join(f"t0.{c} AS c{i}" for i, c in enumerate(sel_cols))
        nums = [(c, k) for c, k in SCHEMA[inner].items()
                if k in ("int", "money")]
        c2, k2 = self.pick(nums)
        e2 = cents(f"t1.{c2}") if k2 == "money" else f"t1.{c2}"
        ipred = f" AND {self.pred(inner, 't1')}" if r.random() < 0.5 else ""
        body = (f"SELECT CAST(COUNT(*) AS BIGINT) AS lc, "
                f"COALESCE(CAST(SUM({e2}) AS BIGINT), 0) AS ls, "
                f"MIN({e2}) AS lm FROM {inner} t1 "
                f"WHERE t1.{ic} = t0.{oc}{ipred}")
        nsel = len(sel_cols)
        lsel = (f"l.lc AS c{nsel}, l.ls AS c{nsel + 1}, l.lm AS c{nsel + 2}")
        opred = f" WHERE {self.pred(outer, 't0')}" if r.random() < 0.6 else ""
        order = ", ".join(f"{i + 1} NULLS FIRST" for i in range(nsel + 3))
        if r.random() < 0.4:
            frm = (f"{outer} t0 LEFT JOIN LATERAL ({body} "
                   f"HAVING COUNT(*) > {r.randrange(1, 4)}) l ON TRUE")
        else:
            frm = f"{outer} t0, LATERAL ({body}) l"
        return (f"SELECT {proj}, {lsel} FROM {frm}{opred}"
                f" ORDER BY {order} LIMIT 500")

    def q_rcte(self):
        """Recursive-CTE production (round-17 verdict task 4, q69's
        class): a bounded integer ladder seeded by a scalar subquery over
        the data, UNION ALL recursion (the only form Spark supports),
        modular accumulator arithmetic — patrols anchor/step type
        unification and recursion row semantics. Key columns are
        non-negative so % agrees across dialects."""
        r = self.r
        t = self.pick(list(SCHEMA))
        c0 = self.pick([c for c, k in SCHEMA[t].items() if k == "int"])
        k = r.randrange(3, 31)
        mod = self.pick([97, 1009, 65537])
        mul = r.randrange(2, 12)
        add = r.randrange(0, 50)
        p = self.pred(t, "t0")
        anchor = (f"(SELECT COALESCE(CAST(MIN(t0.{c0}) AS BIGINT), 0) "
                  f"FROM {t} t0 WHERE {p})")
        return (f"WITH RECURSIVE rr(n, acc) AS ("
                f"SELECT CAST(0 AS BIGINT) AS n, {anchor} % {mod} AS acc"
                f" UNION ALL "
                f"SELECT n + 1, (acc * {mul} + {add}) % {mod} FROM rr"
                f" WHERE n < {k}) "
                f"SELECT n AS c0, acc AS c1 FROM rr"
                f" ORDER BY 1 NULLS FIRST, 2 NULLS FIRST LIMIT 500")

    def q_exists_or(self):
        """Correlated [NOT] EXISTS under DISJUNCTION (round-18 verdict
        task 7): OR blocks the plain semi/anti-join decorrelation — Spark
        plans an ExistenceJoin, DuckDB a mark join — and that path's
        null/duplicate semantics are never reached by the conjunctive
        q_exists production. One or two EXISTS terms OR'd with a plain
        predicate, optionally NOT'd, optionally a conjunctive tail."""
        r = self.r
        f, d, fc, dc = self.pick(EDGES)
        outer, inner, oc, ic = ((f, d, fc, dc) if r.random() < 0.5
                                else (d, f, dc, fc))
        sel_cols = list(SCHEMA[outer])[:4]
        proj = ", ".join(f"t0.{c} AS c{i}" for i, c in enumerate(sel_cols))

        def ex(alias):
            neg = "NOT " if r.random() < 0.4 else ""
            ipred = (f" AND {self.pred(inner, alias)}"
                     if r.random() < 0.6 else "")
            return (f"{neg}EXISTS (SELECT 1 FROM {inner} {alias} "
                    f"WHERE {alias}.{ic} = t0.{oc}{ipred})")
        terms = [self.pred(outer, "t0"), ex("t1")]
        if r.random() < 0.4:
            terms.append(ex("t2"))
        r.shuffle(terms)
        cond = f"({' OR '.join(terms)})"
        if r.random() < 0.5:
            cond += f" AND {self.pred(outer, 't0')}"
        order = ", ".join(f"{i + 1} NULLS FIRST"
                          for i in range(len(sel_cols)))
        return (f"SELECT {proj} FROM {outer} t0 WHERE {cond}"
                f" ORDER BY {order} LIMIT 500")

    def q_lateral_chain(self):
        """Multi-level LATERAL chains (round-18 verdict task 7): lateral 2
        correlates on BOTH the base row and lateral 1's aggregate output
        (l1.x appears inside l2's WHERE), the composition q_lateral never
        generates. Both laterals aggregate, so each is exactly one row and
        the comma-join form is safe in both dialects."""
        r = self.r
        # outer tables with >= 2 incident FK edges
        incident = {}
        for f, d, fc, dc in EDGES:
            incident.setdefault(f, []).append((d, fc, dc))
            incident.setdefault(d, []).append((f, dc, fc))
        outer = self.pick([t for t, es in sorted(incident.items())
                           if len(es) >= 2])
        e1, e2 = r.sample(incident[outer], 2)
        (in1, oc1, ic1), (in2, oc2, ic2) = e1, e2
        sel_cols = list(SCHEMA[outer])[:3]
        proj = ", ".join(f"t0.{c} AS c{i}" for i, c in enumerate(sel_cols))

        def num(tb, alias):
            c, k = self.pick([(c, k) for c, k in SCHEMA[tb].items()
                              if k in ("int", "money")])
            return (cents(f"{alias}.{c}") if k == "money"
                    else f"{alias}.{c}")
        e1v, e2v = num(in1, "t1"), num(in2, "t2")
        p1 = f" AND {self.pred(in1, 't1')}" if r.random() < 0.5 else ""
        l1 = (f"LATERAL (SELECT CAST(COUNT(*) AS BIGINT) AS lc, "
              f"COALESCE(CAST(SUM({e1v}) AS BIGINT), 0) AS ls "
              f"FROM {in1} t1 WHERE t1.{ic1} = t0.{oc1}{p1}) l1")
        # l2's WHERE references l1 — the two-level correlation under test
        lref = self.pick(["l1.lc", "l1.ls % 1000"])
        op = self.pick([">", ">=", "<", "<="])
        l2 = (f"LATERAL (SELECT CAST(COUNT(*) AS BIGINT) AS mc, "
              f"MIN({e2v}) AS lm FROM {in2} t2 "
              f"WHERE t2.{ic2} = t0.{oc2} AND {e2v} % 1009 {op} {lref}) l2")
        nsel = len(sel_cols)
        lsel = (f"l1.lc AS c{nsel}, l1.ls AS c{nsel + 1}, "
                f"l2.mc AS c{nsel + 2}, l2.lm AS c{nsel + 3}")
        opred = f" WHERE {self.pred(outer, 't0')}" if r.random() < 0.6 else ""
        order = ", ".join(f"{i + 1} NULLS FIRST" for i in range(nsel + 4))
        return (f"SELECT {proj}, {lsel} FROM {outer} t0, {l1}, {l2}{opred}"
                f" ORDER BY {order} LIMIT 500")

    def q_setop_mixed(self):
        """Nested set-ops with MIXED ALL/DISTINCT (round-18 verdict task
        7): ((A op B) op (C op D)) and ((A op B) op C) with each op drawn
        independently from the full 6-form family — the bag-vs-set
        semantics interaction (e.g. UNION ALL feeding EXCEPT, INTERSECT
        ALL over a deduplicated side) that the flat q_setop never nests.
        Parenthesization is explicit, sidestepping precedence dialects."""
        r = self.r
        t = self.pick(list(SCHEMA))
        cols = [c for c, k in SCHEMA[t].items() if k in ("int", "str")][:3]
        proj = ", ".join(f"t0.{c} AS c{i}" for i, c in enumerate(cols))
        ops = ["UNION", "UNION ALL", "INTERSECT", "INTERSECT ALL",
               "EXCEPT", "EXCEPT ALL"]

        def leaf():
            return (f"SELECT {proj} FROM {t} t0 "
                    f"WHERE {self.pred(t, 't0')}")
        left = f"(({leaf()}) {self.pick(ops)} ({leaf()}))"
        right = (f"(({leaf()}) {self.pick(ops)} ({leaf()}))"
                 if r.random() < 0.5 else f"({leaf()})")
        order = ", ".join(f"{i + 1} NULLS FIRST" for i in range(len(cols)))
        return (f"{left} {self.pick(ops)} {right}"
                f" ORDER BY {order} LIMIT 500")

    def q_interval(self):
        """Interval arithmetic on dates/timestamps (round-18 verdict task
        7). Dialect-safe-by-construction subset: every date enters as
        CAST(col AS DATE), every arithmetic RESULT is wrapped CAST(.. AS
        TIMESTAMP) — Spark types date + day-time interval as TIMESTAMP
        but date + year-month interval as DATE, while DuckDB yields
        TIMESTAMP for both, so the unifying cast pins one comparable type
        (verified: month-end clamping agrees, 2024-01-31 + 1 MONTH ->
        02-29 both). EXTRACT fields are cast BIGINT (Spark INT vs DuckDB
        BIGINT). WHERE-side: interval-shifted dates against TIMESTAMP
        literals."""
        r = self.r
        tables, alias, frm = self.chain(maxlen=2)
        dcols = [(tb, c) for tb in tables
                 for c, k in SCHEMA[tb].items() if k == "date"]
        if not dcols:
            return self.q_select()

        def dref():
            tb, c = self.pick(dcols)
            return f"CAST({alias[tb]}.{c} AS DATE)"

        def iv():
            unit = self.pick(["DAY", "DAY", "HOUR", "MINUTE", "MONTH"])
            n = {"DAY": r.randrange(1, 400), "HOUR": r.randrange(1, 72),
                 "MINUTE": r.randrange(1, 600),
                 "MONTH": r.randrange(1, 25)}[unit]
            return f"INTERVAL {n} {unit}"
        sel = []
        for i in range(r.randrange(2, 5)):
            kind = r.randrange(4)
            if kind == 0:
                e = f"CAST({dref()} {self.pick(['+', '-'])} {iv()} AS TIMESTAMP)"
            elif kind == 1:
                # chained shift: (d + iv) - iv, still one unified timestamp
                e = (f"CAST(({dref()} + {iv()}) - {iv()} AS TIMESTAMP)")
            elif kind == 2:
                fld = self.pick(["YEAR", "MONTH", "DAY"])
                e = (f"CAST(EXTRACT({fld} FROM {dref()} + {iv()}) AS BIGINT)")
            else:
                e = f"CAST({dref()} AS TIMESTAMP)"
            sel.append(f"{e} AS c{i}")
        # interval-shifted comparison in WHERE, against TIMESTAMP literals
        # drawn from each column's literal pool (dates render as DATE 'x')
        tb, c = self.pick(dcols)
        lits = self.lits[(tb, c)]
        a, b = sorted(self.pick(lits)[6:16] for _ in range(2))
        where = (f" WHERE CAST({alias[tb]}.{c} AS DATE) + {iv()} BETWEEN "
                 f"TIMESTAMP '{a} 00:00:00' AND TIMESTAMP '{b} 23:59:59'")
        if r.random() < 0.4:
            tb2 = self.pick(tables)
            where += f" AND {self.pred(tb2, alias[tb2])}"
        order = ", ".join(f"{i + 1} NULLS FIRST" for i in range(len(sel)))
        return (f"SELECT {', '.join(sel)} FROM {frm}{where}"
                f" ORDER BY {order} LIMIT 500")

    # corr edges touching `outer` in either direction:
    # (inner_table, outer_col, inner_col)
    def _corr_edges(self, outer):
        out = []
        for f, d, fc, dc in EDGES:
            if f == outer:
                out.append((d, fc, dc))
            elif d == outer:
                out.append((f, dc, fc))
        return out

    def q_scalar_select(self):
        """Correlated scalar subqueries in the SELECT LIST (round-18):
        the projection-side decorrelation path — Spark rewrites these to
        a left outer aggregate join, so the NULL-on-empty-group row is
        produced by the JOIN, not the aggregate — which q_corr_agg's
        WHERE-side comparisons never reach. Shapes: (a) bare projected
        correlated aggregate; (b) COALESCE over it (patrols the
        empty-group NULL); (c) arithmetic combining TWO independent
        scalar subqueries (distinct correlated joins must not collapse);
        (d) CASE branching on one. SUM/COUNT cast BIGINT (HUGEINT
        split); money enters as integer cents."""
        r = self.r
        outer = self.pick([t for t in SCHEMA
                           if t != "events" and self._corr_edges(t)])
        edges = self._corr_edges(outer)
        nsub = [0]

        def sub():
            inner, oc, ic = self.pick(edges)
            nsub[0] += 1
            a = f"s{nsub[0]}"
            nums = [(c, k) for c, k in SCHEMA[inner].items()
                    if k in ("int", "money")]
            c2, k2 = self.pick(nums)
            e2 = cents(f"{a}.{c2}") if k2 == "money" else f"{a}.{c2}"
            ag = self.pick([f"CAST(SUM({e2}) AS BIGINT)",
                            f"CAST(COUNT(*) AS BIGINT)",
                            f"CAST(COUNT(DISTINCT {e2}) AS BIGINT)",
                            f"MIN({e2})", f"MAX({e2})"])
            ipred = (f" AND {self.pred(inner, a)}"
                     if r.random() < 0.6 else "")
            return (f"(SELECT {ag} FROM {inner} {a} "
                    f"WHERE {a}.{ic} = t0.{oc}{ipred})")

        sel_cols = list(SCHEMA[outer])[:3]
        sel = [f"t0.{c} AS c{i}" for i, c in enumerate(sel_cols)]
        for i in range(r.randrange(1, 3)):
            kind = r.randrange(4)
            if kind == 0:
                e = sub()
            elif kind == 1:
                e = f"COALESCE({sub()}, -1)"
            elif kind == 2:
                op = self.pick(["+", "-"])
                e = f"COALESCE({sub()}, 0) {op} COALESCE({sub()}, 0)"
            else:
                e = (f"CASE WHEN COALESCE({sub()}, -1) > "
                     f"{r.randrange(0, 500)} THEN 'hi' ELSE 'lo' END")
            sel.append(f"{e} AS cs{i}")
        where = (f" WHERE {self.pred(outer, 't0')}"
                 if r.random() < 0.6 else "")
        order = ", ".join(f"{i + 1} NULLS FIRST" for i in range(len(sel)))
        return (f"SELECT {', '.join(sel)} FROM {outer} t0{where}"
                f" ORDER BY {order} LIMIT 500")

    def q_in_null(self):
        """IN / NOT IN subqueries under three-valued logic (round-18):
        the null-aware anti-join surface (Spark plans NOT IN as a
        null-aware anti join; DuckDB as a mark join — same semantics,
        very different plans). Shapes: (a) plain IN / NOT IN over an FK
        edge with an optional inner predicate; (b) NOT IN against a
        subquery that PROVABLY emits NULLs (CASE-gated inner column —
        one inner NULL must empty the entire NOT IN result); (c)
        value-list IN / NOT IN with an explicit NULL member; (d)
        expression-keyed IN (modular key computed on both sides)."""
        r = self.r
        outer = self.pick([t for t in SCHEMA
                           if t != "events" and self._corr_edges(t)])
        inner, oc, ic = self.pick(self._corr_edges(outer))
        neg = "NOT " if r.random() < 0.5 else ""
        kind = r.randrange(4)
        if kind == 0:
            ipred = (f" WHERE {self.pred(inner, 't1')}"
                     if r.random() < 0.7 else "")
            cond = f"t0.{oc} {neg}IN (SELECT t1.{ic} FROM {inner} t1{ipred})"
        elif kind == 1:
            gate = self.pred(inner, "t1")
            cond = (f"t0.{oc} NOT IN (SELECT CASE WHEN {gate} "
                    f"THEN t1.{ic} END FROM {inner} t1)")
        elif kind == 2:
            lits = [self.pick(self.lits[(inner, ic)]) for _ in range(2)]
            ins = ", ".join(sorted(set(lits)) + ["NULL"])
            cond = f"t0.{oc} {neg}IN ({ins})"
        else:
            m = r.randrange(5, 17)
            ipred = (f" WHERE {self.pred(inner, 't1')}"
                     if r.random() < 0.7 else "")
            cond = (f"t0.{oc} % {m} {neg}IN "
                    f"(SELECT t1.{ic} % {m} FROM {inner} t1{ipred})")
        sel_cols = list(SCHEMA[outer])[:4]
        proj = ", ".join(f"t0.{c} AS c{i}" for i, c in enumerate(sel_cols))
        opred = (f" AND {self.pred(outer, 't0')}"
                 if r.random() < 0.5 else "")
        order = ", ".join(f"{i + 1} NULLS FIRST"
                          for i in range(len(sel_cols)))
        return (f"SELECT {proj} FROM {outer} t0 WHERE {cond}{opred}"
                f" ORDER BY {order} LIMIT 500")

    def q_distinct_mix(self):
        """Multiple DISTINCT aggregates over DIFFERENT columns mixed
        with plain aggregates in one grouped select (round-18): >1
        distinct column forces Spark's RewriteDistinctAggregates Expand
        (one projection per distinct group, null-gated merge) — a plan
        no single-distinct catalog row reaches. Optional ROLLUP on top
        (Expand feeding Expand) and HAVING on a distinct count."""
        r = self.r
        tables, alias, frm = self.chain(maxlen=2)
        # 2-3 DISTINCT targets on distinct (table, col) pairs
        cands = [(tb, c, k) for tb in tables
                 for c, k in SCHEMA[tb].items() if k in ("int", "money")]
        if len(cands) < 2:       # e.g. a bare region chain: one numeric col
            return self.q_agg()  # cannot force the multi-distinct Expand
        self.r.shuffle(cands)
        dists = cands[:r.randrange(2, min(4, len(cands)) + 1)]
        daggs = []
        for tb, c, k in dists:
            e = cents(f"{alias[tb]}.{c}") if k == "money" else f"{alias[tb]}.{c}"
            daggs.append(self.pick([
                f"COUNT(DISTINCT {e})",
                f"CAST(SUM(DISTINCT {e}) AS BIGINT)",
                f"MIN(DISTINCT {e})"]))
        paggs = []
        for _ in range(r.randrange(1, 3)):
            tb = self.pick(tables)
            paggs.append(self.agg(tb, alias[tb]))
        gks = []
        for tb in tables:
            if r.random() < 0.7:
                gks.append(f"{alias[tb]}.{self.pick(GROUPCOLS[tb])}")
        gks = list(dict.fromkeys(gks))[:2]
        sel = [f"{g} AS c{i}" for i, g in enumerate(gks)]
        sel += [f"{a} AS c{len(gks) + i}"
                for i, a in enumerate(daggs + paggs)]
        where = ""
        if r.random() < 0.6:
            tb = self.pick(tables)
            where = f" WHERE {self.pred(tb, alias[tb])}"
        if gks:
            klist = ", ".join(gks)
            if len(gks) > 1 and r.random() < 0.35:
                grp = f" GROUP BY ROLLUP({klist})"
            else:
                grp = f" GROUP BY {klist}"
        else:
            grp = ""
        having = ""
        if grp and r.random() < 0.3:
            having = f" HAVING {daggs[0]} > {r.randrange(1, 6)}"
        order = ", ".join(f"{i + 1} NULLS FIRST" for i in range(len(sel)))
        return (f"SELECT {', '.join(sel)} FROM {frm}{where}{grp}{having}"
                f" ORDER BY {order} LIMIT 500")

    def q_having_sub(self):
        """Scalar subqueries in HAVING (round-18 second wave): the
        aggregate-vs-aggregate comparison path — the outer HAVING
        compares a grouped aggregate against an uncorrelated scalar
        aggregate over another table (itself optionally filtered), a
        shape neither q_agg's literal HAVING nor q_corr_agg's WHERE-side
        subqueries generate. Also: HAVING on an aggregate NOT in the
        select list, and a grouped-subquery form comparing against a
        per-group average pulled from a derived table."""
        r = self.r
        tables, alias, frm = self.chain(maxlen=2)
        t0 = tables[0]
        gk = f"{alias[t0]}.{self.pick(GROUPCOLS[t0])}"
        tb = self.pick(tables)
        agg1 = self.agg(tb, alias[tb])
        sel = [f"{gk} AS c0", f"{agg1} AS c1"]
        inner = self.pick([t for t in SCHEMA if t != "events"])
        nums = [(c, k) for c, k in SCHEMA[inner].items()
                if k in ("int", "money")]
        c2, k2 = self.pick(nums)
        e2 = cents(f"s1.{c2}") if k2 == "money" else f"s1.{c2}"
        ipred = (f" WHERE {self.pred(inner, 's1')}"
                 if r.random() < 0.6 else "")
        # the comparison aggregate: sometimes projected, sometimes not
        tb2 = self.pick(tables)
        c3, k3 = self.pick([(c, k) for c, k in SCHEMA[tb2].items()
                            if k in ("int", "money")])
        e3 = cents(f"{alias[tb2]}.{c3}") if k3 == "money" else f"{alias[tb2]}.{c3}"
        hagg = self.pick([f"CAST(SUM({e3}) AS BIGINT)", f"MIN({e3})",
                          f"MAX({e3})", "COUNT(*)"])
        # exact-integer comparison values ONLY: CAST(AVG AS BIGINT) would
        # fuzz the truncate-vs-round dialect split, not the engines
        sub = self.pick([
            f"(SELECT CAST(COUNT(*) AS BIGINT) FROM {inner} s1{ipred})",
            f"(SELECT CAST(SUM({e2}) AS BIGINT) % 100000 FROM {inner} s1{ipred})",
            f"(SELECT MIN({e2}) FROM {inner} s1{ipred})"])
        op = self.pick([">", ">=", "<", "<=", "<>"])
        scale = self.pick(["", " % 1000"])
        having = f" HAVING {hagg} {op} {sub}{scale}"
        where = ""
        if r.random() < 0.5:
            tb3 = self.pick(tables)
            where = f" WHERE {self.pred(tb3, alias[tb3])}"
        return (f"SELECT {', '.join(sel)} FROM {frm}{where}"
                f" GROUP BY {gk}{having}"
                f" ORDER BY 1 NULLS FIRST, 2 NULLS FIRST LIMIT 500")

    def q_window_corr(self):
        """Window functions INSIDE correlated scalar subqueries (round-18
        verdict task 6): the decorrelation path that has to hoist a Window
        operator out of the subquery — never reached by q_corr_agg (plain
        aggregates) or q_window (top-level windows). Determinism: rank()
        aggregated by MAX/MIN is tie-invariant; running sums are ordered
        by the inner table's verified-unique pk before being re-aggregated,
        so every scalar result is a pure function of the correlated set."""
        r = self.r
        f, d, fc, dc = self.pick([e for e in EDGES
                                  if self.pk[e[0]] == PK[e[0]]])
        outer, inner, oc, ic = ((d, f, dc, fc) if r.random() < 0.6
                                else (f, d, fc, dc))
        sel_cols = list(SCHEMA[outer])[:3]
        sel = [f"t0.{c} AS c{i}" for i, c in enumerate(sel_cols)]
        ipk = ", ".join(f"s1.{c} NULLS FIRST" for c in self.pk[inner])
        for i in range(r.randrange(1, 3)):
            c, k = self.pick([(c, k) for c, k in SCHEMA[inner].items()
                              if k in ("int", "money")])
            e = cents(f"s1.{c}") if k == "money" else f"s1.{c}"
            ipred = (f" AND {self.pred(inner, 's1')}"
                     if r.random() < 0.5 else "")
            kind = r.randrange(3)
            if kind == 0:
                wf = (f"{self.pick(['rank()', 'dense_rank()'])} OVER "
                      f"(ORDER BY {e} NULLS FIRST)")
                outer_agg = self.pick(["MAX", "MIN"])
            elif kind == 1:
                wf = (f"CAST(SUM({e}) OVER (ORDER BY {ipk} "
                      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "
                      "AS BIGINT)")
                outer_agg = self.pick(["MAX", "MIN", "COUNT"])
            else:
                wf = f"row_number() OVER (ORDER BY {ipk})"
                outer_agg = self.pick(["MAX", "COUNT"])
            sub = (f"(SELECT {outer_agg}(w) FROM "
                   f"(SELECT {wf} AS w FROM {inner} s1 "
                   f"WHERE s1.{ic} = t0.{oc}{ipred}))")
            sel.append(f"{sub} AS cw{i}")
        where = f" WHERE {self.pred(outer, 't0')}" if r.random() < 0.7 else ""
        order = ", ".join(f"{i + 1} NULLS FIRST" for i in range(len(sel)))
        return (f"SELECT {', '.join(sel)} FROM {outer} t0{where}"
                f" ORDER BY {order} LIMIT 500")

    def q_fullouter_coalesce(self):
        """FULL OUTER join on aggregated sides with COALESCE'd keys
        feeding a SECOND aggregation (round-18 verdict task 6): the
        null-extended key rows from both sides must flow through
        COALESCE into the regroup — patrols outer-join null generation x
        grouping x COUNT(col)-vs-COUNT(*) at once. Sides are filtered
        DIFFERENTLY so each produces unmatched keys."""
        r = self.r
        f, d, fc, dc = self.pick(EDGES)
        ca, ka = self.pick([(c, k) for c, k in SCHEMA[f].items()
                            if k in ("int", "money")])
        cb, kb = self.pick([(c, k) for c, k in SCHEMA[d].items()
                            if k in ("int", "money")])
        ea = cents(f"x.{ca}") if ka == "money" else f"x.{ca}"
        eb = cents(f"y.{cb}") if kb == "money" else f"y.{cb}"
        pa = f" WHERE {self.pred(f, 'x')}" if r.random() < 0.8 else ""
        pb = f" WHERE {self.pred(d, 'y')}" if r.random() < 0.8 else ""
        agg2 = self.pick(["SUM", "MIN", "MAX"])
        mod = r.randrange(2, 9)
        regroup = self.pick([f"COALESCE(a.k, b.k)",
                             f"COALESCE(a.k, b.k) % {mod}"])
        return (f"WITH a AS (SELECT x.{fc} AS k, "
                f"CAST(SUM({ea}) AS BIGINT) AS v FROM {f} x{pa} "
                f"GROUP BY x.{fc}), "
                f"b AS (SELECT y.{dc} AS k, "
                f"CAST({agg2}({eb}) AS BIGINT) AS w FROM {d} y{pb} "
                f"GROUP BY y.{dc}) "
                f"SELECT {regroup} AS c0, "
                "CAST(SUM(COALESCE(a.v, 0) + COALESCE(b.w, 0)) AS BIGINT)"
                " AS c1, COUNT(a.k) AS c2, COUNT(b.k) AS c3, COUNT(*) AS c4"
                " FROM a FULL JOIN b ON a.k = b.k"
                f" GROUP BY 1 ORDER BY 1 NULLS FIRST LIMIT 500")

    def q_minmax_by(self):
        """min_by/max_by under expression keys WITH deliberate ties and
        NULL keys (round-18 verdict task 6). Ties are nondeterministic in
        BOTH engines (measured: the same query picks different winners),
        so the tied variant keeps the VALUE a pure function of the key's
        tie class — any winner yields the same value, making the result
        deterministic while still exercising tie handling and the
        NULL-key-row skip. The unique variant orders by a strictly
        monotone function of a verified-unique pk, pinning the actual
        row pairing."""
        r = self.r
        t = self.pick([t for t in SCHEMA
                       if self.pk[t] == PK[t] and len(PK[t]) == 1])
        gk = f"t0.{self.pick(GROUPCOLS[t])}"
        nums = [(c, k) for c, k in SCHEMA[t].items()
                if k in ("int", "money")]
        sel = [f"{gk} AS c0"]
        for i in range(r.randrange(2, 4)):
            fn = self.pick(["min_by", "max_by"])
            if r.random() < 0.6:
                # tied keys (mod-m classes), tie-invariant value f(key)
                c, k = self.pick(nums)
                e = cents(f"t0.{c}") if k == "money" else f"t0.{c}"
                m = r.randrange(2, 12)
                key = f"COALESCE({e}, 0) % {m}"
                if r.random() < 0.4:  # NULL keys: both engines skip them
                    kn = r.randrange(2, 5)
                    key = (f"CASE WHEN COALESCE({e}, 0) % {kn} = 0 "
                           f"THEN NULL ELSE COALESCE({e}, 0) % {m} END")
                val = f"({key}) * {r.randrange(2, 9)} + {r.randrange(0, 7)}"
                sel.append(f"{fn}({val}, {key}) AS c{i + 1}")
            else:
                # unique key from the pk -> the paired value is pinned
                pkc = PK[t][0]
                key = (f"CAST(t0.{pkc} AS BIGINT) * {r.randrange(2, 7)}"
                       f" + {r.randrange(0, 5)}")
                c, k = self.pick(nums)
                val = cents(f"t0.{c}") if k == "money" else f"t0.{c}"
                sel.append(f"{fn}({val}, {key}) AS c{i + 1}")
        where = f" WHERE {self.pred(t, 't0')}" if r.random() < 0.7 else ""
        order = ", ".join(f"{i + 1} NULLS FIRST" for i in range(len(sel)))
        return (f"SELECT {', '.join(sel)} FROM {t} t0{where}"
                f" GROUP BY 1 ORDER BY {order} LIMIT 500")

    def q_select(self):
        r = self.r
        tables, alias, frm = self.chain(maxlen=2)
        n = r.randrange(2, 5)
        sel = []
        for i in range(n):
            tb = self.pick(tables)
            sel.append(f"{self.scalar(tb, alias[tb])} AS c{i}")
        tb = self.pick(tables)
        where = f" WHERE {self.pred(tb, alias[tb])}"
        if r.random() < 0.25:  # scalar subquery corner
            t2 = self.pick([x for x in SCHEMA if x != "events"])
            c2 = [c for c, k in SCHEMA[t2].items() if k == "int"][0]
            where += (f" AND {alias[tables[0]]}.{list(SCHEMA[tables[0]])[0]}"
                      f" >= (SELECT MIN({c2}) FROM {t2})")
        order = ", ".join(f"{i + 1} NULLS FIRST" for i in range(n))
        return (f"SELECT {', '.join(sel)} FROM {frm}{where}"
                f" ORDER BY {order} LIMIT 500")

    def q_gs_window(self):
        """Grouping sets/rollup/cube FEEDING window functions (round-19
        verdict task 7): the grouped output — with its NULL group keys
        and grouping_id — becomes window input, so frames and partitions
        range over super-aggregate rows. (keys, gid) is unique by
        grouping-set construction, so windows ordered by (c0, c1) within
        a gid partition (or by gid within a key partition) are total and
        deterministic. Measures stay integer (cents/counts) — a DOUBLE
        frame-sum would be summation-order noise, not an engine finding."""
        r = self.r
        t = self.pick([x for x in SCHEMA if len(GROUPCOLS[x]) >= 2])
        gks = r.sample(GROUPCOLS[t], 2)
        mc, mk = self.pick([(c, k) for c, k in SCHEMA[t].items()
                            if k in ("int", "money")])
        e = cents(f"t0.{mc}") if mk == "money" else f"t0.{mc}"
        m = self.pick([f"CAST(SUM({e}) AS BIGINT)", "COUNT(*)",
                       f"MIN({e})", f"MAX({e})"])
        mode = self.pick([
            f"ROLLUP(t0.{gks[0]}, t0.{gks[1]})",
            f"CUBE(t0.{gks[0]}, t0.{gks[1]})",
            f"GROUPING SETS ((t0.{gks[0]}, t0.{gks[1]}), (t0.{gks[1]}), ())"])
        p = self.pred(t, "t0")
        frame = self.pick([
            "ROWS BETWEEN 1 PRECEDING AND CURRENT ROW",
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW",
            "ROWS BETWEEN CURRENT ROW AND 2 FOLLOWING",
            "RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"])
        win0 = (f"CAST(SUM(m) OVER (PARTITION BY gid ORDER BY c0 NULLS "
                f"FIRST, c1 NULLS FIRST {frame}) AS BIGINT)")
        win1 = ("CAST(ROW_NUMBER() OVER (PARTITION BY c0 ORDER BY gid "
                "NULLS FIRST, c1 NULLS FIRST) AS BIGINT)")
        return (f"WITH g AS (SELECT t0.{gks[0]} AS c0, t0.{gks[1]} AS c1, "
                f"CAST(grouping_id(t0.{gks[0]}, t0.{gks[1]}) AS BIGINT) AS gid, "
                f"{m} AS m FROM {t} t0 WHERE {p} GROUP BY {mode}) "
                f"SELECT c0, c1, gid, m, {win0} AS w0, {win1} AS w1 FROM g "
                f"ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, "
                f"4 NULLS FIRST, 5 NULLS FIRST, 6 NULLS FIRST LIMIT 500")

    def q_agg_over_grouped(self):
        """Aggregates (and a window over the aggregate's own output) OVER
        a grouped subquery (round-19 verdict task 7): inner GROUP BY two
        keys, outer GROUP BY one of them re-aggregating the inner
        measures, with RANK over the outer aggregate — patrols
        aggregate-then-window resolution and the two-level partial-agg
        pipeline. Outer keys are unique post-grouping, so rank orders
        totally via the key tie-break."""
        r = self.r
        t = self.pick([x for x in SCHEMA if len(GROUPCOLS[x]) >= 2])
        gks = r.sample(GROUPCOLS[t], 2)
        keep = self.pick(gks)
        mc, mk = self.pick([(c, k) for c, k in SCHEMA[t].items()
                            if k in ("int", "money")])
        e = cents(f"t0.{mc}") if mk == "money" else f"t0.{mc}"
        p = self.pred(t, "t0")
        outer_m = self.pick([
            "CAST(SUM(m) AS BIGINT)", "CAST(MIN(m) AS BIGINT)",
            "CAST(MAX(m) AS BIGINT)", "COUNT(*)"])
        return (f"WITH g AS (SELECT t0.{gks[0]} AS k0, t0.{gks[1]} AS k1, "
                f"CAST(SUM({e}) AS BIGINT) AS m, COUNT(*) AS n "
                f"FROM {t} t0 WHERE {p} GROUP BY t0.{gks[0]}, t0.{gks[1]}) "
                f"SELECT {('k0' if keep == gks[0] else 'k1')} AS c0, "
                f"{outer_m} AS c1, CAST(SUM(n) AS BIGINT) AS c2, "
                f"CAST(RANK() OVER (ORDER BY {outer_m} NULLS FIRST, "
                f"{('k0' if keep == gks[0] else 'k1')} NULLS FIRST) "
                f"AS BIGINT) AS c3 "
                f"FROM g GROUP BY {('k0' if keep == gks[0] else 'k1')} "
                f"ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, "
                f"4 NULLS FIRST LIMIT 500")

    def q_having_window(self):
        """Window columns under an outer WHERE + GROUP BY + HAVING
        (round-19 verdict task 7): the subquery computes per-partition
        ROW_NUMBER and a partition total; the outer query filters on BOTH
        a window column (must NOT push below the window) and the
        partition key (pushable through it), then groups with a HAVING on
        the re-aggregate — patrols the pushdown boundary around window
        operators. Window order = the table's verified total PK order."""
        r = self.r
        t = self.pick(list(SCHEMA))
        gk = self.pick(GROUPCOLS[t])
        mc, mk = self.pick([(c, k) for c, k in SCHEMA[t].items()
                            if k in ("int", "money")])
        e = cents(f"t0.{mc}") if mk == "money" else f"t0.{mc}"
        pkord = ", ".join(f"t0.{c} NULLS FIRST" for c in self.pk[t])
        p = self.pred(t, "t0")
        kLim = r.randrange(2, 40)
        hLim = r.randrange(1, 5)
        outer_pred = self.pick([
            f"rn <= {kLim}",
            f"rn <= {kLim} AND tot >= 0",
            f"(rn <= {kLim} OR rn > {kLim + r.randrange(1, 20)})"])
        return (f"WITH w AS (SELECT t0.{gk} AS gk, "
                f"CAST(ROW_NUMBER() OVER (PARTITION BY t0.{gk} "
                f"ORDER BY {pkord}) AS BIGINT) AS rn, "
                f"CAST(SUM({e}) OVER (PARTITION BY t0.{gk}) AS BIGINT) AS tot "
                f"FROM {t} t0 WHERE {p}) "
                f"SELECT gk AS c0, COUNT(*) AS c1, CAST(MIN(rn) AS BIGINT) "
                f"AS c2, CAST(MAX(tot) AS BIGINT) AS c3 "
                f"FROM w WHERE {outer_pred} GROUP BY gk "
                f"HAVING COUNT(*) >= {hLim} "
                f"ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, "
                f"4 NULLS FIRST LIMIT 500")

    def q_rcte_deep(self):
        """Recursive CTE NEAR Spark's cteRecursionLevelLimit (round-19
        verdict task 7): k in 90..99 — the anchor plus k steps lands at
        91..100 rows, one level under the limit (k=100 raises
        RECURSION_LEVEL_LIMIT_EXCEEDED, probed r20); DuckDB has no such
        limit, so agreement here certifies Spark's level accounting emits
        EXACTLY the bounded fixpoint, not limit-1 or limit+1 rows. An
        aggregate over the full ladder makes any off-by-one a value
        mismatch, not just a row-count one."""
        r = self.r
        t = self.pick(list(SCHEMA))
        c0 = self.pick([c for c, k in SCHEMA[t].items() if k == "int"])
        k = r.randrange(90, 100)
        mod = self.pick([97, 1009, 65537])
        mul = r.randrange(2, 12)
        add = r.randrange(0, 50)
        p = self.pred(t, "t0")
        anchor = (f"(SELECT COALESCE(CAST(MIN(t0.{c0}) AS BIGINT), 0) "
                  f"FROM {t} t0 WHERE {p})")
        return (f"WITH RECURSIVE rr(n, acc) AS ("
                f"SELECT CAST(0 AS BIGINT) AS n, {anchor} % {mod} AS acc"
                f" UNION ALL "
                f"SELECT n + 1, (acc * {mul} + {add}) % {mod} FROM rr"
                f" WHERE n < {k}) "
                f"SELECT COUNT(*) AS c0, CAST(SUM(acc) AS BIGINT) AS c1, "
                f"CAST(MAX(n) AS BIGINT) AS c2, "
                f"CAST(MIN(acc) AS BIGINT) AS c3 FROM rr"
                f" ORDER BY 1 NULLS FIRST LIMIT 500")

    def q_setop_rcte(self):
        """Set operations over TWO recursive CTE heads (round-19 verdict
        task 7): independent modular ladders meeting in UNION/
        INTERSECT/EXCEPT [ALL] — patrols set-op dedup/multiplicity over
        recursion outputs (both heads resolve before the set op; Spark
        plans each fixpoint separately). Ladders share the acc domain
        (same mod) so INTERSECT/EXCEPT are non-degenerate."""
        r = self.r
        mod = self.pick([53, 97, 211])
        k1, k2 = r.randrange(20, 70), r.randrange(20, 70)

        def ladder(name, seed, mul, add, k):
            return (f"{name}(n, acc) AS ("
                    f"SELECT CAST(0 AS BIGINT) AS n, "
                    f"CAST({seed} AS BIGINT) AS acc"
                    f" UNION ALL "
                    f"SELECT n + 1, (acc * {mul} + {add}) % {mod} "
                    f"FROM {name} WHERE n < {k})")
        a = ladder("a", r.randrange(0, mod), r.randrange(2, 12),
                   r.randrange(0, 50), k1)
        b = ladder("b", r.randrange(0, mod), r.randrange(2, 12),
                   r.randrange(0, 50), k2)
        op = self.pick(["UNION", "UNION ALL", "INTERSECT",
                        "INTERSECT ALL", "EXCEPT", "EXCEPT ALL"])
        # acc alone (not n): overlapping values with different step
        # indices are what give the set op real dedup/multiplicity work
        return (f"WITH RECURSIVE {a}, {b} "
                f"SELECT acc AS c0 FROM a {op} SELECT acc AS c0 FROM b"
                f" ORDER BY 1 NULLS FIRST LIMIT 500")

    def query(self):
        # NOT generated: window frames with EXCLUDE — Spark 4.1 has no
        # EXCLUDE clause in frame syntax (parse error), so the same text
        # cannot run on both engines; a dialect gap, not a coverage hole
        # (verified round-17; see COVERAGE.md). Same for UNION (distinct)
        # recursion in recursive CTEs: Spark 4.1 raises
        # UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE (verified round-19), so
        # dedup-recursion SEMANTICS are certified through the catalog gate
        # instead (q77: bounded UNION ALL orbit + DISTINCT vs DuckDB's
        # native UNION recursion).
        return self.pick([self.q_agg, self.q_agg, self.q_window,
                          self.q_setop, self.q_exists, self.q_corr_agg,
                          self.q_select, self.q_setop_gs, self.q_decimal,
                          self.q_lateral, self.q_rcte, self.q_filter_agg,
                          self.q_exists_or, self.q_lateral_chain,
                          self.q_setop_mixed, self.q_interval,
                          self.q_scalar_select, self.q_in_null,
                          self.q_distinct_mix, self.q_having_sub,
                          self.q_window_corr, self.q_fullouter_coalesce,
                          self.q_minmax_by, self.q_gs_window,
                          self.q_agg_over_grouped, self.q_having_window,
                          self.q_rcte_deep, self.q_setop_rcte])()


def compare(exp, got):
    """selfcheck-equivalent frame compare; returns None or mismatch str."""
    exp = exp.reindex(sorted(exp.columns), axis=1)
    got = got.reindex(sorted(got.columns), axis=1)
    if list(exp.columns) != list(got.columns):
        return f"columns {list(got.columns)} vs {list(exp.columns)}"
    if len(exp) != len(got):
        return f"rows {len(got)} vs {len(exp)}"
    for c in exp.columns:
        ev, gv = exp[c].tolist(), got[c].tolist()
        for i, (a, b) in enumerate(zip(ev, gv)):
            if isinstance(a, float) and isinstance(b, float):
                if floats_differ(a, b):
                    return f"col={c} row={i} duckdb={a!r} spark={b!r}"
            elif pd.isna(a) and pd.isna(b):
                continue
            else:
                # normalize date-ish types across engines before declaring:
                # DuckDB fetchdf renders DATE as midnight Timestamp, Spark
                # parquet yields datetime.date — same value, different repr
                try:
                    differs = bool(pd.isna(a) or pd.isna(b) or a != b)
                except Exception:
                    differs = True
                if differs:
                    sa = str(a).removesuffix(" 00:00:00")
                    sb = str(b).removesuffix(" 00:00:00")
                    if sa != sb:
                        return f"col={c} row={i} duckdb={a!r} spark={b!r}"
    return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("--n", type=int, default=250)
    ap.add_argument("--seed", type=int, default=1501)
    ap.add_argument("--out", default=os.path.join(tempfile.gettempdir(), "FUZZ.json"))
    ap.add_argument("--workdir", default="/tmp/graft_fuzz")
    ap.add_argument("--skip-run", action="store_true",
                    help="reuse an existing FuzzRunner output dir")
    ap.add_argument("--fams", default=None,
                    help="comma-separated q_* family names: every draw "
                    "uses only these (scale-targeted sweeps, e.g. the "
                    "decimal overflow boundary at sf10 where the full "
                    "grammar's join sorts are mis-sized)")
    ap.add_argument("--java", action="store_true",
                    help="launch FuzzRunner via direct java (no sbt lock)")
    args = ap.parse_args()

    con = duckdb.connect()
    for t in SCHEMA:
        p = f"{args.sf}/{t}.parquet"
        if os.path.isdir(p):
            p = f"{p}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    sqldir = os.path.join(args.workdir, "sql")
    outdir = os.path.join(args.workdir, "out")
    os.makedirs(sqldir, exist_ok=True)
    g = Gen(args.seed, con)
    gen = g.query
    if args.fams:
        fams = [getattr(g, f.strip()) for f in args.fams.split(",")]
        gen = lambda: g.pick(fams)()  # noqa: E731
    names = []
    for i in range(args.n):
        name = f"f{i:04d}"
        names.append(name)
        with open(os.path.join(sqldir, name + ".sql"), "w") as fh:
            fh.write(gen())
    print(f"[fuzz] generated {args.n} queries (seed {args.seed})")

    if not args.skip_run:
        if args.java:
            # direct-java launch against the compiled classes: same JVM
            # flags as build.sbt's forked run, but no sbt project lock —
            # lets the fuzz sweep run beside a long sbt bench session
            add_opens = []
            for p in ("java.lang java.lang.invoke java.lang.reflect "
                      "java.io java.net java.nio java.util "
                      "java.util.concurrent java.util.concurrent.atomic "
                      "sun.nio.ch sun.nio.cs sun.security.action "
                      "sun.util.calendar").split():
                add_opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
            # GRAFT_CLASSES: point at a SNAPSHOT copy of the compiled
            # classes so a long sweep can run beside sbt recompiles
            # (Scala lambdas classload lazily; swapping class files under
            # a live JVM is not safe)
            classes = os.environ.get(
                "GRAFT_CLASSES", f"{REPO}/target/scala-2.13/classes")
            cmd = (["java"] + add_opens +
                   ["-Dspark.ui.enabled=false",
                    "-Dspark.sql.session.timeZone=UTC",
                    "-Xmx" + os.environ.get("SPARK_DRIVER_MEM", "8g"),
                    "-cp",
                    f"{classes}:/opt/spark/jars/*",
                    "graft.FuzzRunner", args.sf, sqldir, outdir])
        else:
            cmd = ["sbt", "--batch",
                   f"runMain graft.FuzzRunner {args.sf} {sqldir} {outdir}"]
        rc = subprocess.run(cmd, cwd=REPO).returncode
        if rc != 0:
            print(f"[fuzz] FuzzRunner exited {rc}")
            return 2

    ok, mismatch, spark_err, duck_err, both_err = [], [], [], [], []
    details = {}
    # draws whose oracle output contains a value past the OLD
    # DECIMAL(20,4) integral ceiling (1e16): the round-18 widening to
    # (24,4) exists exactly for these — a scale-targeted sweep must
    # show it exercised the boundary (round-19 verdict task 1)
    past_old_boundary = []
    OLD_CEIL = 1e16

    def _max_abs(df):
        import decimal as _dec
        mx = 0.0
        for c in df.columns:
            for v in df[c].dropna():
                if isinstance(v, (int, float, _dec.Decimal)):
                    try:
                        mx = max(mx, abs(float(v)))
                    except (OverflowError, ValueError):
                        return float("inf")
        return mx
    for name in names:
        sql = open(os.path.join(sqldir, name + ".sql")).read()
        errf = os.path.join(outdir, name + ".err")
        serr = open(errf).read() if os.path.exists(errf) else None
        try:
            # arrow() (not fetchdf): fetchdf downcasts DECIMAL to float64,
            # so an exact decimal result compares UNEQUAL to Spark's exact
            # Decimal parquet values (the r17 seed-1702 sweep reported 11
            # false mismatches like -0.1 vs Decimal('-0.100000')); the
            # arrow path keeps decimal128 -> decimal.Decimal on both sides
            # (and renders DATE as datetime.date, matching Spark's parquet,
            # where fetchdf gave midnight Timestamps).
            exp = con.execute(sql).arrow().to_pandas()
            derr = None
        except Exception as e:
            exp, derr = None, str(e)
        if serr and derr:
            both_err.append(name)
            details[name] = f"both error: spark={serr[:200]} duckdb={derr[:200]}"
        elif serr:
            spark_err.append(name)
            details[name] = f"spark-only error: {serr[:300]}"
        elif derr:
            duck_err.append(name)
            details[name] = f"duckdb-only error: {derr[:300]}"
        else:
            got = pd.read_parquet(os.path.join(outdir, name))
            m = compare(exp, got)
            if m:
                mismatch.append(name)
                details[name] = m
                print(f"MISMATCH {name}: {m}\n  {sql[:300]}")
            else:
                ok.append(name)
                if exp is not None and _max_abs(exp) > OLD_CEIL:
                    past_old_boundary.append(name)
    art = {"seed": args.seed, "n": args.n, "sf": args.sf,
           "fams": args.fams,
           "ok": len(ok), "mismatch": mismatch,
           "spark_only_error": spark_err, "duckdb_only_error": duck_err,
           "both_error": both_err,
           "past_old_decimal_boundary_count": len(past_old_boundary),
           "past_old_decimal_boundary": past_old_boundary[:50],
           "details": {k: v for k, v in details.items()}}
    json.dump(art, open(args.out, "w"), indent=1)
    print(f"[fuzz] {len(ok)} ok, {len(mismatch)} MISMATCH, "
          f"{len(spark_err)} spark-only err, {len(duck_err)} duckdb-only err, "
          f"{len(both_err)} both-err -> {args.out}")
    return 1 if mismatch else 0


if __name__ == "__main__":
    sys.exit(main())
