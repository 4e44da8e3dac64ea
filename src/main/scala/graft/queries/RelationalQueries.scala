package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.RelationalOps
import graft.queries.Catalog.{QueryDef, dec}

/** Relational rows: scans, joins and aggregates, windows, set operations,
  * the SQL front-end (subqueries, LATERAL, recursive CTEs), the scalar and
  * aggregate function suites, layout writes, and the
  * [[graft.operators.RelationalOps]] operators (range and as-of joins,
  * sessionize, resampling, merge/upsert) that the event-time rows (`e*`)
  * exercise. */
object RelationalQueries {

  private[queries] val q01 = QueryDef("q01_count",
    (s, d) => Tables.lineitem(s, d).agg(count(lit(1)).as("n")),
    Some("SELECT COUNT(*) AS n FROM lineitem"),
    bench = true)

  private[queries] val q02 = QueryDef("q02_filter",
    (s, d) => Tables.lineitem(s, d)
      .filter(col("l_quantity") > 45 && col("l_returnflag") === "R")
      .select("l_orderkey", "l_linenumber")
      .orderBy("l_orderkey", "l_linenumber"),
    Some("""SELECT l_orderkey, l_linenumber FROM lineitem
            WHERE l_quantity > 45 AND l_returnflag = 'R'
            ORDER BY l_orderkey, l_linenumber"""))

  private[queries] val q03 = QueryDef("q03_project",
    (s, d) => Tables.orders(s, d)
      .select(col("o_orderkey"),
        round(dec(col("o_totalprice")) * lit(0.9).cast("decimal(2,1)"), 2)
          .cast("double").as("disc_price"))
      .orderBy("o_orderkey"),
    Some("""SELECT o_orderkey,
              CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(0.9 AS DECIMAL(2,1)), 2)
                   AS DOUBLE) AS disc_price
            FROM orders ORDER BY o_orderkey"""))

  private[queries] val q04 = QueryDef("q04_join_agg",
    // no broadcast hint on customer: it scales with SF (not broadcastable
    // at 100 TB); AQE converts to broadcast at small scale on its own
    (s, d) => Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
      .orderBy("c_mktsegment"),
    Some("""SELECT c_mktsegment, COUNT(*) AS n FROM orders
            JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment ORDER BY c_mktsegment"""),
    bench = true)

  private[queries] val q05 = QueryDef("q05_multijoin",
    (s, d) => Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(round(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount")))), 2)
        .cast("double").as("revenue"))
      .orderBy("n_name"),
    Some("""SELECT n_name,
              CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE) AS revenue
            FROM region
            JOIN nation ON n_regionkey = r_regionkey
            JOIN customer ON c_nationkey = n_nationkey
            JOIN orders ON o_custkey = c_custkey
            JOIN lineitem ON l_orderkey = o_orderkey
            GROUP BY n_name ORDER BY n_name"""),
    bench = true)

  private[queries] val q06 = QueryDef("q06_semijoin",
    (s, d) => Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_semi")
      .agg(count(lit(1)).as("n")),
    Some("""SELECT COUNT(*) AS n FROM customer
            WHERE c_custkey IN (SELECT o_custkey FROM orders)"""))

  private[queries] val q07 = QueryDef("q07_antijoin",
    (s, d) => Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey").orderBy("c_custkey"),
    Some("""SELECT c_custkey FROM customer
            WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
            ORDER BY c_custkey"""))

  private[queries] val q08 = QueryDef("q08_leftjoin",
    (s, d) => Tables.customer(s, d)
      .join(Tables.orders(s, d), col("o_custkey") === col("c_custkey"), "left")
      .groupBy("c_custkey").agg(count(col("o_orderkey")).as("n"))
      .orderBy("c_custkey"),
    Some("""SELECT c_custkey, COUNT(o_orderkey) AS n FROM customer
            LEFT JOIN orders ON o_custkey = c_custkey
            GROUP BY c_custkey ORDER BY c_custkey"""),
    bench = true)

  private[queries] val q09 = QueryDef("q09_rangejoin",
    (s, d) => {
      val ev = Tables.events(s, d)
      val left = ev.select(col("event_id"), col("user_id"), col("ts"))
      val right = ev.select(col("user_id"), col("ts").as("ts2"))
      RelationalOps.rangeJoinBucketed(left, right, "user_id", "ts", "ts2", 600L)
        .groupBy("event_id").agg(count(lit(1)).as("n"))
        .orderBy("event_id")
    },
    Some("""SELECT e1.event_id, COUNT(*) AS n FROM events e1
            JOIN events e2 ON e1.user_id = e2.user_id
              AND e2.ts > e1.ts AND e2.ts <= e1.ts + INTERVAL 10 MINUTE
            GROUP BY e1.event_id ORDER BY e1.event_id"""),
    bench = true)

  /** The two sides of the as-of rows (q10, e05–e07): purchases, and the
    * signups each one looks up. */
  private def purchases(ev: DataFrame) =
    ev.filter(col("event_type") === "purchase").select("event_id", "user_id", "ts")

  private def signups(ev: DataFrame) =
    ev.filter(col("event_type") === "signup").select("user_id", "ts")

  private[queries] val q10 = QueryDef("q10_asof",
    (s, d) => {
      val ev = Tables.events(s, d)
      RelationalOps.asOfJoin(purchases(ev), signups(ev), "user_id", "ts", "ts",
          Seq("ts" -> "last_signup"))
        .filter(col("last_signup").isNotNull)
        .select("event_id", "last_signup")
        .orderBy("event_id")
    },
    Some("""SELECT p.event_id, CAST(MAX(s.ts) AS TIMESTAMP) AS last_signup
            FROM events p JOIN events s ON p.user_id = s.user_id
              AND s.event_type = 'signup' AND s.ts <= p.ts
            WHERE p.event_type = 'purchase'
            GROUP BY p.event_id ORDER BY p.event_id"""),
    bench = true)

  private[queries] val q11 = QueryDef("q11_tpch1",
    (s, d) => Tables.lineitem(s, d)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum(dec(col("l_quantity"))).cast("double"), 2).as("sum_qty"),
        round(sum(dec(col("l_extendedprice"))).cast("double"), 2).as("sum_price"),
        round((sum(dec(col("l_discount"))).cast("double") / count(lit(1))), 2).as("avg_disc"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag", "l_linestatus"),
    Some("""SELECT l_returnflag, l_linestatus,
              ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty,
              ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_price,
              ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 2) AS avg_disc,
              COUNT(*) AS n
            FROM lineitem GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus"""),
    bench = true)

  private[queries] val q12 = QueryDef("q12_countdistinct",
    (s, d) => Tables.lineitem(s, d).agg(countDistinct(col("l_partkey")).as("n")),
    Some("SELECT COUNT(DISTINCT l_partkey) AS n FROM lineitem"),
    bench = true)

  private[queries] val q13 = QueryDef("q13_rollup",
    (s, d) => Tables.orders(s, d)
      .rollup("o_orderpriority", "o_orderstatus")
      .agg(count(lit(1)).as("n"))
      .select(
        coalesce(col("o_orderpriority"), lit("ALL")).as("pri"),
        coalesce(col("o_orderstatus"), lit("ALL")).as("st"),
        col("n"))
      .orderBy("pri", "st"),
    Some("""SELECT COALESCE(o_orderpriority, 'ALL') AS pri,
              COALESCE(o_orderstatus, 'ALL') AS st, COUNT(*) AS n
            FROM orders GROUP BY ROLLUP(o_orderpriority, o_orderstatus)
            ORDER BY pri, st"""))

  private[queries] val q14 = QueryDef("q14_topk_group",
    (s, d) => {
      val j = Tables.orders(s, d)
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .select("c_mktsegment", "o_orderkey", "o_totalprice")
      RelationalOps.topKPerGroup(j, Seq(col("c_mktsegment")),
          Seq(col("o_totalprice").desc, col("o_orderkey")), 3)
        .select("c_mktsegment", "o_orderkey")
        .orderBy("c_mktsegment", "o_orderkey")
    },
    Some("""SELECT c_mktsegment, o_orderkey FROM (
              SELECT c_mktsegment, o_orderkey,
                ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                  ORDER BY o_totalprice DESC, o_orderkey) AS rn
              FROM orders JOIN customer ON o_custkey = c_custkey) t
            WHERE rn <= 3 ORDER BY c_mktsegment, o_orderkey"""),
    bench = true)

  private[queries] val q15 = QueryDef("q15_runsum",
    (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .select(col("event_id"),
          round(sum(dec(col("value"))).over(w).cast("double"), 2).as("run"))
        .orderBy("event_id")
    },
    Some("""SELECT event_id,
              ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
                PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 2) AS run
            FROM events ORDER BY event_id"""))

  private[queries] val q16 = QueryDef("q16_diff",
    (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .select(col("event_id"),
          round(col("value") - lag(col("value"), 1).over(w), 2).as("dv"))
        .orderBy("event_id")
    },
    Some("""SELECT event_id, ROUND(value - LAG(value) OVER (
              PARTITION BY user_id ORDER BY ts, event_id), 2) AS dv
            FROM events ORDER BY event_id"""),
    bench = true)

  private[queries] val q17 = QueryDef("q17_topk_global",
    (s, d) => Tables.lineitem(s, d)
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      .limit(10)
      .select("l_orderkey", "l_linenumber"),
    Some("""SELECT l_orderkey, l_linenumber FROM lineitem
            ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 10"""),
    bench = true)

  private[queries] val q18i = QueryDef("q18_intersect",
    (s, d) => Tables.customer(s, d).select(col("c_nationkey").as("k"))
      .intersect(Tables.supplier(s, d).select(col("s_nationkey").as("k")))
      .orderBy("k"),
    Some("""SELECT c_nationkey AS k FROM customer
            INTERSECT SELECT s_nationkey AS k FROM supplier ORDER BY k"""))

  private[queries] val q18e = QueryDef("q18_except",
    (s, d) => Tables.customer(s, d).select(col("c_nationkey").as("k"))
      .except(Tables.supplier(s, d).select(col("s_nationkey").as("k")))
      .orderBy("k"),
    Some("""SELECT c_nationkey AS k FROM customer
            EXCEPT SELECT s_nationkey AS k FROM supplier ORDER BY k"""))

  private[queries] val q18u = QueryDef("q18_union",
    (s, d) => Tables.customer(s, d).select(col("c_nationkey").as("k"))
      .union(Tables.supplier(s, d).select(col("s_nationkey").as("k")))
      .distinct()
      .orderBy("k"),
    Some("""SELECT c_nationkey AS k FROM customer
            UNION SELECT s_nationkey AS k FROM supplier ORDER BY k"""))

  private[queries] val q19 = QueryDef("q19_regex",
    (s, d) => Tables.documents(s, d)
      .select(col("doc_id"),
        regexp_extract(col("source"), "src(\\d+)", 1).cast("int").as("src_no"))
      .orderBy("doc_id"),
    Some("""SELECT doc_id, CAST(REGEXP_EXTRACT(source, 'src(\d+)', 1) AS INT) AS src_no
            FROM documents ORDER BY doc_id"""))

  private[queries] val q20 = QueryDef("q20_split",
    (s, d) => Tables.customer(s, d)
      .select(col("c_custkey"), split_part(col("c_name"), lit("#"), lit(1)).as("prefix"))
      .orderBy("c_custkey"),
    Some("""SELECT c_custkey, SPLIT_PART(c_name, '#', 1) AS prefix
            FROM customer ORDER BY c_custkey"""))

  private[queries] val q21 = QueryDef("q21_datetrunc",
    (s, d) => Tables.orders(s, d)
      .groupBy(date_trunc("month", col("o_orderdate")).as("m"))
      .agg(count(lit(1)).as("n"))
      .orderBy("m"),
    Some("""SELECT CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP) AS m,
              COUNT(*) AS n
            FROM orders GROUP BY m ORDER BY m"""))

  private[queries] val q22 = QueryDef("q22_array",
    (s, d) => Tables.embeddings(s, d)
      .select(col("vec_id"),
        size(col("embedding")).cast("int").as("dim"),
        // + 0.0 zero-sign-normalizes on BOTH sides: a small negative
        // rounds to -0.0 in DuckDB but +0.0 through Spark's BigDecimal
        // round — a bit-level hash mismatch (first triggered at sf0.1)
        (round(element_at(col("embedding"), 1).cast("double"), 4) + lit(0.0))
          .as("e0"))
      .orderBy("vec_id"),
    Some("""SELECT vec_id, CAST(LEN(embedding) AS INT) AS dim,
              ROUND(CAST(embedding[1] AS DOUBLE), 4) + 0.0 AS e0
            FROM embeddings ORDER BY vec_id"""))

  private[queries] val q23 = QueryDef("q23_json",
    (s, d) => Tables.events(s, d)
      .groupBy("event_type")
      .agg(sum(get_json_object(col("props"), "$.k").cast("long")).as("sk"))
      .orderBy("event_type"),
    Some("""SELECT event_type,
              CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sk
            FROM events GROUP BY event_type ORDER BY event_type"""))

  private[queries] val q24 = QueryDef("q24_hourly",
    (s, d) => Tables.events(s, d)
      .groupBy(date_trunc("hour", col("ts")).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(dec(col("value"))).cast("double"), 2).as("sv"))
      .orderBy("w", "event_type"),
    Some("""SELECT CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP) AS w, event_type,
              COUNT(*) AS n,
              ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sv
            FROM events GROUP BY w, event_type ORDER BY w, event_type"""),
    bench = true)

  private[queries] val q25 = QueryDef("q25_dedup_events",
    (s, d) => RelationalOps.dedupFirst(Tables.events(s, d),
        Seq(col("user_id"), col("event_type")), Seq(col("ts"), col("event_id")))
      .select("user_id", "event_type", "event_id")
      .orderBy("user_id", "event_type"),
    Some("""SELECT user_id, event_type, event_id FROM (
              SELECT user_id, event_type, event_id,
                ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                  ORDER BY ts, event_id) AS rn
              FROM events) t WHERE rn = 1
            ORDER BY user_id, event_type"""))

  private[queries] val q26 = QueryDef("q26_sessionize",
    (s, d) => RelationalOps.sessionize(Tables.events(s, d), "user_id", "ts", 1800L,
        Seq(col("ts"), col("event_id")))
      .groupBy("user_id")
      .agg(countDistinct(col("session_id")).as("n_sessions"))
      .orderBy("user_id"),
    Some("""SELECT user_id, COUNT(DISTINCT sess) AS n_sessions FROM (
              SELECT user_id, SUM(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END)
                OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sess
              FROM (SELECT user_id, ts, event_id,
                      DATE_DIFF('second', LAG(ts) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id), ts) AS gap
                    FROM events) g) t
            GROUP BY user_id ORDER BY user_id"""),
    bench = true)

  // list stringified: the driver's comparator sorts rows via pandas, which
  // cannot hash/sort raw array cells — and a joined string hash-checks the
  // same content
  private[queries] val q28 = QueryDef("q28_collect",
    (s, d) => Tables.documents(s, d)
      .groupBy("lang")
      .agg(array_join(transform(sort_array(collect_list(col("doc_id"))),
        _.cast("string")), ",").as("ids"))
      .orderBy("lang"),
    Some("""SELECT lang, array_to_string(LIST(doc_id ORDER BY doc_id), ',') AS ids
            FROM documents GROUP BY lang ORDER BY lang"""))

  private[queries] val q50 = QueryDef("q50_centroids",
    (s, d) => Tables.embeddings(s, d)
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
        // + 0.0: zero-sign-normal (q22's rationale — a near-zero negative
        // mean rounds to -0.0 in DuckDB, +0.0 in Spark)
        (round(avg(element_at(col("embedding"), 1).cast("double")), 4)
          + lit(0.0)).as("c0"),
        (round(avg(element_at(col("embedding"), 32).cast("double")), 4)
          + lit(0.0)).as("c31"),
        (round(avg(element_at(col("embedding"), 64).cast("double")), 4)
          + lit(0.0)).as("c63"))
      .orderBy("label"),
    Some("""SELECT label, COUNT(*) AS n,
              ROUND(AVG(CAST(embedding[1] AS DOUBLE)), 4) + 0.0 AS c0,
              ROUND(AVG(CAST(embedding[32] AS DOUBLE)), 4) + 0.0 AS c31,
              ROUND(AVG(CAST(embedding[64] AS DOUBLE)), 4) + 0.0 AS c63
            FROM embeddings GROUP BY label ORDER BY label"""))

  private[queries] val e01 = QueryDef("e01_time_display",
    (s, d) => Tables.events(s, d).select(
      col("event_id"),
      date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSS").as("iso"),
      // no ROUND on these: both engines evaluate the identical IEEE-double
      // expression in the same operation order, so raw bits match exactly —
      // while ROUND(x, 6) on 16-significant-digit values actually
      // INTRODUCES engine-dependent ulp-boundary differences
      col("ts").cast("timestamp").cast("double").as("unix"),
      (col("ts").cast("timestamp").cast("double") / lit(86400.0) +
        lit(2440587.5)).as("jd"),
      graft.functions.GpsTime.gps_seconds(col("ts")).as("gps"))
      .orderBy("event_id"),
    Some("""SELECT event_id,
              strftime(ts, '%Y-%m-%dT%H:%M:%S.%g') AS iso,
              epoch_us(ts)/1000000.0 AS unix,
              epoch_us(ts)/1000000.0/86400.0 + 2440587.5 AS jd,
              epoch_us(ts)/1000000.0 - 315964800 + 18 AS gps
            FROM events ORDER BY event_id"""))

  /** Time-series resampling to a 6-hour grid with LOCF. Values are
    * carried verbatim (no arithmetic), so the oracle's correlated
    * latest-at-or-before lookup matches exactly; the equal-timestamp
    * tie-break (max event_id) is pinned on both sides. */
  private[queries] val e02 = QueryDef("e02_resample_locf",
    (s, d) => RelationalOps.resampleLocf(Tables.events(s, d),
        "user_id", "ts", "value", stepHours = 6, tieBreak = "event_id")
      .select(col("user_id"), col("grid_ts"), col("locf"))
      .orderBy("user_id", "grid_ts"),
    Some("""WITH b AS (SELECT user_id,
                 CAST(DATE_TRUNC('hour', MIN(ts)) AS TIMESTAMP) AS t0,
                 CAST(MAX(ts) AS TIMESTAMP) AS t1
               FROM events GROUP BY user_id),
            grid AS (SELECT user_id,
                 UNNEST(generate_series(t0, t1, INTERVAL 6 HOUR)) AS grid_ts
               FROM b)
            SELECT g.user_id, g.grid_ts,
              (SELECT e.value FROM events e
               WHERE e.user_id = g.user_id AND e.ts <= g.grid_ts
               ORDER BY e.ts DESC, e.event_id DESC LIMIT 1) AS locf
            FROM grid g ORDER BY g.user_id, g.grid_ts"""))

  /** Linear-interpolation resampling (RelationalOps.resampleLerp): e02's
    * grid valued on the line between the bracketing events, in EXACT
    * integer centi-unit/epoch-microsecond arithmetic with floor division
    * (the portable contract — Spark `div` truncates, other engines'
    * `//` floors, and they disagree on negative slopes). The oracle
    * re-derives both bracketing picks (same tie-breaks as the operator's
    * dedup) and the integer lerp, so every interpolated value is
    * hash-compared — including the NULL head and the carry-forward
    * tail. */
  private[queries] val e03 = QueryDef("e03_resample_lerp",
    (s, d) => RelationalOps.resampleLerp(Tables.events(s, d),
        "user_id", "ts", "value", stepHours = 6, tieBreak = "event_id")
      .orderBy("user_id", "grid_ts"),
    Some("""WITH b AS (SELECT user_id,
                 CAST(DATE_TRUNC('hour', MIN(ts)) AS TIMESTAMP) AS t0,
                 CAST(MAX(ts) AS TIMESTAMP) AS t1
               FROM events GROUP BY user_id),
            grid AS (SELECT user_id,
                 UNNEST(generate_series(t0, t1, INTERVAL 6 HOUR)) AS grid_ts
               FROM b),
            pv AS (SELECT g.user_id, g.grid_ts,
                (SELECT e.ts FROM events e
                 WHERE e.user_id = g.user_id AND e.ts <= g.grid_ts
                 ORDER BY e.ts DESC, e.event_id DESC LIMIT 1) AS ta,
                (SELECT CAST(ROUND(e.value * 100) AS BIGINT) FROM events e
                 WHERE e.user_id = g.user_id AND e.ts <= g.grid_ts
                 ORDER BY e.ts DESC, e.event_id DESC LIMIT 1) AS va,
                (SELECT e.ts FROM events e
                 WHERE e.user_id = g.user_id AND e.ts > g.grid_ts
                 ORDER BY e.ts ASC, e.event_id DESC LIMIT 1) AS tb,
                (SELECT CAST(ROUND(e.value * 100) AS BIGINT) FROM events e
                 WHERE e.user_id = g.user_id AND e.ts > g.grid_ts
                 ORDER BY e.ts ASC, e.event_id DESC LIMIT 1) AS vb
              FROM grid g)
            SELECT user_id, grid_ts,
              CASE WHEN ta IS NULL THEN NULL
                   WHEN tb IS NULL THEN va
                   ELSE va + ((vb - va) *
                       (epoch_us(grid_ts) - epoch_us(ta)))
                     // (epoch_us(tb) - epoch_us(ta))
              END AS lerp_centi
            FROM pv ORDER BY user_id, grid_ts"""))

  // Grouping sets, pivot, subqueries through the SQL front-end,
  // array/string/date scalar suites, range-frame and ranking windows,
  // multi-way set ops, approximate distinct.

  private[queries] val q30 = QueryDef("q30_cube",
    (s, d) => Tables.orders(s, d)
      .cube("o_orderpriority", "o_orderstatus")
      .agg(count(lit(1)).as("n"))
      .select(coalesce(col("o_orderpriority"), lit("ALL")).as("pri"),
        coalesce(col("o_orderstatus"), lit("ALL")).as("st"), col("n"))
      .orderBy("pri", "st"),
    Some("""SELECT COALESCE(o_orderpriority, 'ALL') AS pri,
              COALESCE(o_orderstatus, 'ALL') AS st, COUNT(*) AS n
            FROM orders GROUP BY CUBE(o_orderpriority, o_orderstatus)
            ORDER BY pri, st"""))

  private[queries] val q31 = QueryDef("q31_pivot",
    (s, d) => Tables.lineitem(s, d)
      .groupBy("l_linestatus")
      .pivot("l_returnflag", Seq("A", "N", "R"))
      .agg(round(sum(dec(col("l_quantity"))), 2).cast("double"))
      .orderBy("l_linestatus"),
    Some("""SELECT l_linestatus,
              CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))) FILTER (l_returnflag = 'A'), 2) AS DOUBLE) AS A,
              CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))) FILTER (l_returnflag = 'N'), 2) AS DOUBLE) AS N,
              CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))) FILTER (l_returnflag = 'R'), 2) AS DOUBLE) AS R
            FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus"""))

  /** Correlated EXISTS through the SQL front-end (subquery decorrelation is
    * Catalyst's job — the engine exposes spark.sql as a first-class API). */
  private[queries] val q32 = QueryDef("q32_exists",
    (s, d) => Catalog.scopedSql(s,
      Seq("graft_q32_customer" -> Tables.customer(s, d),
        "graft_q32_orders" -> Tables.orders(s, d)),
      """SELECT c_custkey FROM graft_q32_customer c
         WHERE EXISTS (SELECT 1 FROM graft_q32_orders o
                       WHERE o.o_custkey = c.c_custkey
                         AND o.o_totalprice > 400000)
         ORDER BY c_custkey"""),
    Some("""SELECT c_custkey FROM customer c
            WHERE EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_totalprice > 400000)
            ORDER BY c_custkey"""))

  private[queries] val q33 = QueryDef("q33_scalar_subquery",
    (s, d) => Catalog.scopedSql(s,
      Seq("graft_q33_orders" -> Tables.orders(s, d)),
      """SELECT COUNT(*) AS n FROM graft_q33_orders
         WHERE o_totalprice > (SELECT AVG(o_totalprice) FROM graft_q33_orders)"""),
    Some("""SELECT COUNT(*) AS n FROM orders
            WHERE o_totalprice > (SELECT AVG(o_totalprice) FROM orders)"""))

  private[queries] val q34 = QueryDef("q34_array_ops",
    (s, d) => {
      val ed = transform(col("embedding"), x => x.cast("double"))
      Tables.embeddings(s, d).select(
        col("vec_id"),
        round(aggregate(slice(ed, 1, 8), lit(0.0), (a, v) => a + v), 4).as("s8"),
        round(array_max(ed), 4).as("mx"),
        round(array_min(ed), 4).as("mn"))
        .orderBy("vec_id")
    },
    Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed FROM embeddings)
            SELECT vec_id, ROUND(list_sum(ed[1:8]), 4) AS s8,
              ROUND(list_max(ed), 4) AS mx, ROUND(list_min(ed), 4) AS mn
            FROM e ORDER BY vec_id"""))

  private[queries] val q35 = QueryDef("q35_string_suite",
    (s, d) => Tables.customer(s, d).select(
      col("c_custkey"),
      upper(col("c_name")).as("up"),
      length(col("c_name")).cast("int").as("len"),
      substring(col("c_name"), 1, 8).as("sub"),
      reverse(col("c_name")).as("rev"),
      regexp_replace(col("c_name"), "Customer", "Cust").as("rep"))
      .orderBy("c_custkey"),
    Some("""SELECT c_custkey, UPPER(c_name) AS up,
              CAST(LENGTH(c_name) AS INT) AS len,
              SUBSTRING(c_name, 1, 8) AS sub, REVERSE(c_name) AS rev,
              REPLACE(c_name, 'Customer', 'Cust') AS rep
            FROM customer ORDER BY c_custkey"""))

  private[queries] val q36 = QueryDef("q36_date_suite",
    (s, d) => Tables.orders(s, d).select(
      col("o_orderkey"),
      year(col("o_orderdate")).as("y"),
      month(col("o_orderdate")).as("m"),
      dayofmonth(col("o_orderdate")).as("dd"),
      datediff(col("o_orderdate"), lit("2024-01-01")).as("days_from"),
      expr("o_orderdate + INTERVAL 30 DAY").as("ts30"))
      .orderBy("o_orderkey"),
    Some("""SELECT o_orderkey,
              CAST(YEAR(o_orderdate) AS INT) AS y,
              CAST(MONTH(o_orderdate) AS INT) AS m,
              CAST(DAY(o_orderdate) AS INT) AS dd,
              CAST(DATE_DIFF('day', DATE '2024-01-01', CAST(o_orderdate AS DATE)) AS INT) AS days_from,
              CAST(o_orderdate + INTERVAL 30 DAY AS TIMESTAMP) AS ts30
            FROM orders ORDER BY o_orderkey"""))

  private[queries] val q37 = QueryDef("q37_approx_distinct",
    (s, d) => Tables.lineitem(s, d).agg(
      approx_count_distinct(col("l_partkey")).as("approx_parts"),
      countDistinct(col("l_partkey")).as("exact_parts")),
    None) // HLL estimates are engine-specific; exactness tested by q12

  private[queries] val q38 = QueryDef("q38_window_range",
    (s, d) => {
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
        .rangeBetween(-5, 0)
      Tables.orders(s, d).select(col("o_orderkey"),
        round(sum(dec(col("o_totalprice"))).over(w), 2).cast("double").as("rsum"))
        .orderBy("o_orderkey")
    },
    Some("""SELECT o_orderkey,
              CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
                PARTITION BY o_custkey ORDER BY o_orderkey
                RANGE BETWEEN 5 PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS rsum
            FROM orders ORDER BY o_orderkey"""))

  private[queries] val q39 = QueryDef("q39_rank_family",
    (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, d).select(col("event_id"),
        ntile(4).over(w).as("nt"),
        first(col("event_id")).over(w).as("fv"),
        lead(col("event_id"), 1).over(w).as("nxt"))
        .orderBy("event_id")
    },
    Some("""SELECT event_id,
              CAST(NTILE(4) OVER w AS INT) AS nt,
              FIRST_VALUE(event_id) OVER w AS fv,
              LEAD(event_id, 1) OVER w AS nxt
            FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ORDER BY event_id"""))

  private[queries] val q40 = QueryDef("q40_union_all",
    (s, d) => Tables.customer(s, d).select(col("c_nationkey").as("k"))
      .union(Tables.supplier(s, d).select(col("s_nationkey")))
      .union(Tables.nation(s, d).select(col("n_nationkey")))
      .groupBy("k").agg(count(lit(1)).as("n"))
      .orderBy("k"),
    Some("""SELECT k, COUNT(*) AS n FROM (
              SELECT c_nationkey AS k FROM customer
              UNION ALL SELECT s_nationkey FROM supplier
              UNION ALL SELECT n_nationkey FROM nation) t
            GROUP BY k ORDER BY k"""))

  /** Un-keyed interval join — the theta-join shape that Spark alone can
    * only plan as a nested loop. The session's RangeJoinRewrite turns it
    * into a bucketed equi join (RangeJoinRewriteSpec pins the plan); here
    * the oracle certifies the rewrite's RESULTS end-to-end. */
  private[queries] val q54 = QueryDef("q54_rangejoin_unkeyed",
    (s, d) => {
      val ev = Tables.events(s, d)
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("pid"), col("ts").as("pts"))
      val g = ev.filter(col("event_type") === "signup")
        .select(col("event_id").as("sid"), col("ts").as("sts"))
      p.join(g, col("sts") > col("pts") &&
          col("sts") <= col("pts") + expr("INTERVAL 30 SECONDS"))
        .select("pid", "sid")
        .orderBy("pid", "sid")
    },
    Some("""SELECT p.event_id AS pid, s.event_id AS sid
            FROM events p JOIN events s
              ON p.event_type = 'purchase' AND s.event_type = 'signup'
              AND s.ts > p.ts AND s.ts <= p.ts + INTERVAL 30 SECOND
            ORDER BY pid, sid"""))

  /** Deterministic salted join on a genuinely skewed key distribution
    * (order keys follow the lineitem 1-7 fanout; the salt explodes the
    * small side 8x and hash-spreads the big side). The oracle is the PLAIN
    * join — a hash match proves salting is a pure physical rewrite with
    * identical results. */
  private[queries] val q55 = QueryDef("q55_salted_join",
    (s, d) => graft.operators.RelationalOps.saltedJoin(
        Tables.lineitem(s, d)
          .select(col("l_orderkey").as("k"), col("l_quantity"), col("l_linenumber")),
        Tables.orders(s, d).select(col("o_orderkey").as("k"), col("o_orderpriority")),
        "k", salts = 8, saltFrom = col("l_linenumber"))
      .groupBy(col("o_orderpriority"))
      .agg(round(sum(dec(col("l_quantity"))), 2).cast("double").as("qty"),
        count(lit(1)).as("n"))
      .orderBy("o_orderpriority"),
    Some("""SELECT o_orderpriority,
              CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS qty,
              COUNT(*) AS n
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  /** Co-located join over bucketed tables: both sides are written
    * bucketBy(8) on the join key, so the sort-merge join reads
    * pre-shuffled buckets — zero Exchange on either side
    * (BucketingSpec pins the plan; this query certifies the results).
    * At 100 TB this is the standing layout for fact-fact joins: shuffle
    * once at write time, never again. */
  private[queries] val q56 = QueryDef("q56_bucketed_join",
    (s, d) => {
      for (t <- Seq("li_b56", "ord_b56")) {
        s.sql(s"DROP TABLE IF EXISTS $t")
        // the in-memory catalog forgets tables across JVMs but the
        // warehouse dir survives; clear stale files so overwrite is clean
        val wh = new java.io.File(new java.net.URI(
          s.conf.get("spark.sql.warehouse.dir")).getPath, t)
        if (wh.exists()) { wh.listFiles().foreach(_.delete()); wh.delete() }
      }
      Tables.lineitem(s, d).select("l_orderkey", "l_quantity")
        .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable("li_b56")
      Tables.orders(s, d).select("o_orderkey", "o_orderstatus")
        .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable("ord_b56")
      s.table("li_b56")
        .join(s.table("ord_b56"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(round(sum(dec(col("l_quantity"))), 2).cast("double").as("qty"),
          count(lit(1)).as("n"))
        .orderBy("o_orderstatus")
    },
    Some("""SELECT o_orderstatus,
              CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS qty,
              COUNT(*) AS n
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY o_orderstatus ORDER BY o_orderstatus"""))

  /** q14's exact shape through the custom GroupTopK physical operator
    * (graft.plans.GroupTopK: per-group bounded heaps, partial phase before
    * ONE k-bounded exchange, no sort) instead of the row_number window.
    * Shares q14's oracle, so a hash match certifies the custom SparkPlan
    * end-to-end; both are bench queries — the gap is the measured cost of
    * full-sort-then-discard vs heap selection. */
  private[queries] val q57 = QueryDef("q57_group_topk_exec",
    (s, d) => {
      val j = Tables.orders(s, d)
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .select("c_mktsegment", "o_orderkey", "o_totalprice")
      graft.operators.RelationalOps.topKPerGroupExec(j, Seq(col("c_mktsegment")),
          Seq(col("o_totalprice").desc, col("o_orderkey")), 3)
        .select("c_mktsegment", "o_orderkey")
        .orderBy("c_mktsegment", "o_orderkey")
    },
    Some("""SELECT c_mktsegment, o_orderkey FROM (
              SELECT c_mktsegment, o_orderkey,
                ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                  ORDER BY o_totalprice DESC, o_orderkey) AS rn
              FROM orders JOIN customer ON o_custkey = c_custkey) t
            WHERE rn <= 3 ORDER BY c_mktsegment, o_orderkey"""),
    bench = true)

  /** TSV sink round-trip (SURVEY S8): write a projection through the
    * tab-separated sink, read it back with an explicit schema, aggregate.
    * The oracle computes the same aggregate from the source table, so a
    * hash match certifies the sink/source round-trip preserves values
    * (incl. doubles via Spark's shortest-round-trip formatting). */
  private[queries] val q58 = QueryDef("q58_tsv_sink",
    (s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("graft_q58_").toString
      Tables.lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
        .write.mode("overwrite").option("sep", "\t").csv(dir)
      val agg = s.read
        .schema("l_orderkey BIGINT, l_linenumber INT, l_returnflag STRING, l_quantity DOUBLE")
        .option("sep", "\t").csv(dir)
        .groupBy("l_returnflag")
        .agg(round(sum(dec(col("l_quantity"))), 2).cast("double").as("qty"),
          count(lit(1)).as("n"), sum(col("l_orderkey")).as("keysum"))
        .localCheckpoint(true)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      agg.orderBy("l_returnflag")
    },
    Some("""SELECT l_returnflag,
              CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS qty,
              COUNT(*) AS n, CAST(SUM(l_orderkey) AS BIGINT) AS keysum
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** Grouped approximate percentiles ORACLED IN THE EXACT REGIME (the t13
    * Misra-Gries precedent): percentile_approx's GK sketch buffers up to
    * `accuracy` values before compressing, so with accuracy = 10^7 >> any
    * group size here it returns the exact rank-ceil(p*n) element — the
    * same discrete-quantile convention as DuckDB's quantile_disc (probed:
    * both pick rank ceil(p*n)). The approximate path (same code) kicks in
    * only past 10M rows per group, where a 10^-7 rank error is
    * negligible — that's the sketch's 100 TB posture. */
  private[queries] val q59 = QueryDef("q59_approx_percentile",
    (s, d) => Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        expr("percentile_approx(l_extendedprice, 0.25, 10000000)")
          .cast("double").as("p25"),
        expr("percentile_approx(l_extendedprice, 0.5, 10000000)")
          .cast("double").as("p50"),
        expr("percentile_approx(l_extendedprice, 0.9, 10000000)")
          .cast("double").as("p90"))
      .orderBy("l_returnflag"),
    Some("""SELECT l_returnflag,
              CAST(quantile_disc(l_extendedprice, 0.25) AS DOUBLE) AS p25,
              CAST(quantile_disc(l_extendedprice, 0.5) AS DOUBLE) AS p50,
              CAST(quantile_disc(l_extendedprice, 0.9) AS DOUBLE) AS p90
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** MERGE / upsert (RelationalOps.mergeUpsert): the pre-cutoff event
    * history is the target snapshot, post-cutoff events are the change
    * batch; matched users take the latest source row, unmatched source
    * users insert, unmatched target users survive. The oracle derives the
    * merged state independently — one window preferring (is-source, ts,
    * event_id) — so a hash match certifies the reduce-both-sides +
    * full-outer-join + source-wins composition end-to-end. */
  private[queries] val q60 = QueryDef("q60_merge_upsert",
    (s, d) => {
      val ev = Tables.events(s, d)
        .select("user_id", "ts", "value", "event_id")
      val cutoff = "2024-01-20 00:00:00"
      graft.operators.RelationalOps.mergeUpsert(
          ev.filter(col("ts") < lit(cutoff)),
          ev.filter(col("ts") >= lit(cutoff)),
          "user_id", Seq(col("ts").desc, col("event_id").desc))
        .orderBy("user_id")
    },
    Some("""SELECT user_id, ts, value, event_id FROM (
              SELECT user_id, ts, value, event_id,
                ROW_NUMBER() OVER (PARTITION BY user_id
                  ORDER BY (CASE WHEN ts >= TIMESTAMP '2024-01-20 00:00:00'
                            THEN 1 ELSE 0 END) DESC, ts DESC, event_id DESC) AS rn
              FROM events) t
            WHERE rn = 1 ORDER BY user_id"""))

  /** SCD type 2 (RelationalOps.scd2): the per-user event_type history
    * compressed into validity intervals [valid_from, valid_to), open runs
    * ending null. The oracle re-derives change detection (lag), run
    * numbering (running sum), and interval bounds (min + lead)
    * independently. */
  private[queries] val q61 = QueryDef("q61_scd2",
    (s, d) => graft.operators.RelationalOps.scd2(
        Tables.events(s, d), "user_id", "ts", "event_type", "event_id")
      .orderBy("user_id", "valid_from"),
    Some("""WITH e AS (SELECT user_id, ts, event_type,
                LAG(event_type) OVER (PARTITION BY user_id
                  ORDER BY ts, event_id) AS prev,
                event_id
              FROM events),
            r AS (SELECT user_id, ts, event_type,
                SUM(CASE WHEN prev IS NULL OR prev <> event_type
                    THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS run
              FROM e),
            g AS (SELECT user_id, run, MIN(event_type) AS event_type,
                MIN(ts) AS valid_from
              FROM r GROUP BY user_id, run)
            SELECT user_id, event_type, valid_from,
              LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY run)
                AS valid_to
            FROM g ORDER BY user_id, valid_from"""))

  /** Burst deduplication — the BATCH analog of s05's watermarked streaming
    * dedup: within each (user, event_type) key, keep only the first event
    * of every >30-minute-separated burst (sessionize -> first per
    * session). Composes RelationalOps.sessionize + dedupFirst, so the
    * first-per-session step rides the GroupTopK rewrite. The oracle
    * re-derives gaps, session numbering, and the survivor rule. */
  private[queries] val q62 = QueryDef("q62_burst_dedup",
    (s, d) => {
      val ev = Tables.events(s, d)
        .select("user_id", "event_type", "ts", "event_id")
        .withColumn("__k", concat_ws("|", col("user_id"), col("event_type")))
      val sess = graft.operators.RelationalOps.sessionize(
        ev, "__k", "ts", gapSeconds = 1800, Seq(col("ts"), col("event_id")))
      graft.operators.RelationalOps.dedupFirst(sess,
          Seq(col("__k"), col("session_id")), Seq(col("ts"), col("event_id")))
        .select("user_id", "event_type", "ts", "event_id")
        .orderBy("user_id", "event_type", "ts", "event_id")
    },
    Some("""WITH g AS (SELECT user_id, event_type, ts, event_id,
                DATE_DIFF('second', LAG(ts) OVER (
                  PARTITION BY user_id, event_type ORDER BY ts, event_id),
                  ts) AS gap
              FROM events),
            se AS (SELECT user_id, event_type, ts, event_id,
                SUM(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS sess
              FROM g),
            f AS (SELECT user_id, event_type, ts, event_id,
                ROW_NUMBER() OVER (PARTITION BY user_id, event_type, sess
                  ORDER BY ts, event_id) AS rn
              FROM se)
            SELECT user_id, event_type, ts, event_id FROM f WHERE rn = 1
            ORDER BY user_id, event_type, ts, event_id"""))

  /** MERGE update-to-NULL semantics (RelationalOps.mergeUpsert's
    * whole-row pick): a matched key takes the ENTIRE source row, so a
    * planted NULL in the source's winning row must land in the output as
    * NULL — not silently revert to the stale target value (the
    * per-column-coalesce bug class). The oracle emulates SQL MERGE with a
    * FULL OUTER JOIN and an explicit source-matched marker, so a hash
    * match certifies the null-overwrite path specifically. */
  private[queries] val q63 = QueryDef("q63_merge_null",
    (s, d) => {
      val ev = Tables.events(s, d).select("user_id", "ts", "value", "event_id")
      val target = ev.filter(col("event_id") % 2 === 0)
      val source = ev.filter(col("event_id") % 2 === 1)
        .withColumn("value", when(col("user_id") % 5 === 0,
          lit(null).cast("double")).otherwise(col("value")))
      graft.operators.RelationalOps.mergeUpsert(target, source, "user_id",
          Seq(col("ts").desc, col("event_id").desc))
        .orderBy("user_id")
    },
    Some("""WITH t0 AS (SELECT user_id, ts, value, event_id,
                ROW_NUMBER() OVER (PARTITION BY user_id
                  ORDER BY ts DESC, event_id DESC) AS rn
              FROM events WHERE event_id % 2 = 0),
            t1 AS (SELECT user_id, ts, value, event_id FROM t0 WHERE rn = 1),
            s0 AS (SELECT user_id, ts,
                CASE WHEN user_id % 5 = 0 THEN NULL ELSE value END AS value,
                event_id,
                ROW_NUMBER() OVER (PARTITION BY user_id
                  ORDER BY ts DESC, event_id DESC) AS rn
              FROM events WHERE event_id % 2 = 1),
            s1 AS (SELECT user_id, ts, value, event_id FROM s0 WHERE rn = 1)
            SELECT COALESCE(s1.user_id, t1.user_id) AS user_id,
              CASE WHEN s1.user_id IS NOT NULL THEN s1.ts ELSE t1.ts END AS ts,
              CASE WHEN s1.user_id IS NOT NULL THEN s1.value ELSE t1.value END AS value,
              CASE WHEN s1.user_id IS NOT NULL THEN s1.event_id ELSE t1.event_id END AS event_id
            FROM t1 FULL OUTER JOIN s1 ON t1.user_id = s1.user_id
            ORDER BY user_id"""))

  /** Z-order layout audit (Layout.zorderAudit): Morton-interleave
    * (user_id, floor(value)) into a 32-bit key, bucket by its 6 high
    * bits, and report each bucket's row count and 2-D bounding box — the
    * min/max statistics file skipping would consult after a Z-ordered
    * write. The oracle replays the 4-step magic-number bit dilation with
    * plain integer ops, so the bucketing is certified bit-for-bit. */
  private[queries] val q64 = QueryDef("q64_zorder_layout",
    // keyBits = 22: user_id < 2^11 and floor(value) < 2^10 at every SF,
    // so the occupied Z-key width is 2*11 bits
    (s, d) => graft.operators.Layout.zorderAudit(Tables.events(s, d),
        col("user_id"), floor(col("value")), bucketBits = 6, keyBits = 22)
      .orderBy("bucket"),
    Some("""WITH b AS (SELECT user_id AS x,
                CAST(FLOOR(value) AS BIGINT) AS y FROM events),
            s1 AS (SELECT x, y, x & 65535 AS xa, y & 65535 AS ya FROM b),
            s2 AS (SELECT x, y, (xa | (xa << 8)) & 16711935 AS xb,
                                (ya | (ya << 8)) & 16711935 AS yb FROM s1),
            s3 AS (SELECT x, y, (xb | (xb << 4)) & 252645135 AS xc,
                                (yb | (yb << 4)) & 252645135 AS yc FROM s2),
            s4 AS (SELECT x, y, (xc | (xc << 2)) & 858993459 AS xd,
                                (yc | (yc << 2)) & 858993459 AS yd FROM s3),
            s5 AS (SELECT x, y, (xd | (xd << 1)) & 1431655765 AS xe,
                                (yd | (yd << 1)) & 1431655765 AS ye FROM s4)
            SELECT (xe | (ye << 1)) >> 16 AS bucket, COUNT(*) AS n,
              MIN(x) AS min_x, MAX(x) AS max_x,
              MIN(y) AS min_y, MAX(y) AS max_y
            FROM s5 GROUP BY bucket ORDER BY bucket"""))

  /** Bloom-filter join pruning (Layout.bloomPrefilter): prefilter orders
    * by an 8192-bit / 3-hash Bloom filter over the BUILDING-segment
    * customer keys — the runtime-filter pattern that shrinks the fact
    * shuffle to matches + collisions. `is_match` separates true matches
    * from Bloom collisions, and the oracle replays every md5 hash
    * position, so the EXACT collision set is certified (as in t24's
    * Count-Min), not just the happy path. */
  private[queries] val q65 = QueryDef("q65_bloom_prefilter",
    (s, d) => {
      val build = Tables.customer(s, d)
        .filter(col("c_mktsegment") === "BUILDING")
      graft.operators.Layout.bloomPrefilter(
          Tables.orders(s, d).select("o_orderkey", "o_custkey"),
          col("o_custkey"), build, col("c_custkey"))
        // no broadcast hint: customer scales with SF (AQE may still
        // choose broadcast at small scale)
        .join(build.select(col("c_custkey").as("__k")).distinct
            .withColumn("__m", lit(true)),
          col("o_custkey") === col("__k"), "left")
        .select(col("o_orderkey"), col("o_custkey"), col("bloom_pass"),
          coalesce(col("__m"), lit(false)).as("is_match"))
        .orderBy("o_orderkey")
    },
    Some("""WITH bk AS (SELECT DISTINCT c_custkey AS key FROM customer
                         WHERE c_mktsegment = 'BUILDING'),
            pos AS (SELECT DISTINCT
                ('0x' || substring(md5(CAST(key AS VARCHAR) || '#' ||
                   CAST(j AS VARCHAR)), 1, 15))::BIGINT % 8192 AS p
              FROM bk, range(3) r(j)),
            pass AS (SELECT o_orderkey, o_custkey
              FROM orders, range(3) r(j)
              WHERE ('0x' || substring(md5(CAST(o_custkey AS VARCHAR) || '#' ||
                       CAST(j AS VARCHAR)), 1, 15))::BIGINT % 8192
                    IN (SELECT p FROM pos)
              GROUP BY o_orderkey, o_custkey HAVING COUNT(*) = 3)
            SELECT o_orderkey, o_custkey, TRUE AS bloom_pass,
              (o_custkey IN (SELECT key FROM bk)) AS is_match
            FROM pass ORDER BY o_orderkey"""),
    bench = true)

  /** Interval coalescing (RelationalOps.mergeIntervals): each event
    * extended to a 10-minute interval, overlapping-or-touching intervals
    * merged per user. The oracle replays the running-max/gaps-and-islands
    * derivation, certifying span boundaries, swallowed intervals and
    * per-span counts exactly (timestamp arithmetic is integer-µs on both
    * engines). */
  private[queries] val q66 = QueryDef("q66_interval_merge",
    (s, d) => {
      val iv = Tables.events(s, d).select(col("user_id"),
        col("ts").as("iv_start"),
        (col("ts") + expr("INTERVAL 10 MINUTES")).as("iv_end"))
      graft.operators.RelationalOps.mergeIntervals(iv, "user_id",
          "iv_start", "iv_end")
        .select(col("user_id"),
          col("span_start").cast("timestamp_ntz").as("span_start"),
          col("span_end").cast("timestamp_ntz").as("span_end"), col("n_iv"))
        .orderBy("user_id", "span_start")
    },
    Some("""WITH iv AS (SELECT user_id, ts AS s,
                ts + INTERVAL 10 MINUTE AS e FROM events),
            m AS (SELECT user_id, s, e,
                MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
              FROM iv),
            sp AS (SELECT user_id, s, e,
                SUM(CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY s, e
                        ROWS UNBOUNDED PRECEDING) AS span
              FROM m)
            SELECT user_id, CAST(MIN(s) AS TIMESTAMP) AS span_start,
              CAST(MAX(e) AS TIMESTAMP) AS span_end, COUNT(*) AS n_iv
            FROM sp GROUP BY user_id, span
            ORDER BY user_id, span_start"""))

  /** A fact-dim inner equi join, the plain plan its oracle SQL describes.
    * The name is kept so the correctness artifacts line up; join-time
    * Bloom pruning is Spark's own `InjectRuntimeFilter`, and q65 gates the
    * explicit `Layout.bloomPrefilter` operator. */
  private[queries] val q67 = QueryDef("q67_bloom_join_rewrite",
    (s, d) => {
      val li = Tables.lineitem(s, d).select("l_orderkey", "l_quantity")
      val ord = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey", "o_orderpriority")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_quantity"), col("o_orderpriority"))
        .orderBy("l_orderkey", "l_quantity")
    },
    Some("""SELECT l_orderkey, l_quantity, o_orderpriority
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE o_orderpriority = '1-URGENT'
            ORDER BY l_orderkey, l_quantity"""))

  // Scalar / aggregate function-suite coverage (C12 breadth): arrays,
  // conditionals, math, statistics, string aggregation, date generation.

  private[queries] val q41 = QueryDef("q41_array_more",
    (s, d) => {
      val ed = transform(col("embedding"), x => x.cast("double"))
      Tables.embeddings(s, d).select(
        col("vec_id"),
        size(flatten(array(slice(ed, 1, 2), slice(ed, 3, 2)))).cast("int").as("flat4"),
        (round(element_at(reverse(ed), 1).cast("double"), 4) + lit(0.0))
          .as("last_e"), // + 0.0: zero-sign-normal, like joined below
        // + 0.0 normalizes negative zero (-0.0 stringifies differently
        // between engines)
        array_join(transform(slice(ed, 1, 3), x => (round(x, 2) + lit(0.0)).cast("string")), ",")
          .as("joined"),
        size(array_remove(sequence(lit(1), lit(10)), 5)).cast("int").as("seq9"))
        .orderBy("vec_id")
    },
    Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed FROM embeddings)
            SELECT vec_id,
              CAST(len(list_concat(ed[1:2], ed[3:4])) AS INT) AS flat4,
              ROUND(list_reverse(ed)[1], 4) + 0.0 AS last_e,
              array_to_string(list_transform(ed[1:3], x -> CAST(ROUND(x, 2) + 0.0 AS VARCHAR)), ',') AS joined,
              CAST(len(list_filter(range(1, 11), x -> x <> 5)) AS INT) AS seq9
            FROM e ORDER BY vec_id"""))

  private[queries] val q42 = QueryDef("q42_conditional",
    (s, d) => Tables.orders(s, d).select(
      col("o_orderkey"),
      when(col("o_totalprice") > 250000, "high")
        .when(col("o_totalprice") > 100000, "mid")
        .otherwise("low").as("band"),
      nullif(col("o_orderstatus"), lit("O")).as("st_or_null"),
      coalesce(nullif(col("o_orderstatus"), lit("O")), lit("open")).as("st_disp"))
      .orderBy("o_orderkey"),
    Some("""SELECT o_orderkey,
              CASE WHEN o_totalprice > 250000 THEN 'high'
                   WHEN o_totalprice > 100000 THEN 'mid'
                   ELSE 'low' END AS band,
              NULLIF(o_orderstatus, 'O') AS st_or_null,
              COALESCE(NULLIF(o_orderstatus, 'O'), 'open') AS st_disp
            FROM orders ORDER BY o_orderkey"""))

  private[queries] val q43 = QueryDef("q43_math_suite",
    (s, d) => Tables.lineitem(s, d).select(
      col("l_orderkey"), col("l_linenumber"),
      abs(col("l_discount") - 0.05).as("absd"),
      ceil(col("l_quantity")).cast("long").as("cq"),
      floor(col("l_quantity")).cast("long").as("fq"),
      round(exp(col("l_discount")), 6).as("expd"),
      round(log(col("l_quantity") + 1), 6).as("lnq"),
      pmod(col("l_orderkey"), lit(97)).as("m97"),
      signum(col("l_discount") - 0.05).as("sgn"))
      .orderBy("l_orderkey", "l_linenumber", "cq", "expd"),
    Some("""SELECT l_orderkey, l_linenumber,
              ABS(l_discount - 0.05) AS absd,
              CAST(CEIL(l_quantity) AS BIGINT) AS cq,
              CAST(FLOOR(l_quantity) AS BIGINT) AS fq,
              ROUND(EXP(l_discount), 6) AS expd,
              ROUND(LN(l_quantity + 1), 6) AS lnq,
              l_orderkey % 97 AS m97,
              CAST(SIGN(l_discount - 0.05) AS DOUBLE) AS sgn
            FROM lineitem ORDER BY l_orderkey, l_linenumber, cq, expd"""))

  private[queries] val q44 = QueryDef("q44_greatest_least",
    (s, d) => Tables.lineitem(s, d).select(
      col("l_orderkey"), col("l_linenumber"),
      greatest(col("l_discount"), col("l_tax"), lit(0.02)).as("g"),
      least(col("l_discount"), col("l_tax"), lit(0.02)).as("l"))
      .orderBy("l_orderkey", "l_linenumber", "g", "l"),
    Some("""SELECT l_orderkey, l_linenumber,
              GREATEST(l_discount, l_tax, 0.02) AS g,
              LEAST(l_discount, l_tax, 0.02) AS l
            FROM lineitem ORDER BY l_orderkey, l_linenumber, g, l"""))

  private[queries] val q45 = QueryDef("q45_stats",
    (s, d) => Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        round(stddev_samp(col("l_quantity")), 2).as("sd"),
        round(var_samp(col("l_quantity")), 2).as("vr"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("cr"),
        round(covar_samp(col("l_quantity"), col("l_extendedprice")), 2).as("cv"))
      .orderBy("l_returnflag"),
    Some("""SELECT l_returnflag,
              ROUND(STDDEV_SAMP(l_quantity), 2) AS sd,
              ROUND(VAR_SAMP(l_quantity), 2) AS vr,
              ROUND(CORR(l_quantity, l_extendedprice), 4) AS cr,
              ROUND(COVAR_SAMP(l_quantity, l_extendedprice), 2) AS cv
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  private[queries] val q46 = QueryDef("q46_median",
    (s, d) => Tables.orders(s, d)
      .groupBy("o_orderpriority")
      // floor-idiom rounding: interpolated percentiles of 2-decimal data
      // land exactly on rounding midpoints (see t04 note)
      .agg((floor(expr("percentile(o_totalprice, 0.5)") * 100 + 0.5) / 100).as("med"),
        (floor(expr("percentile(o_totalprice, 0.9)") * 100 + 0.5) / 100).as("p90"))
      .orderBy("o_orderpriority"),
    Some("""SELECT o_orderpriority,
              FLOOR(QUANTILE_CONT(o_totalprice, 0.5) * 100 + 0.5) / 100 AS med,
              FLOOR(QUANTILE_CONT(o_totalprice, 0.9) * 100 + 0.5) / 100 AS p90
            FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  private[queries] val q47 = QueryDef("q47_string_agg",
    (s, d) => Tables.nation(s, d)
      .groupBy("n_regionkey")
      .agg(concat_ws("|", sort_array(collect_list(col("n_name")))).as("names"))
      .orderBy("n_regionkey"),
    Some("""SELECT n_regionkey, STRING_AGG(n_name, '|' ORDER BY n_name) AS names
            FROM nation GROUP BY n_regionkey ORDER BY n_regionkey"""))

  private[queries] val q48 = QueryDef("q48_minmax_by",
    (s, d) => Tables.orders(s, d)
      .groupBy("o_orderpriority")
      .agg(min_by(col("o_orderkey"), struct(col("o_totalprice"), col("o_orderkey"))).as("cheapest"),
        max_by(col("o_orderkey"), struct(col("o_totalprice"), col("o_orderkey"))).as("priciest"))
      .orderBy("o_orderpriority"),
    Some("""SELECT o_orderpriority,
              FIRST(o_orderkey ORDER BY o_totalprice, o_orderkey) AS cheapest,
              FIRST(o_orderkey ORDER BY o_totalprice DESC, o_orderkey DESC) AS priciest
            FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  private[queries] val q49 = QueryDef("q49_date_sequence",
    (s, d) => Tables.orders(s, d)
      .filter(col("o_orderkey") <= 100)
      .select(col("o_orderkey"), col("o_orderdate"),
        explode(sequence(lit(0), lit(2))).as("week_no"))
      .withColumn("due", expr("o_orderdate + make_interval(0, 0, week_no, 0, 0, 0, 0)"))
      .select(col("o_orderkey"), col("week_no"), col("due"))
      .orderBy("o_orderkey", "week_no"),
    Some("""SELECT o_orderkey, CAST(w.week_no AS INT) AS week_no,
              CAST(o_orderdate + w.week_no * INTERVAL 7 DAY AS TIMESTAMP) AS due
            FROM orders, (SELECT UNNEST(range(3)) AS week_no) w
            WHERE o_orderkey <= 100
            ORDER BY o_orderkey, week_no"""))

  private[queries] val q51 = QueryDef("q51_grouping_sets",
    (s, d) => Catalog.scopedSql(s,
      Seq("graft_q51_orders" -> Tables.orders(s, d)),
      """SELECT COALESCE(o_orderpriority, 'ALL') AS pri,
                COALESCE(o_orderstatus, 'ALL') AS st,
                COUNT(*) AS n
         FROM graft_q51_orders
         GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                                 (o_orderpriority), ())
         ORDER BY pri, st"""),
    Some("""SELECT COALESCE(o_orderpriority, 'ALL') AS pri,
              COALESCE(o_orderstatus, 'ALL') AS st, COUNT(*) AS n
            FROM orders
            GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                                    (o_orderpriority), ())
            ORDER BY pri, st"""))

  private[queries] val q52 = QueryDef("q52_rank_distribution",
    (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("l_returnflag")).orderBy(col("l_quantity"))
      // percent_rank/cume_dist are exact integer-ratio doubles computed by
      // the same formula in both engines — compared raw, no rounding
      Tables.lineitem(s, d)
        .filter(col("l_orderkey") <= 1000)
        .select(col("l_orderkey"), col("l_linenumber"),
          dense_rank().over(w).as("dr"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"))
        // (l_orderkey, l_linenumber) is NOT unique in the synthetic
        // lineitem — tiebreak on the computed rank for a total order
        .orderBy("l_orderkey", "l_linenumber", "pr")
    },
    Some("""SELECT l_orderkey, l_linenumber,
              CAST(DENSE_RANK() OVER w AS INT) AS dr,
              PERCENT_RANK() OVER w AS pr,
              CUME_DIST() OVER w AS cd
            FROM lineitem WHERE l_orderkey <= 1000
            WINDOW w AS (PARTITION BY l_returnflag ORDER BY l_quantity)
            ORDER BY l_orderkey, l_linenumber, pr"""))

  private[queries] val q53 = QueryDef("q53_posexplode",
    (s, d) => Tables.embeddings(s, d)
      .filter(col("vec_id") < 10)
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), col("pos").cast("int").as("idx"),
        round(col("col").cast("double"), 4).as("v"))
      .orderBy("vec_id", "idx"),
    Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed
                       FROM embeddings WHERE vec_id < 10),
            i AS (SELECT UNNEST(range(64)) AS idx)
            SELECT vec_id, CAST(idx AS INT) AS idx, ROUND(ed[idx+1], 4) AS v
            FROM e, i ORDER BY vec_id, idx"""))

  /** e04: nearest-neighbor resampling — e02/e03's grid valued by the
    * closer bracketing event in exact microsecond distance, equidistant
    * ties to the at-or-before side, head instants valued by the first
    * future event. The oracle re-derives both bracket picks and the
    * integer distance compare, so every pick is hash-certified. */
  private[queries] val e04 = QueryDef("e04_resample_nearest",
    (s, d) => RelationalOps.resampleNearest(Tables.events(s, d),
        "user_id", "ts", "value", stepHours = 6, tieBreak = "event_id")
      .orderBy("user_id", "grid_ts"),
    Some("""WITH b AS (SELECT user_id,
                 CAST(DATE_TRUNC('hour', MIN(ts)) AS TIMESTAMP) AS t0,
                 CAST(MAX(ts) AS TIMESTAMP) AS t1
               FROM events GROUP BY user_id),
            grid AS (SELECT user_id,
                 UNNEST(generate_series(t0, t1, INTERVAL 6 HOUR)) AS grid_ts
               FROM b),
            pv AS (SELECT g.user_id, g.grid_ts,
                (SELECT e.ts FROM events e
                 WHERE e.user_id = g.user_id AND e.ts <= g.grid_ts
                 ORDER BY e.ts DESC, e.event_id DESC LIMIT 1) AS ta,
                (SELECT CAST(ROUND(e.value * 100) AS BIGINT) FROM events e
                 WHERE e.user_id = g.user_id AND e.ts <= g.grid_ts
                 ORDER BY e.ts DESC, e.event_id DESC LIMIT 1) AS va,
                (SELECT e.ts FROM events e
                 WHERE e.user_id = g.user_id AND e.ts > g.grid_ts
                 ORDER BY e.ts ASC, e.event_id DESC LIMIT 1) AS tb,
                (SELECT CAST(ROUND(e.value * 100) AS BIGINT) FROM events e
                 WHERE e.user_id = g.user_id AND e.ts > g.grid_ts
                 ORDER BY e.ts ASC, e.event_id DESC LIMIT 1) AS vb
              FROM grid g)
            SELECT user_id, grid_ts,
              CASE WHEN ta IS NULL THEN vb
                   WHEN tb IS NULL THEN va
                   WHEN epoch_us(grid_ts) - epoch_us(ta)
                        <= epoch_us(tb) - epoch_us(grid_ts) THEN va
                   ELSE vb
              END AS nearest_centi
            FROM pv ORDER BY user_id, grid_ts"""), bench = true)

  /** q68: correlated LATERAL subquery through the SQL front-end — the
    * top-2 orders per customer, written as the per-row subquery a user
    * would write, decorrelated by Catalyst into a set-based plan (no
    * per-row execution). Restricted to one nation to keep the output
    * row-bounded. */
  private[queries] val q68 = QueryDef("q68_lateral",
    (s, d) => Catalog.scopedSql(s,
      Seq("graft_q68_customer" -> Tables.customer(s, d),
        "graft_q68_orders" -> Tables.orders(s, d)),
      """SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
         FROM graft_q68_customer c
         JOIN LATERAL (
           SELECT o_orderkey, o_totalprice FROM graft_q68_orders
           WHERE o_custkey = c.c_custkey
           ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
         WHERE c.c_nationkey = 7
         ORDER BY c.c_custkey, o.o_orderkey"""),
    Some("""SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
            FROM customer c
            JOIN LATERAL (
              SELECT o_orderkey, o_totalprice FROM orders
              WHERE o_custkey = c.c_custkey
              ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o ON true
            WHERE c.c_nationkey = 7
            ORDER BY c.c_custkey, o.o_orderkey"""))

  /** q70: the PRODUCTION Z-order write (Layout.zorderWrite — q64 audits
    * this clustering, this query actually writes it): events
    * range-partitioned + sorted on the Morton key of (user_id,
    * floor(value)), written to parquet, read back. The oracle certifies
    * ROW-LEVEL ROUND-TRIP FIDELITY — every row survives the clustered
    * write bit-exactly; LayoutSpec pins the layout quality itself
    * (per-file bounding boxes, row-group pruning), which is engine-layout
    * territory no cross-engine oracle can see. Staging dir is removed
    * before returning (read-back pinned to executor storage). */
  private[queries] val q70 = QueryDef("q70_zorder_write",
    (s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("graft_q70_")
      graft.operators.Layout.zorderWrite(Tables.events(s, d),
        col("user_id"), floor(col("value")), s"$dir/z", 8)
      val back = s.read.parquet(s"$dir/z").localCheckpoint(true)
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
      back.select(col("event_id"), col("user_id"),
          col("ts").cast("timestamp_ntz").as("ts"),
          Catalog.centi(col("value")).as("value_centi"))
        .orderBy("event_id")
    },
    Some("""SELECT event_id, user_id, ts,
              CAST(ROUND(value * 100) AS BIGINT) AS value_centi
            FROM events ORDER BY event_id"""))

  /** q71: OHLC bucket downsampling (RelationalOps.ohlcDownsample) — per
    * (user, day) the open/high/low/close/count of the value series in
    * (ts, event_id) order, one min_by/max_by hash aggregation, no window.
    * Values surface as exact centi-BIGINTs; the oracle re-derives
    * open/close with ordered FIRST aggregates, so the tie-break picks
    * are hash-certified. */
  private[queries] val q71 = QueryDef("q71_ohlc",
    (s, d) => RelationalOps.ohlcDownsample(Tables.events(s, d),
        "user_id", "ts", "value", "day", "event_id")
      .select(col("user_id"),
        col("bucket_ts").cast("timestamp_ntz").as("bucket_ts"),
        Catalog.centi(col("open")).as("open_centi"),
        Catalog.centi(col("high")).as("high_centi"),
        Catalog.centi(col("low")).as("low_centi"),
        Catalog.centi(col("close")).as("close_centi"),
        col("n"))
      .orderBy("user_id", "bucket_ts"),
    Some("""SELECT user_id, DATE_TRUNC('day', ts) AS bucket_ts,
              FIRST(CAST(ROUND(value * 100) AS BIGINT)
                    ORDER BY ts, event_id) AS open_centi,
              MAX(CAST(ROUND(value * 100) AS BIGINT)) AS high_centi,
              MIN(CAST(ROUND(value * 100) AS BIGINT)) AS low_centi,
              FIRST(CAST(ROUND(value * 100) AS BIGINT)
                    ORDER BY ts DESC, event_id DESC) AS close_centi,
              COUNT(*) AS n
            FROM events GROUP BY user_id, DATE_TRUNC('day', ts)
            ORDER BY user_id, bucket_ts"""), bench = true)

  /** Round-15 fuzzer-finding regression (FUZZ_r15_sf01 f0068/f0137):
    * standard-SQL grand-total row for ROLLUP over a runtime-empty input
    * (filter satisfiable-looking but matching zero rows). Native Spark
    * drops the ()-set row; `EmptyGroupingSetsRewrite` (GraftExtensions)
    * restores it — this query certifies the fixed semantics against the
    * DuckDB oracle every round, including the grouping() mask fold. */
  private[queries] val q72 = QueryDef("q72_rollup_empty",
    (s, d) => Tables.customer(s, d)
      .filter(length(col("c_mktsegment")) > 11)
      .rollup(col("c_nationkey"))
      .agg(min(col("c_name")).as("min_name"), count(lit(1)).as("cnt"),
        grouping(col("c_nationkey")).cast("int").as("g"))
      .select(col("c_nationkey").as("nk"), col("min_name"), col("cnt"), col("g"))
      .orderBy(col("nk").asc_nulls_first),
    Some("""SELECT c_nationkey AS nk, MIN(c_name) AS min_name,
            COUNT(*) AS cnt, CAST(GROUPING(c_nationkey) AS INT) AS g
            FROM customer WHERE length(c_mktsegment) > 11
            GROUP BY ROLLUP(c_nationkey) ORDER BY nk NULLS FIRST"""))

  /** Round-16 fuzzer-finding regression (FUZZ_r16_sf01 f0151/f0154):
    * `grouping()` / `grouping_id()` in HAVING under an ALIASED select
    * list — standard SQL that DuckDB/PostgreSQL accept and native Spark
    * fails to resolve (UNRESOLVED_COLUMN suggesting the output aliases).
    * `GroupingInHavingRewrite` (GraftExtensions) substitutes the gid
    * arithmetic for the stuck TempResolvedColumn form; this query
    * certifies the fixed semantics against the DuckDB oracle every
    * round: a two-column CUBE with the subtotal levels selected via
    * HAVING grouping_id(...) <> 0 and one level pinned by grouping(). */
  private[queries] val q73 = QueryDef("q73_grouping_having",
    (s, d) => {
      Tables.customer(s, d).createOrReplaceTempView("q73_customer")
      s.sql("""SELECT t0.c_nationkey AS nk, t0.c_mktsegment AS seg,
                      COUNT(*) AS cnt, CAST(SUM(CAST(FLOOR(t0.c_acctbal * 100
                        + 0.5) AS BIGINT)) AS BIGINT) AS bal_cents
               FROM q73_customer t0
               GROUP BY CUBE(t0.c_nationkey, t0.c_mktsegment)
               HAVING grouping_id(t0.c_nationkey, t0.c_mktsegment) <> 0
                  AND grouping(t0.c_mktsegment) = 1
               ORDER BY nk NULLS FIRST, seg NULLS FIRST""")
    },
    Some("""SELECT t0.c_nationkey AS nk, t0.c_mktsegment AS seg,
            COUNT(*) AS cnt, CAST(SUM(CAST(FLOOR(t0.c_acctbal * 100
              + 0.5) AS BIGINT)) AS BIGINT) AS bal_cents
            FROM customer t0
            GROUP BY CUBE(t0.c_nationkey, t0.c_mktsegment)
            HAVING grouping_id(t0.c_nationkey, t0.c_mktsegment) <> 0
               AND grouping(t0.c_mktsegment) = 1
            ORDER BY nk NULLS FIRST, seg NULLS FIRST"""))

  /** Default HLL rsd in Spark is 0.05 (one standard error); the band is
    * 2x that — the estimate is a random variable, and a 1-sigma band
    * would trip on design variance (measured: sf0.001 l_orderkey sits at
    * 1.3 sigma = 0.064). Max observed error across 9 (scale, column)
    * cells is 0.064, well inside the band; HllBandSpec pins all of them
    * at 3 scales. */
  private val hllBand = 0.10

  /** An ERROR-BAND CERTIFICATE for q37's approx_count_distinct, the
    * oracled sibling of that `no_oracle` row: the HLL sketch itself is
    * engine-specific (DuckDB's differs, so the estimate can never
    * hash-match), but the CLAIM that matters ("the estimate lands within
    * the configured rsd band of the exact count") is a boolean the gate
    * CAN certify: Spark emits the band verdict computed from its own
    * estimate, the oracle emits the exact count and TRUE — an out-of-band
    * estimate hash-mismatches the gate. HllBandSpec pins the actual
    * relative errors at 3 scales. */
  private[queries] val q74 = QueryDef("q74_hll_band",
    (s, d) => {
      val li = Tables.lineitem(s, d)
      val a = li.agg(
        approx_count_distinct(col("l_orderkey")).as("a_ord"),
        countDistinct(col("l_orderkey")).as("e_ord"),
        approx_count_distinct(col("l_partkey")).as("a_part"),
        countDistinct(col("l_partkey")).as("e_part"),
        approx_count_distinct(col("l_suppkey")).as("a_supp"),
        countDistinct(col("l_suppkey")).as("e_supp"))
      def row(name: String, ac: String, ec: String) =
        struct(lit(name).as("col_name"), col(ec).as("exact_count"),
          (abs(col(ac) - col(ec)) <= col(ec) * hllBand).as("within_band"))
      a.select(explode(array(
          row("l_orderkey", "a_ord", "e_ord"),
          row("l_partkey", "a_part", "e_part"),
          row("l_suppkey", "a_supp", "e_supp"))).as("r"))
        .select("r.*")
        .orderBy("col_name")
    },
    Some("""SELECT col_name, exact_count, TRUE AS within_band FROM (
              SELECT 'l_orderkey' AS col_name,
                     COUNT(DISTINCT l_orderkey) AS exact_count FROM lineitem
              UNION ALL
              SELECT 'l_partkey', COUNT(DISTINCT l_partkey) FROM lineitem
              UNION ALL
              SELECT 'l_suppkey', COUNT(DISTINCT l_suppkey) FROM lineitem)
            ORDER BY col_name"""))

  /** q75/q76 (round-18 second wave): COVERAGE.md listed IGNORE NULLS
    * navigation and window-frame EXCLUDE as dialect gaps the DIFFERENTIAL
    * FUZZER cannot reach (the same SQL text cannot parse on both
    * engines). The catalog gate has no such constraint — the Spark side
    * is DataFrame code and the oracle is DuckDB-dialect SQL — so both
    * semantics ARE bit-certifiable:
    *  - q75 drives Spark's native ignoreNulls lag/lead/first/last/
    *    nth_value against DuckDB's `IGNORE NULLS` spelling;
    *  - q76 COMPOSES the three EXCLUDE modes Spark lacks from plain
    *    frame aggregates — EXCLUDE CURRENT ROW = frame sum minus the
    *    current value, EXCLUDE GROUP = frame sum minus the peer-group
    *    sum (a RANGE 0-0 frame IS the peer group), EXCLUDE TIES = group
    *    exclusion plus the current value back — each with a non-null
    *    COUNT guard so an emptied exclusion window yields NULL exactly
    *    where SQL's empty-frame SUM does. Oracled against DuckDB's
    *    native EXCLUDE clause.
    * Deterministic NULLs are CASE-injected from event_type (the driver
    * events table has none), so the null-skipping paths are exercised on
    * every scale. Integer cents per the fuzzer's portability rules. */
  private[queries] val q75 = QueryDef("q75_ignore_nulls_nav",
    (s, d) => {
      val ev = Tables.events(s, d).withColumn("v",
        when(col("event_type").isin("click", "view"), lit(null))
          .otherwise(floor(col("value") * 100 + 0.5).cast("long")))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev.select(col("user_id"), col("event_id"), col("v"),
          lag(col("v"), 1, null, ignoreNulls = true).over(w).as("prev_nn"),
          lead(col("v"), 2, null, ignoreNulls = true).over(w).as("next2_nn"),
          last(col("v"), ignoreNulls = true).over(cum).as("locf_v"),
          first(col("v"), ignoreNulls = true).over(cum).as("first_nn"),
          nth_value(col("v"), 2, ignoreNulls = true).over(cum).as("second_nn"))
        .orderBy("user_id", "event_id")
    },
    Some("""WITH e AS (SELECT event_id, user_id, ts,
              CASE WHEN event_type IN ('click', 'view') THEN NULL
                   ELSE CAST(FLOOR(value * 100 + 0.5) AS BIGINT) END AS v
              FROM events)
            SELECT user_id, event_id, v,
              lag(v, 1 IGNORE NULLS) OVER w AS prev_nn,
              lead(v, 2 IGNORE NULLS) OVER w AS next2_nn,
              last_value(v IGNORE NULLS) OVER cum AS locf_v,
              first_value(v IGNORE NULLS) OVER cum AS first_nn,
              nth_value(v, 2 IGNORE NULLS) OVER cum AS second_nn
            FROM e
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
              cum AS (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            ORDER BY user_id, event_id"""))

  private[queries] val q76 = QueryDef("q76_frame_exclude",
    (s, d) => {
      val ev = Tables.events(s, d)
        .withColumn("v",
          when(col("event_type") === "error", lit(null))
            .otherwise(floor(col("value") * 100 + 0.5).cast("long")))
        .withColumn("dk", datediff(col("ts").cast("date"),
          to_date(lit("2020-01-01"))).cast("long"))
      val wRows = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id")).rowsBetween(-2, 2)
      val wRange = Window.partitionBy(col("user_id"))
        .orderBy(col("dk")).rangeBetween(-3, 3)
      val wPeer = Window.partitionBy(col("user_id"))
        .orderBy(col("dk")).rangeBetween(0, 0)
      val selfCnt = when(col("v").isNotNull, 1L).otherwise(0L)
      // EXCLUDE CURRENT ROW over the ROWS frame
      val exCurCnt = count(col("v")).over(wRows) - selfCnt
      val exCur = when(exCurCnt === 0, lit(null))
        .otherwise(sum(col("v")).over(wRows) - coalesce(col("v"), lit(0L)))
      // EXCLUDE GROUP over the RANGE frame: peers = the RANGE 0-0 frame
      val exGrpCnt = count(col("v")).over(wRange) - count(col("v")).over(wPeer)
      val exGrp = when(exGrpCnt === 0, lit(null))
        .otherwise(sum(col("v")).over(wRange) -
          coalesce(sum(col("v")).over(wPeer), lit(0L)))
      // EXCLUDE TIES = EXCLUDE GROUP + the current row restored
      val exTiesCnt = exGrpCnt + selfCnt
      val exTies = when(exTiesCnt === 0, lit(null))
        .otherwise(sum(col("v")).over(wRange) -
          coalesce(sum(col("v")).over(wPeer), lit(0L)) +
          coalesce(col("v"), lit(0L)))
      ev.select(col("user_id"), col("event_id"), col("v"), col("dk"),
          exCur.as("sum_ex_current"), exGrp.as("sum_ex_group"),
          exTies.as("sum_ex_ties"))
        .orderBy("user_id", "event_id")
    },
    Some("""WITH e AS (SELECT event_id, user_id, ts,
              CASE WHEN event_type = 'error' THEN NULL
                   ELSE CAST(FLOOR(value * 100 + 0.5) AS BIGINT) END AS v,
              datediff('day', DATE '2020-01-01', CAST(ts AS DATE)) AS dk
              FROM events)
            SELECT user_id, event_id, v, dk,
              CAST(SUM(v) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING
                EXCLUDE CURRENT ROW) AS BIGINT) AS sum_ex_current,
              CAST(SUM(v) OVER (PARTITION BY user_id ORDER BY dk
                RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING
                EXCLUDE GROUP) AS BIGINT) AS sum_ex_group,
              CAST(SUM(v) OVER (PARTITION BY user_id ORDER BY dk
                RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING
                EXCLUDE TIES) AS BIGINT) AS sum_ex_ties
            FROM e ORDER BY user_id, event_id"""))

  /** Spark 4.1 cannot PARSE `UNION` (distinct) recursion in recursive
    * CTEs — it raises UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE, so the
    * differential fuzzer can never reach dedup-recursion semantics (same
    * class as the q75/q76 window dialect gaps). q77 certifies the
    * SEMANTICS through the catalog gate instead: the oracle runs DuckDB's
    * NATIVE dedup recursion (the frontier keeps only never-seen rows and
    * the recursion terminates at closure), while the Spark side computes
    * the same fixpoint with the only supported form — a depth-bounded
    * UNION ALL walk plus a final DISTINCT. A hash match proves the
    * bounded-ALL+DISTINCT rewrite is exactly dedup recursion on this
    * class.
    *
    * Two affine orbits mod 89 seeded from the data (two-row anchor, so
    * DuckDB's frontier dedup genuinely operates across rows, and the
    * chains can merge). Equality argument: each chain has at most 89
    * distinct values, so by pigeonhole its first repeat occurs within 89
    * steps; the walk's 90 levels therefore cover every chain's full
    * tail+cycle, and DISTINCT over the walk equals the UNION recursion's
    * accumulated new-value set. 91 levels stays under Spark's
    * cteRecursionLevelLimit default (100) — no conf override needed. */
  private[queries] val q77 = QueryDef("q77_rcte_union_twin",
    (s, d) => Catalog.scopedSql(s,
      Seq("graft_q77_orders" -> Tables.orders(s, d)),
      """WITH RECURSIVE rr(acc, n) AS (
           SELECT CAST(x % 89 AS BIGINT) AS acc, CAST(0 AS BIGINT) AS n
           FROM (SELECT COALESCE(MIN(o_orderkey), 0) AS x
                   FROM graft_q77_orders
                 UNION ALL
                 SELECT COALESCE(MAX(o_custkey), 0) FROM graft_q77_orders)
           UNION ALL
           SELECT (acc * 31 + 7) % 89, n + 1 FROM rr WHERE n < 89)
         SELECT DISTINCT acc FROM rr ORDER BY acc"""),
    Some("""WITH RECURSIVE rr(acc) AS (
              SELECT CAST(x % 89 AS BIGINT)
              FROM (SELECT COALESCE(MIN(o_orderkey), 0) AS x FROM orders
                    UNION ALL
                    SELECT COALESCE(MAX(o_custkey), 0) FROM orders)
              UNION
              SELECT (acc * 31 + 7) % 89 FROM rr)
            SELECT acc FROM rr ORDER BY acc"""))

  // e05–e07: the full pandas-merge_asof direction/tolerance surface on
  // RelationalOps.asOfJoin (q10 certifies only the default
  // backward/no-tolerance arm). All three ride the operator's single
  // key-shuffle union+running-last plan; the oracles re-derive each match
  // with correlated subqueries over exact timestamp arithmetic, and NULLs
  // (no match / out-of-tolerance) are part of the compared row set.
  // Right-side (user_id, ts) ties among signups are harmless here: the
  // carried value IS the matched ts, so any row of a tie carries the same
  // value — the operator's right-tie nondeterminism cannot reach the
  // output (same construction as q10's MAX form).

  /** Forward as-of: earliest signup at-or-after each purchase. */
  private[queries] val e05 = QueryDef("e05_asof_forward",
    (s, d) => RelationalOps.asOfJoin(
        purchases(Tables.events(s, d)), signups(Tables.events(s, d)),
        "user_id", "ts", "ts", Seq("ts" -> "next_signup"),
        direction = "forward")
      .select("event_id", "next_signup")
      .orderBy("event_id"),
    Some("""SELECT p.event_id,
              (SELECT CAST(MIN(s.ts) AS TIMESTAMP) FROM events s
               WHERE s.user_id = p.user_id AND s.event_type = 'signup'
                 AND s.ts >= p.ts) AS next_signup
            FROM events p WHERE p.event_type = 'purchase'
            ORDER BY p.event_id"""))

  /** Backward as-of with a 2-day tolerance: the latest at-or-before match
    * is VOIDED (NULL) when farther than 172800s — for backward, pick-then-
    * check equals filter-then-max (the latest match is the max, so if it
    * misses the window every match does), which is what the oracle runs. */
  private[queries] val e06 = QueryDef("e06_asof_tolerance",
    (s, d) => RelationalOps.asOfJoin(
        purchases(Tables.events(s, d)), signups(Tables.events(s, d)),
        "user_id", "ts", "ts", Seq("ts" -> "last_signup"),
        toleranceSeconds = Some(172800L))
      .select("event_id", "last_signup")
      .orderBy("event_id"),
    Some("""SELECT p.event_id,
              (SELECT CAST(MAX(s.ts) AS TIMESTAMP) FROM events s
               WHERE s.user_id = p.user_id AND s.event_type = 'signup'
                 AND s.ts <= p.ts
                 AND s.ts >= p.ts - INTERVAL 172800 SECOND) AS last_signup
            FROM events p WHERE p.event_type = 'purchase'
            ORDER BY p.event_id"""))

  /** Nearest as-of: closest signup in either direction, exact-microsecond
    * distance, equal distance resolved backward (the smaller ts — pinned
    * on the oracle side by the `, s.ts` ordering). */
  private[queries] val e07 = QueryDef("e07_asof_nearest",
    (s, d) => RelationalOps.asOfJoin(
        purchases(Tables.events(s, d)), signups(Tables.events(s, d)),
        "user_id", "ts", "ts", Seq("ts" -> "near_signup"),
        direction = "nearest")
      .select("event_id", "near_signup")
      .orderBy("event_id"),
    Some("""SELECT p.event_id,
              (SELECT CAST(s.ts AS TIMESTAMP) FROM events s
               WHERE s.user_id = p.user_id AND s.event_type = 'signup'
               ORDER BY ABS(epoch_us(s.ts) - epoch_us(p.ts)), s.ts
               LIMIT 1) AS near_signup
            FROM events p WHERE p.event_type = 'purchase'
            ORDER BY p.event_id"""))
}
