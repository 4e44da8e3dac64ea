package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.queries.Catalog.QueryDef

/** Extended relational coverage: grouping sets, pivot, subqueries through
  * the SQL front-end, array/string/date scalar suites, range-frame and
  * ranking windows, multi-way set ops, approximate distinct. */
object MoreQueries {

  private def dec(c: Column): Column = c.cast("decimal(18,2)")

  private val q30 = QueryDef("q30_cube",
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

  private val q31 = QueryDef("q31_pivot",
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
  private val q32 = QueryDef("q32_exists",
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

  private val q33 = QueryDef("q33_scalar_subquery",
    (s, d) => Catalog.scopedSql(s,
      Seq("graft_q33_orders" -> Tables.orders(s, d)),
      """SELECT COUNT(*) AS n FROM graft_q33_orders
         WHERE o_totalprice > (SELECT AVG(o_totalprice) FROM graft_q33_orders)"""),
    Some("""SELECT COUNT(*) AS n FROM orders
            WHERE o_totalprice > (SELECT AVG(o_totalprice) FROM orders)"""))

  private val q34 = QueryDef("q34_array_ops",
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

  private val q35 = QueryDef("q35_string_suite",
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

  private val q36 = QueryDef("q36_date_suite",
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

  private val q37 = QueryDef("q37_approx_distinct",
    (s, d) => Tables.lineitem(s, d).agg(
      approx_count_distinct(col("l_partkey")).as("approx_parts"),
      countDistinct(col("l_partkey")).as("exact_parts")),
    None) // HLL estimates are engine-specific; exactness tested by q12

  private val q38 = QueryDef("q38_window_range",
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

  private val q39 = QueryDef("q39_rank_family",
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

  private val q40 = QueryDef("q40_union_all",
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
  private val q54 = QueryDef("q54_rangejoin_unkeyed",
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
  private val q55 = QueryDef("q55_salted_join",
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
  private val q56 = QueryDef("q56_bucketed_join",
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
  private val q57 = QueryDef("q57_group_topk_exec",
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
  private val q58 = QueryDef("q58_tsv_sink",
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
  private val q59 = QueryDef("q59_approx_percentile",
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
  private val q60 = QueryDef("q60_merge_upsert",
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
  private val q61 = QueryDef("q61_scd2",
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
  private val q62 = QueryDef("q62_burst_dedup",
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
  private val q63 = QueryDef("q63_merge_null",
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
  private val q64 = QueryDef("q64_zorder_layout",
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
  private val q65 = QueryDef("q65_bloom_prefilter",
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
  private val q66 = QueryDef("q66_interval_merge",
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
  private val q67 = QueryDef("q67_bloom_join_rewrite",
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

  val all: Seq[QueryDef] = Seq(q30, q31, q32, q33, q34, q35, q36, q37, q38,
    q39, q40, q54, q55, q56, q57, q58, q59, q60, q61, q62, q63, q64, q65, q66,
    q67)
}
