package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Generic relational operators the engine exposes beyond Spark built-ins.
  * Each is a composition of Catalyst primitives chosen for its shuffle
  * profile at scale — see individual notes.
  */
object RelationalOps {

  /** Top-k rows per group. One shuffle on the partition keys; the window
    * sort is in-partition. At 100 TB prefer this over groupBy+collect_list
    * (bounded memory per group via TakeOrdered-style pruning in AQE). */
  def topKPerGroup(df: DataFrame, partitionBy: Seq[Column],
                   orderBy: Seq[Column], k: Int): DataFrame = {
    val w = Window.partitionBy(partitionBy: _*).orderBy(orderBy: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  /** Top-k rows per group through the custom GroupTopK plan node
    * (graft.plans.GroupTopK): bounded per-group heaps in a partial phase
    * BEFORE the shuffle, so the exchange carries at most
    * partitions x groups x k rows and nothing is fully sorted — vs the
    * window form above, which shuffles the whole input and sorts every
    * group. Requires the session to have graft.GraftExtensions (the
    * planner strategy); `orderBy` must be a total order for deterministic
    * results. Output row order within groups is UNDEFINED (append a final
    * orderBy, like any top-k). */
  def topKPerGroupExec(df: DataFrame, groupBy: Seq[Column],
                       orderBy: Seq[Column], k: Int): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{Ascending, SortOrder}
    import org.apache.spark.sql.graft.Bridge
    val so = orderBy.map(c => Bridge.eagerExpression(c) match {
      case s: SortOrder => s
      case e => SortOrder(e, Ascending)
    })
    Bridge.ofRows(df.sparkSession, graft.plans.GroupTopK(
      groupBy.map(Bridge.eagerExpression), so, k, df.queryExecution.analyzed))
  }

  /** First row per key under an explicit order — exact deduplication with a
    * deterministic survivor (unlike dropDuplicates, whose survivor is
    * arbitrary under parallelism). One shuffle on `keys`. */
  def dedupFirst(df: DataFrame, keys: Seq[Column], order: Seq[Column]): DataFrame =
    topKPerGroup(df, keys, order, 1)

  /** As-of join: for each left row, the latest right row with the same key
    * and rightTs <= leftTs.
    *
    * Implemented as union + running `last(ignoreNulls)` window rather than a
    * join + per-key aggregation: the join form fans out to |left|x|right|
    * intermediate rows per key before aggregating, while this form is
    * strictly O(|left|+|right|) rows through a single shuffle on the key —
    * the difference between feasible and not at 100 TB.
    *
    * The carried values ride ONE struct column (one running `last` over the
    * whole row), not one `last(ignoreNulls)` per value column: a struct is
    * non-null whenever the right ROW exists, so a NULL inside a value column
    * is carried faithfully as that row's NULL. Per-column carries would skip
    * the NULL and resurrect an older value — and, worse, could stitch the
    * output from DIFFERENT right rows when columns go null independently.
    * Matched left rows always read all their values from a single right row.
    *
    * Direction follows pandas merge_asof: "backward" (default) matches the
    * latest right row at-or-before, "forward" the earliest at-or-after,
    * "nearest" whichever is closer with ties resolved backward. All three
    * ride the SAME single shuffle on the key: forward is the backward scan
    * under the reversed (ts DESC, right-first) order, nearest computes both
    * carries over the one exchange (two in-partition sorts, no second
    * shuffle). `toleranceSeconds` voids a match farther than the given
    * distance — measured exactly (interval arithmetic on timestamp
    * columns, so sub-second components count; plain subtraction on numeric
    * time columns).
    *
    * @param valueCols right-side columns to carry to the matched left rows
    *                  (aliased as given).
    */
  def asOfJoin(left: DataFrame, right: DataFrame, key: String,
               leftTs: String, rightTs: String,
               valueCols: Seq[(String, String)],
               direction: String = "backward",
               toleranceSeconds: Option[Long] = None): DataFrame = {
    require(Set("backward", "forward", "nearest")(direction),
      s"asOfJoin: direction must be backward|forward|nearest, got '$direction'")
    require(valueCols.forall(_._2 != "__mts"),
      "asOfJoin: value alias '__mts' is reserved")
    val lCols = left.columns.toSeq
    // right rows carry (key, ts, row-struct incl. the matched ts) plus
    // null placeholders for left cols
    val rBase = right.select(
      Seq(col(key), col(rightTs).as("__ats"),
        struct(valueCols.map { case (from, as) => col(from).as(as) } :+
          col(rightTs).as("__mts"): _*)
          .as("__vs")): _*)
      .withColumn("__side", lit(0))
    val vsType = rBase.schema("__vs").dataType
    // left rows keep all their columns plus a null row-struct placeholder
    val l = left.withColumn("__side", lit(1)).withColumn("__ats", col(leftTs))
      .withColumn("__vs", lit(null).cast(vsType))
    val r = lCols.filterNot(_ == key).foldLeft(rBase) { (df, c) =>
      df.withColumn(c, lit(null).cast(left.schema(c).dataType))
    }
    val ordered = lCols ++ Seq("__side", "__ats", "__vs")
    val u = l.select(ordered.map(col): _*).unionByName(r.select(ordered.map(col): _*))
    // right rows sort before left rows at equal ts (asc AND desc traversal)
    // so at-or-before / at-or-after include exact ties
    val wB = Window.partitionBy(col(key)).orderBy(col("__ats").asc, col("__side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wF = Window.partitionBy(col(key)).orderBy(col("__ats").desc, col("__side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = direction match {
      case "backward" => u.withColumn("__lb", last(col("__vs"), ignoreNulls = true).over(wB))
      case "forward" => u.withColumn("__lf", last(col("__vs"), ignoreNulls = true).over(wF))
      case "nearest" => u
        .withColumn("__lb", last(col("__vs"), ignoreNulls = true).over(wB))
        .withColumn("__lf", last(col("__vs"), ignoreNulls = true).over(wF))
    }
    // exact distance: interval subtraction on timestamps (sub-second
    // components count), numeric subtraction otherwise
    def dist(m: Column): Column = abs(m.getField("__mts") - col("__ats"))
    val chosen = direction match {
      case "backward" => col("__lb")
      case "forward" => col("__lf")
      case "nearest" =>
        when(col("__lb").isNull, col("__lf"))
          .when(col("__lf").isNull, col("__lb"))
          .when(dist(col("__lf")) < dist(col("__lb")), col("__lf"))
          .otherwise(col("__lb")) // equal distance -> backward (pandas)
    }
    val within = toleranceSeconds match {
      case None => chosen.isNotNull
      case Some(t) =>
        import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
        val tol = left.schema(leftTs).dataType match {
          case TimestampType | TimestampNTZType => expr(s"INTERVAL $t SECOND")
          case _ => lit(t)
        }
        chosen.isNotNull && dist(chosen) <= tol
    }
    filled.filter(col("__side") === 1)
      .select(lCols.map(col) ++
        valueCols.map { case (_, as) =>
          when(within, chosen.getField(as)).otherwise(lit(null)).as(as)
        }: _*)
  }

  /** Range (interval) self/pair join: rows of `right` whose `rightTs` falls
    * in (leftTs, leftTs + window]. When an equi key exists it rides a hash
    * join; `bucketSeconds` additionally buckets time so that even without a
    * selective key the match space is bounded (each left row joins only its
    * own and the next bucket) — the standard rewrite that turns an
    * O(n^2) theta join into an equi join + cheap residual filter.
    */
  def rangeJoinBucketed(left: DataFrame, right: DataFrame,
                        key: String, leftTs: String, rightTs: String,
                        windowSeconds: Long): DataFrame = {
    val b = windowSeconds
    // same floor-bucket as the optimizer rule (every bucket exactly b wide
    // for any sign of the epoch — a truncating division would double up the
    // bucket straddling zero for pre-1970 timestamps). Datetime columns are
    // passed to bucketOf UNCAST: the residual filter below compares the raw
    // columns, so the bucket must live on the same number line — a
    // .cast("timestamp") here would route TIMESTAMP_NTZ through the session
    // zone, splitting bucket and predicate onto different lines across a
    // DST transition (bucketOf's NTZ branch pins UTC instead).
    def bucket(df: DataFrame, name: String): Column = {
      import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
      // df(name), not col(name): bucketOf dispatches on the EXPRESSION's
      // dataType, so it must see a plan-resolved attribute, not an
      // UnresolvedAttribute
      val c = df.schema(name).dataType match {
        case TimestampType | TimestampNTZType => df(name)
        case _ => df(name).cast("timestamp")
      }
      org.apache.spark.sql.graft.Bridge.column(
        graft.plans.RangeJoinRewrite.bucketOf(
          org.apache.spark.sql.graft.Bridge.expression(c), b))
    }
    val l = left.withColumn("__lb", bucket(left, leftTs))
    val r = right.withColumn("__rb", bucket(right, rightTs))
    val rBoth = r.withColumn("__lb", explode(array(col("__rb"), col("__rb") - 1))).drop("__rb")
    l.join(rBoth, Seq(key, "__lb"))
      .filter(col(rightTs) > col(leftTs) &&
        col(rightTs) <= col(leftTs) + expr(s"INTERVAL $windowSeconds SECONDS"))
      .drop("__lb")
  }

  /** Resample an event series to a fixed grid with last-observation-
    * carried-forward: one grid row per key per `stepHours`, covering
    * [trunc(min ts), max ts], valued by the latest event at-or-before the
    * grid instant (null before the first event).
    *
    * Shape: per-key bounds (one agg) -> sequence explode (no shuffle) ->
    * [[asOfJoin]] (union + running last, single shuffle on the key). The
    * right side is deduplicated to the max-`tieBreak` row per (key, ts)
    * first — without that, equal-timestamp events would make the carried
    * value depend on partition order. */
  def resampleLocf(events: DataFrame, key: String, tsCol: String,
                   valueCol: String, stepHours: Int,
                   tieBreak: String): DataFrame = {
    val ev = dedupFirst(events.select(col(key), col(tsCol), col(valueCol),
        col(tieBreak)),
      Seq(col(key), col(tsCol)), Seq(col(tieBreak).desc))
      .drop(tieBreak)
    val bounds = ev.groupBy(key)
      .agg(date_trunc("hour", min(col(tsCol))).as("__t0"),
        max(col(tsCol)).as("__t1"))
    val grid = bounds.select(col(key),
      explode(sequence(col("__t0"), col("__t1"),
        expr(s"INTERVAL $stepHours HOURS"))).as("grid_ts"))
    asOfJoin(grid, ev, key, "grid_ts", tsCol, Seq(valueCol -> "locf"))
  }

  /** Resample to a fixed grid with LINEAR INTERPOLATION — the lerp
    * sibling of [[resampleLocf]]: each grid instant is valued on the
    * straight line between its latest at-or-before event and its
    * earliest strictly-after event; before the first event the value is
    * NULL, after the last it falls back to carry-forward. The
    * interpolation is EXACT integer arithmetic — values in centi-units
    * (round(value*100), exact for 2-decimal data), time in epoch
    * microseconds, truncating integer division (Spark `div` and external
    * engines' integer `//` both truncate toward zero, verified on
    * negative slopes) — hence bit-certifiable cross-engine, no float in
    * the value path at all.
    *
    * Shape: per-key bounds -> sequence explode -> ONE union of grid and
    * event rows -> TWO windows (ascending for prev, descending for next)
    * riding the same (key) exchange — the scd2 multi-window pattern; no
    * join at all. Ties at a grid instant resolve to the event itself
    * (ta = tg makes the lerp collapse to va, next-side ties are
    * excluded by window order).
    *
    * @return (key, grid_ts, lerp_centi: bigint)
    */
  def resampleLerp(events: DataFrame, key: String, tsCol: String,
                   valueCol: String, stepHours: Int,
                   tieBreak: String): DataFrame = {
    resampleBracket(events, key, tsCol, valueCol, stepHours, tieBreak)
      .withColumn("lerp_centi",
        when(col("__ta").isNull, lit(null).cast("long"))
          .when(col("__tb").isNull, col("__va"))
          .otherwise(expr(
            // NTZ-safe microsecond line: the session zone is pinned UTC in
            // every graft session, so NTZ -> TIMESTAMP is the identity.
            // Plain `div`: integer `//` truncates toward zero on external
            // engines exactly like Spark's div (verified, incl. negative
            // slopes) — truncation IS the portable contract
            """__va + ((__vb - __va) *
                 (unix_micros(cast(grid_ts as timestamp))
                  - unix_micros(cast(__ta as timestamp))))
               div (unix_micros(cast(__tb as timestamp))
                    - unix_micros(cast(__ta as timestamp)))""")))
      .select(col(key), col("grid_ts"), col("lerp_centi"))
  }

  /** Resample to a fixed grid with NEAREST-NEIGHBOR valuation — the third
    * member of the family ([[resampleLocf]], [[resampleLerp]]): each grid
    * instant takes the value of whichever bracketing event is closer in
    * time, measured in exact epoch microseconds; an equidistant tie and a
    * grid instant landing on an event both resolve to the at-or-before
    * side. Unlike LOCF, instants before the first event are valued by the
    * first FUTURE event (nearest has no head null unless the key has no
    * events at all, which cannot happen here since the grid derives from
    * them).
    *
    * Same single-exchange shape as lerp: union grid and event rows, two
    * windows (ascending prev / descending next) riding one (key)
    * partition, then an integer distance compare — values in exact
    * centi-units, so the pick and the output are bit-certifiable
    * cross-engine.
    *
    * @return (key, grid_ts, nearest_centi: bigint)
    */
  def resampleNearest(events: DataFrame, key: String, tsCol: String,
                      valueCol: String, stepHours: Int,
                      tieBreak: String): DataFrame = {
    resampleBracket(events, key, tsCol, valueCol, stepHours, tieBreak)
      .withColumn("nearest_centi",
        when(col("__ta").isNull, col("__vb"))
          .when(col("__tb").isNull, col("__va"))
          .otherwise(expr(
            """CASE WHEN unix_micros(cast(grid_ts as timestamp))
                       - unix_micros(cast(__ta as timestamp))
                    <= unix_micros(cast(__tb as timestamp))
                       - unix_micros(cast(grid_ts as timestamp))
                    THEN __va ELSE __vb END""")))
      .select(col(key), col("grid_ts"), col("nearest_centi"))
  }

  /** The bracket [[resampleLerp]] and [[resampleNearest]] share: one row
    * per grid instant of each key, with its latest at-or-before event
    * (`__ta`, `__va`) and earliest strictly-after event (`__tb`, `__vb`),
    * values in exact centi-units. Events are deduped per (key, ts) on
    * `tieBreak` desc; the grid runs from the hour of each key's first
    * event to its last, every `stepHours`. */
  private def resampleBracket(events: DataFrame, key: String, tsCol: String,
                              valueCol: String, stepHours: Int,
                              tieBreak: String): DataFrame = {
    val ev = dedupFirst(events.select(col(key), col(tsCol), col(valueCol),
        col(tieBreak)),
      Seq(col(key), col(tsCol)), Seq(col(tieBreak).desc))
      .drop(tieBreak)
      .withColumn("__evc", round(col(valueCol) * 100, 0).cast("long"))
    val bounds = ev.groupBy(key)
      .agg(date_trunc("hour", min(col(tsCol))).as("__t0"),
        max(col(tsCol)).as("__t1"))
    val grid = bounds.select(col(key),
      explode(sequence(col("__t0"), col("__t1"),
        expr(s"INTERVAL $stepHours HOURS"))).as("grid_ts"))
    val tsType = events.schema(tsCol).dataType
    val g = grid.withColumn("__side", lit(1))
      .withColumn("__ats", col("grid_ts"))
      .withColumn("__ets", lit(null).cast(tsType))
      .withColumn("__ec", lit(null).cast("long"))
    val e = ev.select(col(key), col(tsCol).as("__ats"),
        col(tsCol).as("__ets"), col("__evc").as("__ec"))
      .withColumn("__side", lit(0))
      .withColumn("grid_ts", lit(null).cast(tsType))
    val cols = Seq(key, "grid_ts", "__side", "__ats", "__ets", "__ec")
    val u = g.select(cols.map(col): _*).unionByName(e.select(cols.map(col): _*))
    // prev pass: events sort BEFORE grid rows at equal ts (at-or-before
    // includes the tie); next pass: grid rows first in DESC order, so an
    // equal-ts event is NOT its own "next"
    val wPrev = Window.partitionBy(col(key)).orderBy(col("__ats"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy(col(key))
      .orderBy(col("__ats").desc, col("__side").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    u.withColumn("__ta", last(col("__ets"), ignoreNulls = true).over(wPrev))
      .withColumn("__va", last(col("__ec"), ignoreNulls = true).over(wPrev))
      .withColumn("__tb", last(col("__ets"), ignoreNulls = true).over(wNext))
      .withColumn("__vb", last(col("__ec"), ignoreNulls = true).over(wNext))
      .filter(col("__side") === 1)
  }

  /** OHLC bucket downsampling — the financial-style summary of an event
    * series: per (key, time bucket) the first (open) and last (close)
    * values in (ts, tieBreak) order plus the min/max/count. ONE hash
    * aggregation with map-side combine (min_by/max_by over the lexical
    * (ts, tieBreak) struct pick open/close without any window or sort);
    * values pass through untouched, so 2-decimal inputs stay exact and
    * the whole row is hash-certifiable.
    *
    * @return (key, bucket_ts, open, high, low, close, n)
    */
  def ohlcDownsample(events: DataFrame, key: String, tsCol: String,
                     valueCol: String, bucket: String,
                     tieBreak: String): DataFrame = {
    val ord = struct(col(tsCol), col(tieBreak))
    events.groupBy(col(key), date_trunc(bucket, col(tsCol)).as("bucket_ts"))
      .agg(
        min_by(col(valueCol), ord).as("open"),
        max(col(valueCol)).as("high"),
        min(col(valueCol)).as("low"),
        max_by(col(valueCol), ord).as("close"),
        count(lit(1)).as("n"))
  }

  /** Skew-mitigating equi join: the left (large, skewed) side gets a
    * random-free deterministic salt derived from a high-cardinality column,
    * the right side is exploded across all salt values, and the join runs
    * on (key, salt) — splitting a hot key's rows across `salts` reducers.
    *
    * AQE's skew-join splitting handles moderate skew automatically; salting
    * is the explicit tool for pathological keys (a single key holding >1
    * partition's worth of rows) or for non-AQE contexts. Deterministic
    * salting (hash of `saltFrom`, not rand()) keeps retries/speculative
    * tasks consistent.
    */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
                 salts: Int, saltFrom: Column,
                 joinType: String = "inner"): DataFrame = {
    val l = left.withColumn("__salt", pmod(xxhash64(saltFrom), lit(salts)))
    val r = right.withColumn("__salt", explode(sequence(lit(0L), lit(salts - 1L))))
    l.join(r, Seq(key, "__salt"), joinType).drop("__salt")
  }

  /** MERGE / upsert: apply a batch of changes to a keyed snapshot —
    * matched keys take the source row (update), unmatched source keys are
    * inserted, unmatched target keys survive — i.e. SQL MERGE's
    * WHEN MATCHED THEN UPDATE / WHEN NOT MATCHED THEN INSERT, the CDC
    * apply step of every incremental pipeline.
    *
    * Both sides are first reduced to one row per key under `order`
    * (latest wins, [[dedupFirst]] with the order REVERSED by the caller
    * passing desc), so arbitrary event batches can be passed directly.
    * Shape: two key-partitioned reductions + one full outer join, all on
    * the same key — at scale one shuffle per side, no broadcast, no
    * driver state. Column set must match between target and source.
    */
  def mergeUpsert(target: DataFrame, source: DataFrame, key: String,
                  order: Seq[Column]): DataFrame = {
    val cols = target.columns.toSeq
    require(source.columns.toSeq == cols,
      s"mergeUpsert: column mismatch ${source.columns.toSeq} vs $cols")
    val t = dedupFirst(target, Seq(col(key)), order)
    // non-null presence marker: "did the source side match" must be read
    // off join mechanics, not off data columns — a legitimate NULL in the
    // source's winning row is an UPDATE TO NULL under SQL MERGE semantics,
    // which per-column coalesce would silently revert to the stale target
    // value
    val s = dedupFirst(source, Seq(col(key)), order)
      .withColumn("__sm", lit(1))
    val picked = cols.filterNot(_ == key).map { c =>
      when(col("__sm").isNotNull, col(s"__s.$c"))
        .otherwise(col(s"__t.$c")).as(c)
    }
    // join on the key column only; a matched key takes the WHOLE source
    // row (nulls included)
    t.as("__t").join(s.as("__s"), Seq(key), "full_outer")
      .select(col(key) +: picked: _*)
  }

  /** Order-independent MERGE: union both sides and keep the first row per
    * key under `order` — unlike [[mergeUpsert]] (source wins), the winner
    * is determined purely by the ordering columns, so folding ANY batch
    * sequence through this merge converges to the same state regardless
    * of arrival order. That associativity/commutativity is what makes it
    * the correct kernel for incremental CDC apply over an unordered
    * stream (streaming/s11). One shuffle on the key. */
  def mergeLatest(target: DataFrame, source: DataFrame, key: String,
                  order: Seq[Column]): DataFrame = {
    require(source.columns.toSeq == target.columns.toSeq,
      s"mergeLatest: column mismatch ${source.columns.toSeq} vs ${target.columns.toSeq}")
    dedupFirst(target.unionByName(source), Seq(col(key)), order)
  }

  /** Slowly-changing-dimension type 2: compress a keyed event history into
    * validity intervals — one row per (key, consecutive run of equal
    * values) with [valid_from, valid_to) bounds, open runs ending null.
    * Change detection via lag, run numbering via a running sum, interval
    * bounds via min/lead — three window passes over ONE shuffle on the
    * key (all windows share the same partitioning, so Catalyst reuses the
    * exchange and sort). `tieBreak` makes equal-timestamp events
    * deterministic. */
  def scd2(events: DataFrame, key: String, tsCol: String, valueCol: String,
           tieBreak: String): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(tsCol), col(tieBreak))
    val run = events
      .withColumn("__chg",
        when(lag(col(valueCol), 1).over(w).isNull ||
          lag(col(valueCol), 1).over(w) =!= col(valueCol), 1).otherwise(0))
      .withColumn("__run",
        sum(col("__chg")).over(w.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
    // min, not first: every value in a run is equal by construction, but
    // min is deterministic under parallel aggregation by definition
    val byRun = run.groupBy(col(key), col("__run"))
      .agg(min(col(valueCol)).as(valueCol), min(col(tsCol)).as("valid_from"))
    val w2 = Window.partitionBy(col(key)).orderBy(col("__run"))
    byRun.withColumn("valid_to", lead(col("valid_from"), 1).over(w2))
      .select(col(key), col(valueCol), col("valid_from"), col("valid_to"))
  }

  /** Gaps-and-islands sessionization: a new session starts when the gap to
    * the previous event (per key) exceeds `gapSeconds`. Adds `session_id`
    * (1-based per key). Single shuffle on the key. */
  def sessionize(df: DataFrame, key: String, tsCol: String,
                 gapSeconds: Long, order: Seq[Column] = Nil): DataFrame = {
    val ord = if (order.nonEmpty) order else Seq(col(tsCol))
    val w = Window.partitionBy(col(key)).orderBy(ord: _*)
    val gap = col(tsCol).cast("timestamp").cast("long") -
      lag(col(tsCol), 1).over(w).cast("timestamp").cast("long")
    df.withColumn("__new", when(gap.isNull || gap > gapSeconds, 1).otherwise(0))
      .withColumn("session_id",
        sum(col("__new")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("__new")
  }

  /** Interval coalescing (merge overlapping-or-touching intervals per
    * key) — the coverage-union operator behind "total active time",
    * downtime merging and span consolidation. [[sessionize]]'s
    * gaps-and-islands generalized to VARIABLE-length intervals: a new
    * span starts where an interval's start exceeds the running max of
    * all previous ends (a later interval can be swallowed by an earlier
    * longer one, which a fixed-gap rule cannot express). Touching
    * intervals (start == previous end) merge.
    *
    * One shuffle on the key: the running-max window, the span-id window
    * and the final per-span aggregation all ride the same (key)
    * partitioning — the scd2 single-exchange pattern.
    *
    * @return one row per merged span: key, span_start, span_end, n_iv
    */
  def mergeIntervals(df: DataFrame, key: String, startCol: String,
                     endCol: String): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(startCol), col(endCol))
    val prevMax = max(col(endCol))
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    df.withColumn("__new",
        when(prevMax.isNull || col(startCol) > prevMax, 1).otherwise(0))
      .withColumn("__span", sum(col("__new"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(key), col("__span"))
      .agg(min(col(startCol)).as("span_start"),
        max(col(endCol)).as("span_end"),
        count(lit(1)).as("n_iv"))
      .drop("__span")
  }
}
