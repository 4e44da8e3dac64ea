package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-layout clustering for scan pruning.
  *
  * At 100 TB the fastest query is the one that skips most of its input:
  * columnar formats keep per-file (and per-row-group) min/max statistics,
  * and a predicate can drop a file without opening it iff the file's
  * value range is tight. A Z-order (Morton) layout makes ranges tight in
  * SEVERAL dimensions at once — interleaving the bits of two columns maps
  * 2-D locality onto 1-D key ranges, so sorting by the interleaved key
  * clusters rows that are close in BOTH x and y into the same files.
  * Queries filtering either column (or a box over both) then skip most
  * buckets by their bounding boxes.
  *
  * Everything here is pure integer column arithmetic — closed-form
  * shift/mask steps, no loop, no UDF — so the key survives whole-stage
  * codegen and any other engine can replay it bit-for-bit (the DuckDB
  * oracle does).
  */
object Layout {

  /** Spread the low 16 bits of `c` to the even bit positions of a 32-bit
    * value (bit i → bit 2i): the classic 4-step magic-number dilation.
    * Works on any non-negative integral column; bits ≥ 16 are dropped. */
  def spread16(c: Column): Column = {
    val a = c.cast("long").bitwiseAND(lit(0xFFFFL))
    val b = a.bitwiseOR(shiftleft(a, 8)).bitwiseAND(lit(0x00FF00FFL))
    val d = b.bitwiseOR(shiftleft(b, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    val e = d.bitwiseOR(shiftleft(d, 2)).bitwiseAND(lit(0x33333333L))
    e.bitwiseOR(shiftleft(e, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** 32-bit Morton key: bit i of `x` at position 2i, bit i of `y` at
    * 2i+1. Monotone in neither input alone — that's the point: one sort
    * key that preserves locality in both. */
  def zorderKey(x: Column, y: Column): Column =
    spread16(x).bitwiseOR(shiftleft(spread16(y), 1))

  /** Layout audit: assign each row to one of 2^`bucketBits` layout
    * buckets by its Z-key's high bits and report each bucket's row count
    * and per-dimension bounding box — exactly the statistics a file
    * skipper consults. Fixed key ranges (not equal row counts) keep the
    * assignment a pure row function: ONE hash aggregation, no global
    * sort, no window. A production write would instead
    * `repartitionByRange($"z")` + `sortWithinPartitions($"z")` before
    * writing (equal-size files); the fixed-range audit is the
    * deterministic, engine-replayable view of the same clustering.
    *
    * `keyBits` is the occupied width of the Z-key — 2×max(bits(x),
    * bits(y)) from the caller's domain knowledge. Bucketing by the top
    * bits of the FULL 32-bit space would put every row of a
    * small-domain column pair in bucket 0.
    */
  def zorderAudit(df: DataFrame, x: Column, y: Column,
                  bucketBits: Int = 6, keyBits: Int = 32): DataFrame = {
    require(keyBits >= 1 && keyBits <= 32,
      "zorderAudit: keyBits must be in [1, 32]")
    require(bucketBits >= 1 && bucketBits <= keyBits,
      "zorderAudit: bucketBits must be in [1, keyBits]")
    df.select(x.cast("long").as("__x"), y.cast("long").as("__y"))
      .withColumn("__z", zorderKey(col("__x"), col("__y")))
      .groupBy(shiftright(col("__z"), keyBits - bucketBits).as("bucket"))
      .agg(count(lit(1)).as("n"),
        min("__x").as("min_x"), max("__x").as("max_x"),
        min("__y").as("min_y"), max("__y").as("max_y"))
  }

  /** The PRODUCTION Z-order write: cluster rows into `numFiles` output
    * files by range-partitioning on the Z-key and sorting within each
    * partition, so every parquet file covers a tight Z-range — and hence
    * a tight bounding box in BOTH dimensions, which is what lets a
    * min/max file skipper drop most files for a predicate on either
    * column (or a box over both). Equal-size files (range partitioning
    * balances rows), one shuffle, no global sort task. [[zorderAudit]]
    * is the deterministic fixed-range VIEW of this clustering; this is
    * the layout a 100 TB table would actually be written in.
    *
    * @return the written row count
    */
  def zorderWrite(df: DataFrame, x: Column, y: Column, path: String,
                  numFiles: Int): Long = {
    require(numFiles >= 1, "zorderWrite: numFiles must be >= 1")
    df.withColumn("__z", zorderKey(x, y))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)
    df.sparkSession.read.parquet(path).count()
  }

  /** Bloom-filter join pruning — the runtime-filter pattern: digest the
    * small (build) side's join keys into an `mBits`-bit Bloom filter,
    * then drop probe rows scan-side when ANY of the `k` hash positions is
    * unset (such rows provably have no match). Survivors are the true
    * matches plus an exactly-reproducible set of hash collisions, so the
    * subsequent real join shrinks from |probe| to |matches| + ε rows —
    * at 100 TB that is the difference between shuffling the whole fact
    * table and shuffling the result.
    *
    * Shape: the filter is built with one hash aggregation of the build
    * side into ≤ mBits/64 (word, bits) rows and applied to the probe as
    * `k` BROADCAST word-lookup joins — the probe side is never shuffled
    * and nothing ever lands on the driver. Hash j of key c is the
    * portable 60-bit md5 of "c#j" mod mBits, so an external engine can
    * replay membership — including which collisions pass — bit-for-bit.
    *
    * @return probe rows passing the filter, plus `bloom_pass` (always
    *         true, kept to make the contract explicit in the schema)
    */
  def bloomPrefilter(probe: DataFrame, probeKey: Column,
                     build: DataFrame, buildKey: Column,
                     mBits: Int = 8192, k: Int = 3): DataFrame = {
    require(mBits > 0 && mBits % 64 == 0, "bloomPrefilter: mBits % 64 != 0")
    require(k >= 1, "bloomPrefilter: k must be >= 1")
    def pos(key: Column, j: Int): Column =
      pmod(Sampling.keyHash(concat(key.cast("string"), lit(s"#$j"))),
        lit(mBits.toLong))
    // the Scala shiftleft/shiftright helpers take a literal shift only;
    // call_function reaches the SQL variants that accept a column
    def shl(e: Column, n: Column) = call_function("shiftleft", e, n)
    def shr(e: Column, n: Column) = call_function("shiftright", e, n)
    val words = build
      .select(explode(array((0 until k).map(j => pos(buildKey, j)): _*))
        .as("__pos"))
      .groupBy(shiftright(col("__pos"), 6).as("__word"))
      .agg(bit_or(shl(lit(1L), (col("__pos") % 64).cast("int")))
        .as("__bits"))
    // the __graft_bloom prefix keeps the per-hash working columns clear of
    // the probe side's own column names
    (0 until k).foldLeft(probe) { (df, j) =>
      val w = words.select(col("__word").as(s"__graft_bloom_w$j"),
        col("__bits").as(s"__graft_bloom_b$j"))
      df.withColumn(s"__graft_bloom_p$j", pos(probeKey, j))
        .join(broadcast(w),
          shiftright(col(s"__graft_bloom_p$j"), 6) ===
            col(s"__graft_bloom_w$j"), "left")
        .filter(shr(coalesce(col(s"__graft_bloom_b$j"), lit(0L)),
          (col(s"__graft_bloom_p$j") % 64).cast("int"))
          .bitwiseAND(lit(1L)) === 1L)
        .drop(s"__graft_bloom_p$j", s"__graft_bloom_w$j", s"__graft_bloom_b$j")
    }.withColumn("bloom_pass", lit(true))
  }
}
