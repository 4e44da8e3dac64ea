package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Pins the bytes-aware exchange-sizing policy (round 16 — the engine-
  * behavior answer to the r15 sf10 partition-sizing experiment,
  * `BENCH_sf10.json:partition_sizing_experiment_r15`).
  *
  * Layer 1 pins the pure decision function on the EXACT estimates the rule
  * logged at sf10 (spark.graft.sizing.log=true probes, r16): the d28/d24
  * edge-family exchanges must land on 256 — the measured-fastest arm —
  * and the same family at sf1/sf0.1 scale must keep the session default
  * (flat protocol). Layer 2 certifies the production wiring: a dedicated
  * session through GraftExtensions (whose rule holds the default
  * constants) plus a second rule instance whose calibration is shrunk
  * through its constructor so toy data crosses the thresholds — the
  * default-calibrated rule Keeps everything at this scale — asserting
  * actual executed partition counts for
  * the three measured shapes (narrow-fixed stream -> upscaled;
  * array-carrying stream -> untouched; co-partitioned join -> one common
  * count on both sides).
  */
class ExchangeSizingSpec extends AnyFunSuite with BeforeAndAfterAll {
  import ExchangeSizing._

  private val defaults = Params()

  private val edgeSchema = StructType(Seq(
    StructField("src", LongType), StructField("dst", LongType)))
  private val arraySchema = StructType(Seq(
    StructField("id", LongType),
    StructField("sh", ArrayType(LongType))))
  private val textSchema = StructType(Seq(
    StructField("id", LongType), StructField("tok", StringType)))

  // ---- layer 1: the decision function on the sf10-logged estimates ----

  test("sf10 edge family lands in the measured-optimal 288-544 band") {
    // BOTH estimate flavors the rule logged for the SAME 120M-edge
    // stream at sf10 must land inside the band the TRUE-corpus static
    // surface measured optimal (256 -> 195s, 512 -> 138s, 1024 -> 161s
    // for d28): parquet-scaled first-plan estimates (file flavor, x24)
    // and materialized cache/stage estimates (runtime flavor, x12)
    assert(targetCount(BigInt(364760479L), edgeSchema, 32, 32,
      runtimeStats = false, defaults) == Up(288))
    assert(targetCount(BigInt(547140720L), edgeSchema, 32, 32,
      runtimeStats = false, defaults) == Up(416))
    assert(targetCount(BigInt(1295859600L), edgeSchema, 32, 32,
      runtimeStats = true, defaults) == Up(480))
    assert(targetCount(BigInt(1460827008L), edgeSchema, 32, 32,
      runtimeStats = true, defaults) == Up(512))
  }

  test("sf1/sf0.1 edge family keeps the session default (flat protocol)") {
    // the same exchanges one and two decades down: none may move off the
    // 32-partition protocol — the working set FITS there (activation
    // band), and upscaling it was measured as pure task-overhead
    // regression (d28 at sf1: 11.5 -> 18.8s before this band existed)
    for (est <- Seq(4476798L, 19197919L, 32000000L, 36476048L, 54714072L,
                    127986132L)) {
      assert(targetCount(BigInt(est), edgeSchema, 32, 32,
        runtimeStats = false, defaults) == Keep, s"file est=$est")
    }
    for (est <- Seq(17907192L, 129585960L, 146082700L)) {
      assert(targetCount(BigInt(est), edgeSchema, 32, 32,
        runtimeStats = true, defaults) == Keep, s"runtime est=$est")
    }
  }

  test("array-carrying rows are vetoed at any size (the d27 shape)") {
    for (est <- Seq(1000L, 547140720L, 1460827008L)) {
      assert(targetCount(BigInt(est), arraySchema, 32, 32,
        runtimeStats = false, defaults) == Veto)
    }
    // nested inside a struct too (collect_list partial buffers)
    val nested = StructType(Seq(StructField("s", StructType(Seq(
      StructField("a", ArrayType(StringType)))))))
    assert(targetCount(BigInt(547140720L), nested, 32, 32,
      runtimeStats = false, defaults) == Veto)
  }

  test("absent/degenerate estimates fail CLOSED") {
    assert(targetCount(BigInt(0), edgeSchema, 32, 32,
      runtimeStats = false, defaults) == Veto)
    assert(targetCount(BigInt(-1), edgeSchema, 32, 32,
      runtimeStats = false, defaults) == Veto)
    // defaultSizeInBytes sentinel / multiplicative join estimate
    assert(targetCount(BigInt(Long.MaxValue), edgeSchema, 32, 32,
      runtimeStats = false, defaults) == Veto)
    assert(targetCount(defaults.maxTrustedBytes + 1, edgeSchema, 32, 32,
      runtimeStats = false, defaults) == Veto)
  }

  test("string-bearing rows never INITIATE an upscale (the d27 tok shape)") {
    // measured r16: upscaling d27's token-keyed string exchanges at sf10
    // (est 0.4-4.8 GB) to 64-256 cost +30% median and fresh spill — they
    // Keep (so they can still FOLLOW a fixed-width group sibling), never Up
    for (est <- Seq(422937852L, 1746564872L, 4758053088L)) {
      assert(targetCount(BigInt(est), textSchema, 32, 32,
        runtimeStats = false, defaults) == Keep, s"est=$est")
    }
  }

  test("counts are whole scheduling waves, capped at maxWaves x cores") {
    // raw 410 (547140720*24/32MiB) -> 416 = 13 waves under the 16-wave
    // cap; a tighter cap clips to whole waves
    assert(targetCount(BigInt(547140720L), edgeSchema, 32, 32,
      runtimeStats = false, defaults.copy(maxWaves = 8)) == Up(256))
    // absolute backstop still binds
    assert(targetCount(BigInt(547140720L), edgeSchema, 32, 32,
      runtimeStats = false,
      defaults.copy(maxPartitions = 128)) == Up(128))
    // never below the current count
    assert(targetCount(BigInt(547140720L), edgeSchema, 512, 32,
      runtimeStats = false, defaults) == Keep)
  }

  test("activation band: a working set that FITS at the current count never moves") {
    // 364 MB file-flavor fires at current=32 (273 MB/task est)...
    assert(targetCount(BigInt(364760479L), edgeSchema, 32, 32,
      runtimeStats = false, defaults).isInstanceOf[Up])
    // ...but the same estimate already spread over 256 partitions sits
    // at 34 MB/task — inside the activation band, nothing to fix
    assert(targetCount(BigInt(364760479L), edgeSchema, 256, 32,
      runtimeStats = false, defaults) == Keep)
  }

  test("poisoned-pin trust boundary: 3x/4x trusted, 4x+1/5x rejected") {
    // round-18 verdict task 4: the 4x threshold was calibrated on the
    // observed 107.7 GB-vs-100 MB poisonings; this pins its BOUNDARY so a
    // recalibration is a deliberate edit, not drift. Largest legitimate
    // claimed-vs-stored gap observed: 2.7x (parquet estimate vs columnar
    // cache bytes, r16) — 3x and exactly-4x must stay trusted; the first
    // byte past 4x (and everything beyond) is poisoned.
    val real = BigInt(100L * 1024 * 1024)
    assert(!pinPoisoned(real * 3, real), "3x claim must stay trusted")
    assert(!pinPoisoned(real * 4, real), "exactly-4x claim must stay trusted")
    assert(pinPoisoned(real * 4 + 1, real), "4x+1 claim must be rejected")
    assert(pinPoisoned(real * 5, real), "5x claim must be rejected")
    // degenerate: a zero-byte store never trusts a positive claim
    assert(pinPoisoned(BigInt(1), BigInt(0)))
  }

  // ---- layer 2: production wiring on a dedicated session ----

  private var prevDefault: Option[SparkSession] = None

  // calibration shrunk 2^13 x so toy row counts cross the thresholds
  private val toyCalibration =
    Params(targetTaskBytes = 4096, activationTaskBytes = 4096, maxWaves = 4)

  override def beforeAll(): Unit = {
    // serialize with SizingFlatAtGateSpec — see ExclusiveSessionGate
    ExclusiveSessionGate.sem.acquire()
    super.beforeAll()
  }

  lazy val spark: SparkSession = {
    prevDefault = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-sizing-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      // coalescing off so the asserted counts are the RULE's decisions,
      // not AQE's post-hoc trim of them
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.GraftExtensions()(_))
      .withExtensions(_.injectQueryStagePrepRule(s =>
        new ExchangeSizingRule(s, toyCalibration)))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  override def afterAll(): Unit = {
    try {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prevDefault.foreach { p =>
        SparkSession.setDefaultSession(p)
        SparkSession.setActiveSession(p)
      }
    } finally ExclusiveSessionGate.sem.release()
    super.afterAll()
  }

  test("GraftExtensions registers the sizing rule at the default constants") {
    val sizing = spark.sessionState.adaptiveRulesHolder.queryStagePrepRules
      .collect { case r: ExchangeSizingRule => r.params }
    assert(sizing == Seq(Params(), toyCalibration))
  }

  test("narrow-fixed aggregation exchange upscales to the wave cap") {
    // range stats: 8 B/row known exactly -> 100k rows ~ 800 KB; x24/4 KB
    // >> 16 -> hits maxWaves*cores = 16
    val agg = spark.range(0, 100000, 1, 4)
      .selectExpr("id % 1000 AS k", "id AS v")
      .groupBy("k").agg(sum("v"))
    assert(agg.rdd.getNumPartitions == 16)
  }

  test("array-carrying aggregation exchange keeps the session default") {
    val agg = spark.range(0, 100000, 1, 4)
      .selectExpr("id % 1000 AS k", "array(id, id+1, id+2) AS a")
      .groupBy("k", "a").count()
    assert(agg.rdd.getNumPartitions == 4)
  }

  test("co-partitioned join sides get ONE common upscaled count") {
    val big = spark.range(0, 100000, 1, 4).selectExpr("id % 5000 AS k", "id AS v")
    val small = spark.range(0, 64, 1, 2).selectExpr("id AS k", "id * 2 AS w")
    val j = big.join(small, "k")
    // the small side alone would Keep; it must FOLLOW the big side so
    // co-partitioning holds — result partitioning = the common count
    assert(j.rdd.getNumPartitions == 16)
    // and the join result is correct (both sides really co-partitioned)
    assert(j.count() == 100000L * 64 / 5000)
  }

  test("opt-out conf restores default sizing") {
    spark.conf.set("spark.graft.sizing.enabled", "false")
    try {
      val agg = spark.range(0, 100000, 1, 4)
        .selectExpr("id % 1000 AS k", "id AS v")
        .groupBy("k").agg(sum("v"))
      assert(agg.rdd.getNumPartitions == 4)
    } finally spark.conf.set("spark.graft.sizing.enabled", "true")
  }

  test("a planted poisoned checkpoint pin fails closed and is counted") {
    // the r17 sf0.1 failure shape, reproduced deliberately: a frame whose
    // Catalyst estimate is a multiplicative join blow-up (crossJoin, then
    // a filter Catalyst does not discount without CBO) pinned via eager
    // localCheckpoint — the LogicalRDD leaf INHERITS the garbage estimate
    // while the block manager knows the real (tiny) stored bytes. The
    // rule must reject the pin (counter fires), fail the estimate closed,
    // and leave the downstream exchange at the session default even
    // though the shrunk calibration would otherwise upscale it.
    val a = spark.range(0, 2000, 1, 4).selectExpr("id AS x")
    val b = spark.range(0, 2000, 1, 2).selectExpr("id AS y")
    val pinned = a.crossJoin(b).filter("x = y") // est ~4M rows, real 2000
      .selectExpr("x % 40 AS k", "y AS v")
      .localCheckpoint(true)
    val before = ExchangeSizing.poisonedPinCount.get()
    val agg = pinned.groupBy("k").agg(sum("v"))
    assert(agg.rdd.getNumPartitions == 4,
      "poisoned pin must fail closed to the session default count")
    assert(ExchangeSizing.poisonedPinCount.get() > before,
      "the trust check must record the rejection")
    // control: the SAME pinned shape with an honest estimate upscales —
    // proving the planted case was stopped by the trust check, not by
    // pins being ineligible in general
    val honest = spark.range(0, 100000, 1, 4)
      .selectExpr("id % 1000 AS k", "id AS v").localCheckpoint(true)
    assert(honest.groupBy("k").agg(sum("v")).rdd.getNumPartitions == 16,
      "an honestly-estimated pin must still be resizable")
  }

  test("explicit repartition(n, col) is a user choice — never resized") {
    val df = spark.range(0, 100000, 1, 4)
      .selectExpr("id % 1000 AS k").repartition(6, col("k"))
    assert(df.rdd.getNumPartitions == 6)
  }
}
