package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Bit-identity pins for the round-21 compiled kernels: each test
  * re-states the ORIGINAL higher-order-function formulation inline (the
  * interpreted zip_with/aggregate/transform chains the compiled
  * expressions replaced) and asserts exact equality on randomized and
  * adversarial inputs. If a compiled loop ever drifts from the certified
  * HOF semantics — word split, hash bytes, vote arithmetic, null/empty
  * shape — these fail before any oracle sweep can. */
class CompiledKernelsSpec extends SparkSpec {
  import graft.functions.Fn.bind

  private val rnd = new scala.util.Random(2102)
  private val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
    "Zeta", "ετα", "θreplica", "x", "longer-token-with-dashes", "0042",
    "naïve", "日本語", "emoji😀mix", "tab nbsp")

  private def randText(): String = {
    val n = rnd.nextInt(30)
    val seps = Vector(" ", "  ", "\t", "\n", " \r ", "", "\f")
    (0 until n).map(_ => vocab(rnd.nextInt(vocab.size)))
      .mkString(seps(rnd.nextInt(seps.size)))
  }

  private val edgeTexts = Seq("", " ", " \t\n\f\r ", "one",
    " leading", "trailing ", "a b", "ε", "😀 😀 😀")

  private def texts: Seq[String] =
    edgeTexts ++ (1 to 200).map(_ => randText())

  // the pre-r21 interpreted simhash, verbatim semantics
  private def simhashHof(text: Column, bits: Int, portable: Boolean): Column = {
    val words = filter(split(text, "\\s+"), w => w =!= "")
    val tok: Column => Column =
      if (portable) w => conv(substring(md5(w.cast("binary")), 1, 15), 16, 10).cast("long")
      else w => xxhash64(w)
    val counters = aggregate(
      transform(words, tok),
      array_repeat(lit(0L), bits),
      (acc, h) => bind(h) { hh =>
        zip_with(acc, sequence(lit(0), lit(bits - 1)),
          (c, j) => c + when(
            call_function("shiftright", hh, j).bitwiseAND(lit(1L)) === 1L,
            lit(1L)).otherwise(lit(-1L)))
      })
    aggregate(
      zip_with(counters, sequence(lit(0), lit(bits - 1)),
        (c, j) => when(c > 0, call_function("shiftleft", lit(1L), j))
          .otherwise(lit(0L))),
      lit(0L),
      (acc, v) => acc.bitwiseOR(v))
  }

  test("simhash64 compiled == interpreted HOF (incl. empty/unicode/null)") {
    import spark.implicits._
    val df = (texts.map(Option(_)) :+ None).toDF("text")
    val out = df.select(
      TextFns.simhash64(col("text")).as("fast"),
      simhashHof(col("text"), 64, portable = false).as("ref")).collect()
    out.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1), s"null shape diverged: $r")
      if (!r.isNullAt(0)) assert(r.getLong(0) == r.getLong(1), s"value diverged: $r")
    }
  }

  test("simhashPortable compiled == interpreted HOF (60-bit md5 twin)") {
    import spark.implicits._
    val df = (texts.map(Option(_)) :+ None).toDF("text")
    val out = df.select(
      TextFns.simhashPortable(col("text")).as("fast"),
      simhashHof(col("text"), 60, portable = true).as("ref")).collect()
    out.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1), s"null shape diverged: $r")
      if (!r.isNullAt(0)) assert(r.getLong(0) == r.getLong(1), s"value diverged: $r")
    }
  }

  // the pre-r21 interpreted portable MinHash, verbatim semantics
  private def minhashPortableHof(shingles: Column, k: Int): Column =
    bind(shingles) { sh =>
      transform(sequence(lit(0), lit(k - 1)), i =>
        array_min(transform(sh, s =>
          ArrayExprs.md5_prefix_long(concat(i.cast("string"), lit(":"), s)))))
    }

  test("minhashPortable compiled == interpreted HOF (incl. empty/null array)") {
    import spark.implicits._
    val arrays: Seq[Option[Seq[String]]] =
      Seq(Some(Nil), None, Some(Seq("a")), Some(Seq("a b", "b c", "ε δ"))) ++
        (1 to 100).map(_ => Some(TextFns_TestHelp.distinctShingles(randText())))
    for (k <- Seq(1, 16, 64)) {
      val df = arrays.toDF("sh")
      val out = df.select(
        TextFns.minhashPortable(col("sh"), k).as("fast"),
        minhashPortableHof(col("sh"), k).as("ref")).collect()
      out.foreach { r =>
        assert(r.isNullAt(0) == r.isNullAt(1), s"k=$k null shape diverged: $r")
        if (!r.isNullAt(0))
          assert(r.getSeq[Any](0) == r.getSeq[Any](1), s"k=$k diverged: $r")
      }
    }
  }

  test("words (word_grams n=1) == filter(split) tokenization") {
    import spark.implicits._
    val df = (texts.map(Option(_)) :+ None).toDF("text")
    val out = df.select(
      TextFns.words(col("text")).as("fast"),
      filter(split(col("text"), "\\s+"), w => w =!= "").as("ref")).collect()
    out.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1), s"null shape diverged: $r")
      if (!r.isNullAt(0))
        assert(r.getSeq[String](0) == r.getSeq[String](1), s"diverged: $r")
    }
  }

  // the pre-r21 interpreted quality-score bind body, verbatim semantics
  private def qualityScoreHof(text: Column): Column =
    bind(TextFns.words(text)) { w =>
      val nTok = size(w).cast("double")
      val lengthScore = least(nTok / lit(50.0), lit(1.0))
      val ttr = size(array_distinct(w)).cast("double") / greatest(nTok, lit(1.0))
      val alphaRatio = (length(regexp_replace(text, "[^a-zA-Z ]", "")) /
        greatest(length(text), lit(1))).cast("double")
      lit(0.4) * lengthScore + lit(0.3) * ttr + lit(0.3) * alphaRatio
    }

  test("qualityScore kernel == interpreted HOF bind body (raw double bits)") {
    import spark.implicits._
    val df = (texts.map(Option(_)) :+ None).toDF("text")
    val out = df.select(
      ArrayExprs.quality_score(col("text")).as("fast"),
      qualityScoreHof(col("text")).as("ref")).collect()
    out.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1), s"null shape diverged: $r")
      if (!r.isNullAt(0))
        assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
          java.lang.Double.doubleToRawLongBits(r.getDouble(1)),
          s"bits diverged: ${r.getDouble(0)} vs ${r.getDouble(1)}")
    }
  }

  // the pre-r21 interpreted estimate, verbatim semantics
  private def minhashEstimateHof(sigA: Column, sigB: Column): Column =
    aggregate(
      zip_with(sigA, sigB, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0),
      (acc, v) => acc + v).cast("double") / size(sigA).cast("double")

  test("minhashEstimate compiled == interpreted HOF (incl. length skew)") {
    import spark.implicits._
    def randSig(n: Int): Seq[Long] = Seq.fill(n)(rnd.nextLong() & 0xFFFFL)
    val rows: Seq[(Option[Seq[Long]], Option[Seq[Long]])] =
      // NOTE an empty LEFT signature is excluded: under ANSI (Spark 4
      // default) the old HOF's double division throws DIVIDE_BY_ZERO
      // there; the compiled kernel's NULL is pinned against the HOF with
      // ANSI off below.
      Seq((None, Some(Seq(1L))), (Some(Seq(1L)), None),
        (Some(Seq(1L)), Some(Nil)), (Some(Seq(1L, 2L)), Some(Seq(1L)))) ++
        (1 to 150).map { _ =>
          val n = 1 + rnd.nextInt(64)
          val m = if (rnd.nextBoolean()) n else 1 + rnd.nextInt(64)
          (Some(randSig(n)), Some(randSig(m)))
        } ++
        (1 to 50).map { _ => // high-agreement pairs
          val n = 16
          val a = randSig(n)
          val b = a.zipWithIndex.map { case (v, i) =>
            if (rnd.nextInt(4) == 0) v + 1 else v }
          (Some(a), Some(b))
        }
    val df = rows.toDF("a", "b")
    val out = df.select(
      TextFns.minhashEstimate(col("a"), col("b")).as("fast"),
      minhashEstimateHof(col("a"), col("b")).as("ref")).collect()
    out.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1), s"null shape diverged: $r")
      if (!r.isNullAt(0)) {
        val (f, g) = (r.getDouble(0), r.getDouble(1))
        assert(java.lang.Double.doubleToRawLongBits(f) ==
          java.lang.Double.doubleToRawLongBits(g), s"bits diverged: $f vs $g")
      }
    }
  }

  // each kernel runs on a local relation (folded on the driver through
  // eval) and across an exchange (whole-stage codegen)
  private def bothPaths(df: org.apache.spark.sql.DataFrame) =
    Seq("eval" -> df, "codegen" -> df.repartition(1))

  test("minhashEstimate of an empty left signature is NULL, as the HOF with ANSI off") {
    import spark.implicits._
    val df = Seq((Seq.empty[Long], Seq(1L)), (Seq.empty[Long], Seq.empty[Long]))
      .toDF("a", "b")
    for ((path, d) <- bothPaths(df)) withClue(path) {
      val out = d.select(TextFns.minhashEstimate(col("a"), col("b"))).collect()
      assert(out.length == 2 && out.forall(_.isNullAt(0)), out.toSeq)
    }
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try assert(df.select(minhashEstimateHof(col("a"), col("b"))).collect()
      .forall(_.isNullAt(0)))
    finally spark.conf.unset("spark.sql.ansi.enabled")
  }

  test("a NULL shingle array signs to k NULL components, not a NULL array") {
    import spark.implicits._
    val df = Seq(Option.empty[Seq[String]]).toDF("sh")
    for ((path, d) <- bothPaths(df); k <- Seq(1, 16)) withClue(s"$path k=$k") {
      val r = d.select(ArrayExprs.minhash_portable_sig(col("sh"), k)).head()
      assert(!r.isNullAt(0))
      assert(r.getSeq[Any](0) == Seq.fill(k)(null))
    }
  }
}

/** Shingle helper outside the suite so the closure cleaner never drags the
  * SparkSession into a task (the repo-wide test idiom). */
object TextFns_TestHelp {
  def distinctShingles(text: String): Seq[String] = {
    val w = text.split("\\s+").filter(_.nonEmpty)
    if (w.length < 3) Seq.empty
    else w.sliding(3).map(_.mkString(" ")).toSeq.distinct
  }
}
