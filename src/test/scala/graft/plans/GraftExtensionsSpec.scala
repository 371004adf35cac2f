package graft.plans

import graft.SparkTestSession
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class GraftExtensionsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("cosine_sim native expression matches kernel, usable from SQL") {
    GraftFunctions.register(spark)
    val df = Seq(
      (Array(1.0f, 0.0f), Array(1.0f, 0.0f)),
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f)),
      (Array(1.0f, 2.0f), Array(2.0f, 4.0f)))
      .toDF("a", "b")
    df.createOrReplaceTempView("vecs")
    val out = spark.sql("SELECT round(cosine_sim(a, b), 6) AS c FROM vecs")
      .as[Double].collect()
    assert(out(0) == 1.0 && out(1) == 0.0 && out(2) == 1.0)
    // Column API form
    val viaCol = df.select(GraftFunctions.cosine_sim($"a", $"b")).as[Double].collect()
    assert(math.abs(viaCol(2) - 1.0) < 1e-9)
  }

  test("hamming64 native expression") {
    GraftFunctions.register(spark)
    val out = spark.sql("SELECT hamming64(CAST(7 AS BIGINT), CAST(0 AS BIGINT))")
      .as[Int].head()
    assert(out == 3)
  }

  test("nfc_normalize composes combining sequences; codegen survives") {
    GraftFunctions.register(spark)
    // "é" as e + COMBINING ACUTE vs precomposed U+00E9
    val decomposed = "cafe\u0301"
    val composed = "caf\u00e9"
    val df = Seq((1L, decomposed), (2L, composed)).toDF("id", "s")
    val out = df.select($"id", GraftFunctions.nfc_normalize($"s").as("n"))
      .as[(Long, String)].collect().toMap
    assert(out(1L) == composed && out(2L) == composed)
    // the dedup motivation: distinct codepoints, identical fingerprint
    val fps = df.select(xxhash64(GraftFunctions.nfc_normalize($"s")))
      .as[Long].collect()
    assert(fps(0) == fps(1))
    assert(decomposed != composed) // raw strings differ
  }

  test("strip_accents folds diacritics, from SQL too") {
    GraftFunctions.register(spark)
    Seq(("Łódź crème brûlée ÀÉÎÕÜ ñ"))
      .toDF("s").createOrReplaceTempView("acc")
    val out = spark.sql("SELECT strip_accents(s) FROM acc").as[String].head()
    // Ł has no combining mark decomposition (it survives); the rest fold
    assert(out == "Łodz creme brulee AEIOU n")
  }

  test("jaro_winkler matches DuckDB's reference values") {
    GraftFunctions.register(spark)
    // expected values produced by DuckDB's jaro_winkler_similarity — the
    // oracle for q106/q108; exact conventions asserted pairwise
    val cases = Seq(
      ("martha", "marhta", 0.9611111111111111), // transposition + boost
      ("dixon", "dicksonx", 0.8133333333333332),
      ("jellyfish", "smellyfish", 0.8962962962962964), // no common prefix
      ("dwayne", "duane", 0.8400000000000001),
      ("crate", "trace", 0.7333333333333334), // jaro ≥ .7, prefix 0
      ("abcdefgh", "abzzzzzz", 0.5), // jaro < .7 → NO winkler boost
      ("aaaaab", "aaaaac", 0.9333333333333333), // prefix capped at 4
      ("abc", "abc", 1.0),
      ("abc", "xyz", 0.0),
      ("a", "", 0.0),
      ("", "", 0.0)) // DuckDB convention: either empty → 0
    val df = cases.map { case (a, b, _) => (a, b) }.toDF("a", "b")
    val got = df.select(GraftFunctions.jaro_winkler($"a", $"b"))
      .as[Double].collect()
    cases.zip(got).foreach { case ((a, b, want), v) =>
      assert(math.abs(v - want) < 1e-12, s"jw($a, $b): got $v want $want")
    }
  }

  test("jaro_winkler runs inside whole-stage codegen") {
    GraftFunctions.register(spark)
    // non-foldable input (range), so the projection cannot constant-fold
    // into a LocalTableScan and must actually generate code
    val df = spark.range(2)
      .select(GraftFunctions.jaro_winkler(
        concat(lit("marth"), $"id".cast("string")),
        lit("marhta")).as("jw"))
    assert(df.collect().length == 2)
    // '*(' prefix on the Project = it sits inside a WholeStageCodegen span
    assert(df.queryExecution.executedPlan.toString
      .contains("*(1) Project [jarowinklersim"))
  }

  test("type mismatch is an analysis error") {
    GraftFunctions.register(spark)
    Seq((1, 2)).toDF("a", "b").createOrReplaceTempView("ints")
    intercept[Exception] {
      spark.sql("SELECT cosine_sim(a, b) FROM ints").collect()
    }
  }

  test("geohash matches published vectors, from SQL too") {
    GraftFunctions.register(spark)
    // classic test vectors (Niemeyer / Wikipedia)
    val got = Seq(
      (57.64911, 10.40744, 11),
      (42.605, -5.603, 5),
      (-25.382708, -49.265506, 8),
      (0.0, 0.0, 9))
      .toDF("lat", "lon", "p")
      .select(GraftFunctions.geohash($"lat", $"lon", $"p"))
      .as[String].collect().toSeq
    assert(got == Seq("u4pruydqqvj", "ezs42", "6gkzwgjz", "s00000000"))
    // poles/antimeridian clamp into range instead of overflowing
    val edge = spark.sql(
      "SELECT geohash(90.0D, 180.0D, 4), geohash(-90.0D, -180.0D, 4)")
      .collect()(0)
    assert(edge.getString(0) == "zzzz" && edge.getString(1) == "0000")
  }

  test("char_entropy: uniform, single-char, and hand-computed values") {
    GraftFunctions.register(spark)
    // "abcd": 4 equiprobable symbols -> exactly 2 bits/char
    // "aaaa": one symbol -> 0
    // "hello": {h:1,e:1,l:2,o:1}/5 -> 1.921928...
    val out = spark.sql(
      """SELECT round(char_entropy(s), 6) FROM VALUES
        | ('abcd'), ('aaaa'), ('hello'), ('') AS t(s)""".stripMargin)
      .as[Double].collect()
    assert(out(0) == 2.0)
    assert(out(1) == 0.0)
    assert(out(2) == 1.921928)
    assert(out(3) == 0.0)
  }

  test("char_entropy counts code points, not UTF-16 units; null-safe") {
    GraftFunctions.register(spark)
    // U+1D11E (musical G clef) is a surrogate pair in UTF-16: two distinct
    // astral code points must read as 2 symbols -> 1 bit/char
    val clefs = new String(Character.toChars(0x1D11E)) +
      new String(Character.toChars(0x1D122))
    val df = Seq(Some(clefs), None).toDF("s")
    val got = df.select(GraftFunctions.char_entropy(col("s")).as("h"))
      .collect()
    assert(got(0).getDouble(0) == 1.0)
    assert(got(1).isNullAt(0))
  }

  test("char_entropy stays inside whole-stage codegen") {
    GraftFunctions.register(spark)
    val df = spark.range(2)
      .select(GraftFunctions.char_entropy(
        concat(lit("some text "), col("id").cast("string"))).as("h"))
    assert(df.collect().length == 2)
    // '*(' prefix on the Project = it sits inside a WholeStageCodegen span
    assert(df.queryExecution.executedPlan.toString
      .contains("*(1) Project [charentropyexpr"))
  }

  test("fix_mojibake repairs latin-1 and cp1252 mis-decodes, idempotent") {
    GraftFunctions.register(spark)
    def fix(s: String): String =
      Seq(Tuple1(s)).toDF("s")
        .select(GraftFunctions.fix_mojibake($"s")).as[String].head()
    // latin-1 damage: "café" read as latin-1 → "cafÃ©"
    assert(fix("cafÃ©") == "café")
    // cp1252 damage: ’ (E2 80 99) read as cp1252 → "â€™"
    assert(fix("donâ€™t") == "don’t")
    // clean text passes through (ascii, real accents, CJK)
    assert(fix("plain ascii") == "plain ascii")
    assert(fix("café déjà vu") == "café déjà vu")
    assert(fix("中文 текст") == "中文 текст")
    // idempotent: repairing a repaired string is a no-op
    assert(fix(fix("cafÃ©")) == "café")
  }

  test("fix_mojibake inverts a full encode/decode round trip in the plan") {
    GraftFunctions.register(spark)
    val df = Seq("naïve — déjà vu ✓", "ascii only", "中文文本")
      .toDF("text")
      .select(col("text"),
        GraftFunctions.fix_mojibake(
          decode(encode(col("text"), "UTF-8"), "ISO-8859-1")).as("fixed"))
    assert(df.collect().forall(r => r.getString(0) == r.getString(1)))
  }

  // the hashed-set kernels behind every dedup/linkage verify join: each
  // must equal its one HashKernels implementation on the edge cases, both
  // generated (inside whole-stage codegen) and interpreted
  private val setKernels: Seq[(String, (Column, Column) => Column,
      (Seq[Long], Seq[Long]) => Double)] = Seq(
    ("jaccard_long", GraftFunctions.jaccard_long,
      graft.functions.HashKernels.jaccardLong),
    ("containment_long", GraftFunctions.containment_long,
      graft.functions.HashKernels.containmentLong),
    ("sig_sim", GraftFunctions.sig_sim,
      graft.functions.HashKernels.signatureSimilarity))

  private val setCases: Seq[(Option[Seq[Long]], Option[Seq[Long]])] = Seq(
    (Some(Nil), Some(Nil)), // both empty
    (Some(Seq(1L, 2L)), Some(Nil)), (Some(Nil), Some(Seq(1L, 2L))), // one
    (Some(Seq(1L, 1L, 2L, 3L)), Some(Seq(2L, 2L, 3L, 4L))), // repeats
    (Some(Seq(5L, 6L, 7L, 8L)), Some(Seq(5L, 9L))), // unequal lengths
    (Some(Seq(3L, -1L, Long.MaxValue)), Some(Seq(Long.MaxValue, 3L, 0L))),
    (None, Some(Seq(1L))), (Some(Seq(1L)), None)) // null array → null

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def checkSetKernels(expectCodegen: Boolean): Unit = {
    // an RDD source, not a local relation: the projection must run in a
    // task, not be folded on the driver
    val df = spark.sparkContext.parallelize(
        setCases.zipWithIndex.map { case ((a, b), i) => (i, a, b) }, 2)
      .toDF("i", "a", "b")
    setKernels.foreach { case (name, colForm, kernel) =>
      val out = df.select(col("i"), colForm(col("a"), col("b")).as("v"))
      // '*(' prefix on the Project = it sits inside a WholeStageCodegen span
      if (expectCodegen)
        assert(out.queryExecution.executedPlan.toString.split("\n")
          .exists(l => l.contains("*(1) Project") && l.contains(s"$name(")),
          name)
      val got = out.collect().map(r =>
        r.getInt(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
        .toMap
      setCases.zipWithIndex.foreach { case ((a, b), i) =>
        val want = for (x <- a; y <- b) yield kernel(x, y)
        val ok = (got(i), want) match {
          case (Some(g), Some(w)) => java.lang.Double.compare(g, w) == 0
          case (g, w) => g == w
        }
        assert(ok, s"$name($a, $b): got ${got(i)} want $want")
      }
    }
  }

  test("hashed-set kernels match HashKernels inside whole-stage codegen") {
    checkSetKernels(expectCodegen = true)
  }

  test("hashed-set kernels match HashKernels interpreted") {
    withConf("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      checkSetKernels(expectCodegen = false)
    }
  }

  test("hashed-set kernels reject non-bigint arrays") {
    GraftFunctions.register(spark)
    Seq((Array(1, 2), Array(1, 2))).toDF("a", "b")
      .createOrReplaceTempView("int_arrays")
    Seq("jaccard_long", "containment_long", "sig_sim").foreach { f =>
      intercept[Exception] {
        spark.sql(s"SELECT $f(a, b) FROM int_arrays").collect()
      }
    }
  }

  test("Column forms resolve on a fresh session with nothing registered") {
    val fresh = spark.newSession()
    assert(!fresh.catalog.functionExists("cosine_sim"))
    val vecs = fresh.createDataFrame(
      Seq((1L, Array(1.0f, 0.0f)), (2L, Array(2.0f, 4.0f)))).toDF("id", "v")
    val cos = vecs.select(
      round(GraftFunctions.cosine_sim($"v", $"v"), 6).as("c"))
      .as[Double].collect()
    assert(cos.toSeq == Seq(1.0, 1.0))
    // qualified columns of both join sides
    val joined = vecs.as("l").join(vecs.as("r"), $"l.id" < $"r.id")
      .select(round(GraftFunctions.cosine_sim($"l.v", $"r.v"), 6))
      .as[Double].collect()
    assert(joined.toSeq == Seq(round6(2.0 / math.sqrt(20.0))))
    val h = fresh.createDataFrame(Seq(Tuple1("abcd"))).toDF("s")
      .select(GraftFunctions.char_entropy($"s")).as[Double].head()
    assert(h == 2.0)
    val sh = fresh.createDataFrame(Seq(Tuple1("The quick brown fox")))
      .toDF("t").select(GraftFunctions.word_shingles($"t", lit(2)))
      .as[String].collect().toSeq
    assert(sh == Seq("the quick", "quick brown", "brown fox"))
  }

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("GraftExtensions injects every registered function") {
    val registry = org.apache.spark.sql.graftbridge.TestHooks
      .registryWith(new GraftExtensions)
    val names = GraftFunctions.registrations.map(_._1.funcName)
    assert(names.contains("char_entropy"))
    assert(Set("jaccard_long", "containment_long", "sig_sim")
      .subsetOf(names.toSet))
    GraftFunctions.registrations.foreach { case (id, info, _) =>
      assert(registry.functionExists(id), s"${id.funcName} not injected")
      assert(registry.lookupFunction(id).map(_.getClassName)
        .contains(info.getClassName), id.funcName)
    }
  }
}
