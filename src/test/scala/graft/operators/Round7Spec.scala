package graft.operators

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Closed-form cases for the round-7 operator tier: Naive Bayes, EWMA,
  * sequence trigrams, portable (md5) MinHash LSH, segment overlap,
  * last-touch attribution. */
class Round7Spec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("naive bayes: hand-computed smoothed log-probabilities and argmax") {
    val train = Seq(("x x y", "A"), ("y z", "B")).toDF("text", "cls")
    val test = Seq((1L, "x y"), (2L, "w")).toDF("id", "text")
    val (ll, priors) = TextModels.naiveBayesTrain(train, "text", "cls")
    // vocab {x,y,z}, V=3; A: x:2 y:1 n=3; B: y:1 z:1 n=2
    // lp(A|"x y") = ln(1/2) + ln(3/6) + ln(2/6) = ln(1/12)
    // lp(B|"x y") = ln(1/2) + ln(1/5) + ln(2/5) = ln(1/25)
    val out = TextModels.naiveBayesScore(test, "id", "text", ll, priors)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2))))
      .toMap
    assert(out.size == 1) // doc 2's only token is out-of-vocab → dropped
    val (pred, lp) = out(1L)
    assert(pred == "A")
    assert(math.abs(lp - math.log(1.0 / 12.0)) < 1e-6)
  }

  test("naive bayes confidence: stable softmax of the hand case") {
    val train = Seq(("x x y", "A"), ("y z", "B")).toDF("text", "cls")
    val test = Seq((1L, "x y")).toDF("id", "text")
    val (ll, priors) = TextModels.naiveBayesTrain(train, "text", "cls")
    val row = TextModels.naiveBayesConfidence(test, "id", "text", ll, priors)
      .collect().head
    // lpA = ln(1/12), lpB = ln(1/25) → p(A) = (1/12)/(1/12+1/25) = 25/37
    assert(row.getString(1) == "A")
    assert(math.abs(row.getDouble(2) - 25.0 / 37.0) < 1e-9)
  }

  test("ewma closed-form weights equal the sequential recurrence") {
    val ev = Seq(
      ("s", "2024-01-01 10:00:00"), ("s", "2024-01-02 10:00:00"),
      ("s", "2024-01-02 11:00:00"), ("s", "2024-01-03 10:00:00"),
      ("s", "2024-01-03 11:00:00"), ("s", "2024-01-03 12:00:00"))
      .toDF("series", "ts").withColumn("ts", col("ts").cast("timestamp"))
    // daily counts 1, 2, 3; α=0.3: S1=1, S2=.3·2+.7·1=1.3, S3=.3·3+.7·1.3=1.81
    val row = EventAnalytics.ewmaDailyCounts(ev, "series", "ts", 0.3)
      .collect().head
    assert(row.getAs[Long]("n_days") == 3)
    assert(math.abs(row.getAs[Double]("ewma") - 1.81) < 1e-9)
  }

  test("event trigrams: consecutive windows per user, support cut") {
    val ev = Seq(
      (1L, 1L, "A"), (1L, 2L, "B"), (1L, 3L, "C"), (1L, 4L, "D"),
      (2L, 5L, "A"), (2L, 6L, "B"), (2L, 7L, "C"))
      .map { case (u, i, t) => (u, i, t, s"2024-01-01 00:00:0$i") }
      .toDF("user_id", "event_id", "event_type", "ts")
      .withColumn("ts", col("ts").cast("timestamp"))
    val out = EventAnalytics.eventTrigrams(ev, "user_id", "ts", "event_type",
        "event_id", minSupport = 2)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(out.toSet == Set(("A>B>C", 2L))) // B>C>D has support 1
  }

  test("portable minhash: identical docs always pair with jaccard 1") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"),
      (3L, "one two three four five six seven"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashLshPortable(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.toSeq == Seq((1L, 2L, 1.0)))
    val eval = Dedup.lshEvalConfusion(docs, "doc_id", "text").collect().head
    assert(eval.getAs[Long]("n_truth") == 1 && eval.getAs[Long]("tp") == 1)
    assert(eval.getAs[Double]("recall") == 1.0)
  }

  test("portable minhash: candidates only via shared band buckets") {
    // doc 3 shares no shingle with 1/2 → no shared signature min is
    // possible from a common shingle, and a 60-bit collision is ~never
    val docs = Seq(
      (1L, "a b c d e"), (2L, "a b c d e f"), (3L, "p q r s t"))
      .toDF("doc_id", "text")
    val sh = Dedup.wordShingleSet(docs, "doc_id", "text", 3)
    val cand = Dedup.minhashCandidatesPortable(sh, 12, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(!cand.contains((1L, 3L)) && !cand.contains((2L, 3L)))
  }

  test("segment overlap: exact popcount algebra and id-bounds check") {
    val ev = Seq(("s1", 1L), ("s1", 2L), ("s1", 3L), ("s1", 2L),
      ("s2", 2L), ("s2", 3L), ("s2", 4L)).toDF("seg", "user")
    val row = Overlap.segmentOverlap(ev, "seg", "user", 64).collect().head
    assert(row.getAs[Long]("n_a") == 3 && row.getAs[Long]("n_b") == 3)
    assert(row.getAs[Long]("n_common") == 2 && row.getAs[Long]("n_union") == 4)
    assert(row.getAs[Double]("jaccard") == 0.5)
    val bad = Seq(("s1", 99L)).toDF("seg", "user")
    intercept[Exception] {
      Overlap.segmentOverlap(bad, "seg", "user", 64).collect()
    }
    // derived-width overload on empty / all-null-cast input: a diagnostic
    // require message, not a bare NPE from head().getLong
    val empty = Seq.empty[(String, Long)].toDF("seg", "user")
    val e1 = intercept[IllegalArgumentException] {
      Overlap.segmentOverlap(empty, "seg", "user")
    }
    assert(e1.getMessage.contains("bitset width"))
    val allNull = Seq(("s1", null.asInstanceOf[java.lang.Long]))
      .toDF("seg", "user")
    val e2 = intercept[IllegalArgumentException] {
      Overlap.segmentOverlap(allNull, "seg", "user")
    }
    assert(e2.getMessage.contains("bitset width"))
  }

  test("last-touch attribution: (ts, id) tie-break and window cut") {
    val ev = Seq(
      // user 1: click id 1 at t0, purchase id 2 at the SAME t0 → attributed
      (1L, 1L, "click", "2024-01-10 00:00:00"),
      (1L, 2L, "purchase", "2024-01-10 00:00:00"),
      // user 2: purchase id 4 then click id 5 at the same ts (id AFTER) →
      // no prior touch → unattributed
      (2L, 4L, "purchase", "2024-01-10 00:00:00"),
      (2L, 5L, "click", "2024-01-10 00:00:00"),
      // user 3: click 8 days before purchase → outside the 7-day window
      (3L, 6L, "click", "2024-01-01 00:00:00"),
      (3L, 7L, "purchase", "2024-01-09 00:00:01"),
      // user 4: two clicks → credited to the LATEST
      (4L, 8L, "click", "2024-01-09 00:00:00"),
      (4L, 9L, "click", "2024-01-09 12:00:00"),
      (4L, 10L, "purchase", "2024-01-10 00:00:00"))
      .toDF("user_id", "event_id", "event_type", "ts")
      .withColumn("ts", col("ts").cast("timestamp"))
    val out = EventAnalytics.lastTouchAttribution(ev, "user_id", "ts",
        "event_type", "event_id", "click", "purchase", 7L * 86400)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    assert(out.sortBy(_._1) == List((2L, 1L, 0L), (10L, 9L, 43200L)))
  }

  test("cms join estimate: one-sided, exact when buckets don't collide") {
    val a = Seq(1L, 1L, 1L, 2L, 3L).toDF("x")
    val b = Seq(1L, 2L, 2L, 4L).toDF("y")
    // true join size = 3·1 + 1·2 = 5; with 3 distinct keys in 4096
    // buckets the md5 assignment collides with probability ~0 and the
    // estimate is EXACT; the CMS inner product can only over-estimate
    val row = JoinStats.cmsJoinEstimate(a, col("x"), b, col("y"),
      depth = 4, width = 4096).collect().head
    assert(row.getAs[Long]("exact") == 5L)
    assert(row.getAs[Long]("est") == 5L)
    assert(row.getAs[Double]("rel_err") == 0.0)
  }

  test("hard negatives: same-label vectors are never returned") {
    val emb = Seq(
      (10L, Array(1f, 0f), 0), (11L, Array(0.9f, 0.1f), 0),
      (12L, Array(0.8f, 0.2f), 1), (13L, Array(0f, 1f), 1))
      .toDF("vec_id", "embedding", "label")
    val q = Seq((1L, Array(1f, 0f), 0))
      .toDF("query_id", "query_vec", "query_label")
    val out = Similarity.hardNegatives(emb, q, 2)
      .orderBy("rank").collect()
    // label-0 vectors (10, 11) excluded; 12 is more similar than 13
    assert(out.map(_.getAs[Long]("vec_id")).toSeq == Seq(12L, 13L))
  }

  test("centroid silhouette: separated clusters score near 1") {
    val emb = Seq(
      (1L, Array(0f, 0f), 0), (2L, Array(0f, 2f), 0),
      (3L, Array(10f, 0f), 1), (4L, Array(10f, 2f), 1))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.centroidSilhouette(emb, "vec_id", "embedding", "label")
      .collect().map(r => r.getAs[Int]("label") -> r.getAs[Double]("silhouette"))
      .toMap
    // a = 1 (to own centroid), b = sqrt(101): s = (sqrt(101)-1)/sqrt(101)
    val expected = (math.sqrt(101.0) - 1.0) / math.sqrt(101.0)
    assert(math.abs(out(0) - expected) < 1e-3)
    assert(math.abs(out(1) - expected) < 1e-3)
  }

  test("point-in-time join picks the version valid at the fact ts") {
    val log = Seq((1L, "2024-01-02", "v1"), (1L, "2024-01-04", "v2"))
      .toDF("key", "ts", "attr")
      .withColumn("ts", col("ts").cast("date"))
    val dim = Scd.buildScd2(log, "key", "ts", Seq("attr"))
    val facts = Seq((1L, "2024-01-01"), (1L, "2024-01-02"),
      (1L, "2024-01-03"), (1L, "2024-01-04"), (1L, "2024-01-05"))
      .toDF("key", "fts").withColumn("fts", col("fts").cast("date"))
    val out = Scd.pointInTimeJoin(facts, dim, "key", "fts")
      .select(col("fts").cast("string"), col("attr"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out == Map("2024-01-01" -> null, "2024-01-02" -> "v1",
      "2024-01-03" -> "v1", "2024-01-04" -> "v2", "2024-01-05" -> "v2"))
  }

  test("fft: pure tone concentrates energy in its bin") {
    import graft.multimodal.AudioFingerprint
    val n = 256
    val re = Array.tabulate(n)(i => math.cos(2 * math.Pi * 4 * i / n))
    val im = new Array[Double](n)
    AudioFingerprint.fft(re, im)
    def mag(k: Int) = math.sqrt(re(k) * re(k) + im(k) * im(k))
    assert(math.abs(mag(4) - n / 2.0) < 1e-9)  // peak at bin 4
    assert(mag(5) < 1e-9 && mag(3) < 1e-9)     // clean neighbours
  }

  test("audio fingerprint: amplitude-invariant, discriminates content") {
    import graft.multimodal.{AudioCodec, AudioFingerprint}
    val a = AudioCodec.syntheticAudio(7L, 16000)
    val b = AudioCodec.syntheticAudio(8L, 16000)
    val aScaled = a.map(s => (s / 2).toShort)
    val fa = AudioFingerprint.fingerprint(8000, a)
    val fas = AudioFingerprint.fingerprint(8000, aScaled)
    val fb = AudioFingerprint.fingerprint(8000, b)
    assert(fa.length == (16000 - 1024) / 512) // frames − 1
    assert(AudioFingerprint.bitErrorRate(fa, fas) < 0.15)
    assert(AudioFingerprint.bitErrorRate(fa, fb) > 0.25)
  }

  test("water filling: closed-form cap fills the budget exactly") {
    val counts = Seq(("a", 10L), ("b", 5L), ("c", 1L)).toDF("source", "n")
    // sorted [1,5,10], budget 12 → cap 6: alloc 1+5+6 = 12
    val out = Curation.waterFillAllocation(counts, 12L)
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("alloc"), r.getAs[java.lang.Long]("cap")))).toMap
    assert(out("a")._1 == 6L && out("b")._1 == 5L && out("c")._1 == 1L)
    assert(out("a")._2 == 6L)
    // budget covers everything → no cap, full pass-through
    val free = Curation.waterFillAllocation(counts, 20L).collect()
    assert(free.forall(r => r.getAs[java.lang.Long]("cap") == null))
    assert(free.map(_.getAs[Long]("alloc")).sum == 16L)
    // tiny budget → cap 0 (largest c with fill ≤ budget)
    val zero = Curation.waterFillAllocation(counts, 2L).collect()
    assert(zero.forall(_.getAs[Long]("alloc") == 0L))
  }

  test("k-core peel: cascading removal reaches the fixpoint") {
    // path a-b-c-d plus triangle x-y-z sharing no nodes; k=2:
    // round 1 drops the path endpoints, round 2 the rest of the path;
    // the triangle is a 2-core and survives with degree 2
    val edges = Graphs.symmetrize(Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (12L, 10L)).toDF("src", "dst"))
    val out = Graphs.kCorePeel(edges, k = 2, rounds = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(out.map(t => t._1 -> t._2).toMap ==
      Map(10L -> 2L, 11L -> 2L, 12L -> 2L))
    assert(out.forall(_._3)) // round 3 removed nothing → converged
    // one round is not enough → not converged, path middles linger
    val partial = Graphs.kCorePeel(edges, k = 2, rounds = 1)
      .collect().map(r => (r.getLong(0), r.getBoolean(2)))
    assert(partial.map(_._1).toSet == Set(2L, 3L, 10L, 11L, 12L))
    assert(partial.forall(!_._2))
  }

  test("weighted median: smallest value reaching half the total weight") {
    val df = Seq(("g", 1L, 1L, 1L), ("g", 2L, 2L, 2L), ("g", 3L, 10L, 3L))
      .toDF("grp", "v", "w", "id")
    // total 13, half 6.5 → cum 1, 3, 13 → first row with 2·cum ≥ 13 is v=3
    val row = Profiling.weightedMedian(df, "grp", "v", "w", "id")
      .collect().head
    assert(row.getAs[Long]("weighted_median") == 3L)
    assert(row.getAs[Long]("total_weight") == 13L)
  }

  test("forward fill: gap days carry the last observed value") {
    val ev = Seq(("s", "2024-01-01 10:00:00"), ("s", "2024-01-01 11:00:00"),
      ("s", "2024-01-04 10:00:00"))
      .toDF("series", "ts").withColumn("ts", col("ts").cast("timestamp"))
    val out = EventAnalytics.forwardFillDaily(ev, "series", "ts")
      .orderBy("day")
      .collect().map(r => (r.getAs[java.sql.Date]("day").toString,
        r.getAs[Long]("x_filled"), r.getAs[Boolean]("was_gap")))
    assert(out.toSeq == Seq(
      ("2024-01-01", 2L, false), ("2024-01-02", 2L, true),
      ("2024-01-03", 2L, true), ("2024-01-04", 1L, false)))
  }

  test("minhash_md5 expression equals the relational md5 form bit-for-bit") {
    val docs = Seq((1L, "a b c d e f g"), (2L, "the quick brown fox " * 5),
      (3L, "x y z")).toDF("doc_id", "text")
    val sh = Dedup.wordShingleSet(docs, "doc_id", "text", 3)
    val viaExpr = Dedup.signaturesPortable(sh, 12)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val viaSql = sh.select(col("id"), posexplode(transform(
        sequence(lit(0), lit(11)),
        h => conv(substring(md5(concat(h.cast("string"), lit(":"), col("sh"))),
          1, 15), 16, 10).cast("long"))).as(Seq("h", "v")))
      .groupBy("id", "h").agg(min("v").as("mv"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(viaExpr == viaSql)
  }

  test("cdc chunking: chunks reassemble; boundaries realign after insert") {
    val base = (1 to 400).map(i => s"w$i${i * 7 % 97}").mkString(" ")
    val docs = Seq((1L, base), (2L, "INSERTED-PREFIX " + base))
      .toDF("doc_id", "text")
    val ch = Dedup.cdcChunks(docs, "doc_id", "text").collect()
    val a = ch.filter(_.getLong(0) == 1).sortBy(_.getLong(1)).map(_.getString(2))
    val b = ch.filter(_.getLong(0) == 2).sortBy(_.getLong(1)).map(_.getString(2))
    assert(a.mkString == base)                       // lossless split
    assert(b.mkString == "INSERTED-PREFIX " + base)
    assert(a.length > 3)                             // the rule actually cuts
    // content-defined property: after the first shared cut the boundary
    // stream realigns, so the tail chunks are IDENTICAL despite the
    // shifted prefix — the reason CDC dedups re-synced content
    assert(a.last == b.last)
    assert((a.toSet intersect b.toSet).size >= a.length - 2)
  }

  test("portable simhash: single-token doc's fingerprint IS its md5 bits") {
    // one token with weight 1 → every bit vote is the bit itself, so the
    // fingerprint equals uint64(md5("a")) = the first 16 hex chars
    val docs = Seq((1L, "a"), (2L, "a"), (3L, "b c d")).toDF("doc_id", "text")
    val out = Dedup.simhashPortable(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(f"${out(1L)}%016x" == "0cc175b9c0f1b6a8") // md5("a") prefix
    assert(out(1L) == out(2L))            // identical docs agree
    assert(out(1L) != out(3L))
  }

  test("portable cross-corpus minhash finds the planted probe duplicate") {
    val corpus = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six")).toDF("doc_id", "text")
    val probe = Seq((9L, "alpha beta gamma delta epsilon zeta"),
      (8L, "seven eight nine ten eleven twelve")).toDF("doc_id", "text")
    val out = Dedup.minhashCrossPortable(corpus, probe, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq((1L, 9L, 1.0)))
  }

  test("parquet bloom filter is present exactly for the enabled column") {
    import scala.jdk.CollectionConverters._
    val tmp = java.nio.file.Files.createTempDirectory("bloomspec").toString
    Seq((1L, "a"), (2L, "b")).toDF("doc_id", "v")
      .coalesce(1).write.mode("overwrite")
      .option("parquet.bloom.filter.enabled#doc_id", "true").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(part.getAbsolutePath),
        new org.apache.hadoop.conf.Configuration()))
    try {
      val cols = rdr.getFooter.getBlocks.get(0).getColumns.asScala
      assert(cols.find(_.getPath.toDotString == "doc_id")
        .get.getBloomFilterOffset > 0)
      assert(cols.find(_.getPath.toDotString == "v")
        .get.getBloomFilterOffset <= 0) // not enabled → no bloom
    } finally rdr.close()
  }

  test("word_shingles generator: native UDTF fan-out and edge cases") {
    graft.plans.GraftFunctions.register(spark)
    val out = spark.sql("SELECT word_shingles('The quick  Brown fox', 2) AS sh")
      .collect().map(_.getString(0))
    assert(out.toSeq == Seq("the quick", "quick brown", "brown fox"))
    assert(spark.sql("SELECT word_shingles('one two', 3)").count() == 0)
    assert(spark.sql("SELECT word_shingles(CAST(NULL AS STRING), 2)")
      .count() == 0)
  }

  test("deflate size: repetitive text compresses, random text doesn't") {
    import graft.functions.TextFunctions
    val docs = Seq(
      (1L, "spam " * 400),
      (2L, (1 to 400).map(i => Integer.toHexString(i * 2654435761L.toInt))
        .mkString(" ")))
      .toDF("id", "text")
    val out = docs.select(col("id"),
        (TextFunctions.deflateSize(col("text")).cast("double") /
          octet_length(col("text"))).as("ratio"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out(1L) < 0.05) // 400 repeats of one word
    assert(out(2L) > 0.3)  // hex soup barely compresses
  }
}
