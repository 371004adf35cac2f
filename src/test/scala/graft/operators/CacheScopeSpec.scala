package graft.operators

import graft.SparkTestSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Storage discipline: a scoped pipeline run must leave the session's
  * persistent-RDD map exactly as it found it — the round-9 answer to the
  * "48 persists vs 7 unpersists" leak a long-lived serving JVM would
  * otherwise accumulate. */
class CacheScopeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("a scoped curateCorpus run releases every persist it created, " +
    "nested operators' included") {
    val docs = (1L to 30L).map { i =>
      val body =
        if (i % 3 == 0)
          "the quick brown fox jumps over the lazy dog again and again"
        else
          s"document number $i carries its own distinct content payload " +
            s"with words ${i * 7} and ${i * 13} inside the body"
      (i, body, 100L - i)
    }.toDF("doc_id", "text", "quality")
    val bench = Seq((999L, "benchmark only content that matches nothing"))
      .toDF("doc_id", "text")
    val sc = spark.sparkContext
    spark.catalog.clearCache()
    val before = sc.getPersistentRDDs.keySet
    var during: Set[Int] = Set.empty
    val n = CacheScope.scoped(spark)(Curation.curateCorpus(docs, bench,
      "doc_id", "text", "quality", minQuality = 0L)) { out =>
      val cnt = out.count()
      during = sc.getPersistentRDDs.keySet.toSet -- before
      cnt
    }
    assert(n > 0)
    // the pipeline genuinely persists (exact table, kept set, LSH shingle
    // cache, components checkpoints) — the scope must see them alive...
    assert(during.nonEmpty, "pipeline created no persists — spec is stale")
    // ...and release every one of them on exit
    val leaked = during.intersect(sc.getPersistentRDDs.keySet.toSet)
    assert(leaked.isEmpty, s"scope leaked persistent RDDs: $leaked")
  }

  test("a scoped simhashPairs run releases every persist it made") {
    // 20 copies of one text plus 20 distinct texts: the band join and the
    // equal-signature pairing both produce rows
    val docs = (1L to 40L).map { i =>
      (i, if (i <= 20) "the same boilerplate page text every time"
        else s"distinct page $i about ${i * 3} and ${i * 11} things")
    }.toDF("doc_id", "text")
    val sc = spark.sparkContext
    spark.catalog.clearCache()
    val before = sc.getPersistentRDDs.keySet
    var during: Set[Int] = Set.empty
    val n = CacheScope.scoped(spark)(
      Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 8)) { out =>
      val cnt = out.count()
      during = sc.getPersistentRDDs.keySet.toSet -- before
      cnt
    }
    assert(n >= 20L * 19 / 2)
    // hammingPairsOfSignatures' signature table and the two
    // boundedSelfPairs tables (band buckets, equal signatures)
    assert(during.size >= 3, s"expected 3 persists alive, saw $during")
    val leaked = during.intersect(sc.getPersistentRDDs.keySet.toSet)
    assert(leaked.isEmpty, s"scope leaked persistent RDDs: $leaked")
  }

  test("scoped releases persists even when `use` throws") {
    val sc = spark.sparkContext
    spark.catalog.clearCache()
    val before = sc.getPersistentRDDs.keySet
    val ex = intercept[RuntimeException] {
      CacheScope.scoped(spark) {
        val df = (1 to 10).toDF("x")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        df.count()
        df
      } { _ => throw new RuntimeException("caller failure") }
    }
    assert(ex.getMessage == "caller failure")
    assert((sc.getPersistentRDDs.keySet.toSet -- before).isEmpty)
  }

  // every heavy Dedup/Similarity/RecordLinkage entry point run under
  // CacheScope.scoped must (a) produce rows and (b) leave zero leaked RDDs
  test("scoped variants of the persist-heavy operators leak nothing") {
    val sc = spark.sparkContext
    val docs = (1L to 40L).map { i =>
      val text =
        if (i % 2 == 0) s"shared near duplicate content block ${i / 2} " * 4
        else s"unique text $i with words ${i * 3} ${i * 5} ${i * 7} " * 3
      (i, text)
    }.toDF("doc_id", "text")
    val emb = (1L to 60L).map { i =>
      (i, Array.tabulate(8)(j =>
        (math.sin(i * 0.37 + j) + (if (i % 5 == 0) 0.0 else i * 0.01))
          .toFloat))
    }.toDF("vec_id", "embedding")
    val names = (1L to 50L).map(i =>
      (i, (i % 4).toInt, s"name${i % 9}x")).toDF("id", "blk", "nm")
    val queries = emb.limit(3)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))

    def assertScoped(label: String)(build: => org.apache.spark.sql.DataFrame): Unit = {
      spark.catalog.clearCache()
      val before = sc.getPersistentRDDs.keySet
      val n = CacheScope.scoped(spark)(build)(_.count())
      assert(n >= 0, label)
      val leaked = sc.getPersistentRDDs.keySet.toSet -- before
      assert(leaked.isEmpty, s"$label leaked RDDs: $leaked")
    }

    assertScoped("minhashLshPortable")(
      Dedup.minhashLshPortable(docs, "doc_id", "text", threshold = 0.5))
    assertScoped("ngramJaccardPairs → clusterSummary")(
      Components.clusterSummary(
        Dedup.ngramJaccardPairs(docs, "doc_id", "text", 8, 0.5),
        "id_a", "id_b"))
    assertScoped("semanticDedup")(
      Dedup.semanticDedup(emb, "vec_id", "embedding", numCells = 2,
        threshold = 0.9))
    assertScoped("batchIvfTopK")(
      Similarity.batchIvfTopK(emb, queries, k = 3, numCells = 2, nprobe = 2))
    assertScoped("editDistanceSelfJoin")(
      RecordLinkage.editDistanceSelfJoin(names, "id", "nm", 1, Seq("blk")))
    assertScoped("jaroWinklerPairs")(
      RecordLinkage.jaroWinklerPairs(names, "id", "nm", 0.96, Seq("blk"),
        maxNaiveBlock = 1L))
  }

  // round-11: the PLAIN linkage entry points self-release their internal
  // `rows` persist on the first action that drives the result (observe
  // marker + one-shot QueryExecutionListener) — no CacheScope bracket
  // needed, no storage accumulates in a long-lived JVM. The release is
  // listener-bus-async, so the assertion polls.
  test("plain linkage entry points release their persist on first " +
    "materialization") {
    val sc = spark.sparkContext

    def awaitRelease(label: String,
        before: scala.collection.Set[Int]): Unit = {
      val deadline = System.currentTimeMillis() + 30000
      var leaked = sc.getPersistentRDDs.keySet.toSet -- before
      while (leaked.nonEmpty && System.currentTimeMillis() < deadline) {
        Thread.sleep(50)
        leaked = sc.getPersistentRDDs.keySet.toSet -- before
      }
      assert(leaked.isEmpty, s"$label leaked persistent RDDs: $leaked")
    }

    // 9-char uniform names: editDistance always takes the candidate
    // skeleton; JW at 0.99 hits the delta=0 sorted-equality branch of
    // the same skeleton — both paths create the internal persist
    val names = (1L to 60L).map(i =>
      (i, (i % 4).toInt, s"nm${i % 9}xyzpad")).toDF("id", "blk", "nm")

    spark.catalog.clearCache()
    val before1 = sc.getPersistentRDDs.keySet
    val ed = RecordLinkage.editDistanceSelfJoin(
      names, "id", "nm", 1, Seq("blk"))
    assert(ed.count() >= 0)
    awaitRelease("editDistanceSelfJoin", before1)

    val before2 = sc.getPersistentRDDs.keySet
    val jw = RecordLinkage.jaroWinklerPairs(
      names, "id", "nm", 0.99, Seq("blk"))
    assert(jw.count() >= 0)
    awaitRelease("jaroWinklerPairs", before2)
  }

  // the self-releasing listener must not outlive its release: a
  // long-lived JVM (duplicatesStream calls findDuplicatesIncremental once
  // per micro-batch) would otherwise gain listeners with every call
  test("self-releasing results leave no query listener behind") {
    import spark.implicits._
    import org.apache.spark.sql.graftbridge.TestHooks
    def mk(rows: Seq[(String, String, String, String)]) =
      rows.map { case (rk, taxon, lat, lon) =>
        (rk, taxon, "2000", "01", "02", lat, lon,
          null: String, null: String, null: String, "dr1")
      }.toDF("rowKey", "taxonGuid", "year", "month", "day", "lat", "lon",
        "collector", "recordNumber", "catalogueNumber", "druid")
    val recs = mk((1 to 6).flatMap { t =>
      Seq((s"r$t-1", s"t$t", s"-35.$t", s"149.$t"),
        (s"r$t-2", s"t$t", s"-35.$t", s"149.$t"),
        (s"r$t-3", s"t$t", s"-30.$t", s"140.$t"))
    })
    val sc = spark.sparkContext
    // listener bus is async: poll for the state each release must reach
    def await(label: String)(done: => Boolean): Unit = {
      val deadline = System.currentTimeMillis() + 15000
      while (!done && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(done, s"timed out waiting for $label")
    }
    spark.catalog.clearCache()
    val listenersBefore = TestHooks.queryListenerCount(spark)
    val rddsBefore = sc.getPersistentRDDs.keySet.toSet
    val prev = spark.createDataset(
      DuplicationDetection.findDuplicates(spark, recs).collect().toSeq)
    await("findDuplicates listener unregistered")(
      TestHooks.queryListenerCount(spark) == listenersBefore)
    (1 to 3).foreach { i =>
      val changed = Seq(s"r$i-3").toDF("rowKey")
      val inc = DuplicationDetection.findDuplicatesIncremental(
        spark, recs, changed, prev)
      assert(inc.collect().nonEmpty)
    }
    await("listeners unregistered")(
      TestHooks.queryListenerCount(spark) == listenersBefore)
    await("caches released")(
      (sc.getPersistentRDDs.keySet.toSet -- rddsBefore).isEmpty)
  }
}
