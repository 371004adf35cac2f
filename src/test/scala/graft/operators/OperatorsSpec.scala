package graft.operators

import graft.SparkTestSession
import graft.geo.Wkt
import graft.index.{IndexSupport, Serving}
import graft.sources.DwcSource
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class OperatorsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("WKT: parse, contains, distance") {
    val rings = Wkt.parsePolygons("POLYGON((0 0, 10 0, 10 10, 0 10, 0 0))")
    assert(rings.length == 1)
    assert(Wkt.contains(5, 5, rings))
    assert(!Wkt.contains(15, 5, rings))
    assert(Wkt.distanceToBoundaryMetres(5, 5, rings) == 0.0)
    val d = Wkt.distanceToBoundaryMetres(11, 5, rings) // ~1 degree ≈ 111km
    assert(d > 100000 && d < 120000)
  }

  test("WKT: polygon holes and multipolygon even-odd containment") {
    val holed = Wkt.parsePolygons(
      "POLYGON((0 0, 10 0, 10 10, 0 10, 0 0), (4 4, 6 4, 6 6, 4 6, 4 4))")
    assert(holed.length == 2)
    assert(Wkt.contains(2, 2, holed))   // in outer, outside hole
    assert(!Wkt.contains(5, 5, holed))  // inside the hole
    // point inside a hole is outside: distance is to the hole boundary (~1°)
    val dHole = Wkt.distanceToBoundaryMetres(5, 5, holed)
    assert(dHole > 100000 && dHole < 120000)
    val multi = Wkt.parsePolygons(
      "MULTIPOLYGON(((0 0, 10 0, 10 10, 0 10, 0 0), (4 4, 6 4, 6 6, 4 6, 4 4)), ((20 0, 30 0, 30 10, 20 10, 20 0)))")
    assert(multi.length == 3)
    assert(Wkt.contains(25, 5, multi))  // second polygon
    assert(!Wkt.contains(5, 5, multi))  // first polygon's hole
    assert(Wkt.contains(1, 1, multi))
    assert(!Wkt.contains(15, 5, multi)) // between the polygons
  }

  test("exact dedup drops lower-id duplicates only") {
    val docs = Seq((1L, "hello world"), (2L, "hello  world "),
      (3L, "different")).toDF("doc_id", "text")
    val groups = Dedup.exactDuplicates(docs, "doc_id", "text").collect()
    assert(groups.length == 1 && groups(0).getAs[Long]("n_docs") == 2)
    val kept = Dedup.dropExactDuplicates(docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L))
  }

  test("minhash LSH finds a near-duplicate pair") {
    val base = (1 to 40).map(i => s"token$i").mkString(" ")
    val docs = Seq((1L, base), (2L, base + " extra"), (3L, "entirely different text about nothing"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashLshPortable(docs, "doc_id", "text",
      threshold = 0.5).collect()
    assert(pairs.exists(r => r.getAs[Long]("id_a") == 1L && r.getAs[Long]("id_b") == 2L))
    assert(!pairs.exists(r => r.getAs[Long]("id_b") == 3L))
  }

  test("cross-corpus minhash LSH finds probe docs already in the corpus") {
    val base = (1 to 40).map(i => s"token$i").mkString(" ")
    val other = (100 to 140).map(i => s"word$i").mkString(" ")
    val corpus = Seq((1L, base), (2L, other)).toDF("doc_id", "text")
    val probe = Seq(
      (10L, base + " extra"),                 // near-dup of corpus doc 1
      (11L, "entirely unrelated content here") // novel
    ).toDF("doc_id", "text")
    val pairs = Dedup.minhashCrossPortable(corpus, probe,
      "doc_id", "text", threshold = 0.5).collect()
    assert(pairs.exists(r => r.getAs[Long]("id_a") == 1L &&
      r.getAs[Long]("id_b") == 10L))
    assert(!pairs.exists(r => r.getAs[Long]("id_b") == 11L))
    // exact copy scores Jaccard 1.0
    val exact = Dedup.minhashCrossPortable(corpus,
      Seq((20L, base)).toDF("doc_id", "text"), "doc_id", "text").collect()
    assert(exact.length == 1 && exact(0).getAs[Double]("jaccard") == 1.0)
  }

  test("simhash hamming ~0 for near-identical docs") {
    val base = (1 to 40).map(i => s"word$i").mkString(" ")
    val docs = Seq((1L, base), (2L, base + " tail"), (3L, (100 to 160).map(i => s"q$i").mkString(" ")))
      .toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 8).collect()
    assert(pairs.exists(r => r.getAs[Long]("id_a") == 1L && r.getAs[Long]("id_b") == 2L))
  }

  test("simhash banding at maxHamming=8 has full recall vs brute force") {
    // 120 docs: 20 base texts × 6 variants with growing perturbations, so
    // pair Hamming distances spread across [0, 64]. The banded join must
    // reproduce the brute-force pair set exactly (pigeonhole: 9 bands
    // guarantee any pair with ≤ 8 differing bits shares a band).
    val docs = (0 until 20).flatMap { b =>
      val base = (0 until 30).map(i => s"base${b}tok$i")
      (0 until 6).map { v =>
        val txt = (base.take(30 - v) ++ (0 until v).map(i => s"var${b}_${v}_$i"))
          .mkString(" ")
        (b * 10L + v, txt)
      }
    }.toDF("doc_id", "text")
    val hashes = Dedup.simhashPortable(docs, "doc_id", "text")
      .as[(Long, Long)].collect()
    val brute = (for {
      (ia, ha) <- hashes; (ib, hb) <- hashes
      if ia < ib && java.lang.Long.bitCount(ha ^ hb) <= 8
    } yield (ia, ib)).toSet
    val banded = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(banded == brute, s"banded=${banded.size} brute=${brute.size}")
    assert(brute.nonEmpty) // fixture actually exercises the ≤8 range
  }

  test("brute-force topk ranks identical vector first") {
    val corpus = Seq((10L, Array(1.0f, 0.0f)), (11L, Array(0.9f, 0.1f)),
      (12L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val queries = Seq((1L, Array(1.0f, 0.0f))).toDF("query_id", "query_vec")
    val top = Similarity.bruteForceTopK(corpus, queries, 2).collect()
    assert(top.length == 2)
    assert(top.find(_.getAs[Int]("rank") == 1).get.getAs[Long]("vec_id") == 10L)
  }

  test("IVF with trained centroids recalls most of brute-force top-k") {
    val corpus = graft.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .filter($"vec_id" >= 3)
    val queries = graft.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .filter($"vec_id" < 3)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    val exact = Similarity.bruteForceTopK(corpus, queries, 10)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.ivfTopK(corpus, queries, 10,
      numCells = 16, nprobe = 6, iterations = 2)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall=$recall")
  }

  test("sampling: distinct coords -> polygon layer values -> join back") {
    val records = Seq(("r1", "-35.0", "149.0"), ("r2", "-35.0", "149.0"),
      ("r3", "40.0", "100.0"))
      .toDF("rowKey", "decimalLatitude", "decimalLongitude")
    val layers = Seq(("cl22", "Australia-ish",
      "POLYGON((140 -45, 155 -45, 155 -25, 140 -25, 140 -45))"))
      .toDF("layerId", "value", "wkt")
    val pts = Sampling.distinctCoordinates(records)
    assert(pts.count() == 2)
    val samples = Sampling.samplePoints(spark, pts, layers)
    val joined = Sampling.loadSamplesIntoRecords(records, samples)
    val r1cl = joined.filter($"rowKey" === "r1").select("cl")
      .as[Map[String, String]].head()
    assert(r1cl == Map("cl22" -> "Australia-ish"))
    val r3cl = joined.filter($"rowKey" === "r3").select("cl")
      .as[Map[String, String]].head()
    assert(r3cl.isEmpty)
  }

  test("raster sampling looks up every layer's value at the point's cell") {
    // 10-degree cells anchored at (0,0); two layers over adjacent cells
    val rasters = Seq(
      ("el1", 14L, -4L, 700.0), // cell containing (149.1, -35.2)
      ("el2", 14L, -4L, 0.25),
      ("el1", 15L, -4L, 800.0)) // adjacent cell — must not match
      .toDF("layer", "ix", "iy", "value")
    val pts = Seq((-35.2, 149.1), (-35.2, 151.0), (80.0, 10.0))
      .toDF("lat", "lon")
    val got = Sampling.sampleRasters(pts, rasters, 0.0, 0.0, 10.0)
      .collect().map(r => (r.getDouble(1), r.getString(2), r.getDouble(3)))
      .toSet
    assert(got == Set(
      (149.1, "el1", 700.0), (149.1, "el2", 0.25), // both layers, one cell
      (151.0, "el1", 800.0)))                      // next cell, el1 only
    // the (80, 10) point hits no raster cell -> inner join drops it
  }

  test("expert distribution outliers flag far-outside records only") {
    val records = Seq(("a", "t1", -35.0, 149.0), ("b", "t1", 20.0, 100.0))
      .toDF("rowKey", "taxonGuid", "decimalLatitude", "decimalLongitude")
    val dists = Seq(("t1", "POLYGON((140 -45, 155 -45, 155 -25, 140 -25, 140 -45))"))
      .toDF("taxonGuid", "wkt")
    val out = Outliers.expertDistributionOutliers(spark, records, dists).collect()
    assert(out.map(_.getAs[String]("rowKey")).toSet == Set("b"))
  }

  test("dwc source: identity is deterministic and reserved words renamed") {
    val rows = Seq(Map("occurrenceID" -> "o1", "class" -> "Mammalia"),
      Map("occurrenceID" -> "o2", "class" -> "Aves"))
    val df = DwcSource.loadRows(spark, rows, "dr1", Seq("occurrenceID"))
    assert(df.columns.contains("classs") && !df.columns.contains("class"))
    val keys1 = df.select("rowKey").as[String].collect().sorted
    val keys2 = DwcSource.loadRows(spark, rows, "dr1", Seq("occurrenceID"))
      .select("rowKey").as[String].collect().sorted
    assert(keys1.sameElements(keys2))
    assert(keys1.forall(_.startsWith("dr1|")))
  }

  test("dwc source: wrong-case headers map to canonical terms (FullRecordMapperTest)") {
    val rows = Seq(Map("occurrenceID" -> "o1", "SCIENTIFICNAME" -> "Aves",
      "CLASS" -> "Aves", "decimallatitude" -> "-35.2"))
    val df = DwcSource.loadRows(spark, rows, "dr1", Seq("occurrenceID"))
    assert(df.columns.contains("scientificName"))
    assert(df.columns.contains("classs"))
    assert(df.columns.contains("decimalLatitude"))
    assert(!df.columns.exists(c => c == "SCIENTIFICNAME" || c == "CLASS"))
  }

  test("upsert: latest version per rowKey wins") {
    val v1 = Seq(("dr1|k1", "old"), ("dr1|k2", "keep")).toDF("rowKey", "v")
    val v2 = Seq(("dr1|k1", "new")).toDF("rowKey", "v")
    val merged = DwcSource.upsert(Some(v1), v2)
    val m = merged.as[(String, String)].collect().toMap
    assert(m == Map("dr1|k1" -> "new", "dr1|k2" -> "keep"))
  }

  test("index projection + serving facade") {
    import graft.processors.Processors
    val raw = Seq(
      ("r1", "2012-03-05", "-35.2", "149.1", "PreservedSpecimen", "Macropus rufus", "ACT"),
      ("r2", "2013-04-06", "-36.2", "150.1", "specimen", "Macropus rufus", "NSW"),
      ("r3", null, null, null, null, null, "NSW"))
      .toDF("occurrenceID", "eventDate", "decimalLatitude", "decimalLongitude",
        "basisOfRecord", "scientificName", "stateProvince")
      .withColumn("rowKey", concat(lit("dr1|"), col("occurrenceID")))
    val enriched = Processors.enrich(raw)
    val index = IndexSupport.project(enriched)
    assert(index.columns.contains("point00001"))
    // "state" is PARSED (reference scheme): only r3 (no coords) gets a
    // vocab-canonicalised state without a layers dim; the supplied strings
    // live in raw_state
    val facets = Serving.facet(index, "raw_state").collect()
      .map(r => r.getString(0) -> r.getAs[Long]("count")).toMap
    assert(facets == Map("ACT" -> 1L, "NSW" -> 2L))
    val parsedStates = Serving.facet(index, "state").collect()
      .map(r => Option(r.getString(0)) -> r.getAs[Long]("count")).toMap
    assert(parsedStates == Map(Some("New South Wales") -> 1L, None -> 2L))
    val distinct = Serving.distinctValues(index, "basis_of_record", 10).collect()
    assert(distinct.map(_.getString(0)).filter(_ != null)
      .toSet == Set("PreservedSpecimen"))
    val dl = Serving.download(index,
      Seq("dr1|r1").toDF("rowKey"), Seq("id", "taxon_name"),
      Seq("missingBasisOfRecord")).collect()
    assert(dl.length == 1 && !dl(0).getAs[Boolean]("qa_missingBasisOfRecord"))
  }

  test("containment catches a quote inside a longer doc; jaccard misses it") {
    val quote = (1 to 10).map(i => s"q$i").mkString(" ") // 10 words
    val filler = (1 to 90).map(i => s"f$i").mkString(" ")
    val docs = Seq(
      (1L, quote),                   // the short source text
      (2L, s"$filler $quote"),       // long doc quoting it wholesale
      (3L, (1 to 50).map(i => s"z$i").mkString(" "))) // unrelated
      .toDF("doc_id", "text")
    val pairs = Dedup.containmentPairs(docs, "doc_id", "text",
        n = 4, threshold = 0.9)
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // all of doc 1's 4-grams appear in doc 2 → containment 1.0 one way...
    assert(pairs.get((1L, 2L)).contains(1.0))
    // ...but NOT the other way (doc 2 has 90 words of extra grams)
    assert(!pairs.contains((2L, 1L)))
    assert(pairs.keySet == Set((1L, 2L)))
    // symmetric Jaccard on the same pair is far below any dedup threshold
    val j = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      n = 4, threshold = 0.5)
    assert(j.isEmpty)
  }

  test("ngramJaccardPairs ≡ brute force (prefix + positional filters lossless)") {
    // deterministic corpus with planted near-dups at every band of the
    // similarity range: shared stems with growing mutations, plus exact
    // twins and unrelated noise — exercises length, prefix, and
    // positional pruning paths
    val stem = (1 to 30).map(i => s"w$i").mkString(" ")
    val docs = (0 until 40).map { i =>
      val text = i % 4 match {
        case 0 => stem + s" extra$i"                        // near-exact
        case 1 => stem.replace(s"w${i % 30 + 1}", s"m$i")   // one mutation
        case 2 => (1 to 30).map(j => s"n${i}_$j").mkString(" ") // noise
        case 3 => stem.split(" ").drop(i % 12).mkString(" ") // truncations
      }
      (i.toLong, text)
    }.toDF("doc_id", "text")
    for (t <- Seq(0.5, 0.8)) {
      val fast = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
          n = 5, threshold = t)
        .select("id_a", "id_b", "jaccard")
        .as[(Long, Long, Double)].collect().toSet
      val sh = docs.select(col("doc_id"),
        udf((s: String) => graft.functions.HashKernels
          .charShinglesHashed(s, 5)).apply(col("text")).as("sh"))
      val brute = sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
        .crossJoin(sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b")))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          udf((x: Seq[Long], y: Seq[Long]) => graft.functions.HashKernels
            .jaccardLong(x, y)).apply(col("sh_a"), col("sh_b"))
            .as("jaccard"))
        .filter(col("jaccard") >= t)
        .as[(Long, Long, Double)].collect().toSet
      assert(brute.nonEmpty, s"degenerate fixture at t=$t")
      assert(fast == brute, s"threshold $t")
    }
  }
}
