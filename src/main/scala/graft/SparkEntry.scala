package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.{TextFunctions => TF, VectorFunctions => VF}
import graft.operators.{Components, Curation, Dedup, Similarity}

/** Driver contract — one `queries` entry per implemented operator family from
  * SURVEY.md §2, exercised over the synthetic star schema per FIXTURES.md §B.
  * Every SQL-expressible query has a DuckDB oracle in `oracleSql` with
  * identical column names/types and a total ORDER BY for deterministic rows.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)


  /** Run a drained (AvailableNow) streaming query with the state
    * partitioning sized to the drained volume instead of the session
    * default: every stateful operator keeps state-store instances (with
    * per-micro-batch commit IO) PER shuffle partition — a stream-stream
    * join keeps four. On a real cluster this is sized to throughput; the
    * session default is restored afterwards, and result ROWS are
    * partition-count independent. */
  private def withStatePartitions[T](s: SparkSession, n: Int)(body: => T): T = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    // round 13 note (guide §1 measure-first): raising `n` to the core
    // count was MEASURED AND REVERTED — per-partition state-store
    // maintenance (delta files + snapshots per micro-batch) dominates at
    // local scale: q189 at 32 state partitions ran 36 s vs 8.6 s at 4,
    // q130 at 32 ran 7.8 s vs 6.7 s at 8. The constants are deliberate.
    s.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Flagship: star join revenue-by-region on sf0.001 (driver smoke check). */
  def entry(spark: SparkSession): DataFrame =
    queries("q4_star_join")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ── A1 facet count (TPC-H Q1 shape): single-shuffle partial agg ──
    "q1_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          round(sum("l_discount"), 2).as("sum_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // ── A2 facet with min-count threshold ──
    "q2_facet_mincount" -> ((s, dir) => {
      t(s, dir, "part")
        .groupBy("p_brand").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= 5)
        .orderBy("p_brand")
    }),

    // ── A3 distinct values, capped ──
    "q3_distinct" -> ((s, dir) => {
      t(s, dir, "customer")
        .select("c_mktsegment").distinct()
        .orderBy("c_mktsegment")
    }),

    // ── J1–J5 star join: broadcast dims, one fact shuffle ──
    "q4_star_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("r_name")
    }),

    // ── J2 broadcast dim join ──
    "q5_broadcast_join" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")), col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(round(sum("l_quantity"), 2).as("total_qty"),
          count(lit(1)).as("n_items"))
        .orderBy("p_brand")
    }),

    // ── P7/S11 semi join (EXISTS) ──
    "q6_semi_join" -> ((s, dir) => {
      val bigItems = t(s, dir, "lineitem").filter(col("l_quantity") >= 49)
      t(s, dir, "orders")
        .join(bigItems, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy("o_orderstatus").agg(count(lit(1)).as("n_orders"))
        .orderBy("o_orderstatus")
    }),

    // ── SO2/J9-shape anti join (NOT EXISTS) ──
    "q7_anti_join" -> ((s, dir) => {
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    }),

    // ── J13 range (containment) join against a tiny broadcast dim ──
    "q8_range_join" -> ((s, dir) => {
      import s.implicits._
      val bands = Seq(("band0", 0.0, 500.0), ("band1", 500.0, 1000.0),
        ("band2", 1000.0, 1500.0), ("band3", 1500.0, 100000.0))
        .toDF("band", "lo", "hi")
      t(s, dir, "part")
        .join(broadcast(bands),
          col("p_retailprice") >= col("lo") && col("p_retailprice") < col("hi"))
        .groupBy("band").agg(count(lit(1)).as("n_parts"),
          round(sum("p_retailprice"), 2).as("total_price"))
        .orderBy("band")
    }),

    // ── W1 top-k per group window ──
    "q9_window_topk" -> ((s, dir) => {
      val w = Window.partitionBy("c_nationkey")
        .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
      t(s, dir, "customer")
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 2)
        .select(col("c_nationkey"), col("rnk"), col("c_custkey"),
          round(col("c_acctbal"), 2).as("acctbal"))
        .orderBy("c_nationkey", "rnk")
    }),

    // ── W4 window aggregate (group max joined back per row) ──
    "q10_window_max" -> ((s, dir) => {
      val w = Window.partitionBy("c_nationkey")
      t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"),
          round(col("c_acctbal"), 2).as("acctbal"),
          round(max("c_acctbal").over(w), 2).as("nation_max"))
        .orderBy("c_custkey")
    }),

    // ── W3 sorted limit (top-N) ──
    "q11_limit" -> ((s, dir) => {
      t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(100)
        .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("totalprice"))
    }),

    // ── SO1 except ──
    "q12_except" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val in95 = o.filter(year(col("o_orderdate")) === 1995).select("o_custkey")
      val in96 = o.filter(year(col("o_orderdate")) === 1996).select("o_custkey")
      in95.except(in96).orderBy("o_custkey")
    }),

    // ── SO3 union distinct ──
    "q13_union" -> ((s, dir) => {
      t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
        .union(t(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))
        .distinct()
        .orderBy("nationkey")
    }),

    // ── F1/F3 date part extraction ──
    "q14_date_parts" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy(
          year(col("o_orderdate")).cast("long").as("yr"),
          month(col("o_orderdate")).cast("long").as("mth"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 2).as("total"))
        .orderBy("yr", "mth")
    }),

    // ── F2 date truncation over event stream table ──
    "q15_date_trunc" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(date_trunc("day", col("ts")).cast("date").as("day"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total_value"))
        .orderBy("day", "event_type")
    }),

    // ── F6/F12 string functions incl. Levenshtein ──
    "q16_string_funcs" -> ((s, dir) => {
      t(s, dir, "customer")
        .select(col("c_custkey"),
          upper(col("c_name")).as("name_upper"),
          length(col("c_name")).cast("long").as("name_len"),
          levenshtein(lower(col("c_mktsegment")), lit("building")).cast("long").as("lev"))
        .orderBy("c_custkey")
    }),

    // ── F13 JSON extraction ──
    "q17_json" -> ((s, dir) => {
      t(s, dir, "events")
        .select(get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("k").agg(count(lit(1)).as("n"))
        .orderBy("k")
    }),

    // ── F9/A4 distinct rounded coordinate pairs ──
    "q18_coord_round" -> ((s, dir) => {
      t(s, dir, "events")
        .select(round(col("value"), 0).as("v0"), round(col("value"), 1).as("v1"))
        .distinct()
        .orderBy("v0", "v1")
    }),

    // ── Dedup: exact content-hash duplicate groups ──
    "q19_dedup_exact" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")).as("fp"))
        .groupBy("fp")
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("representative_id"))
        .filter(col("n_docs") > 1)
        .orderBy("fp")
    }),

    // ── Text: per-document fingerprint (normalised content hash) ──
    "q20_fingerprint" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")).as("fp"))
        .orderBy("doc_id")
    }),

    // ── Text: token counting ──
    "q21_token_count" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TF.tokenCount(col("text")).as("n_tokens"),
          length(col("text")).cast("long").as("n_chars_actual"))
        .orderBy("doc_id")
    }),

    // ── Text: quality scoring components ──
    "q22_text_quality" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          TF.tokenCount(col("text")).as("n_tokens"),
          round(TF.meanWordLength(col("text")), 4).as("mean_word_len"))
        .orderBy("doc_id")
    }),

    // ── Text: language histogram (declared lang × source) ──
    "q23_lang_hist" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy("lang", "source").agg(count(lit(1)).as("n"))
        .orderBy("lang", "source")
    }),

    // ── S10/S11 keyed multiget ──
    "q24_keyed_lookup" -> ((s, dir) => {
      t(s, dir, "orders")
        .filter(col("o_orderkey").isin(1L, 2L, 3L, 5L, 8L, 13L, 21L, 34L))
        .select(col("o_orderkey"), col("o_orderstatus"),
          round(col("o_totalprice"), 2).as("totalprice"))
        .orderBy("o_orderkey")
    }),

    // ── P4 compound predicate filter + projection (pushdown surface) ──
    "q25_filter_project" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1997-01-01") &&
          col("l_quantity") > 45 && col("l_returnflag").isNotNull)
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice"), 2).as("price"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // ── A6 jackknife prerequisite stats (oracle-checkable part) ──
    "q26_jackknife_stats" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_partkey")
        .agg(count(lit(1)).as("n"),
          round(min("l_extendedprice"), 2).as("mn"),
          round(max("l_extendedprice"), 2).as("mx"),
          round(sum("l_extendedprice"), 2).as("total"),
          round((lit(0.95) * sqrt(count(lit(1))) + lit(0.2)) *
            ((max("l_extendedprice") - min("l_extendedprice")) / lit(50.0)), 2)
            .as("threshold"))
        .filter(col("n") >= 20)
        .orderBy("l_partkey")
    }),

    // ── A6 full jackknife aggregator (typed custom aggregate; rows-only) ──
    "q27_jackknife_full" -> ((s, dir) => {
      val jk = udaf(new graft.operators.JackKnifeAggregator(),
        org.apache.spark.sql.Encoders.scalaFloat)
      t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_extendedprice").cast("float").as("v"))
        .groupBy("l_partkey")
        .agg(jk(col("v")).as("stats"))
        .filter(col("stats").isNotNull)
        .select(col("l_partkey"), col("stats.sampleSize").as("n"),
          col("stats.mean"), col("stats.stdDev"), col("stats.threshold"),
          size(col("stats.outlierValues")).as("n_outliers"),
          col("stats.triggerFailsafe"))
        .orderBy("l_partkey")
    }),

    // ── Dedup: md5-MinHash LSH near-dup pairs at 5-word shingles, 32
    //    hashes in 8 bands of 4, exact-Jaccard verify (q177's machinery
    //    at other parameters) ──
    "q28_dedup_minhash" -> ((s, dir) =>
      Dedup.minhashLshPortable(t(s, dir, "documents"), "doc_id", "text",
          shingleWords = 5, numHashes = 32, rowsPerBand = 4, threshold = 0.5)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("id_a", "id_b")),

    // ── Dedup: cross-corpus MinHash LSH — which "new" docs (odd ids)
    //    near-duplicate the standing corpus (even ids). Round 10: runs
    //    the PORTABLE md5 signature family (q201's machinery at
    //    different parameters — 4-word shingles, 16 hashes, 4 rows/band)
    //    so the oracle replays the ENTIRE banding + exact-Jaccard verify ──
    "q139_cross_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.minhashCrossPortable(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1),
          "doc_id", "text", shingleWords = 4, numHashes = 16,
          rowsPerBand = 4, threshold = 0.5)
        .select(col("id_a"), col("id_b"),
          round(col("jaccard"), 6).as("jaccard"))
        .orderBy("id_a", "id_b")
    }),

    // ── Dedup: md5-SimHash near-dup pairs, Hamming ≤ 8 (q202's
    //    fingerprints through the banded Hamming join) ──
    "q29_dedup_simhash" -> ((s, dir) =>
      Dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text",
        maxHamming = 8)
        .orderBy("id_a", "id_b")),

    // ── Dedup: exact n-gram Jaccard over prefix-filtered candidate pairs ──
    "q30_ngram_jaccard" -> ((s, dir) => {
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
        n = 16, threshold = 0.5)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy("id_a", "id_b")
    }),

    // ── ANN: brute-force cosine top-k ──
    "q31_cosine_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queriesDf = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      Similarity.bruteForceTopK(emb.filter(col("vec_id") >= 3), queriesDf, 10)
        .select(col("query_id"), col("rank"), col("vec_id"),
          round(col("cosine"), 4).as("cos_sim"))
        .orderBy("query_id", "rank")
    }),

    // ── ANN: IVF-bucketed top-k (scale path). Oracle-gated since round
    //    10: (a) exact_in_probes — the result must be row-for-row the
    //    TRUE ranked top-10 within its probed cells, re-derived through
    //    an independent selection path (TopKPerGroup prune vs the
    //    operator's window); (b) recall_ok — coverage of the global
    //    exact top-10 above a floor (recall is geometry-dependent, the
    //    floor sits under the measured sf0.01/sf0.1 minima 0.5/0.3) ──
    "q32_ivf_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val corpus = emb.filter(col("vec_id") >= 3)
      val queriesDf = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      val ann = Similarity.ivfTopK(corpus, queriesDf, 10)
      val ref = Similarity.ivfWithinProbesReference(corpus, queriesDf, 10,
        viaWindow = false)
      val exact = Similarity.bruteForceTopK(corpus, queriesDf, 10)
      Similarity.rankedResultsMatch(ann, ref, "query_id", "vec_id")
        .withColumnRenamed("exact_match", "exact_in_probes")
        .join(Similarity.annRecallAudit(ann, exact, "query_id", "vec_id",
          minRecall = 0.2).select("query_id", "recall_ok"), Seq("query_id"))
        .orderBy("query_id")
    }),

    // ── ANN both-sides-large: every embedding queries the corpus (a
    //    kNN-graph build — the batch×batch case where neither side can
    //    broadcast); cell-blocked shuffled join + TopKPerGroup partial
    //    prune; rows-only like q32 (centroid-dependent) ──
    "q212_batch_ann" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queriesDf = emb
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      // cells scale as √n (the standard IVF sizing): a FIXED cell count
      // degenerates toward brute force as the corpus grows — at the 10×
      // rehearsal, 16 cells meant nprobe·n/16 ≈ n/4 cosines per query
      val cells = math.max(16, math.sqrt(emb.count().toDouble).toInt)
      val ann = Similarity.batchIvfTopK(emb, queriesDf, k = 4,
          numCells = cells, nprobe = 4)
        .filter(col("query_id") =!= col("vec_id")) // drop self-hit
      // oracle audit (round 10): on a deterministic 1-in-97 query slice,
      // the kNN-graph rows must be row-for-row the TRUE ranked top-4
      // within each query's probed cells, re-derived through an
      // independent selection path (raw window vs the operator's
      // sub-blocked TopKPerGroup prune). The slice keeps the audit
      // audit-sized; the ANN side stays the full batch×batch build ──
      val auditQ = queriesDf.filter(col("query_id") % 97 === 0)
      val ref = Similarity.ivfWithinProbesReference(emb, auditQ, 4,
          numCells = cells, nprobe = 4, viaWindow = true)
        .filter(col("query_id") =!= col("vec_id"))
      Similarity.rankedResultsMatch(
          ann.filter(col("query_id") % 97 === 0), ref,
          "query_id", "vec_id")
        .withColumnRenamed("exact_match", "exact_in_probes")
        .orderBy("query_id")
    }),

    // ── media derivative ladder (reference Thumbnailer THUMB/SMALL/LARGE
    //    100/314/650): real PNG decode → aspect-preserving resize → PNG
    //    re-encode, then decode each derivative BACK to prove the bytes
    //    are valid images of the expected geometry (rows-only: PNG bytes
    //    are encoder-specific; MultimodalSpec pins the dims closed-form) ──
    "q213_thumbnails" -> ((s, dir) => {
      val dims = udf { (b: Array[Byte]) =>
        graft.multimodal.ImageCodec.decode(b).map(r => (r.width, r.height))
      }
      val base = t(s, dir, "orders").filter(col("o_orderkey") <= 2000)
        .select(col("o_orderkey").cast("long").as("img_id"))
      val imgs = graft.multimodal.Multimodal
        .withGeneratedImageColumn(base, "img_id")
      graft.multimodal.Multimodal.withThumbnails(imgs, "image")
        .select(col("img_id"),
          dims(col("image_thumb")).as("t"),
          dims(col("image_small")).as("s"),
          dims(col("image_large")).as("l"))
        .select(col("img_id"), col("t._1").as("thumb_w"),
          col("t._2").as("thumb_h"), col("s._1").as("small_w"),
          col("s._2").as("small_h"), col("l._1").as("large_w"),
          col("l._2").as("large_h"))
        .orderBy("img_id")
    }),

    // ── AVI/MJPEG container walk, hash-gated (round 11): planted frame
    //    payloads whose bytes are SQL-derivable from the doc key, so the
    //    idx1-seek STRIDE SELECTION and the exact chunk extraction
    //    (RIFF even-padding stripped — odd payload lengths on purpose)
    //    both gate against a DuckDB md5 replay. Pixel decode stays
    //    covered by q43/q213/q215 (codec floor) ──
    "q214_video_mjpeg" -> ((s, dir) => {
      import graft.multimodal.Multimodal
      val vids = Multimodal.withPlantedVideoColumn(
        t(s, dir, "documents").select("doc_id")
          .filter(col("doc_id") < 200), "doc_id")
      Multimodal.sampledFrameMd5s(vids, "video", stride = 2)
        .select(col("doc_id"), col("frameIndex").as("frame_idx"),
          col("frameLen").cast("long").as("frame_len"),
          col("frameMd5").as("frame_md5"))
        .orderBy("doc_id", "frame_idx")
    }),

    // ── video near-dup by temporal perceptual signature: majority-voted
    //    per-frame dHash → banded Hamming join — the motion analogue of
    //    q149. Oracle-gated since round 10 by the same planted-pair
    //    closed form: even/odd ids share frames (odd's frame 0 corner-
    //    perturbed within Hamming 6) ──
    "q215_video_neardup" -> ((s, dir) => {
      import graft.multimodal.Multimodal
      val base = t(s, dir, "orders").filter(col("o_orderkey") <= 300)
        .select(col("o_orderkey").cast("long").as("vid_id"))
      val vids = Multimodal.withNearDupVideoColumn(base, "vid_id")
      Multimodal.videoNearDupPairs(vids, "vid_id", "video",
          stride = 1, maxHamming = 6)
        .select("id_a", "id_b")
        .orderBy("id_a", "id_b")
    }),

    // ── muxed A/V demux, hash-gated (round 11): ONE binary column
    //    (interleaved planted MJPEG + printable-byte PCM in a real AVI)
    //    walked once — per-stream byte md5s and counts replay in the
    //    DuckDB oracle, so the 00dc/01wb interleave reassembly is gated
    //    end-to-end. The feature-kernel path over demuxed audio stays
    //    covered by q117/q188 (codec floor) ──
    "q217_av_demux" -> ((s, dir) => {
      import graft.multimodal.Multimodal
      val av = Multimodal.withPlantedAvColumn(
        t(s, dir, "documents").select("doc_id")
          .filter(col("doc_id") < 200), "doc_id")
      av.select(col("doc_id"), Multimodal.demuxStreamMd5s(col("av")).as("d"))
        .select(col("doc_id"),
          col("d._1").cast("long").as("n_frames"),
          col("d._2").as("video_md5"),
          col("d._3").cast("long").as("n_samples"),
          col("d._4").as("audio_md5"))
        .orderBy("doc_id")
    }),

    // ── fully-distributed Lloyd's k-means over the embedding corpus: the
    //    corpus never leaves the executors (per-iteration collect is the
    //    k×dim sum table only); cells then audited by size + cohesion
    //    (mean member→centroid cosine). Iterative float means — rows-only ──
    "q218_kmeans_cells" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val cents = Similarity.kmeansFitDistributed(emb, "embedding",
        k = 8, iterations = 3)
      val centDf = broadcast(
        cents.zipWithIndex
          .map { case (v, c) => (c, v.toSeq) }.toSeq
          .toDF("cell", "centroid"))
      val cos = graft.plans.GraftFunctions.cosine_sim(
        col("embedding"), col("centroid"))
      // oracle audit (round 10): cell ids/sizes are seed-dependent, the
      // ARGMAX INVARIANT is not — every vector's assigned-cell cosine
      // must dominate all k centroids (checked against an independent
      // scoring path: the broadcast cross-join expand, not the assign
      // UDF), and Lloyd's on this corpus must leave no cell empty. ONE
      // pass over the corpus: the k-row centroid table broadcast-expands
      // each vector (map-side), the per-vector max and the assigned
      // cell's cosine fold in the same partial aggregate — no second
      // corpus-wide join anywhere
      val assigned = Similarity.cellAssignment(emb, "embedding", cents)
        .select(col("vec_id"), col("embedding"), col("cell"))
      assigned
        .crossJoin(broadcast(centDf.withColumnRenamed("cell", "c")))
        .groupBy(col("vec_id"), col("cell"))
        .agg(max(when(col("c") === col("cell"), cos)).as("_cos_a"),
          max(cos).as("_best"))
        .agg(count(lit(1)).as("n_vectors"),
          countDistinct(col("cell")).as("n_cells"),
          (sum(when(col("_cos_a") >= col("_best") - 1e-9, 0L)
            .otherwise(1L)) === 0L).as("assign_optimal"))
    }),

    // ── t-digest quantile sketch (mergeable typed Aggregator, ~2δ
    //    centroids per group on the wire): per-flag p50/p90/p99 of
    //    l_extendedprice audited against the EXACT per-group ORDER
    //    STATISTIC at index ⌊p·(n−1)⌋ — no interpolation, the picked
    //    value flows through verbatim, so the oracle replay is
    //    FP-formula-proof (quantile_cont's lerp differs from Spark's in
    //    the last ulp and flips round() on half-cent boundaries). The
    //    sketch audit — est within 2% of exact — is pinned TRUE ──
    "q219_tdigest_quantiles" -> ((s, dir) => {
      import graft.functions.TDigestAgg
      val td = udaf(new TDigestAgg(100.0))
      val li = t(s, dir, "lineitem")
      val sketched = li.groupBy("l_returnflag")
        .agg(td(col("l_extendedprice").cast("double")).as("digest"))
        .select(col("l_returnflag"),
          TDigestAgg.quantileOf(col("digest"), 0.5).as("est_p50"),
          TDigestAgg.quantileOf(col("digest"), 0.9).as("est_p90"),
          TDigestAgg.quantileOf(col("digest"), 0.99).as("est_p99"))
      val wsort = Window.partitionBy("l_returnflag").orderBy("v")
      val ranked = li
        .select(col("l_returnflag"), col("l_extendedprice").as("v"))
        .withColumn("rn", row_number().over(wsort))
        .withColumn("nn",
          count(lit(1)).over(Window.partitionBy("l_returnflag")))
      def pick(p: Double) =
        floor(lit(p) * (col("nn") - 1).cast("double")).cast("long") + 1
      val exact = ranked.groupBy("l_returnflag")
        .agg(max("nn").as("n"),
          max(when(col("rn") === pick(0.5), col("v"))).as("x50"),
          max(when(col("rn") === pick(0.9), col("v"))).as("x90"),
          max(when(col("rn") === pick(0.99), col("v"))).as("x99"))
      sketched.join(exact, Seq("l_returnflag"))
        .select(col("l_returnflag"), col("n"),
          col("x50").as("exact_p50"), col("x90").as("exact_p90"),
          col("x99").as("exact_p99"),
          (abs(col("est_p50") - col("x50")) / col("x50") <= 0.02).as("ok_p50"),
          (abs(col("est_p90") - col("x90")) / col("x90") <= 0.02).as("ok_p90"),
          (abs(col("est_p99") - col("x99")) / col("x99") <= 0.02).as("ok_p99"))
        .orderBy("l_returnflag")
    }),

    // ── streaming windowed tail quantiles: t-digest held in the streaming
    //    aggregation's state store (~2δ centroids per window/group, partial
    //    agg ships digests not rows); complete-mode AvailableNow drain.
    //    Oracle-checked (round 9): window counts replay as time_bucket
    //    counts, and the sketch audits itself by OBSERVED RANK — the
    //    fraction of the window's values ≤ each estimate must sit within
    //    0.1 + 1/n of the target quantile (the 1/n term is rank
    //    granularity: a 7-row window can't rank finer than 1/7) — pinned
    //    TRUE in the oracle; stream ≡ batch proved by spec ──
    "q220_stream_windowed_quantiles" -> ((s, dir) => {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val batchSchema = s.read.parquet(s"$dir/events.parquet").schema
      val stream = s.readStream.schema(batchSchema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir)
        .transform(Tables.normalizeTs)
      val out = withStatePartitions(s, 8) {
        graft.streaming.StreamingSketches.windowedQuantilesStream(
          stream, "ts", "event_type", "value", "6 hours",
          Seq(0.5, 0.95), "q220_out")
      }
      val ev = t(s, dir, "events").select(
        window(col("ts"), "6 hours")("start").as("bucket"),
        col("event_type"), col("value"))
      out.select(col("w.start").as("bucket"), col("event_type"), col("n"),
          col("p50"), col("p95"))
        .join(ev, Seq("bucket", "event_type"))
        .groupBy("bucket", "event_type", "n", "p50", "p95")
        .agg((sum(when(col("value") <= col("p50"), 1L).otherwise(0L)) /
            count(lit(1))).as("r50"),
          (sum(when(col("value") <= col("p95"), 1L).otherwise(0L)) /
            count(lit(1))).as("r95"))
        .select(col("bucket"), col("event_type"), col("n"),
          (abs(col("r50") - 0.5) <=
            lit(0.1) + lit(1.0) / col("n")).as("ok_p50"),
          (abs(col("r95") - 0.95) <=
            lit(0.1) + lit(1.0) / col("n")).as("ok_p95"))
        .orderBy("bucket", "event_type")
    }),

    // ── robust scaling: group-wise winsorization at the p05/p95 order
    //    statistics (rank-based, no interpolation — engine-portable), the
    //    outlier-clipping step of a feature pipeline. Bounds table is
    //    |groups| rows and joins back by broadcast; sums carried as exact
    //    integer cents so the oracle is FP-order-proof ──
    "q221_winsorize" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val w = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
      val bounds = li
        .select(col("l_returnflag"), col("l_extendedprice"),
          row_number().over(w).as("rn"),
          count(lit(1)).over(Window.partitionBy("l_returnflag")).as("n"))
        .groupBy("l_returnflag")
        .agg(max(when(col("rn") === ceil(col("n") * 0.05),
            col("l_extendedprice"))).as("lo"),
          max(when(col("rn") === ceil(col("n") * 0.95),
            col("l_extendedprice"))).as("hi"))
      li.join(broadcast(bounds), Seq("l_returnflag"))
        .select(col("l_returnflag"),
          greatest(least(col("l_extendedprice"), col("hi")), col("lo")).as("v"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(round(col("v") * 100).cast("long")).as("sum_cents"),
          round(min("v"), 2).as("min_w"), round(max("v"), 2).as("max_w"))
        .orderBy("l_returnflag")
    }),

    // ── label-propagation communities: 3 fixed synchronous rounds with
    //    deterministic smallest-label tie-break over the part–supplier
    //    co-occurrence graph; the whole evolution restates as nested SQL ──
    "q222_label_propagation" -> ((s, dir) => {
      // sparsified (every 11th order): the full co-occurrence graph is
      // near-connected and collapses to 2 labels — the sparse one keeps
      // real community structure (130 communities at sf0.01)
      val edges = t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 11 === 0)
        .select(col("l_partkey").as("src"),
          (col("l_suppkey") + 1000000L).as("dst"))
      graft.operators.Graphs.labelPropagation(edges, rounds = 3)
        .groupBy(col("label").as("community"))
        .agg(count(lit(1)).as("n_members"))
        .orderBy("community")
    }),

    // ── pooled autocorrelation at lags 1-3: per-user lag windows (high-
    //    cardinality key, never a global sort), Pearson pooled per type ──
    "q223_acf" -> ((s, dir) =>
      graft.operators.EventAnalytics.pooledAutocorrelation(
        t(s, dir, "events"), "user_id", "event_type", "ts", "event_id",
        "value")
        .orderBy("group")),

    // ── Pareto frontier (min price, max size): distributed sort-sweep —
    //    distinct points, range buckets, strict-prefix max across buckets,
    //    one running-max window inside each. No O(n²) anti-join ──
    "q224_pareto_skyline" -> ((s, dir) =>
      graft.operators.Skyline.skyline2D(
        t(s, dir, "part").select(col("p_retailprice").as("price"),
          col("p_size").as("size")), "price", "size")
        .select(round(col("price"), 2).as("price"),
          col("size").cast("long").as("size"), col("n_rows"))
        .orderBy("price", "size")),

    // ── Theil–Sen robust slope per user (value vs time-in-days): group-
    //    keyed pairwise self-join under an explicit maxGroupSize contract;
    //    median = percentile(0.5), the quantile_cont interpolation ──
    "q225_theil_sen" -> ((s, dir) => {
      val e = t(s, dir, "events").select(col("user_id"), col("event_id"),
        (unix_micros(col("ts")).cast("double") / lit(86400e6)).as("x"),
        col("value").as("y"))
      graft.operators.EventAnalytics.theilSenSlope(
        e, "user_id", "x", "y", "event_id")
        .orderBy("group")
    }),

    // ── Borůvka minimum spanning forest: per round each component's
    //    lightest outgoing edge under a total order (never a cycle),
    //    merges via the components loop. Oracle-checked (round 9) via the
    //    matroid invariant: every MSF of a graph has the SAME weight
    //    multiset, and the count of forest edges of weight ≤ t is
    //    |V| − components(E_{≤t}) — so DuckDB replays n_components /
    //    n_edges / total_w / min_w / max_w from per-threshold connected
    //    components (recursive CTE) without replaying Kruskal's
    //    sequential order. Supplier co-occurrence graph of every 211th
    //    order, 25 deterministic weight levels ──
    "q234_boruvka_msf" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").filter(col("l_orderkey") % 211 === 0)
        .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
      val edges = li.alias("a")
        .join(li.alias("b"), col("a.ok") === col("b.ok") &&
          col("a.sk") < col("b.sk"))
        .select(col("a.sk").as("src"), col("b.sk").as("dst")).distinct()
        .withColumn("w", ((col("src") * col("dst")) % 25 + 1).cast("double"))
      graft.operators.Graphs.boruvkaMsf(edges)
        .agg(count_distinct(col("component")).as("n_components"),
          count(lit(1)).as("n_edges"),
          round(sum("w"), 2).as("total_w"), round(min("w"), 2).as("min_w"),
          round(max("w"), 2).as("max_w"))
    }),

    // ── strongly connected components (Orzan coloring: trim → forward
    //    min-color → backward reach within color → peel): directed-cycle
    //    structure of the alternating-direction part↔supplier graph.
    //    Oracle-checked (round 9): DuckDB replays mutual reachability as
    //    a recursive-CTE transitive closure joined against itself —
    //    scc(v) = min{m : m⇝v ∧ v⇝m}; spec additionally pins ≡ Tarjan ──
    "q237_scc" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").filter(col("l_orderkey") % 11 === 0)
      // alternate direction by orderkey parity so real cycles exist
      val edges = li.select(
        when(col("l_orderkey") % 2 === 0, col("l_partkey"))
          .otherwise(col("l_suppkey") + 1000000L).as("src"),
        when(col("l_orderkey") % 2 === 0, col("l_suppkey") + 1000000L)
          .otherwise(col("l_partkey")).as("dst"))
      graft.operators.Graphs.stronglyConnectedComponents(edges)
        .groupBy("scc").agg(count(lit(1)).as("sz"))
        .groupBy(col("sz").as("scc_size"))
        .agg(count(lit(1)).as("n_sccs"))
        .orderBy("scc_size")
    }),

    // ── Laplace-mechanism DP count release with content-addressed noise
    //    (md5 inverse-CDF — no RNG on the cluster, bit-replayable): the
    //    mechanism itself hash-checks against the oracle ──
    "q235_dp_counts" -> ((s, dir) =>
      graft.operators.Profiling.dpNoisyCounts(
          t(s, dir, "events"), "event_type", epsilon = 0.5, salt = "r8")
        .orderBy("group")),

    // ── rolling OLS slope per series: trailing-10 closed-form regression
    //    from four windowed frame sums — the drift detector that tells
    //    "still climbing" from "level shifted"; one series-keyed window ──
    "q253_rolling_ols" -> ((s, dir) =>
      graft.operators.EventAnalytics.rollingOlsSlope(
          t(s, dir, "events").withColumn("x",
            unix_micros(col("ts")).cast("double") / lit(86400e6)
              - lit(19700.0)),
          "user_id", "ts", "event_id", "x", "value", win = 10)
        .orderBy("series", "event_id")),

    // ── Kaplan–Meier survival curves per cohort: product-limit estimator
    //    over per-user durations with right-censoring (users who never
    //    purchased are censored); cumprod as exp(Σ ln), engine-portable ──
    "q254_kaplan_meier" -> ((s, dir) => {
      val perUser = t(s, dir, "events")
        .groupBy("user_id")
        .agg(
          min(struct(col("ts"), col("event_id"), col("event_type")))
            .getField("event_type").as("cohort"),
          datediff(to_date(max(col("ts"))), to_date(min(col("ts"))))
            .cast("double").as("dur"),
          max((col("event_type") === "purchase").cast("int")).as("ev"))
      graft.operators.EventAnalytics.kaplanMeier(
          perUser, "cohort", "dur", "ev")
        .orderBy("group", "t")
    }),

    // ── corpus taxonomy: HAC dendrogram over the k-means cell centroids
    //    (model-sized — the corpus never moves); merge steps show which
    //    cells are near-duplicates of each other vs genuinely distinct.
    //    Driver clustering of a distributed model → rows-only ──
    "q252_hac_dendrogram" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val cents = Similarity.kmeansFitDistributed(emb, "embedding",
        k = 8, iterations = 3)
      // oracle-checkable invariants (round 9): UPGMA is monotone (merge
      // heights never decrease — the reducibility property), merge sizes
      // stay in [2, k], and the k−1'th merge completes the tree (size k)
      // — all pinned TRUE; the raw merge ids/heights are centroid-
      // dependent and stay spec-pinned
      val steps = Similarity.hacAverageLinkage(cents.map(_.map(_.toDouble)))
      steps.zipWithIndex.map { case ((st, _, _, d, n), i) =>
        (st.toLong,
          i == 0 || d >= steps(i - 1)._4 - 1e-12,
          n >= 2 && n <= 8 && (st != steps.size || n == 8))
      }.toDF("step", "dist_monotone", "size_ok")
        .orderBy("step")
    }),

    // ── split-conformal prediction intervals: fit per-slice OLS on the
    //    fit split (RidgeAgg), q̂ = 0.9-quantile of calibration residuals,
    //    audit marginal coverage on the held-out test split — the
    //    distribution-free uncertainty wrapper every scored pipeline
    //    should ship. Residuals rounded to 6 dp before the coverage
    //    comparison so the boundary is engine-exact ──
    "q251_conformal" -> ((s, dir) => {
      import org.apache.spark.sql.functions.udaf
      val ridge = udaf(new graft.functions.RidgeAgg(k = 2, lambda = 0.0))
      val base = t(s, dir, "events")
        .select(col("event_type").as("slice"), col("event_id"),
          array(
            (unix_micros(col("ts")).cast("double") / lit(86400e6)
              - lit(19700.0)),
            (col("user_id") % 10).cast("double")).as("xs"),
          col("value").as("y"))
      val fit = base.filter(col("event_id") % 4 <= 1)
        .groupBy("slice").agg(ridge(col("xs"), col("y")).as("f"))
        .select(col("slice"), col("f.coeffs")(0).as("b1"),
          col("f.coeffs")(1).as("b2"), col("f.intercept").as("b0"))
      def resid(df: DataFrame) = df.join(broadcast(fit), Seq("slice"))
        .withColumn("_r", round(abs(col("y") -
          (col("b1") * col("xs")(0) + col("b2") * col("xs")(1)
            + col("b0"))), 6))
      val qhat = resid(base.filter(col("event_id") % 4 === 2))
        .groupBy("slice")
        .agg(round(expr("percentile(_r, 0.9)"), 6).as("qhat"))
      resid(base.filter(col("event_id") % 4 === 3))
        .join(broadcast(qhat), Seq("slice"))
        .groupBy("slice")
        .agg(count(lit(1)).as("n_test"), max("qhat").as("qhat"),
          round(avg((col("_r") <= col("qhat")).cast("double")), 6)
            .as("coverage"))
        .orderBy("slice")
    }),

    // ── ZCA whitening: W = V·diag(1/√(λ+ε))·Vᵀ from the distributed
    //    covariance; the query audits itself — the whitened covariance
    //    must be the identity (diag→1, off-diag→0). Driver eigen →
    //    rows-only ──
    "q250_zca_whiten" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val (means, w) = Similarity.zcaWhitener(emb, "embedding")
      val meansLit = array(means.map(lit(_)): _*)
      val centered = emb.withColumn("_c",
        zip_with(col("embedding").cast("array<double>"), meansLit,
          (x, m) => x - m))
      val white = Similarity.applyRotation(centered, "_c", w, "wv")
      // whitened covariance cells, audited against the identity
      val cov = white
        .select(posexplode(col("wv")).as(Seq("i", "xi")), col("wv"))
        .select(col("i"), col("xi"),
          posexplode(col("wv")).as(Seq("j", "xj")))
        .filter(col("j") >= col("i"))
        .groupBy("i", "j")
        .agg((sum(col("xi") * col("xj")) / (count(lit(1)) - 1)).as("cov"))
      // oracle-checkable invariant (round 9): whitened covariance ≡ I —
      // diag cells within 1e-3 of 1, off-diag within 1e-3 of 0, pinned
      // TRUE (observed max err ~1e-4 at sf0.01); cell counts replay as
      // d(d−1)/2 and d from the embedding width
      cov.select((col("i") === col("j")).as("diagonal"),
          when(col("i") === col("j"), abs(col("cov") - 1))
            .otherwise(abs(col("cov"))).as("err"))
        .groupBy("diagonal")
        .agg(count(lit(1)).as("n_cells"),
          (max("err") <= 1e-3).as("identity_ok"))
        .orderBy("diagonal")
    }),

    // ── streaming EWMA control chart (transformWithState): per-series
    //    Welford-EW mean+variance in state, k·σ alerts; the stream runs
    //    against time-ordered batches and the query itself audits
    //    stream ≡ batch (same alerts from the one-pass batch fold).
    //    Recursive recurrence → rows-only ──
    "q249_stream_control_chart" -> ((s, dir) => {
      import graft.streaming.ControlChart
      import s.implicits._
      val obs = t(s, dir, "events")
        .select(col("user_id").as("series"), unix_micros(col("ts")).as("ts"),
          col("event_id"), col("value").as("x"))
        .as[ControlChart.Obs]
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_q249_").toString
      def stamp(minute: Int): Unit = {
        val ft = java.nio.file.attribute.FileTime.fromMillis(
          1700000000000L + minute * 60000L)
        val ls = java.nio.file.Files.list(java.nio.file.Paths.get(tmp))
        try ls.forEach { p =>
          val mt = java.nio.file.Files.getLastModifiedTime(p).toMillis
          if (mt > 1700000000000L + (minute - 1) * 60000L + 59000L ||
            mt < 1700000000000L)
            java.nio.file.Files.setLastModifiedTime(p, ft)
        } finally ls.close()
      }
      // three time-ordered batches (the chart is order-defined, so batch
      // boundaries must respect event time — as any log replay does)
      // empty input → approxQuantile returns no cuts; degenerate bounds
      // still produce three (empty) time-ordered batches
      val cuts = obs.stat.approxQuantile("ts", Array(0.33, 0.66), 0.0)
      val cut1 = if (cuts.nonEmpty) cuts(0) else 0.0
      val cut2 = if (cuts.length > 1) cuts(1) else cut1
      obs.filter(col("ts") <= cut1).coalesce(1)
        .write.mode("overwrite").parquet(tmp); stamp(0)
      obs.filter(col("ts") > cut1 && col("ts") <= cut2).coalesce(1)
        .write.mode("append").parquet(tmp); stamp(1)
      obs.filter(col("ts") > cut2).coalesce(1)
        .write.mode("append").parquet(tmp); stamp(2)
      val schema = s.read.parquet(tmp).schema
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(tmp)
        .as[ControlChart.Obs]
      val streamed = withStatePartitions(s, 4) {
        ControlChart.runChart(stream, alpha = 0.3, k = 3.0, minObs = 5,
          "q249_alerts")
      }
      val batch = ControlChart.batchAlerts(obs, 0.3, 3.0, 5).toDF()
      val a = streamed.groupBy("series")
        .agg(count(lit(1)).as("n_alerts_stream"))
      val b = batch.groupBy("series")
        .agg(count(lit(1)).as("n_alerts_batch"))
      a.join(b, Seq("series"), "full_outer")
        .select(col("series"),
          coalesce(col("n_alerts_stream"), lit(0L)).as("n_alerts_stream"),
          coalesce(col("n_alerts_batch"), lit(0L)).as("n_alerts_batch"))
        .filter(col("n_alerts_stream") > 0 || col("n_alerts_batch") > 0)
        .orderBy("series")
    }),

    // ── streaming CDC apply loop: an ordered changeset stream (update /
    //    delete / insert micro-batches) folds into a keyed state table
    //    via foreachBatch + mergeApply — the production materialized-
    //    table maintenance loop; the final state hash-equals the oracle's
    //    direct algebra over the full changeset ──
    "q248_stream_merge_apply" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val cust = t(s, dir, "customer")
        .select("c_custkey", "c_acctbal", "c_mktsegment")
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_q248_").toString
      def stamp(minute: Int): Unit = {
        val ft = java.nio.file.attribute.FileTime.fromMillis(
          1700000000000L + minute * 60000L)
        val ls = java.nio.file.Files.list(java.nio.file.Paths.get(tmp))
        try ls.forEach { p =>
          val mt = java.nio.file.Files.getLastModifiedTime(p).toMillis
          if (mt > 1700000000000L + (minute - 1) * 60000L + 59000L ||
            mt < 1700000000000L)
            java.nio.file.Files.setLastModifiedTime(p, ft)
        } finally ls.close()
      }
      // batch 1: +100 balance updates; batch 2: deletes; batch 3: inserts
      cust.filter(col("c_custkey") % 7 === 0)
        .select(col("c_custkey"), lit(false).as("del"),
          (col("c_acctbal") + 100).as("c_acctbal"), col("c_mktsegment"))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      stamp(0)
      cust.filter(col("c_custkey") % 11 === 0)
        .select(col("c_custkey"), lit(true).as("del"), col("c_acctbal"),
          col("c_mktsegment"))
        .coalesce(1).write.mode("append").parquet(tmp)
      stamp(1)
      cust.filter(col("c_custkey") % 13 === 0)
        .select((col("c_custkey") + 1000000L).as("c_custkey"),
          lit(false).as("del"), round(col("c_acctbal") * 2, 2).as("c_acctbal"),
          lit("NEW").as("c_mktsegment"))
        .coalesce(1).write.mode("append").parquet(tmp)
      stamp(2)
      val schema = s.read.parquet(tmp).schema
      var state = cust.localCheckpoint(true)
      val q = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(tmp)
        .writeStream.trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          if (!batch.isEmpty)
            state = graft.operators.Maintenance
              .mergeApply(state, batch, "c_custkey", "del")
              .localCheckpoint(true)
          ()
        }
        .start()
      q.awaitTermination()
      state.groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"),
          sum(round(col("c_acctbal") * 100).cast("long")).as("cents"))
        .orderBy("c_mktsegment")
    }),

    // ── distributed PCA: covariance = one posexplode-pair aggregate
    //    (model-sized), driver Jacobi eigen, map-only score projection;
    //    the audit shows per-component score variance ≡ eigenvalue.
    //    Iterative driver eigen → rows-only ──
    "q247_pca" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val (means, evals, comps) = Similarity.pcaFit(emb, "embedding", 4)
      val meansLit = array(means.map(lit(_)): _*)
      val centered = emb.withColumn("_c",
        zip_with(col("embedding").cast("array<double>"), meansLit,
          (x, m) => x - m))
      val scores = Similarity.applyRotation(centered, "_c", comps, "pc")
      val perComp = scores
        .select(posexplode(col("pc")).as(Seq("component", "score")))
        .groupBy("component")
        .agg(variance(col("score")).as("score_var"), count(lit(1)).as("n"))
      // oracle-checkable invariants (round 9): per-component score
      // variance must equal its eigenvalue (THE defining PCA identity),
      // and the Jacobi spectrum must come out sorted — both pinned TRUE
      // in the oracle, so eigen drift fails the hash gate
      val evTable = evals.zipWithIndex.map { case (e, i) =>
        (i, e, i == 0 || evals(i - 1) >= e - 1e-12)
      }.toSeq.toDF("component", "_ev", "eigen_monotone")
      perComp.join(broadcast(evTable), Seq("component"))
        .select(col("component").cast("long").as("component"), col("n"),
          (abs(col("score_var") - col("_ev")) <= 2e-4)
            .as("var_matches_eigen"),
          col("eigen_monotone"))
        .orderBy("component")
    }),

    // ── orthogonal Procrustes alignment: recover the rotation between
    //    two embedding spaces (old→new model migration). Here space B is
    //    a planted coordinate permutation of A (orthogonal by
    //    construction); the audit shows raw vs aligned agreement.
    //    Driver SVD of the d×d cross-covariance → rows-only ──
    "q246_procrustes" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").limit(2000)
        .select(col("vec_id"), col("embedding").cast("array<double>")
          .as("x"))
      // planted orthogonal map: cyclic shift of coordinates by 1
      val shifted = emb.select(col("vec_id"),
        concat(slice(col("x"), 2, 10000), slice(col("x"), 1, 1)).as("y"))
      val r = Similarity.procrustesRotation(
        emb.withColumnRenamed("x", "embedding"),
        shifted.withColumnRenamed("y", "embedding"), "vec_id", "embedding")
      val aligned = Similarity.applyRotation(emb, "x", r, "x_aligned")
        .join(shifted, Seq("vec_id"))
      // oracle-checkable invariants (round 9): the recovered rotation must
      // realign the planted permutation to ≥0.999 mean cosine AND beat the
      // unaligned baseline — pinned TRUE, so a broken SVD fails the gate
      aligned.agg(count(lit(1)).as("n_pairs"),
          avg(graft.plans.GraftFunctions.cosine_sim(
            col("x").cast("array<float>"), col("y").cast("array<float>")))
            .as("_raw"),
          avg(graft.plans.GraftFunctions.cosine_sim(
            col("x_aligned").cast("array<float>"),
            col("y").cast("array<float>"))).as("_al"))
        .select(col("n_pairs"),
          (col("_al") >= 0.999).as("aligned_ok"),
          (col("_al") > col("_raw")).as("improved"))
    }),

    // ── unpivot (melt): wide measure columns back to tidy (key,
    //    metric, value) rows — q88's pivot inverse, the reshape pair
    //    every feature table round-trips through; map-only expand ──
    "q244_unpivot" -> ((s, dir) => {
      val wide = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag").as("flag"))
        .agg(
          sum(round(col("l_extendedprice") * 100).cast("long")).as("price_cents"),
          sum(round(col("l_discount") * 100).cast("long")).as("discount_cents"),
          sum(col("l_quantity").cast("long")).as("qty"))
      wide.unpivot(Array(col("flag")),
          Array(col("price_cents"), col("discount_cents"), col("qty")),
          "metric", "value")
        .orderBy("flag", "metric")
    }),

    // ── golden-record survivorship (MDM merge): per entity, each FIELD
    //    independently takes the latest non-null value by (ts, event_id)
    //    — one max-struct aggregate per field, no window, no self-join ──
    "q245_golden_record" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      // treat events as field observations: value observed always,
      // props observed only when non-empty — fields age independently
      def latest(c: org.apache.spark.sql.Column) =
        max(when(c.isNotNull,
          struct(col("ts"), col("event_id"), c.as("v"))))
      ev.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_obs"),
          round(latest(col("value")).getField("v"), 4).as("latest_value"),
          latest(nullif(col("event_type"), lit("error")))
            .getField("v").as("latest_type"),
          unix_micros(max(col("ts"))).as("last_seen_us"))
        .orderBy("user_id")
    }),

    // ── per-group multi-feature ridge/OLS via the RidgeAgg typed
    //    Aggregator: the buffer is the (XᵀX, Xᵀy, n, Σy, Σy²) sufficient
    //    statistics — O(k²) per group per partition on the wire no
    //    matter the row count; the finish phase solves the k+1 system.
    //    λ=0 here, so the fit restates as Cramer's rule over plain SQL
    //    aggregates and the whole solve hash-checks ──
    "q243_group_ridge" -> ((s, dir) => {
      import org.apache.spark.sql.functions.udaf
      import s.implicits._
      val ridge = udaf(new graft.functions.RidgeAgg(k = 2, lambda = 0.0))
      t(s, dir, "events")
        .select(col("event_type"),
          array(
            (unix_micros(col("ts")).cast("double") / lit(86400e6)
              - lit(19700.0)).as("x1"),
            (col("user_id") % 10).cast("double").as("x2")).as("xs"),
          col("value").as("y"))
        .groupBy(col("event_type").as("slice"))
        .agg(ridge(col("xs"), col("y")).as("fit"))
        .select(col("slice"), col("fit.n").as("n"),
          round(element_at(col("fit.coeffs"), 1), 6).as("b1"),
          round(element_at(col("fit.coeffs"), 2), 6).as("b2"),
          round(col("fit.intercept"), 6).as("intercept"),
          round(col("fit.r2"), 6).as("r2"))
        .orderBy("slice")
    }),

    // ── GROUPING SETS with grouping_id: the one multi-granularity pass
    //    (per (flag,status), per flag, grand total) a reporting layer
    //    wants without three scans; completes q37's rollup family ──
    "q241_grouping_sets" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      li.createOrReplaceTempView("q241_lineitem")
      s.sql(
        """SELECT l_returnflag AS flag, l_linestatus AS status,
          |  CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT) AS gid,
          |  count(*) AS n,
          |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
          |    AS BIGINT) AS cents
          |FROM q241_lineitem
          |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
          |  (l_returnflag), ())
          |ORDER BY gid, flag NULLS FIRST, status NULLS FIRST""".stripMargin)
    }),

    // ── GDPR cascade delete (right-to-be-forgotten propagation): one
    //    broadcast-able forget set anti-joins the fact table; the audit
    //    proves survivor counts + that derived aggregates rebuilt clean ──
    "q242_cascade_delete" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val forget = ev.select("user_id").distinct()
        .filter(col("user_id") % 13 === 0)
      val survivors = ev.join(forget, Seq("user_id"), "left_anti")
      survivors.groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          count_distinct(col("user_id")).as("n_users"))
        .orderBy("event_type")
    }),

    // ── incremental join maintenance: Δ(A⋈B) = ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB —
    //    the maintained view (base join + delta terms, base⋈base never
    //    recomputed) must hash-equal the full recompute, which is
    //    exactly what the oracle runs ──
    "q240_join_ivm" -> ((s, dir) => {
      val o = t(s, dir, "orders").select("o_orderkey", "o_custkey",
        "o_totalprice")
      val c = t(s, dir, "customer").select("c_custkey", "c_mktsegment")
        .withColumnRenamed("c_custkey", "o_custkey")
      val (baseA, deltaA) = (o.filter(col("o_orderkey") % 7 =!= 0),
        o.filter(col("o_orderkey") % 7 === 0))
      val (baseB, deltaB) = (c.filter(col("o_custkey") % 5 =!= 0),
        c.filter(col("o_custkey") % 5 === 0))
      val view = baseA.join(baseB, Seq("o_custkey"))
        .unionByName(graft.operators.Maintenance.incrementalJoinDelta(
          baseA, deltaA, baseB, deltaB, "o_custkey"))
      view.groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
        .orderBy("c_mktsegment")
    }),

    // ── DP sum release: contributions clipped to [0, clip] (the clip,
    //    not the data, sets the noise scale), Laplace(clip/ε) content-
    //    addressed noise — same auditable md5 mechanism as q235 ──
    "q238_dp_sums" -> ((s, dir) =>
      graft.operators.Profiling.dpNoisySums(
          t(s, dir, "events"), "event_type", "value",
          clip = 50.0, epsilon = 1.0, salt = "r8s")
        .orderBy("group")),

    // ── exact ROC AUC per slice as the Mann–Whitney U over fractional
    //    mid-ranks: two slice-keyed windows + one aggregate — one sort,
    //    never the 10¹⁸-pair join ──
    "q239_group_auc" -> ((s, dir) =>
      graft.operators.Profiling.groupAuc(
          t(s, dir, "events").withColumn("y",
            (col("user_id") % 2 === 0).cast("int")),
          "event_type", "value", "y")
        .orderBy("slice")),

    // ── behavioural-pattern novelty curve: fraction of each day's
    //    event-type trigrams never seen on an earlier day — the drift-
    //    onset monitor; first-day min + day rollup, all partial aggs ──
    "q236_pattern_novelty" -> ((s, dir) =>
      graft.operators.CorpusStats.patternNovelty(
          t(s, dir, "events"), "user_id", "ts", "event_type", "event_id")
        .orderBy("day")),

    // ── pairwise Jensen–Shannon divergence between source unigram LMs:
    //    the symmetric bounded drift MATRIX next to q93's KL(slice‖rest);
    //    (slice×vocab) grid self-joined on the high-cardinality word ──
    "q232_js_divergence" -> ((s, dir) =>
      graft.operators.CorpusStats.jsDivergenceMatrix(
          t(s, dir, "documents"), "text", "source")
        .orderBy("slice_a", "slice_b")),

    // ── per-dimension embedding stats (the whitening table): positional
    //    explode + dim-keyed aggregate, output model-sized ──
    "q233_embed_dimstats" -> ((s, dir) =>
      Similarity.dimensionStats(t(s, dir, "embeddings"), "embedding")
        .orderBy("dim")),

    // ── Spearman rank correlation per group: Pearson over fractional
    //    mid-ranks (tie-robust monotone association); two group-keyed
    //    rank windows + one corr partial agg ──
    "q230_spearman" -> ((s, dir) =>
      graft.operators.Profiling.spearmanCorr(
          t(s, dir, "lineitem"), "l_returnflag", "l_quantity",
          "l_extendedprice")
        .orderBy("group")),

    // ── isotonic (PAV) calibration of P(lang=en | doc length): scores
    //    bin distributively, the PAV sweep runs on the ≤bins-row summary
    //    (model-as-dimension); the fitted step function hash-checks via
    //    the max-min minimax identity restated in SQL ──
    "q231_isotonic" -> ((s, dir) =>
      graft.operators.Profiling.isotonicCalibrate(
          t(s, dir, "documents")
            .withColumn("is_en", (col("lang") === "en").cast("int")),
          "n_chars", "is_en", bins = 50)
        .select(col("bin"), round(col("lo"), 6).as("lo"),
          round(col("hi"), 6).as("hi"), col("n"), col("n_pos"),
          col("raw_rate"), col("calibrated"))
        .orderBy("bin")),

    // ── frequency-ordered dictionary encode (string indexer): fit over
    //    the distinct-term table (rank window runs on |vocab| rows, not
    //    the corpus), transform via broadcast join; OOV well-defined ──
    "q227_dict_encode" -> ((s, dir) => {
      import graft.operators.FeatureEncoding
      val part = t(s, dir, "part")
      val dict = FeatureEncoding.fitDictionary(part, "p_type")
      FeatureEncoding.encodeWithDictionary(
          part.select(col("p_brand"), col("p_type")), "p_type", dict)
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_rows"), sum("idx").as("sum_idx"),
          max("idx").as("max_idx"))
        .orderBy("p_brand")
    }),

    // ── leave-one-out smoothed target encoding: category aggregate
    //    broadcast back, map-only per-row encode; exact integer cents
    //    inside the formula so the hash check is FP-order-proof ──
    "q228_target_encode" -> ((s, dir) =>
      graft.operators.FeatureEncoding.targetEncodeLoo(
          t(s, dir, "orders").select("o_orderkey", "o_orderpriority",
            "o_totalprice"), "o_orderpriority", "o_totalprice", m = 10.0)
        .select("o_orderkey", "o_orderpriority", "enc")
        .orderBy("o_orderkey")),

    // ── Adamic–Adar link prediction over the sparsified part–supplier
    //    graph: wedge join through the shared neighbour under a degree
    //    cap (maxDeg² task bound), known edges anti-joined out ──
    "q229_adamic_adar" -> ((s, dir) => {
      val edges = t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 11 === 0)
        .select(col("l_partkey").as("src"),
          (col("l_suppkey") + 1000000L).as("dst"))
      graft.operators.Graphs.adamicAdar(edges, maxDeg = 64)
        .orderBy("node_a", "node_b")
    }),

    // ── reciprocal best match across two embedding corpora (bitext-mining
    //    alignment filter): two broadcast top-1 passes joined on mutual
    //    agreement; hubs survive one direction, never both ──
    "q226_mutual_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.mutualBestMatch(
        emb.filter(col("vec_id") % 2 === 0),
        emb.filter(col("vec_id") % 2 === 1))
        .select(col("id_a"), col("id_b"),
          round(col("cosine"), 4).as("cos_sim"))
        .orderBy("id_a")
    }),

    // ── consensus record version (reference model/Version.scala): third
    //    column family filled processed-else-raw; dd-MMM-yyyy raws parse
    //    to ISO consensus, the unparseable stratum falls back verbatim ──
    "q216_consensus_version" -> ((s, dir) => {
      val k = col("o_orderkey")
      val pseudo = t(s, dir, "orders").select(
        k.cast("string").as("occurrenceID"),
        when(k % 7 === 0, lit("circa nineties"))
          .otherwise(date_format(col("o_orderdate"), "dd-MMM-yyyy"))
          .as("eventDate"))
      val cons = graft.processors.Processors.consensusVersion(
        graft.processors.Processors.enrich(pseudo), Seq("eventDate"))
      cons.groupBy(substring(col("consensus_eventDate"), 1, 4).as("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("consensus_eventDate")).as("min_c"),
          max(col("consensus_eventDate")).as("max_c"))
        .orderBy("bucket")
    }),

    // ── Embedding near-duplicate pairs by cosine (rows-only) ──
    // ── embedding near-dup via sign-LSH buckets. Oracle-gated since
    //    round 10: the pair set is bucket-dependent (sign hyperplanes
    //    aren't SQL-replayable) but the CONTRACT is — the operator's
    //    grid-paired, sub-blocked output must equal the plain
    //    within-bucket ≥-threshold join re-derived independently ──
    "q33_embed_neardup" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val pairs = Dedup.embeddingNearDuplicates(emb, "vec_id",
          "embedding", threshold = 0.4, bits = 4)
        .select("id_a", "id_b")
      val keyed = emb.select(col("vec_id").as("id"),
        col("embedding").as("v"),
        graft.functions.VectorFunctions
          .lshSignature(col("embedding"), 4).as("bucket"))
      val refPairs = keyed
        .select(col("bucket"), col("id").as("id_a"), col("v").as("v_a"))
        .join(keyed.select(col("bucket"), col("id").as("id_b"),
          col("v").as("v_b")), Seq("bucket"))
        .filter(col("id_a") < col("id_b"))
        .filter(graft.plans.GraftFunctions.cosine_sim(
          col("v_a"), col("v_b")) >= 0.4)
        .select("id_a", "id_b")
      val mism = pairs.withColumn("_p", lit(1))
        .join(refPairs.withColumn("_r", lit(1)),
          Seq("id_a", "id_b"), "full_outer")
        .agg(coalesce(sum(when(col("_p").isNull || col("_r").isNull, 1L)
          .otherwise(0L)), lit(0L)).as("_mismatch"))
      emb.agg(count(lit(1)).as("n_vectors")).crossJoin(mism)
        .select(col("n_vectors"),
          (col("_mismatch") === 0L).as("bucket_pairs_exact"))
    }),

    // ── Text: heuristic language ID vs declared label (rows-only) ──
    "q34_lang_id" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TF.langIdHeuristic(col("text")).as("pred_lang"),
          col("lang").as("declared_lang"))
        .orderBy("doc_id")),

    // ── A8-style null-bucketed grouping ──
    "q35_null_bucket" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(coalesce(nullif(col("event_type"), lit("error")), lit("UNKNOWN"))
          .as("etype"))
        .agg(count(lit(1)).as("n"))
        .orderBy("etype")),

    // ── J8 blocked similarity self-join (Levenshtein ≤ 2 within nation).
    //    Banded early-exit kernel UDF. Measured against the built-in 3-arg
    //    levenshtein(l, r, threshold) at sf0.1 (local[32], warm, twice):
    //    built-in 7.5-10.5 s vs kernel 3.0-4.0 s — the kernel's O(k·n) band
    //    with early row-min abort beats the codegen'd threshold DP, so the
    //    UDF stays despite the usual prefer-built-ins rule ──
    // cost-chosen blocked edit-distance pairs (round 9): ≤2000-row
    // blocks take the plain within-block scan; larger ones take the
    // SymSpell deletion-neighborhood equi-join — both exact and
    // row-identical (spec-pinned), so the all-pairs oracle is unchanged
    // and the plan survives the 10× rehearsal (92 s quadratic → 15.7 s)
    "q36_blocked_levenshtein" -> ((s, dir) => {
      graft.operators.RecordLinkage.blockedEditDistancePairs(
          t(s, dir, "customer"), "c_custkey", "c_name", tau = 2,
          blockCols = Seq("c_nationkey"))
        .groupBy(col("c_nationkey").as("nationkey"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("nationkey")
    }),

    // ── Rollup grouping sets (additive over the reference's A1) ──
    "q37_rollup" -> ((s, dir) =>
      t(s, dir, "orders")
        .rollup(year(col("o_orderdate")).cast("long").as("yr"),
          month(col("o_orderdate")).cast("long").as("mth"))
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
        .orderBy(col("yr").asc_nulls_first, col("mth").asc_nulls_first)),

    // ── Exact distinct-count aggregate ──
    "q38_count_distinct" -> ((s, dir) =>
      t(s, dir, "orders")
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(countDistinct("o_custkey").as("n_customers"),
          count(lit(1)).as("n_orders"))
        .orderBy("c_mktsegment")),

    // ── Window frame: running revenue per customer ──
    "q39_window_frame" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          round(sum("o_totalprice").over(w), 2).as("running_total"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // ── Discrete (rank-based) percentiles per group. Continuous
    //    interpolation is un-oracle-able: midpoints of 2-decimal data sit
    //    exactly on round-half boundaries and engine arithmetic order flips
    //    the rounding; the value at rank ceil(p·n) is exact in both ──
    "q40_percentile" -> ((s, dir) => {
      val w = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
      t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_extendedprice"),
          row_number().over(w).as("rn"),
          count(lit(1)).over(Window.partitionBy("l_returnflag")).as("n"))
        .groupBy("l_returnflag")
        .agg(
          round(max(when(col("rn") === ceil(col("n") * 0.5),
            col("l_extendedprice"))), 2).as("p50"),
          round(max(when(col("rn") === ceil(col("n") * 0.9),
            col("l_extendedprice"))), 2).as("p90"))
        .orderBy("l_returnflag")
    }),

    // ── Structured Streaming: windowed counts over replayed events ──
    "q41_stream_agg" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val batchSchema = s.read.parquet(s"$dir/events.parquet").schema
      // streaming file source requires a directory: stream the sf dir with a
      // glob restricted to the events file
      val stream = s.readStream.schema(batchSchema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir)
        .transform(Tables.normalizeTs)
      val agg = stream
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total_value"))
      withStatePartitions(s, 8) {
        val q = agg.writeStream.outputMode("complete")
          .format("memory").queryName("q41_out")
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      s.table("q41_out")
        .select(col("w.start").as("bucket"), col("event_type"),
          col("n"), col("total_value"))
        .orderBy("bucket", "event_type")
    }),

    // ── Multimodal: binary payload → stub decode → features (rows-only) ──
    "q42_multimodal_features" -> ((s, dir) => {
      import graft.multimodal.Multimodal
      // REAL path: PNG payloads ImageIO-encoded/-decoded per id, channel
      // means measured from actual pixels. Hash-gated (round 11) via
      // planted pixel structure: each channel sum has a closed form the
      // DuckDB oracle recomputes over generate_series, and the float32
      // mean replays as REAL division — PNG encode→decode→feature
      // arithmetic gated end-to-end, per channel (catches R/B swaps)
      val withImg = Multimodal.withPlantedImageColumn(
        t(s, dir, "documents").select("doc_id"), "doc_id")
      withImg
        .withColumn("features", Multimodal.decodedImageFeatures(col("image")))
        .select(col("doc_id"), col("imageMeta.width").as("width"),
          col("imageMeta.height").as("height"),
          element_at(col("features"), 1).as("mean_r"),
          element_at(col("features"), 2).as("mean_g"),
          element_at(col("features"), 3).as("mean_b"),
          size(col("features")).as("dim"))
        .orderBy("doc_id")
    }),

    // ── Multimodal: REAL frame sampling — PNG-stream payloads split on
    //    signature boundaries, every 2nd frame decoded and measured.
    //    Hash-gated (round 11): planted per-frame pixel structure makes
    //    the sampled-frame count, max index AND the mean decoded red
    //    channel all SQL-derivable ──
    "q43_frame_sample" -> ((s, dir) => {
      import graft.multimodal.Multimodal
      val gen = udf((id: Long) =>
        Multimodal.plantedPngStream(id, (id % 5).toInt + 2))
      val withVideo = t(s, dir, "documents").select("doc_id")
        .orderBy("doc_id").limit(100)
        .withColumn("video", gen(col("doc_id").cast("long")))
      Multimodal.samplePngFrames(withVideo, "video", stride = 2)
        .groupBy("doc_id").agg(count(lit(1)).as("n_frames"),
          max("frameIndex").as("max_idx"),
          round(avg(element_at(col("frameFeatures"), 1)), 4).as("mean_r"))
        .orderBy("doc_id")
    }),

    // ── Text: composite quality score + stopword ratio (rows-only) ──
    "q44_quality_score" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TF.qualityScore(col("text")).as("quality"),
          round(TF.stopwordRatio(col("text")), 4).as("stopword_ratio"),
          TF.subwordTokenCount(col("text")).as("n_subword_tokens"))
        .orderBy("doc_id")),

    // ── F1: the multi-format date parser driven through the oracle gate:
    //    dates rendered as ISO and day-first strings, re-parsed by the
    //    parser bank, components must reproduce the original date parts ──
    "q45_dateparse" -> ((s, dir) => {
      val parseYear = udf((str: String) =>
        graft.functions.DateParser.parseDate(str)
          .flatMap(d => Option(d.startYear).filter(_.nonEmpty).map(_.toLong)))
      val parseMonth = udf((str: String) =>
        graft.functions.DateParser.parseDate(str)
          .flatMap(d => Option(d.startMonth).filter(_.nonEmpty).map(_.toLong)))
      val parseDay = udf((str: String) =>
        graft.functions.DateParser.parseDate(str)
          .flatMap(d => Option(d.startDay).filter(_.nonEmpty).map(_.toLong)))
      // each rendering exercises a different format bank: ISO, dd-MM-uuuu,
      // dd-MMM-uuuu, MMM-yy (2-digit pivot), dd/MM/yy (truncated year).
      // Small-SF parquet is one row group = one scan task; spread the
      // CPU-heavy parser battery across cores first (at production scale
      // the scan has thousands of splits and this repartition is noise).
      t(s, dir, "orders")
        .repartition(col("o_orderkey"))
        .select(
          parseYear(date_format(col("o_orderdate"), "yyyy-MM-dd")).as("iso_year"),
          parseMonth(date_format(col("o_orderdate"), "dd-MM-yyyy")).as("dmy_month"),
          parseMonth(date_format(col("o_orderdate"), "dd-MMM-yyyy")).as("mmm_month"),
          parseYear(date_format(col("o_orderdate"), "MMM-yy")).as("mmmyy_year"),
          parseDay(date_format(col("o_orderdate"), "dd/MM/yy")).as("trunc_day"))
        .groupBy("iso_year", "dmy_month", "mmm_month", "mmmyy_year", "trunc_day")
        .agg(count(lit(1)).as("n"))
        .orderBy("iso_year", "dmy_month", "mmm_month", "mmmyy_year", "trunc_day")
    }),

    // ── §2.8 enrichment pipeline end-to-end through the oracle gate:
    //    pseudo-DwC records derived from orders with predictable outcomes;
    //    the oracle re-derives year/kosher/vocab from first principles ──
    "q46_enrich_pipeline" -> ((s, dir) => {
      val pseudo = t(s, dir, "orders").select(
        col("o_orderkey").cast("string").as("occurrenceID"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("eventDate"),
        (col("o_orderkey") % 170 - 85).cast("string").as("decimalLatitude"),
        (col("o_orderkey") % 356 - 178).cast("string").as("decimalLongitude"),
        lit("specimen").as("basisOfRecord"))
      graft.processors.Processors.enrich(pseudo)
        .groupBy(
          col("processed_year").cast("long").as("yr"),
          col("geospatiallyKosher").as("kosher"),
          col("processed_basisOfRecord").as("bor"))
        .agg(count(lit(1)).as("n"))
        .orderBy("yr", "kosher")
    }),

    // ── J3/J4-driven state/country inference through the oracle gate:
    //    quadrant-rectangle "state" layer + west-hemisphere "country"
    //    layer; the oracle re-derives the point-in-rectangle inference ──
    "q48_infer_state" -> ((s, dir) => {
      import graft.processors.{LocationInference, Processors}
      val pseudo = t(s, dir, "orders").select(
        col("o_orderkey").cast("string").as("occurrenceID"),
        ((col("o_orderkey") % 120) - 60 + 0.5).cast("string").as("decimalLatitude"),
        ((col("o_orderkey") % 340) - 170 + 0.5).cast("string").as("decimalLongitude"))
      val layers = s.createDataFrame(Seq(
        ("cl927", "NorthEast", "POLYGON((0 0, 170 0, 170 60, 0 60, 0 0))"),
        ("cl927", "NorthWest", "POLYGON((-170 0, 0 0, 0 60, -170 60, -170 0))"),
        ("cl927", "SouthEast", "POLYGON((0 -60, 170 -60, 170 0, 0 0, 0 -60))"),
        ("cl927", "SouthWest", "POLYGON((-170 -60, 0 -60, 0 0, -170 0, -170 -60))"),
        ("cl932", "Westland", "POLYGON((-170 -60, 0 -60, 0 60, -170 60, -170 -60))")))
        .toDF("layerId", "value", "wkt")
      Processors.enrichAll(pseudo,
          Processors.Dimensions(layers = Some(layers)))
        .groupBy(col("processed_stateProvince").as("state"),
          col("processed_country").as("country"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("state"), col("country").asc_nulls_first)
    }),

    // ── EVENT-kernel semantics through the oracle gate: datePrecision
    //    truncation/nullify rules, eventDateEnd resolution and range
    //    component nulling, determined precision — the oracle re-derives
    //    the reference EventProcessor rules from first principles ──
    "q49_event_precision" -> ((s, dir) => {
      val k = col("o_orderkey")
      val pseudo = t(s, dir, "orders").select(
        k.cast("string").as("occurrenceID"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("eventDate"),
        date_format(date_add(col("o_orderdate"), (k % 3).cast("int")),
          "yyyy-MM-dd").as("eventDateEnd"),
        when(k % 4 === 0, "D").when(k % 4 === 1, "M")
          .when(k % 4 === 2, "YY").as("datePrecision"))
      graft.processors.Processors.enrich(pseudo)
        .groupBy(col("processed_datePrecision").as("precision"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("processed_day").isNull, 1L).otherwise(0L)).as("day_nulls"),
          sum(when(col("processed_month").isNull, 1L).otherwise(0L)).as("month_nulls"),
          sum(when(col("processed_year").isNull, 1L).otherwise(0L)).as("year_nulls"),
          date_format(min(col("processed_eventDate")), "yyyy-MM-dd")
            .as("min_start"),
          date_format(max(col("processed_eventDateEnd")), "yyyy-MM-dd")
            .as("max_end"))
        .orderBy("precision")
    }),

    // ── LOC-kernel uncertainty/precision semantics through the oracle
    //    gate: distance-unit parsing, the uncertainty-in-precision rescue,
    //    precision range + decimal-place checks (reference
    //    checkCoordinateUncertainty), re-derived in SQL ──
    "q50_loc_uncertainty" -> ((s, dir) => {
      val k = col("o_orderkey")
      val pseudo = t(s, dir, "orders").select(
        k.cast("string").as("occurrenceID"),
        (k % 5).cast("long").as("_u"), (k % 4).cast("long").as("_p"),
        ((k % 120) - 60 + 0.25).cast("string").as("decimalLatitude"),
        ((k % 340) - 170 + 0.25).cast("string").as("decimalLongitude"),
        when(k % 5 === 0, "100 metres").when(k % 5 === 1, "2km")
          .when(k % 5 === 2, "-1").as("coordinateUncertaintyInMeters"),
        when(k % 4 === 0, "0.01").when(k % 4 === 1, "700")
          .when(k % 4 === 2, "junk").as("coordinatePrecision"))
      graft.processors.Processors.processLocation(pseudo)
        .groupBy(col("_u").as("unc_kind"), col("_p").as("prec_kind"))
        .agg(count(lit(1)).as("n"),
          sum(coalesce(col("processed_coordinateUncertaintyInMeters"),
            lit(0.0))).as("unc_sum"),
          sum(when(array_contains(col("assertions_loc"), 25), 1L)
            .otherwise(0L)).as("unc_in_prec"),
          sum(when(array_contains(col("assertions_loc"), 17), 1L)
            .otherwise(0L)).as("prec_range"),
          sum(when(array_contains(col("assertions_loc"), 23), 1L)
            .otherwise(0L)).as("prec_mismatch"),
          sum(when(array_contains(col("assertions_loc"), 24), 1L)
            .otherwise(0L)).as("unc_range"),
          sum(when(array_contains(col("assertions_loc"), 27), 1L)
            .otherwise(0L)).as("unc_missing"))
        .orderBy("unc_kind", "prec_kind")
    }),

    // ── duplicate CLUSTERS from near-dup pairs: the reference's
    //    duplicates-table shape (representative + members) via distributed
    //    connected components over the exact-Jaccard pair table ──
    "q51_dedup_clusters" -> ((s, dir) => {
      val pairs = Dedup.ngramJaccardPairs(t(s, dir, "documents"),
        "doc_id", "text", n = 16, threshold = 0.5)
      Components.clusterSummary(pairs, "id_a", "id_b")
        .orderBy("representative")
    }),

    // ── SemDeDup-style semantic dedup: k-means cells → within-cell cosine
    //    pairs → connected components → keep min-id representative.
    //    k-means is not SQL-expressible → rows-only check ──
    "q52_semantic_dedup" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      // persisted (round 13, guide §5): the audit below reads dd FIVE
      // times (two edge-closure joins, free-drop check, rep check,
      // n_docs) and each read would otherwise re-run the whole
      // semanticDedup pipeline (centroids + cell pair join + components)
      val dd = Dedup.semanticDedup(emb, "vec_id", "embedding",
          numCells = 4, threshold = 0.4)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // oracle audit (round 10): keep-counts are centroid-dependent; the
      // SemDeDup CONTRACT is not. Cell-local exactness re-derived
      // in-query: (a) the ≥-threshold within-cell pair graph — rebuilt
      // from the same deterministic centroids — never crosses component
      // boundaries (no under-merge), (b) every dropped doc is touched by
      // at least one such edge (no free drop), (c) each component keeps
      // exactly its min id. All three pinned TRUE; n_docs replays.
      val cents = Similarity.trainCentroids(emb, "embedding", 4, 2,
        "vec_id")
      val celled = Similarity.cellAssignment(emb, "embedding", cents)
        .select(col("cell"), col("vec_id"), col("embedding"))
      // persisted: read three times (edge-closure join + both sides of
      // the touched union) — the within-cell pair join is the expensive
      // subtree here
      val edges = celled.select(col("cell"), col("vec_id").as("id_a"),
          col("embedding").as("v_a"))
        .join(celled.select(col("cell"), col("vec_id").as("id_b"),
          col("embedding").as("v_b")), Seq("cell"))
        .filter(col("id_a") < col("id_b"))
        .filter(graft.plans.GraftFunctions.cosine_sim(
          col("v_a"), col("v_b")) >= 0.4)
        .select("id_a", "id_b")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val edgeClosed = edges
        .join(dd.select(col("id").as("id_a"),
          col("representative").as("_ra")), Seq("id_a"))
        .join(dd.select(col("id").as("id_b"),
          col("representative").as("_rb")), Seq("id_b"))
        .agg(coalesce(sum(when(col("_ra") === col("_rb"), 0L)
          .otherwise(1L)), lit(0L)).as("_bad_edges"))
      val touched = edges.select(col("id_a").as("id"))
        .unionByName(edges.select(col("id_b").as("id"))).distinct()
      val dropOk = dd.filter(!col("keep"))
        .join(touched, Seq("id"), "left_anti")
        .agg(count(lit(1)).as("_free_drops"))
      val repOk = dd.groupBy("representative")
        .agg(min("id").as("_mn"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("_nk"))
        .agg(sum(when(col("_mn") === col("representative") &&
          col("_nk") === 1L, 0L).otherwise(1L)).as("_bad_reps"))
      dd.agg(count(lit(1)).as("n_docs"))
        .crossJoin(edgeClosed).crossJoin(dropOk).crossJoin(repOk)
        .select(col("n_docs"),
          (col("_bad_edges") === 0L).as("edges_closed"),
          (col("_free_drops") === 0L).as("drops_have_edges"),
          (col("_bad_reps") === 0L).as("reps_are_min"))
    }),

    // ── Curation: deterministic content-addressed train/val/test split
    //    (map-only; md5 hash so any engine reproduces the assignment) ──
    "q53_hash_split" -> ((s, dir) => {
      Curation.assignSplit(t(s, dir, "documents"), "doc_id", "v1",
          Seq("test" -> 0.05, "val" -> 0.05))
        .groupBy("split", "lang").agg(count(lit(1)).as("n"))
        .orderBy("split", "lang")
    }),

    // ── Curation: deterministic down-sampling to target class mixture ──
    "q54_rebalance" -> ((s, dir) => {
      Curation.rebalanceClasses(t(s, dir, "documents"), "doc_id", "lang",
          "mix1", Map("en" -> 0.5, "zh" -> 0.25, "es" -> 0.25))
        .groupBy("lang").agg(count(lit(1)).as("n"))
        .orderBy("lang")
    }),

    // ── Curation: deterministic Bernoulli sample (content-addressed) ──
    "q55_det_sample" -> ((s, dir) => {
      Curation.deterministicSample(t(s, dir, "documents"), "doc_id",
          "s1", 0.25)
        .agg(count(lit(1)).as("n"),
          sum(col("n_chars").cast("long")).as("chars"))
    }),

    // ── Curation: token-budget sequence packing (contiguous fill per
    //    shard; per-shard window, never a global sort) ──
    "q56_pack_tokens" -> ((s, dir) => {
      val withTok = t(s, dir, "documents")
        .withColumn("n_tokens", TF.tokenCount(col("text")))
      Curation.packByTokenBudget(withTok, "doc_id", "n_tokens",
          "source", 2048L)
        .groupBy(col("source"), col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))
        .orderBy("source", "bin")
    }),

    // ── Text: Gopher-style quality-filter battery (map-only flags) ──
    "q57_gopher_quality" -> ((s, dir) => {
      val txt = col("text")
      t(s, dir, "documents").select(col("doc_id"),
          TF.tokenCount(txt).as("n_words"),
          round(TF.meanWordLength(txt), 4).as("mean_word_len"),
          round(TF.alphaWordRatio(txt), 4).as("alpha_word_ratio"),
          round(TF.stopwordRatio(txt), 4).as("stop_ratio"))
        .withColumn("pass",
          col("n_words") >= 20 && col("n_words") <= 100000 &&
          col("mean_word_len") >= 2.0 && col("mean_word_len") <= 10.0 &&
          col("alpha_word_ratio") >= 0.8)
        .orderBy("doc_id")
    }),

    // ── Curation: benchmark decontamination (word n-gram overlap against
    //    an eval set; broadcast-able benchmark gram side) ──
    "q58_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val bench = docs.filter(col("source") === "src0")
      Curation.decontaminate(docs.filter(col("source") =!= "src0"),
          bench, "doc_id", "text", n = 8)
        .filter(col("contaminated"))
        .select("doc_id")
        .orderBy("doc_id")
    }),

    // ── Text: within-document repetition (duplicate n-gram fraction) ──
    "q59_repetition" -> ((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
          round(TF.duplicateNgramRatio(col("text"), 2), 4).as("dup2"),
          round(TF.duplicateNgramRatio(col("text"), 3), 4).as("dup3"))
        .orderBy("doc_id")
    }),

    // ── Curation: deterministic global shuffle (salted hash order —
    //    range-partitioned sort, the training-shard write order) ──
    "q61_det_shuffle" -> ((s, dir) => {
      Curation.shuffleDeterministic(t(s, dir, "documents"), "doc_id", "sh1")
        .select("doc_id", "shuffle_key")
    }),

    // ── Skew-safe salted equi-join: hot big-side keys spread over salt
    //    sub-partitions, dimension side replicated; row-identical result ──
    "q62_salted_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select("l_suppkey", "l_extendedprice")
      val sup = t(s, dir, "supplier")
        .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))
      graft.operators.ScaleJoins.saltedEquiJoin(li, sup, "l_suppkey", 8)
        .join(broadcast(t(s, dir, "nation")
          .select(col("n_nationkey").as("s_nationkey"), col("n_name"))),
          "s_nationkey")
        .groupBy("n_name")
        .agg(round(sum("l_extendedprice"), 2).as("rev"),
          count(lit(1)).as("n"))
        .orderBy("n_name")
    }),

    // ── Backward as-of join (union + per-key window; no range-join
    //    blow-up): latest prior 'view' value per user for each 'click' ──
    "q63_asof_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val views = ev.filter(col("event_type") === "view")
        .select("user_id", "ts", "value")
      graft.operators.ScaleJoins.asofJoinBackward(
          clicks, views, "user_id", "ts", "value", "view_value")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("t_us"),
          round(col("view_value"), 2).as("view_value"))
        .orderBy("event_id")
    }),

    // ── Gap-based sessionization: per-user sessions split on >6h gaps
    //    (lag + running sum; one shuffle, per-key parallel sort) ──
    "q64_sessionize" -> ((s, dir) => {
      graft.operators.Sessions.sessionize(
          t(s, dir, "events"), "user_id", "ts", "value",
          maxGapSeconds = 21600L)
        .select(col("user_id"), col("session_seq"),
          unix_micros(col("session_start")).as("start_us"),
          unix_micros(col("session_end")).as("end_us"),
          col("n_events"), col("total_value"))
        .orderBy("user_id", "session_seq")
    }),

    // ── Group-level MinHash signatures via a custom typed Aggregator
    //    (union-homomorphic elementwise min), then source-vs-source
    //    resemblance from signatures alone. Round 9: per-doc signatures
    //    come from the codegen'd md5 kernel (`minhash_md5`), so the whole
    //    pipeline — shingles → per-doc sig → elementwise-min group sig →
    //    positionwise resemblance — is ORACLE-REPLAYED by DuckDB (min is
    //    associative: group sig ≡ min over the source's pooled shingle
    //    set); MinHashAggSpec additionally bounds it against exact
    //    Jaccard ──
    "q91_group_signature" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val sh = Dedup.wordShingleSet(docs, "doc_id", "text", 3)
      val sigs = sh.groupBy("id").agg(collect_list(col("sh")).as("_arr"))
        .select(col("id"), graft.plans.GraftFunctions
          .minhash_md5(col("_arr"), lit(24)).as("sig"))
        .join(docs.select(col("doc_id").as("id"), col("source")), Seq("id"))
      val unionSig = udaf(graft.functions.MinHashUnionAgg)
      val gsigs = sigs.groupBy("source").agg(unionSig(col("sig")).as("gsig"))
      val a = gsigs.select(col("source").as("src_a"), col("gsig").as("sig_a"))
      val b = gsigs.select(col("source").as("src_b"), col("gsig").as("sig_b"))
      a.crossJoin(b).filter(col("src_a") < col("src_b"))
        .select(col("src_a"), col("src_b"),
          round(graft.plans.GraftFunctions.sig_sim(col("sig_a"),
            col("sig_b")), 4).as("est_jaccard"))
        .orderBy("src_a", "src_b")
    }),

    // ── Pivot / crosstab: event_type × weekday count matrix ──
    "q88_pivot" -> ((s, dir) => {
      val types = Seq("click", "view", "purchase", "signup", "error")
      t(s, dir, "events")
        .withColumn("dow", dayofweek(col("ts")).cast("long"))
        .groupBy("dow")
        .pivot("event_type", types)
        .agg(count(lit(1)))
        .na.fill(0L, types)
        .orderBy("dow")
    }),

    // ── Key-skew report ahead of a big shuffle: per-key count quantiles
    //    + hottest keys (the salt/no-salt decision input) ──
    "q89_skew_report" -> ((s, dir) => {
      graft.operators.Profiling.keySkewReport(
          t(s, dir, "lineitem"), "l_partkey", topK = 20)
        .orderBy(col("key_rows").desc, col("key"))
    }),

    // ── Approximate distinct (HLL++) per group. The raw sketch estimate
    //    is engine-specific, so the oracle-checked output is the exact
    //    count plus a self-audit: |approx − exact|/exact < 5% must hold
    //    (HLL++ sized at rsd=0.01 — 5σ margin on the 5% contract at any
    //    cardinality; the oracle pins the column TRUE, so a drifting
    //    sketch fails the hash gate loudly) ──
    "q90_approx_distinct" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        // rsd sized to the contract, not left at the 0.05 default: the
        // default's 1σ error IS 5%, so the within-5% claim fails ~1/3 of
        // the time once cardinality leaves the small-range regime (first
        // seen at the 100× gate: 2M distinct parts, realized error >5%).
        // rsd=0.01 holds the 5% bound with 5σ margin at any cardinality
        // for a 4 KB register array — the sketch-sizing discipline a
        // 100 TB run needs anyway.
        .agg(approx_count_distinct(col("l_partkey"), 0.01).as("approx_parts"),
          count_distinct(col("l_partkey")).as("exact_parts"))
        .select(col("l_returnflag"), col("exact_parts"),
          (abs(col("approx_parts") - col("exact_parts")).cast("double") /
            col("exact_parts") < 0.05).as("within_5pct"))
        .orderBy("l_returnflag")
    }),

    // ── SCD2 history from the event log: each user's event_type change
    //    log becomes versioned validity intervals ──
    "q84_scd2" -> ((s, dir) => {
      graft.operators.Scd.buildScd2(
          t(s, dir, "events")
            .select(col("user_id"), col("ts"), col("event_type")),
          "user_id", "ts", Seq("event_type"))
        .filter(col("user_id") <= 200)
        .select(col("user_id"), col("version_seq"), col("event_type"),
          unix_micros(col("valid_from")).as("from_us"),
          unix_micros(col("valid_to")).as("to_us"),
          col("is_current"))
        .orderBy("user_id", "version_seq")
    }),

    // ── Markov transition counts over per-user event sequences ──
    "q85_transitions" -> ((s, dir) => {
      graft.operators.EventAnalytics.transitionCounts(
          t(s, dir, "events"), "user_id", "ts", "event_type", "event_id")
        .orderBy("event_type", "next_type")
    }),

    // ── Event-time rolling aggregate: trailing 6 h RANGE frame per user ──
    "q86_rolling_time" -> ((s, dir) => {
      graft.operators.EventAnalytics.rollingByTime(
          t(s, dir, "events"), "user_id", "ts", "value", 21600L)
        .filter(col("user_id") <= 100)
        .select(col("event_id"), col("user_id"), col("roll_n"),
          col("roll_sum"))
        .orderBy("event_id")
    }),

    // ── Grouped z-score outlier screen on the fact table ──
    "q87_zscore_outliers" -> ((s, dir) => {
      graft.operators.Outliers.zScoreOutliers(
          t(s, dir, "lineitem"), "l_returnflag", "l_extendedprice", 1.7)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_extendedprice"), col("zscore"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // ── Per-label embedding centroids, long format (dimension-sized
    //    shuffle via map-side combine) ──
    "q81_label_centroids" -> ((s, dir) => {
      Similarity.labelCentroids(t(s, dir, "embeddings"), "label", "embedding")
        .orderBy("label", "pos")
    }),

    // ── Cohort retention matrix over the event log (1-day periods) ──
    "q82_retention" -> ((s, dir) => {
      graft.operators.EventAnalytics.cohortRetention(
          t(s, dir, "events"), "user_id", "ts", periodSeconds = 86400L)
        .orderBy("cohort_period", "period_offset")
    }),

    // ── Ordered funnel click → view → purchase (first-touch ordering) ──
    "q83_funnel" -> ((s, dir) => {
      graft.operators.EventAnalytics.funnel(
          t(s, dir, "events"), "user_id", "ts", "event_type",
          Seq("click", "view", "purchase"))
        .orderBy("step_idx")
    }),

    // ── Asymmetric containment pairs (quote/partial-dup detection):
    //    |grams(A) ∩ grams(B)| / |grams(A)| ≥ 0.5 over word 8-grams ──
    "q80_containment" -> ((s, dir) => {
      graft.operators.Dedup.containmentPairs(
          t(s, dir, "documents"), "doc_id", "text", n = 8, threshold = 0.5)
        .select(col("id_a"), col("id_b"),
          round(col("containment"), 4).as("containment"))
        .orderBy("id_a", "id_b")
    }),

    // ── Deterministic weighted sampling without replacement (A-ES keys
    //    from md5 draws; n_chars as the weight) ──
    "q78_weighted_sample" -> ((s, dir) => {
      Curation.weightedSample(t(s, dir, "documents"), "doc_id", "n_chars",
          salt = "v1", k = 100)
        .select(col("doc_id"), col("w"), round(col("es_key"), 4).as("es_key"))
        .orderBy(col("es_key").desc, col("doc_id"))
    }),

    // ── Table profiling: one-scan per-column nulls/distincts/min/max ──
    "q79_profile" -> ((s, dir) => {
      graft.operators.Profiling.profile(t(s, dir, "lineitem"),
          Seq("l_orderkey", "l_quantity", "l_returnflag"))
        .orderBy("col_name")
    }),

    // ── Unicode canonicalisation via native codegen'd Expressions
    //    (nfc_normalize / strip_accents): the pre-hash normalisation step
    //    of text dedup, oracle-matched against DuckDB's built-ins ──
    "q77_normalize" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          md5(graft.plans.GraftFunctions.nfc_normalize(col("text")))
            .as("nfc_md5"),
          md5(graft.plans.GraftFunctions.strip_accents(lower(col("text"))))
            .as("folded_md5"))
        .orderBy("doc_id")
    }),

    // ── DSIR importance resampling: keep the half of the corpus whose
    //    unigram log-likelihood ratio says "looks like the src1 domain" ──
    "q76_importance_resample" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Curation.importanceResample(
          docs.filter(col("source") =!= "src1"),
          docs.filter(col("source") === "src1"),
          "doc_id", "text", keepFraction = 0.5)
        .orderBy("doc_id")
    }),

    // ── Stream-stream interval join (attribution): click → purchase by
    //    the same user within 6 h, drained with AvailableNow; inner-append
    //    semantics make the drained stream equal the batch interval join ──
    "q75_stream_join" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val batchSchema = s.read.parquet(s"$dir/events.parquet").schema
      def stream = s.readStream.schema(batchSchema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir)
        .transform(Tables.normalizeTs)
      val clicks = stream.filter(col("event_type") === "click")
        .select(col("event_id").as("imp_id"), col("user_id"), col("ts"))
      val purchases = stream.filter(col("event_type") === "purchase")
        .select(col("event_id").as("conv_id"), col("user_id").as("conv_user"),
          col("ts").as("conv_ts"), col("value").as("conv_value"))
      val joined = graft.streaming.IncrementalIngest.intervalJoinStreams(
        clicks, purchases, "user_id", "conv_user", "ts", "conv_ts",
        "1 hour", 21600L)
      withStatePartitions(s, 8) {
        val q = joined.writeStream.outputMode("append")
          .format("memory").queryName("q75_out")
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      s.table("q75_out")
        .select(col("imp_id"), col("conv_id"), col("user_id"),
          round(col("conv_value"), 2).as("conv_value"))
        .orderBy("imp_id", "conv_id")
    }),

    // ── Cross-document repetition: fraction of each doc's 5-gram
    //    instances also present in ≥1 other doc (boilerplate signal
    //    exact/near-dup passes miss) ──
    "q72_crossdoc_ngram" -> ((s, dir) => {
      Curation.crossDocRepetitionRatio(
          t(s, dir, "documents"), "doc_id", "text", n = 5)
        .orderBy("doc_id")
    }),

    // ── PQ-compressed ANN (rows-only: k-means codebooks aren't
    //    SQL-expressible; SimilaritySpec checks recall vs brute force) ──
    "q74_pq_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val corpus = emb.filter(col("vec_id") >= 3)
      val queriesDf = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      // oracle audits (round 10): codebooks aren't SQL-replayable, the
      // IVFPQ+refine CONTRACT is — (a) scores_exact: every returned
      // score must equal the true cosine recomputed from the raw vectors
      // (the rerank promise, bit-equal kernels); (b) ranked_desc: ranks
      // follow score order; (c) recall_ok: coverage of the global exact
      // top-10 above a floor (measured minima 0.8/0.6 at overfetch 16)
      val ann = Similarity.pqTopK(corpus, queriesDf, 10, overfetch = 16)
      val exact = Similarity.bruteForceTopK(corpus, queriesDf, 10)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id")).orderBy(col("rank"))
      val audited = ann
        .join(corpus.select(col("vec_id"), col("embedding")), Seq("vec_id"))
        .join(broadcast(queriesDf), Seq("query_id"))
        .withColumn("_true", graft.plans.GraftFunctions.cosine_sim(
          col("embedding"), col("query_vec")))
        .withColumn("_prev", lag(col("score"), 1).over(w))
        .groupBy("query_id")
        .agg(count(lit(1)).as("n_results"),
          (sum(when(col("score") === col("_true"), 0L).otherwise(1L))
            === 0L).as("scores_exact"),
          (sum(when(col("_prev").isNull || col("_prev") >= col("score"),
            0L).otherwise(1L)) === 0L).as("ranked_desc"))
      audited
        .join(Similarity.annRecallAudit(ann, exact, "query_id", "vec_id",
          minRecall = 0.4).select("query_id", "recall_ok"), Seq("query_id"))
        .orderBy("query_id")
    }),

    // ── PII scrub (privacy pass of a training-data pipeline): typed match
    //    counts + md5 of the redacted text. Map-only regexp chain; the
    //    synthetic corpus contains no PII so counts are zero — the oracle
    //    proves the Java and RE2 engines agree on the same patterns, and
    //    TextFunctionsSpec carries the positive-match cases ──
    "q70_pii_redact" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          TF.emailCount(col("text")).cast("long").as("n_email"),
          TF.ipv4Count(col("text")).cast("long").as("n_ip"),
          TF.phoneCount(col("text")).cast("long").as("n_phone"),
          md5(TF.redactPii(col("text"))).as("redacted_md5"))
        .orderBy("doc_id")
    }),

    // ── Percentile-threshold perplexity filter (CCNet head+middle cut):
    //    exact corpus p75 of unigram NLL as a broadcast scalar ──
    "q71_perplexity_filter" -> ((s, dir) => {
      Curation.perplexityFilter(t(s, dir, "documents"), "doc_id", "text", 0.75)
        .orderBy("doc_id")
    }),

    // ── Corpus bigram statistics (one BPE-merge counting step /
    //    collocation table): top-50 adjacent word pairs ──
    "q73_bigram_stats" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(split(lower(trim(col("text"))), "\\s+").as("ws"))
        .select(explode(TF.wordBigrams(col("ws"))).as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("bigram"))
        .limit(50)
    }),

    // ── Z-order spatial layout keys: Morton interleave of quantised
    //    pseudo-coordinates; ORDER BY z is the write layout ──
    "q69_zorder" -> ((s, dir) => {
      val lat = (col("o_orderkey") % 170 - 85).cast("double") + lit(0.5)
      val lon = (col("o_orderkey") % 356 - 178).cast("double") + lit(0.25)
      t(s, dir, "orders")
        .filter(col("o_orderkey") <= 2000)
        .select(col("o_orderkey"),
          graft.geo.ZOrder.zValue(lat, lon).as("z"))
        .orderBy("z", "o_orderkey")
    }),

    // ── RAG-style overlapping token-window chunking (map-only explode;
    //    per-chunk md5 proves content, not just counts) ──
    "q68_chunk_text" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(TF.chunkText(col("text"), 32, 24))
            .as(Seq("pos", "chunk")))
        .select(col("doc_id"), col("pos").cast("long").as("chunk_idx"),
          md5(col("chunk")).as("chunk_md5"),
          TF.tokenCount(col("chunk")).as("chunk_tokens"))
        .orderBy("doc_id", "chunk_idx")
    }),

    // ── BM25 ranked retrieval (the SOLR free-text ranking analogue) ──
    "q67_bm25" -> ((s, dir) => {
      graft.operators.TextSearch.bm25Scores(t(s, dir, "documents"),
          "doc_id", "text", Seq("spark", "query", "vector"))
        .orderBy("doc_id")
    }),

    // ── Unigram-LM perplexity quality signal (CCNet-style): corpus word
    //    frequencies → per-doc avg −ln p(w) ──
    "q66_unigram_nll" -> ((s, dir) => {
      Curation.unigramNll(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // ── End-to-end corpus curation: quality gate → exact dedup →
    //    decontaminate → split; per-(split, contaminated) survivor counts ──
    "q65_curate_corpus" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val bench = docs.filter(col("source") === "src0")
      graft.operators.CorpusPipeline.curateCorpus(
          docs.filter(col("source") =!= "src0"), bench, "doc_id", "text")
        .groupBy("split", "contaminated")
        .agg(count(lit(1)).as("n"), min("doc_id").as("min_id"))
        .orderBy("split", "contaminated")
    }),

    // ── §2.10 stateful streaming dedup (flatMapGroupsWithState): stream
    //    the documents table, keep first arrival per content fingerprint;
    //    oracle = batch min-id per normalised content ──
    "q60_stream_dedup" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val batchSchema = s.read.parquet(s"$dir/documents.parquet").schema
      val stream = s.readStream.schema(batchSchema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(dir)
      val deduped = graft.streaming.IncrementalIngest
        .dedupStreamByContent(stream, "doc_id", "text")
      withStatePartitions(s, 8) {
        val q = deduped.writeStream.outputMode("append")
          .format("memory").queryName("q60_out")
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      s.table("q60_out").select(col("id")).orderBy("id")
    }),

    // ── Inverted index build: term → df + sorted posting list, df-capped
    //    (stopword cutoff doubles as the skew bound on the term shuffle) ──
    "q92_inverted_index" -> ((s, dir) => {
      graft.operators.TextSearch
        .invertedIndex(t(s, dir, "documents"), "doc_id", "text", 400L)
        .select(col("term"), col("df"),
          array_join(transform(col("docs"), _.cast("string")), ",")
            .as("postings"))
        .orderBy("term")
    }),

    // ── Corpus drift: smoothed KL(source ‖ rest) over unigram LMs — the
    //    mixture-rebalancing / contamination-triage signal ──
    "q93_kl_drift" -> ((s, dir) => {
      graft.operators.CorpusStats
        .klDrift(t(s, dir, "documents"), "text", "source")
        .orderBy("slice")
    }),

    // ── Vocabulary coverage / OOV rate per source for a top-k vocab ──
    "q94_vocab_coverage" -> ((s, dir) => {
      graft.operators.CorpusStats
        .vocabCoverage(t(s, dir, "documents"), "text", "source", 20)
        .orderBy("slice")
    }),

    // ── PageRank over the part↔supplier co-occurrence graph (symmetrised,
    //    5 synchronous rounds) — link-quality weighting at corpus scale ──
    "q95_pagerank" -> ((s, dir) => {
      val edges = t(s, dir, "lineitem").select(
        col("l_partkey").as("src"),
        (col("l_suppkey") + 1000000L).as("dst"))
      graft.operators.Graphs
        .pageRank(graft.operators.Graphs.symmetrize(edges), iters = 5)
        .select(col("node"), round(col("rank"), 8).as("rank"))
        .orderBy("node")
    }),

    // ── Degree-oriented triangle counting (per-node participation) ──
    "q96_triangles" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(col("o_custkey").as("u"),
        (col("o_orderkey") % 1499 + 1).as("v"))
      val canon = o.filter(col("u") =!= col("v"))
        .select(least(col("u"), col("v")).as("a"),
          greatest(col("u"), col("v")).as("b"))
        .distinct()
      graft.operators.Graphs.triangleCounts(canon).orderBy("node")
    }),

    // ── BPE tokenizer training: first 12 merges off the distributed
    //    word-frequency table (corpus touched once; spec-checked against
    //    the published toy example) ──
    "q97_bpe_merges" -> ((s, dir) => {
      import s.implicits._
      val wc = graft.operators.Bpe
        .wordCounts(t(s, dir, "documents"), "text")
      graft.operators.Bpe.train(wc, 12).toDF()
        .select(col("rank"), col("left"), col("right")).orderBy("rank")
    }),

    // ── Robust (median/MAD) outlier screen — the heavy-tail-proof
    //    counterpart of q87's z-score ──
    "q98_mad_outliers" -> ((s, dir) => {
      graft.operators.Outliers.madOutliers(
          t(s, dir, "events"), "event_type", "value", 3.0)
        .select(col("event_id"), col("event_type"), col("value"),
          col("robust_z"))
        .orderBy("event_id")
    }),

    // ── Hybrid retrieval: reciprocal-rank fusion of a BM25 lexical
    //    ranking and a dense cosine ranking over the aligned id space ──
    "q99_rrf_fusion" -> ((s, dir) => {
      val bm25 = graft.operators.TextSearch
        .bm25Scores(t(s, dir, "documents"), "doc_id", "text",
          Seq("spark", "query", "vector"))
        .select(col("doc_id").as("id"), col("bm25").as("score"))
      val emb = t(s, dir, "embeddings")
      val qv = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("qv"))
      val dense = emb.filter(col("vec_id") >= 1).crossJoin(broadcast(qv))
        .select(col("vec_id").as("id"),
          round(graft.plans.GraftFunctions
            .cosine_sim(col("embedding"), col("qv")), 4).as("score"))
      graft.operators.TextSearch
        .rrfFusion(Seq("bm25" -> bm25, "dense" -> dense), "id", "score")
        .orderBy(col("rrf").desc, col("id")).limit(30)
    }),

    // ── End-to-end tokenizer: corpus token statistics under the q97
    //    trained merges (train off the word table, encode map-only) ──
    "q100_bpe_encode" -> ((s, dir) => {
      val wc = graft.operators.Bpe
        .wordCounts(t(s, dir, "documents"), "text")
      val merges = graft.operators.Bpe.train(wc, 12)
      graft.operators.Bpe.encodeVocab(wc, merges)
        .select(explode(col("tokens")).as("token"), col("cnt"))
        .groupBy("token").agg(sum("cnt").as("total"))
        .orderBy(col("total").desc, col("token")).limit(40)
    }),

    // ── Exact heavy hitters: Misra–Gries candidate sketch (typed
    //    Aggregator, partial-agg combinable) + exact verify pass ──
    "q101_heavy_hitters" -> ((s, dir) => {
      val words = t(s, dir, "documents")
        .select(explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
        .filter(length(col("w")) > 0)
      graft.operators.Frequency.heavyHitters(words, "w", 30)
        .orderBy("item")
    }),

    // ── URL parsing battery over deterministically derived URLs (host /
    //    path-id / query-param extraction, per-host rollup) ──
    "q102_url_parse" -> ((s, dir) => {
      val urls = t(s, dir, "documents").select(concat(
        lit("https://"), col("source"), lit(".example.org/d/"),
        col("doc_id"), lit("?lang="), col("lang")).as("url"))
      urls.select(
          regexp_extract(col("url"), "https://([^/]+)/", 1).as("host"),
          regexp_extract(col("url"), "[?&]lang=([a-z]+)", 1).as("lang"),
          regexp_extract(col("url"), "/d/([0-9]+)", 1).cast("long")
            .as("path_id"))
        .groupBy("host", "lang")
        .agg(count(lit(1)).as("n"), min("path_id").as("min_id"),
          max("path_id").as("max_id"))
        .orderBy("host", "lang")
    }),

    // ── §2.10 stream-static enrichment: streamed events broadcast-joined
    //    to the static customer dim, windowed segment counts ──
    "q103_stream_static_join" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val batchSchema = s.read.parquet(s"$dir/events.parquet").schema
      val stream = s.readStream.schema(batchSchema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir)
        .transform(Tables.normalizeTs)
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      val joined = stream
        .withColumn("c_custkey", col("user_id") % 1500 + 1)
        .join(broadcast(cust), "c_custkey")
        .groupBy(window(col("ts"), "6 hours").as("w"),
          col("c_mktsegment"))
        .agg(count(lit(1)).as("n"))
      withStatePartitions(s, 8) {
        val q = joined.writeStream.outputMode("complete")
          .format("memory").queryName("q103_out")
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      s.table("q103_out")
        .select(col("w.start").as("bucket"), col("c_mktsegment"), col("n"))
        .orderBy("bucket", "c_mktsegment")
    }),

    // ── Equi-width histogram per group (fixed bounds → one aggregate,
    //    no two-pass min/max dependency) ──
    "q104_histogram" -> ((s, dir) => {
      t(s, dir, "orders")
        .select(col("o_orderstatus"),
          least(floor(col("o_totalprice") / 25000.0), lit(19))
            .cast("long").as("bucket"))
        .groupBy("o_orderstatus", "bucket")
        .agg(count(lit(1)).as("n"))
        .orderBy("o_orderstatus", "bucket")
    }),

    // ── Equi-depth buckets the scale-safe way: exact quantile BOUNDARIES
    //    from one aggregate, broadcast back for a map-only assignment —
    //    never a global ntile sort ──
    "q105_equidepth" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val cuts = (1 to 7).map(_ / 8.0)
      val b = o.agg(percentile(col("o_totalprice"),
        array(cuts.map(lit): _*)).as("bs"))
      val bucket = cuts.indices
        .map(i => when(col("o_totalprice") > element_at(col("bs"), i + 1),
          1).otherwise(0))
        .reduce(_ + _) + lit(1)
      o.crossJoin(broadcast(b))
        .select(col("o_totalprice"), bucket.cast("long").as("bucket"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          round(min("o_totalprice"), 2).as("lo"),
          round(max("o_totalprice"), 2).as("hi"))
        .orderBy("bucket")
    }),

    // ── Codegen'd Jaro–Winkler scored against DuckDB's built-in: blocked
    //    per-nation name-pair counts ──
    // cost-chosen high-threshold JW pairs (round 9): small blocks keep
    // the plain scan; large uniform-length blocks take the LOSSLESS
    // sorted-character deletion-variant candidates (JW ≥ 0.96 on
    // equal-length strings forces ≥ L−1 shared character occurrences —
    // derivation in RecordLinkage.jaroWinklerPairs). Row-identical
    // either way (spec-pinned), all-pairs oracle unchanged
    "q106_jaro_winkler" -> ((s, dir) => {
      graft.operators.RecordLinkage.jaroWinklerPairs(
          t(s, dir, "customer"), "c_custkey", "c_name", threshold = 0.96,
          blockCols = Seq("c_nationkey"))
        .groupBy(col("c_nationkey").as("nationkey"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("nationkey")
    }),

    // ── Cumulative-distinct growth curve: first-seen per user → daily new
    //    users → running total (day-indexed result, window over ~days) ──
    "q107_cumulative_users" -> ((s, dir) => {
      val firstSeen = t(s, dir, "events")
        .select(col("user_id"),
          floor(unix_timestamp(col("ts")) / 86400L).as("day"))
        .groupBy("user_id").agg(min("day").as("day"))
      val daily = firstSeen.groupBy("day")
        .agg(count(lit(1)).as("new_users"))
      daily.select(col("day"), col("new_users"),
          sum("new_users").over(
            Window.orderBy("day")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .as("cum_users"))
        .orderBy("day")
    }),

    // ── Entity resolution end-to-end: block by nation → Jaro–Winkler
    //    candidate scoring → connected-components clustering ──
    "q108_entity_resolution" -> ((s, dir) => {
      // at 0.98 the lossless candidate rule degenerates to sorted-
      // character EQUALITY (δ = 0) — see q106's chooser note
      val pairs = graft.operators.RecordLinkage.jaroWinklerPairs(
          t(s, dir, "customer"), "c_custkey", "c_name", threshold = 0.98,
          blockCols = Seq("c_nationkey"))
        .select("id_a", "id_b")
      Components.connectedComponents(pairs, "id_a", "id_b")
        .groupBy(col("component").as("cluster"))
        .agg(count(lit(1)).as("n_members"))
        .orderBy("cluster")
    }),

    // ── Custom physical operator (logical node + strategy + partial/final
    //    SparkPlan pair): top-k per group with map-side heap pruning —
    //    the shuffle carries ≤ k rows per (group, partition), vs the
    //    window form shuffling and fully sorting every row ──
    "q109_topk_operator" -> ((s, dir) => {
      graft.plans.TopKOps.topKPerGroup(
          t(s, dir, "orders")
            .select("o_orderpriority", "o_orderkey", "o_totalprice"),
          Seq(col("o_orderpriority")),
          Seq(col("o_totalprice").desc, col("o_orderkey").asc), 5)
        .orderBy(col("o_orderpriority"), col("o_totalprice").desc,
          col("o_orderkey"))
    }),

    // ── paragraph-level exact dedup with document reassembly (the
    //    MassiveText boilerplate cut): pages of 5 docs, every 7th doc's
    //    text replaced by a shared boilerplate paragraph so real
    //    cross-page duplication exists; keep the globally-first occurrence
    //    of each paragraph, stitch pages back, compare md5 of the result ──
    "q110_paragraph_dedup" -> ((s, dir) => {
      val para = when(col("doc_id") % 7 === 0,
        lit("standard legal disclaimer boilerplate")).otherwise(col("text"))
      val pages = t(s, dir, "documents")
        .select(floor(col("doc_id") / 5).cast("long").as("page_id"),
          col("doc_id"), para.as("para"))
        .groupBy("page_id")
        .agg(array_join(transform(array_sort(collect_list(
            struct(col("doc_id"), col("para")))), x => x.getField("para")),
          "\n\n").as("text"))
      Curation.dedupParagraphs(pages, "page_id", "text")
        .select(col("page_id"), col("n_paras_in"), col("n_paras_kept"),
          md5(col("text")).as("text_md5"))
        .orderBy("page_id")
    }),

    // ── Bloom-prefiltered decontamination: mergeable bitset Aggregator
    //    over benchmark gram hashes, map-only probe pass, exact semi-join
    //    verify over survivors — row-identical to plain decontaminate ──
    "q111_bloom_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val bench = docs.filter(col("source") === "src1")
      Curation.decontaminateBloom(docs.filter(col("source") =!= "src1"),
          bench, "doc_id", "text", n = 6)
        .filter(col("contaminated"))
        .select("doc_id")
        .orderBy("doc_id")
    }),

    // ── temperature-based mixture sampling (p ∝ count^α): deterministic
    //    content-addressed down-sample to α = 0.5 shares over languages ──
    "q112_temperature_mix" -> ((s, dir) => {
      Curation.temperatureSample(t(s, dir, "documents"), "doc_id", "lang",
          "tmix", alpha = 0.5)
        .groupBy("lang").agg(count(lit(1)).as("n"))
        .orderBy("lang")
    }),

    // ── Aho–Corasick blocklist scan: one automaton pass per document,
    //    O(len + matches) regardless of pattern count; matched-pattern
    //    set must equal the per-pattern contains() battery ──
    "q113_blocklist" -> ((s, dir) => {
      val pats = Seq("slow fast", "hash join", "merge batch", "scan scan",
        "value part hash", "key agg row")
      val ac = graft.functions.AhoCorasick(pats)
      val matched = udf((text: String) => ac.matchedPatterns(text))
      t(s, dir, "documents")
        .select(col("doc_id"), matched(col("text")).as("hits"))
        .filter(size(col("hits")) > 0)
        .select(col("doc_id"), size(col("hits")).cast("long").as("n_pats"),
          array_join(col("hits"), "|").as("hits"))
        .orderBy("doc_id")
    }),

    // ── KMV (bottom-k distinct) sketch per source over word-3-gram md5s:
    //    exact bottom-64 is itself SQL-expressible, so the sketch AND the
    //    estimators derived from it (distinct count, Jaccard vs src0 from
    //    the merged sketch) hash-check against DuckDB ──
    "q114_kmv_sketch" -> ((s, dir) => {
      val bk = udaf(new graft.functions.BottomKAgg(64))
      // persist: the sketch table (one k-string row per source) feeds both
      // the src0 baseline and the main scan — without it the whole gram
      // explode + aggregate pipeline runs twice
      val sk = t(s, dir, "documents")
        .select(col("source"),
          split(lower(trim(col("text"))), "\\s+").as("_toks"))
        .select(col("source"),
          explode(TF.wordNgramsOfTokens(col("_toks"), 3,
            distinctGrams = true)).as("gram"))
        .groupBy("source").agg(bk(md5(col("gram"))).as("sk"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val base = sk.filter(col("source") === "src0")
        .select(col("sk").as("sk0"))
      // stage `u` in its own projection: HOFs are interpreted with no CSE,
      // and an alias referenced twice below must stay materialised
      sk.crossJoin(broadcast(base))
        .select(col("source"), col("sk"), col("sk0"),
          slice(array_sort(array_union(col("sk"), col("sk0"))), 1, 64)
            .as("u"))
        .select(col("source"),
          size(col("sk")).cast("long").as("k_used"),
          round(lit(4294967296.0) * (size(col("sk")) - 1).cast("double") /
            conv(substring(element_at(col("sk"), -1), 1, 8), 16, 10)
              .cast("double"), 4).as("est_distinct"),
          round(size(filter(col("u"), h =>
              array_contains(col("sk"), h) && array_contains(col("sk0"), h)))
              .cast("double") / size(col("u")).cast("double"), 4)
            .as("jac_vs_src0"))
        .orderBy("source")
    }),

    // ── exact-substring span dedup (Lee et al. window form): every
    //    8-token window seen earlier in the corpus is cut from later
    //    documents; overlapping cuts merge as a position-set union ──
    "q115_substring_dedup" -> ((s, dir) => {
      Curation.dedupExactSubstrings(t(s, dir, "documents"),
          "doc_id", "text", windowTokens = 8)
        .select(col("doc_id"), md5(col("text")).as("text_md5"),
          col("n_tokens_in"), col("n_tokens_kept"))
        .orderBy("doc_id")
    }),

    // ── streaming heavy hitters: Misra-Gries summaries maintained
    //    incrementally per micro-batch (foreachBatch merge, driver state
    //    = one ≤k-entry summary), exact verify over the static table ──
    "q116_stream_heavy_hitters" -> ((s, dir) => {
      val batchSchema = s.read.parquet(s"$dir/documents.parquet").schema
      val stream = s.readStream.schema(batchSchema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(dir)
        .select(explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
      val static = t(s, dir, "documents")
        .select(explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
      withStatePartitions(s, 8) {
        graft.streaming.StreamingSketches
          .heavyHittersStream(stream, static, "w", 60, "q116_mg")
          .orderBy("item")
      }
    }),

    // ── Multimodal audio: REAL RIFF/WAV payloads per record, parsed and
    //    feature-extracted (duration/RMS/ZCR/peak) map-only; decimated
    //    clips re-encode at the reduced rate (rows-only: byte-level codec
    //    work is not SQL-expressible) ──
    "q117_audio_features" -> ((s, dir) => {
      import graft.multimodal.Multimodal
      // Hash-gated (round 11) via a planted square wave: rms = A/32768
      // exactly (Σv² = n·A², integer-exact in double), zcr =
      // ⌊(n−1)/HP⌋/n, duration = n/8000 — WAV encode→parse→feature
      // arithmetic gated end-to-end, plus the decimate-by-2 byte length
      val withAudio = Multimodal.withPlantedToneColumn(
        t(s, dir, "documents").select("doc_id"), "doc_id")
      withAudio
        .withColumn("features", Multimodal.decodedAudioFeatures(col("audio")))
        .withColumn("half", Multimodal.decodedDecimate(col("audio"), 2))
        .select(col("doc_id"),
          col("audioMeta.sampleRate").as("rate"),
          element_at(col("features"), 1).as("duration_s"),
          element_at(col("features"), 2).as("rms"),
          element_at(col("features"), 3).as("zcr"),
          length(col("half")).cast("long").as("half_bytes"))
        .orderBy("doc_id")
    }),

    // ── per-group weighted sampling (A-ES keys) THROUGH the custom
    //    TopKPerGroup physical operator: map-side heaps bound the shuffle
    //    to k rows per (group, partition) — composition of the sampling
    //    math with the whole-operator tier ──
    "q118_group_weighted_sample" -> ((s, dir) => {
      val u = (conv(substring(md5(concat(col("c_custkey").cast("string"),
        lit(":gws"))), 1, 8), 16, 10).cast("double") + lit(1.0)) /
        lit(4294967296.0)
      val keyed = t(s, dir, "customer")
        .select(col("c_nationkey"), col("c_custkey"),
          pow(u, lit(1.0) / (col("c_acctbal") + lit(1000.0))).as("es_key"))
      graft.plans.TopKOps.topKPerGroup(keyed, Seq(col("c_nationkey")),
          Seq(col("es_key").desc, col("c_custkey").asc), 4)
        .select(col("c_nationkey").as("nation"),
          col("c_custkey").as("cust"),
          round(col("es_key"), 6).as("es_key"))
        .orderBy("nation", "cust")
    }),

    // ── DwC-A round trip: export sink (S19: quoted CSV + meta.xml + zip)
    //    → DataSource V2 connector read → facet; the oracle computes the
    //    same facet straight from the source table, so the whole
    //    export/parse/prune path is hash-gated ──
    "q119_dwca_roundtrip" -> ((s, dir) => {
      val src = t(s, dir, "nation").select(
        col("n_nationkey").cast("string").as("rowKey"),
        col("n_name").as("scientificName"),
        col("n_regionkey").cast("string").as("locality"))
      // fixed per-JVM path, overwritten each invocation — bench runs every
      // query three times and must not litter a temp tree per run
      val zipDir = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_q119")
      zipDir.mkdirs()
      val zip = new java.io.File(zipDir, "dr119.zip").getAbsolutePath
      graft.sources.DwcaExport.`export`(src, "dr119", "roundtrip", zip)
      s.read.format("dwca").load(zip)
        .groupBy(col("locality"))
        .agg(count(lit(1)).as("n"), min(col("scientificName")).as("first_name"))
        .orderBy("locality")
    }),

    // ── blocked sorted-neighborhood ER: rank-window candidate pairs
    //    (O(block·w), not O(block²)) scored with the codegen'd
    //    jaro_winkler — complements q108's exact-key blocking ──
    "q120_sorted_neighborhood" -> ((s, dir) => {
      val pairs = graft.operators.ScaleJoins.sortedNeighborhoodPairs(
        t(s, dir, "customer").select(col("c_nationkey").as("nk"),
          col("c_name").as("name"), col("c_custkey").as("id")),
        "nk", "name", "id", windowSize = 3)
      pairs
        .groupBy(col("nk").as("nation"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(round(graft.plans.GraftFunctions
              .jaro_winkler(col("name_a"), col("name_b")), 6) >= 0.9, 1L)
            .otherwise(0L)).as("n_strong"))
        .orderBy("nation")
    }),

    // ── the reference's WHOLE core loop as one incremental flow:
    //    readStream → enrichment pipeline (narrow + broadcast only, so it
    //    runs unchanged under Structured Streaming) → index projection →
    //    facet; batch-SQL oracle proves stream ≡ batch end to end ──
    "q121_stream_enrich_index" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val batchSchema = s.read.parquet(s"$dir/orders.parquet").schema
      val stream = s.readStream.schema(batchSchema)
        .option("pathGlobFilter", "orders.parquet").parquet(dir)
      val pseudo = stream.select(
        col("o_orderkey").cast("string").as("rowKey"),
        col("o_orderkey").cast("string").as("occurrenceID"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("eventDate"),
        (col("o_orderkey") % 170 - 85).cast("string").as("decimalLatitude"),
        (col("o_orderkey") % 356 - 178).cast("string").as("decimalLongitude"),
        lit("specimen").as("basisOfRecord"))
      // fan the single-file micro-batch out before the per-row-heavy
      // enrich stages (streams bypass the batch fan-out; counts are
      // partition-independent so the complete-mode agg is unchanged)
      val projected = graft.index.IndexSupport.project(
        graft.processors.Processors.enrich(
          pseudo.repartition(s.sparkContext.defaultParallelism)))
      val agg = projected
        .groupBy(col("year").cast("long").as("yr"),
          col("basis_of_record").as("bor"))
        .agg(count(lit(1)).as("n"))
      withStatePartitions(s, 8) {
        val q = agg.writeStream.outputMode("complete")
          .format("memory").queryName("q121_out")
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      s.table("q121_out").orderBy("yr", "bor")
    }),

    // ── always-on duplication detection: drain the candidate stream,
    //    incremental splice per micro-batch (stream ≡ batch spec-proved;
    //    rows-only — the greedy cluster kernel has no SQL restatement) ──
    "q130_stream_incr_dedup" -> ((s, dir) => {
      val batchSchema = s.read.parquet(s"$dir/orders.parquet").schema
      val stream = s.readStream.schema(batchSchema)
        .option("pathGlobFilter", "orders.parquet").parquet(dir)
      val k = col("o_orderkey")
      val cands = stream.filter(k % 5 === 0).select(
        k.cast("string").as("rowKey"),
        concat(lit("t"), (k % 25).cast("string")).as("taxonGuid"),
        lit("2001").as("year"), lit("07").as("month"),
        ((k % 28) + 1).cast("string").as("day"),
        concat(lit("-35."), (k % 10).cast("string")).as("lat"),
        concat(lit("149."), (k % 10).cast("string")).as("lon"),
        lit(null).cast("string").as("collector"),
        lit(null).cast("string").as("recordNumber"),
        lit(null).cast("string").as("catalogueNumber"),
        concat(lit("dr"), (k % 3).cast("string")).as("druid"))
      val (_, dups) = graft.streaming.IncrementalIngest
        .duplicatesStream(s, cands)
      dups.groupBy("taxonGuid", "status")
        .agg(count(lit(1)).as("n"))
        .orderBy("taxonGuid", "status")
    }),

    // ── geohash spatial facet via the codegen'd expression; the oracle
    //    restates quantise → bit-spread interleave → base32 as integer
    //    algebra, so the hash gate covers the bit layout exactly ──
    "q131_geohash_facet" -> ((s, dir) => {
      val k = col("o_orderkey")
      t(s, dir, "orders")
        .select(graft.plans.GraftFunctions.geohash(
          (k % 120 - 60).cast("double") + lit(0.5),
          (k % 240 - 120).cast("double") + lit(0.25), lit(6)).as("gh"))
        .groupBy("gh").agg(count(lit(1)).as("n"))
        .orderBy("gh")
    }),

    // ── raster (el*) layer sampling: floor-quantised cell key + one
    //    equi-join picks up every layer's value at the point's cell ──
    "q132_raster_sample" -> ((s, dir) => {
      val k = col("o_orderkey")
      val pts = t(s, dir, "orders").select(
        ((k % 120 - 60).cast("double") + lit(0.5)).as("lat"),
        ((k % 240 - 120).cast("double") + lit(0.25)).as("lon"))
      val p = col("p_partkey")
      val ras = t(s, dir, "part").select(
          concat(lit("el"), (p % 2 + 1).cast("string")).as("layer"),
          (p % 48 - 24).cast("long").as("ix"),
          (p % 24 - 12).cast("long").as("iy")).distinct()
        .withColumn("value", (col("ix") * 7 + col("iy") * 3).cast("double"))
      graft.operators.Sampling.sampleRasters(pts, ras, 0.0, 0.0, 5.0)
        .groupBy("layer")
        .agg(count(lit(1)).as("n_samples"),
          round(sum("value"), 2).as("value_sum"),
          round(sum("lat"), 2).as("lat_sum"))
        .orderBy("layer")
    }),

    // ── small-file compaction planning: distributed cumsum binning at a
    //    byte target — one window over the file LISTING, never the data ──
    "q133_compaction_plan" -> ((s, dir) => {
      val files = t(s, dir, "lineitem").select(
        col("l_returnflag").as("pt"),
        concat(col("l_orderkey").cast("string"), lit("-"),
          col("l_linenumber").cast("string")).as("path"),
        (col("l_quantity").cast("long") * 1048576L).as("bytes"))
      graft.operators.Maintenance
        .compactionPlan(files, "pt", "path", "bytes",
          targetBytes = 512L * 1048576L)
        .groupBy("partition", "bin")
        .agg(count(lit(1)).as("n_files"), sum("size_bytes").as("bytes"))
        .orderBy("partition", "bin")
    }),

    // ── leakage-safe splitting: near-dup clusters assigned to ONE split
    //    side (cluster-keyed content-addressed hash), so eval never holds
    //    a near-copy of a training doc ──
    "q135_leakage_safe_split" -> ((s, dir) =>
      graft.operators.Curation.leakageSafeSplit(
          t(s, dir, "documents"), "doc_id", "text", n = 16,
          threshold = 0.5, salt = "ls1",
          fractions = Seq("test" -> 0.1, "val" -> 0.1))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          count_distinct(col("cluster")).as("n_clusters"))
        .orderBy("split")),

    // ── markup-structure profile per source: the boilerplate signals a
    //    web-corpus quality filter reads, map-only then one facet ──
    "q134_markup_stats" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("source"), TF.markupStats(col("text")).as("m"))
        .groupBy("source")
        .agg(count(lit(1)).as("docs"),
          sum(col("m.md_headings")).as("md_headings"),
          sum(col("m.md_links")).as("md_links"),
          sum(col("m.code_fence_marks")).as("code_fence_marks"),
          sum(col("m.html_tags")).as("html_tags"),
          sum(col("m.urls")).as("urls"))
        .orderBy("source")),

    // ── per-document character entropy (bits/char): the C4/Gopher-family
    //    quality signal for repeated-char boilerplate (low H) and encoded
    //    blobs (high H). Codegen'd map-only Expression — the explode→
    //    groupBy restatement would shuffle one row per character ──
    "q136_char_entropy" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          round(graft.plans.GraftFunctions.char_entropy(col("text")), 6)
            .as("h_bits"))
        .orderBy("doc_id")
    }),

    // ── deterministic Poisson bootstrap: per-replicate Poisson(1) weights
    //    from content-addressed uniforms — distributed CI estimation with
    //    no RNG state; every replicate statistic hash-checks in DuckDB ──
    "q122_poisson_bootstrap" -> ((s, dir) => {
      graft.operators.Profiling.poissonBootstrap(
          t(s, dir, "documents"), "doc_id", "n_chars",
          replicates = 32, salt = "bs1")
        .orderBy("replicate")
    }),

    // ── deterministic permutation test: |mean_A − mean_B| vs 40
    //    content-addressed random relabelings — "did the metric actually
    //    move between two sources?" with a hash-checkable p-value ──
    "q123_permutation_test" -> ((s, dir) => {
      graft.operators.Profiling.permutationTest(
        t(s, dir, "documents"), "doc_id", "n_chars",
        "source", "src2", "src3", permutations = 40, salt = "pt1")
    }),

    // ── S22 Avro export sink → container read-back, hash-gated end to
    //    end like the q119 DwC-A loop: the facet over the round-tripped
    //    rows must equal the facet straight off the source table ──
    "q124_avro_roundtrip" -> ((s, dir) => {
      val src = t(s, dir, "customer").select(
        col("c_custkey").cast("string").as("rowKey"),
        col("c_mktsegment").as("segment"),
        col("c_acctbal"),
        array(col("c_name"), col("c_nationkey").cast("string"))
          .as("multivalue"))
      val outDir = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_q124").getAbsolutePath
      graft.sources.AvroExport.write(src, outDir)
      graft.sources.AvroExport.read(s, outDir)
        .select(col("segment"), col("c_acctbal"),
          element_at(col("multivalue"), 1).as("name"))
        .groupBy("segment")
        .agg(count(lit(1)).as("n"),
          round(sum(col("c_acctbal")), 2).as("bal_sum"),
          min(col("name")).as("first_name"))
        .orderBy("segment")
    }),

    // ── JSONL roundtrip (S-corpus sink/source): the LLM-corpus
    //    interchange format — one JSON object per document, written
    //    sharded, read back schema-explicit (no inference pre-scan),
    //    content-hash-checked against the source table ──
    "q138_jsonl_roundtrip" -> ((s, dir) => {
      val src = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"),
          col("n_chars"), col("text"))
      val outDir = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_q138").getAbsolutePath
      graft.sources.CorpusIO.writeJsonl(src, outDir)
      graft.sources.CorpusIO.readJsonl(s, outDir, src.schema)
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n"),
          sum(col("n_chars").cast("long")).as("chars"),
          min(md5(col("text"))).as("first_text_md5"))
        .orderBy("lang", "source")
    }),

    // ── ORC roundtrip (S22 sibling): columnar interchange toward
    //    Hive/Trino consumers, native vectorized reader ──
    "q137_orc_roundtrip" -> ((s, dir) => {
      val src = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_returnflag"),
          col("l_quantity"), col("l_extendedprice"))
      val outDir = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_q137").getAbsolutePath
      graft.sources.CorpusIO.writeOrc(src, outDir)
      graft.sources.CorpusIO.readOrc(s, outDir)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          round(sum("l_quantity"), 2).as("qty"),
          round(sum("l_extendedprice"), 2).as("price"))
        .orderBy("l_returnflag")
    }),

    // ── PMI collocations: adjacent-pair association scoring over the
    //    corpus (Church & Hanks) — the phrase-mining complement of q73's
    //    raw bigram counts ──
    "q125_pmi_collocations" -> ((s, dir) =>
      graft.operators.CorpusStats.pmiCollocations(
        t(s, dir, "documents"), "text", minCount = 5, topK = 20)),

    // ── Kneser–Ney bigram NLL (bits/bigram): sequence-level LM quality
    //    signal, self-trained on the corpus; counts algebra restated
    //    exactly in the DuckDB oracle ──
    "q140_kn_bigram_nll" -> ((s, dir) =>
      graft.operators.Curation.knBigramNll(
          t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    // ── quality-aware dedup resolution: near-dup clusters from the exact
    //    Jaccard pairs, survivor = longest doc per cluster (tie → min id),
    //    singletons kept — the production "keep the best page" policy ──
    "q143_keep_best" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        n = 16, threshold = 0.5)
      graft.operators.Curation.keepBestPerCluster(
          docs, "doc_id", "n_chars", pairs, "id_a", "id_b")
        .filter(col("n_members") >= 2) // report resolved clusters only
        .select(col("id"), col("cluster"),
          col("quality").cast("long").as("quality"), col("n_members"))
        .orderBy("cluster")
    }),

    // ── hashed-linear classifier inference (fasttext-shape): md5-prefix
    //    feature hashing → literal weight array → sigmoid, map-only;
    //    weights derive from a fixed integer formula so the oracle
    //    reproduces the exact scores ──
    "q142_classifier_score" -> ((s, dir) => {
      val weights = Array.tabulate(64)(b => ((b * 37) % 101 - 50) / 100.0)
      t(s, dir, "documents")
        .select(col("doc_id"),
          filter(split(lower(trim(col("text"))), "\\s+"),
            w => length(w) > 0).as("ws"))
        .select(col("doc_id"),
          round(graft.functions.TextFunctions.hashedLinearScore(
            col("ws"), weights, -0.1), 6).as("score"))
        .orderBy("doc_id")
    }),

    // ── CCNet-style boilerplate removal: the gate injects a per-source
    //    header/footer (df = 100% of the source) and a promo line on
    //    every 4th doc (df ≈ 25%, below the 50% threshold — must stay);
    //    reassembly is md5-checked line-exact ──
    "q141_boilerplate" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(
        col("doc_id"), col("source"),
        concat(lit("HEADER "), col("source"), lit("\n"), col("text"),
          when(col("doc_id") % 4 === 0,
            concat(lit("\nPROMO "), col("source"))).otherwise(lit("")),
          lit("\nCopyright "), col("source")).as("text"))
      graft.operators.Curation.removeBoilerplate(
          docs, "doc_id", "text", "source", minDocFrac = 0.5)
        .select(col("doc_id"), col("n_lines_kept"), col("n_lines_removed"),
          md5(col("text_clean")).as("clean_md5"))
        .orderBy("doc_id")
    }),

    // ── frequent co-occurring item pairs (A-priori L2 pass): distinct
    //    items per basket, unordered pair counts, support cut ──
    "q126_itemset_pairs" -> ((s, dir) =>
      graft.operators.Associations.coOccurrencePairs(
        t(s, dir, "lineitem"), "l_orderkey", "l_partkey",
        minSupport = 2, topK = 30)),

    // ── mutual information between two categorical columns from exact
    //    counts — the feature-dependence / label-leak screen ──
    "q127_mutual_info" -> ((s, dir) =>
      graft.operators.Associations.mutualInformation(
        t(s, dir, "orders"), "o_orderpriority", "o_orderstatus")),

    // ── stratified sampling: largest-remainder allocation (pure integer
    //    arithmetic — Σ allocations = k exactly) + content-addressed
    //    within-stratum draw ──
    "q128_stratified_sample" -> ((s, dir) =>
      graft.operators.Curation.stratifiedSample(
        t(s, dir, "customer"), "c_mktsegment", "c_custkey",
        k = 100, salt = "ss1")),

    // ── incremental duplication detection: yesterday's results spliced
    //    with a fresh recompute of only the taxa touched by today's
    //    arrivals (spec proves ≡ full recompute; rows-only here — the
    //    greedy cluster kernel has no SQL restatement) ──
    "q129_incremental_dedup" -> ((s, dir) => {
      val k = col("o_orderkey")
      // quarter of the table: the gate needs the code path + determinism,
      // not volume (the full-volume kernel is benched via q36/q51)
      val orders = t(s, dir, "orders").filter(k % 4 === 0)
      // Taxon cardinality grows WITH the record count (the reference's
      // real growth mode — more records means more taxa, per
      // tool/DuplicationDetection.scala:428-452 blocking — not deeper
      // blocks): a constant modulus made every block k× deeper at k×
      // scale, so the exact-duplicate kernel inspected ~k² within-block
      // pairs and the scale table measured the FIXTURE, not the operator
      // (SURVEY §9.4, q129's ×21 at 100×). The step rule holds per-taxon
      // depth near its sf0.1 value and leaves every sf ≤ 0.1 gate
      // unchanged at the historic 40 (count < 60000 ⇒ factor 1); day and
      // cell stay fixed — calendars and coordinate grids don't grow with
      // volume. The oracle replays the same rule from the same count.
      val nRecs = orders.count()
      val taxa = 40L * math.max(1L, math.floor(nRecs / 30000.0).toLong)
      def recsOf(df: DataFrame) = df.select(
        k.cast("string").as("rowKey"),
        concat(lit("t"), (k % taxa).cast("string")).as("taxonGuid"),
        lit("2000").as("year"), lit("06").as("month"),
        ((k % 28) + 1).cast("string").as("day"),
        concat(lit("-35."), (k % 10).cast("string")).as("lat"),
        concat(lit("149."), (k % 10).cast("string")).as("lon"),
        lit(null).cast("string").as("collector"),
        lit(null).cast("string").as("recordNumber"),
        lit(null).cast("string").as("catalogueNumber"),
        concat(lit("dr"), (k % 3).cast("string")).as("druid"))
      val prev = graft.operators.DuplicationDetection.findDuplicates(
        s, recsOf(orders.filter(k % 97 =!= 0)))
      val changed = orders.filter(k % 97 === 0)
        .select(k.cast("string").as("rowKey"))
      graft.operators.DuplicationDetection
        .findDuplicatesIncremental(s, recsOf(orders), changed, prev)
        .toDF()
        .select(col("rowKey"), col("taxonGuid"), col("clusterId"),
          col("status"), col("precision"))
        .orderBy("taxonGuid", "rowKey")
    }),

    // ── §2.8 assertion emission checked code-by-code against first
    //    principles (same controlled input as q46) ──
    "q47_enrich_assertions" -> ((s, dir) => {
      val pseudo = t(s, dir, "orders").select(
        col("o_orderkey").cast("string").as("occurrenceID"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("eventDate"),
        (col("o_orderkey") % 170 - 85).cast("string").as("decimalLatitude"),
        (col("o_orderkey") % 356 - 178).cast("string").as("decimalLongitude"),
        lit("specimen").as("basisOfRecord"))
      // count per assertion code WITHOUT explode: a Generate over the
      // UDF-struct-heavy enrichment projection leaves whole-stage codegen
      // and runs ~3× slower; one fused aggregate of array_contains sums is
      // equivalent (codes are unique per record by construction)
      val codes = graft.model.AssertionCodes.all.map(_.code)
      val counts = graft.processors.Processors.enrich(pseudo)
        .agg(codes.map(c => sum(when(array_contains(col("assertionCodes"),
          c), 1L).otherwise(0L)).as(s"c_$c")).head,
          codes.map(c => sum(when(array_contains(col("assertionCodes"),
            c), 1L).otherwise(0L)).as(s"c_$c")).tail: _*)
      counts.select(explode(map_from_arrays(
          array(codes.map(c => lit(c.toLong)): _*),
          array(codes.map(c => col(s"c_$c")): _*))).as(Seq("code", "n")))
        .filter(col("n") > 0)
        .orderBy("code")
    }),

    // ── top-3 TF-IDF terms per document: the keyword-signature /
    //    lexical-topic operator; per-doc window over a (doc, term)
    //    aggregate, df table broadcast ──
    "q144_tfidf_terms" -> ((s, dir) =>
      graft.operators.TextSearch.tfIdfTopTerms(
          t(s, dir, "documents").filter(col("doc_id") < 200),
          "doc_id", "text", topK = 3)
        .orderBy("doc", "rk")),

    // ── Zipf rank-frequency fit over the top-500 terms: corpus-health
    //    slope/intercept/R² from one vocabulary-sized aggregate ──
    "q145_zipf_fit" -> ((s, dir) =>
      graft.operators.CorpusStats.zipfFit(
        t(s, dir, "documents"), "text", topN = 500)),

    // ── sentence segmentation stats: count / mean words / max words per
    //    doc — readability + run-on-text signals, map-only ──
    "q146_sentence_stats" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.TextFunctions.sentences(col("text")).as("sents"))
        .select(col("doc_id"),
          graft.functions.TextFunctions
            .sentenceStatsOfSentences(col("sents")).as("st"))
        .select(col("doc_id"), col("st.n_sentences").as("n_sentences"),
          col("st.mean_words").as("mean_words"),
          col("st.max_words").as("max_words"))
        .orderBy("doc_id"))
,
    // ── count-min sketch: fixed-size frequency matrix via a mergeable
    //    Aggregator (buffer = depth·width longs per partition — the item
    //    table never materialises); content-addressed buckets make every
    //    cell hash-checkable, unusual for a sketch ──
    "q147_count_min" -> ((s, dir) =>
      graft.operators.Frequency.countMinSketch(
          t(s, dir, "lineitem"), "l_suppkey", depth = 4, width = 64)
        .orderBy("r", "b")),

    // ── Fellegi–Sunter probabilistic linkage: nation-blocked customer
    //    pairs, per-field log2 likelihood-ratio weights, decision counts
    //    — the statistical ER complement of q108's distance pipeline.
    //    Cost-chosen physical path (round 10): small blocks keep the
    //    exact pair scan, large blocks switch to the count-algebra
    //    pattern estimator (2^k hash aggregates, zero pairs) — identical
    //    rows either way, so the last by-design quadratic is gone ──
    "q148_fellegi_sunter" -> ((s, dir) => {
      val cust = t(s, dir, "customer").select(
        col("c_custkey").as("id"), col("c_nationkey").as("blk"),
        col("c_mktsegment").as("segment"),
        // pseudo-field standing in for a phone area code: the integer
        // cents-free balance mod 100 (u ≈ 1/100 within a block)
        (abs(floor(col("c_acctbal"))).cast("long") % 100)
          .cast("string").as("area"),
        (col("c_acctbal") > 0).cast("string").as("bal_pos"))
      graft.operators.RecordLinkage.fellegiSunterDecisionStats(cust, "id",
        "blk", Seq(FsSegment, FsArea, FsBalPos), tUpper = 6.0,
        tLower = 0.0)
    }),

    // ── UNSUPERVISED Fellegi–Sunter m/u estimation (Winkler EM) over
    //    the count-algebra sufficient statistics: 2^k pattern counts
    //    (the same linear aggregates as q148's estimator) are all EM
    //    touches — model fitting without labels or materialized pairs.
    //    Fitted values are data-dependent; the audited contract is not:
    //    EM converged, the canonical match class dominates mean
    //    agreement, prevalence is a proper probability, log-likelihood
    //    is finite-negative (monotonicity is require()d inside EM) ──
    "q255_fs_em_estimation" -> ((s, dir) => {
      import s.implicits._
      val cust = t(s, dir, "customer").select(
        col("c_custkey").as("id"), col("c_nationkey").as("blk"),
        col("c_mktsegment").as("segment"),
        (abs(floor(col("c_acctbal"))).cast("long") % 100)
          .cast("string").as("area"),
        (col("c_acctbal") > 0).cast("string").as("bal_pos"))
      val n = cust.count()
      val fit = graft.operators.RecordLinkage.fellegiSunterEM(
        cust, "blk", Seq("segment", "area", "bal_pos"))
      Seq((n, fit.converged,
        fit.fields.map(_.m).sum >= fit.fields.map(_.u).sum,
        fit.p > 0.0 && fit.p < 1.0,
        fit.logLikelihood < 0.0 && !fit.logLikelihood.isNaN))
        .toDF("n_rows", "converged", "match_class_dominates",
          "p_in_range", "loglik_finite_neg")
    }),

    // ── image near-dup pairs by perceptual hash: REAL PNG decode →
    //    dHash → banded Hamming join. Oracle-gated since round 10: the
    //    generator plants exactly the even/odd near-dup pairs (shared
    //    raster, 2-px perturbation within Hamming 3; distinct seeds land
    //    far apart), so the DETECTED pair set must equal the planted
    //    closed form — any break in decode, dHash, banding, or verify
    //    changes the set and fails the hash gate ──
    "q149_image_phash_dedup" -> ((s, dir) => {
      val base = t(s, dir, "orders").filter(col("o_orderkey") <= 400)
        .select(col("o_orderkey").cast("long").as("img_id"))
      val imgs = graft.multimodal.Multimodal
        .withNearDupImageColumn(base, "img_id")
      graft.multimodal.Multimodal
        .imageNearDupPairs(imgs, "img_id", "image", maxHamming = 3)
        .select("id_a", "id_b")
        .orderBy("id_a", "id_b")
    }),

    // ── snapshot diff between corpus versions: added / removed /
    //    changed / unchanged by content hash — only ids + hashes
    //    shuffle, never payloads ──
    "q150_snapshot_diff" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val prev = docs.filter(col("doc_id") % 11 =!= 0)
      val cur = docs.filter(col("doc_id") % 17 =!= 0)
        .withColumn("text", when(col("doc_id") % 13 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      graft.operators.Maintenance.snapshotDiff(prev, cur, "doc_id", "text")
        .groupBy("status").agg(count(lit(1)).as("n"))
        .orderBy("status")
    }),

    // ── functional-dependency screens: violation rows = minimal repair
    //    size; distinct-pair-bounded aggregates only ──
    "q151_fd_check" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      graft.operators.Profiling.fdCheck(li, "l_orderkey", "l_returnflag")
        .withColumn("fd", lit("orderkey->returnflag"))
        .unionByName(graft.operators.Profiling
          .fdCheck(li, "l_partkey", "l_suppkey")
          .withColumn("fd", lit("partkey->suppkey")))
        .select("fd", "n_groups", "n_violating_groups", "violation_rows",
          "fd_holds")
        .orderBy("fd")
    }),

    // ── Benford first-digit profile of a measurement column: the
    //    fabricated-data / unit-mix screen; digit extraction is exact
    //    string algebra, one digit-count aggregate ──
    "q152_benford" -> ((s, dir) =>
      graft.operators.Profiling.benfordProfile(
        t(s, dir, "lineitem"), "l_extendedprice")),

    // ── pairwise Pearson correlations from ONE moment-aggregate pass:
    //    the feature-redundancy screen; d(d+3)/2 sums in a single scan ──
    "q153_corr_matrix" -> ((s, dir) =>
      graft.operators.Profiling.correlationMatrix(
          t(s, dir, "lineitem"),
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
        .orderBy("col_a", "col_b")),

    // ── two-sample Kolmogorov–Smirnov: distribution-shift screen
    //    between corpus slices (catches shape changes at equal means) ──
    "q154_ks_test" -> ((s, dir) =>
      graft.operators.Profiling.ksTest(
        t(s, dir, "documents"), "n_chars", "source", "src2", "src3")),

    // ── mojibake repair (codegen'd fix_mojibake expression): corrupt
    //    every doc through a latin-1 mis-decode, repair, and prove the
    //    round trip — the oracle predicts the outcome from ascii-ness
    //    alone (only non-ASCII text is damaged, and repair is exact) ──
    "q155_fix_mojibake" -> ((s, dir) => {
      t(s, dir, "documents")
        // every 3rd doc gets non-ASCII content (the synthetic corpus is
        // pure ASCII, which a legacy mis-decode cannot damage)
        .select(col("doc_id"),
          when(col("doc_id") % 3 === 0,
            concat(col("text"), lit(" — café, naïve ✓")))
            .otherwise(col("text")).as("text"))
        .select(col("doc_id"), col("text"),
          decode(encode(col("text"), "UTF-8"), "ISO-8859-1").as("garbled"))
        .select(
          (col("garbled") =!= col("text")).as("was_corrupted"),
          (graft.plans.GraftFunctions.fix_mojibake(col("garbled")) ===
            col("text")).as("repaired"))
        .groupBy("was_corrupted", "repaired")
        .agg(count(lit(1)).as("n"))
        .orderBy("was_corrupted", "repaired")
    }),

    // ── Unicode-script profile per source: the multilingual routing /
    //    mixed-script spam signal, map-only then one facet ──
    "q156_script_profile" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("source"),
          graft.functions.TextFunctions.scriptProfile(col("text")).as("p"))
        .groupBy("source")
        .agg(count(lit(1)).as("docs"),
          sum("p.latin").as("latin"), sum("p.digits").as("digits"),
          sum("p.cyrillic").as("cyrillic"), sum("p.arabic").as("arabic"),
          sum("p.han").as("han"), sum("p.hangul").as("hangul"),
          sum("p.kana").as("kana"))
        .orderBy("source")),

    // ── spatial distance self-join: all point pairs within 250 m via
    //    grid-cell bucketing (3×3 neighbourhood explode, never a cross
    //    join) + exact haversine verify on the rounded distance ──
    "q157_distance_join" -> ((s, dir) => {
      val m = (col("o_orderkey") / 16).cast("long")
      val pts = t(s, dir, "orders").filter(col("o_orderkey") % 16 === 0)
        .select(col("o_orderkey").cast("long").as("pid"),
          (lit(-35.0) + (m % 50).cast("double") * 0.001).as("lat"),
          (lit(149.0) + ((m / 50).cast("long") % 50).cast("double") * 0.001)
            .as("lon"))
      graft.operators.ScaleJoins
        .distanceSelfJoin(pts, "pid", "lat", "lon", maxMetres = 250.0)
        .orderBy("id_a", "id_b")
    }),

    // ── transformWithState (Spark 4 arbitrary-state v2): per-user
    //    lifetime stats via typed ValueState + MapState on the RocksDB
    //    store; final change-log state must equal the batch aggregate ──
    "q158_tws_lifetime" -> ((s, dir) => {
      import graft.streaming.StatefulLifetime
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val batchSchema = s.read.parquet(s"$dir/events.parquet").schema
      val stream = s.readStream.schema(batchSchema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir)
        .transform(Tables.normalizeTs)
        .select(col("user_id").cast("long").as("user_id"),
          col("event_type").cast("string").as("event_type"),
          col("value").cast("double").as("value"))
        .as[StatefulLifetime.UserEvent](
          org.apache.spark.sql.Encoders.product[StatefulLifetime.UserEvent])
      StatefulLifetime
        .finalTotals(StatefulLifetime.runLifetime(stream, "q158_out"))
        .orderBy("user_id")
    }),

    // ── chi-square independence + Cramér's V between two facets: the
    //    "are these dimensions related?" screen; only OBSERVED cells
    //    aggregate (Σ(o−e)²/e = n·Σo²/(ra·rb) − n) ──
    "q159_chi_square" -> ((s, dir) =>
      graft.operators.Profiling.chiSquareIndependence(
        t(s, dir, "orders"), "o_orderstatus", "o_orderpriority")),

    // ── Welch's unequal-variance t-test between corpus slices: the
    //    mean-shift screen pairing with the KS shape test (q154) ──
    "q160_welch_ttest" -> ((s, dir) =>
      graft.operators.Profiling.welchTTest(
        t(s, dir, "documents"), "n_chars", "source", "src2", "src3")),

    // ── per-group OLS trend: slope/intercept/r² of order value vs time
    //    per segment from ONE moment aggregate (closed form, no fits) ──
    "q161_group_ols" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val joined = o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment"),
          datediff(col("o_orderdate").cast("date"),
            lit("1995-06-01").cast("date")).as("x"),
          col("o_totalprice").as("y"))
      graft.operators.Profiling.groupOls(joined, "c_mktsegment", "x", "y")
        .withColumnRenamed("grp", "segment")
        .orderBy("segment")
    }),

    // ── corpus-mix inequality: Lorenz curve + Gini of per-source token
    //    mass — the "is 90% of the corpus one crawl?" dashboard row ──
    "q162_gini" -> ((s, dir) =>
      graft.operators.Profiling.giniReport(
          t(s, dir, "documents"), "source", sum(col("n_chars")))
        .orderBy("mass", "grp")),

    // ── MOSS winnowing fingerprints: guaranteed-coverage local document
    //    signatures (any shared substring ≥ k+w−1 chars shares a
    //    fingerprint); selection = w frame-shifted window minima over ONE
    //    per-doc sort ──
    "q163_winnow_fps" -> ((s, dir) =>
      graft.operators.TextSearch.winnowFingerprints(
          t(s, dir, "documents"), "doc_id", "text", k = 8, w = 4)
        .groupBy(col("doc").as("doc_id"))
        .agg(count(lit(1)).as("n_fps"))
        .orderBy("doc_id")),

    // ── cross-document winnowing matches: planted near-copies must meet
    //    their originals on shared fingerprints; df cutoff bounds the
    //    posting skew before the pair join ──
    "q164_winnow_pairs" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val clones = docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + lit(10000000L)).as("doc_id"),
          concat(lit("edited prefix "), col("text")).as("text"))
      val fps = graft.operators.TextSearch.winnowFingerprints(
        docs.unionByName(clones), "doc_id", "text", k = 8, w = 4)
      graft.operators.TextSearch
        .winnowSharedPairs(fps, minShared = 10L, maxDf = 8L)
        .orderBy("doc_a", "doc_b")
    }),

    // ── interval-overlap self-join as an equi-join on coverage buckets
    //    (first-shared-bucket dedup), never a range cross-product ──
    "q165_interval_join" -> ((s, dir) => {
      val iv = t(s, dir, "orders").filter(col("o_orderkey") % 50 === 0)
        .select(col("o_orderkey").cast("long").as("id"),
          datediff(col("o_orderdate").cast("date"),
            lit("1992-01-01").cast("date")).cast("long").as("s"))
        .withColumn("e", col("s") + col("id") % 13 + lit(1L))
      graft.operators.ScaleJoins
        .intervalOverlapJoin(iv, "id", "s", "e", bucketSize = 8L)
        .orderBy("id_a", "id_b")
    }),

    // ── k-anonymity / l-diversity audit over quasi-identifiers: the
    //    re-identification screen before a data release ──
    "q166_k_anonymity" -> ((s, dir) =>
      graft.operators.Profiling.kAnonymityAudit(
        t(s, dir, "customer").select(col("c_nationkey"),
          col("c_mktsegment"),
          (col("c_acctbal") >= 0).cast("string").as("bal_pos")),
        Seq("c_nationkey", "c_mktsegment"), "bal_pos", k = 10L)),

    // ── Flesch reading-ease per source: vowel-group syllable heuristic,
    //    RE2-safe patterns, map-only then one facet ──
    "q167_flesch" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("source"), TF.fleschStats(col("text")).as("f"))
        .groupBy("source")
        .agg(count(lit(1)).as("docs"),
          sum("f.words").as("words"),
          sum("f.syllables").as("syllables"),
          round(avg("f.flesch"), 4).as("avg_flesch"))
        .orderBy("source")),

    // ── Mann–Whitney U rank-sum between slices: nonparametric shift
    //    screen; ranks from the distinct-value table, never per row ──
    "q168_mann_whitney" -> ((s, dir) =>
      graft.operators.Profiling.mannWhitneyU(
        t(s, dir, "documents"), "n_chars", "source", "src2", "src3")),

    // ── Benjamini–Hochberg FDR over per-slice drift z-tests: which
    //    sources' means survive multiple-testing correction ──
    "q169_slice_fdr" -> ((s, dir) =>
      graft.operators.Profiling.sliceDriftFdr(
          t(s, dir, "documents"), "n_chars", "source", alpha = 0.05)
        .orderBy("rank")),

    // ── offline CUSUM changepoint per key over a daily series: where
    //    the cumulative deviation from the key mean peaks; daily sums
    //    are 6-dp-rounded so both engines cusum identical inputs ──
    "q170_cusum" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"),
          datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
            .cast("long").as("d"))
        .agg(round(sum("value"), 6).as("x"))
      graft.operators.Profiling.cusumChangepoint(daily, "event_type", "d", "x")
        .orderBy("key")
    }),

    // ── MERGE-style CDC apply: update / delete / insert changeset
    //    applied in ONE full-outer key join (Delta MERGE semantics) ──
    "q171_merge_apply" -> ((s, dir) => {
      val tgt = t(s, dir, "customer")
        .select("c_custkey", "c_acctbal", "c_mktsegment")
      val base = t(s, dir, "customer")
      val changes = base
        .filter(col("c_custkey") % 7 === 0 || col("c_custkey") % 11 === 0)
        .select(col("c_custkey"), (col("c_custkey") % 11 === 0).as("del"),
          when(col("c_custkey") % 11 === 0, col("c_acctbal"))
            .otherwise(col("c_acctbal") + 100).as("c_acctbal"),
          col("c_mktsegment"))
      val inserts = base.filter(col("c_custkey") % 13 === 0)
        .select((col("c_custkey") + 1000000L).as("c_custkey"),
          lit(false).as("del"),
          round(col("c_acctbal") * 2, 2).as("c_acctbal"),
          lit("NEW").as("c_mktsegment"))
      graft.operators.Maintenance
        .mergeApply(tgt, changes.unionByName(inserts), "c_custkey", "del")
        .select(col("c_custkey"), round(col("c_acctbal"), 2).as("c_acctbal"),
          col("c_mktsegment"))
        .orderBy("c_custkey")
    }),

    // ── incremental aggregate maintenance: signed changeset merged into
    //    the standing (key, cnt, sum) state ≡ full recompute — the
    //    oracle IS the recompute, proving the splice exact ──
    "q172_incremental_agg" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey").as("key"),
          col("l_quantity").as("v"))
      val base = li.filter(col("l_orderkey") % 10 =!= 0)
      val state = base.groupBy("key")
        .agg(count(lit(1)).as("cnt"), sum("v").as("sum"))
      val inserts = li.filter(col("l_orderkey") % 10 === 0)
        .select(col("key"), col("v"), lit(1L).as("op"))
      val deletes = base.filter(col("l_orderkey") % 7 === 3)
        .select(col("key"), col("v"), lit(-1L).as("op"))
      graft.operators.Maintenance
        .incrementalAggMerge(state, inserts.unionByName(deletes),
          "key", "v", "op")
        .select(col("key"), col("cnt"), round(col("sum"), 2).as("sum"))
        .orderBy("key")
    }),

    // ── multi-source BFS hop counts: frontier expansion, one join per
    //    round, anti-join keeps expansion O(edges touched) ──
    "q173_bfs_hops" -> ((s, dir) => {
      val base = t(s, dir, "lineitem").select(
        col("l_partkey").as("src"),
        (col("l_suppkey") + 1000000L).as("dst"))
      val edges = graft.operators.Graphs.symmetrize(base)
      val seeds = t(s, dir, "part").filter(col("p_partkey") < 10)
        .select(col("p_partkey").as("node"))
      graft.operators.Graphs.bfsHops(edges, seeds, maxHops = 3)
        .orderBy("node")
    }),

    // ── trainable text model: multinomial Naive Bayes — train on even
    //    doc_ids, score odd ones, emit the confusion matrix. The whole
    //    train→score loop is count algebra + ln, so the oracle replays
    //    TRAINING too, not just inference ──
    "q174_naive_bayes" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val train = docs.filter(col("doc_id") % 2 === 0)
      val test = docs.filter(col("doc_id") % 2 === 1)
      val (ll, priors) = graft.operators.TextModels.naiveBayesTrain(
        train, "text", "lang")
      graft.operators.TextModels.naiveBayesScore(test, "doc_id", "text", ll, priors)
        .join(test.select(col("doc_id").as("id"), col("lang")), Seq("id"))
        .groupBy(col("lang"), col("pred"))
        .agg(count(lit(1)).as("n"), round(avg("lp"), 4).as("avg_lp"))
        .orderBy("lang", "pred")
    }),

    // ── EWMA smoothing of daily event counts per type (closed-form
    //    weights — no sequential recurrence) ──
    "q175_ewma" -> ((s, dir) =>
      graft.operators.EventAnalytics.ewmaDailyCounts(
          t(s, dir, "events"), "event_type", "ts", alpha = 0.3)
        .withColumn("last_day", date_format(col("last_day"), "yyyy-MM-dd"))
        .orderBy("series")),

    // ── sequence mining: frequent consecutive event-type trigrams ──
    "q176_seq_trigrams" -> ((s, dir) =>
      graft.operators.EventAnalytics.eventTrigrams(
          t(s, dir, "events"), "user_id", "ts", "event_type", "event_id",
          minSupport = 10)
        .orderBy(col("n").desc, col("pattern"))),

    // ── md5-MinHash LSH dedup: the approximate path itself is
    //    hash-gated — signatures, band buckets, candidate pairs and the
    //    exact-Jaccard verify all replay bit-identically in the oracle ──
    "q177_minhash_portable" -> ((s, dir) =>
      graft.operators.Dedup.minhashLshPortable(
          t(s, dir, "documents"), "doc_id", "text",
          shingleWords = 3, numHashes = 12, rowsPerBand = 3, threshold = 0.5)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("id_a", "id_b")),

    // ── measured LSH quality: precision/recall of the banded candidates
    //    against exact ground truth, one oracle-checked row — the sketch's
    //    MISSES are part of the contract, not hidden behind "approximate" ──
    "q178_lsh_eval" -> ((s, dir) =>
      graft.operators.Dedup.lshEvalConfusion(
        t(s, dir, "documents"), "doc_id", "text",
        shingleWords = 3, numHashes = 12, rowsPerBand = 3, threshold = 0.5)),

    // ── audience overlap via mergeable bitset aggregation: pairwise
    //    |A∩B| / |A∪B| over event-type segments ──
    "q179_segment_overlap" -> ((s, dir) =>
      graft.operators.Overlap.segmentOverlap(
          t(s, dir, "events"), "event_type", "user_id")
        .orderBy("seg_a", "seg_b")),

    // ── last-touch attribution: each purchase credited to the latest
    //    click by the same user within 7 days, via one running struct-max
    //    window (no self-join) ──
    "q180_attribution" -> ((s, dir) =>
      graft.operators.EventAnalytics.lastTouchAttribution(
          t(s, dir, "events"), "user_id", "ts", "event_type", "event_id",
          touchType = "click", conversionType = "purchase",
          windowSeconds = 7L * 86400)
        .orderBy("conversion_id")),

    // ── optimizer statistics: join-cardinality estimate from md5-CMS
    //    inner products (one-sided overestimate), next to the exact join
    //    count it predicts — sketch contents AND estimate hash-gated ──
    "q181_join_estimate" -> ((s, dir) =>
      graft.operators.JoinStats.cmsJoinEstimate(
        t(s, dir, "lineitem"), col("l_partkey"),
        t(s, dir, "part"), col("p_partkey"),
        depth = 4, width = 256)),

    // ── native session windows in Structured Streaming: gap-merged
    //    sessions per user over the drained event stream; oracle restates
    //    the island algebra (new session when gap ≥ 6 h — session_window
    //    merges only strictly-overlapping [ts, ts+gap) intervals) ──
    "q182_stream_sessions" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val batchSchema = s.read.parquet(s"$dir/events.parquet").schema
      val stream = s.readStream.schema(batchSchema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir)
        .transform(Tables.normalizeTs)
      val agg = stream
        .groupBy(col("user_id"),
          session_window(col("ts"), "6 hours").as("w"))
        .agg(count(lit(1)).as("n_events"),
          round(sum("value"), 2).as("total_value"))
      withStatePartitions(s, 8) {
        val q = agg.writeStream.outputMode("complete")
          .format("memory").queryName("q182_out")
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      s.table("q182_out")
        .select(col("user_id"),
          unix_micros(col("w.start")).as("start_us"),
          unix_micros(col("w.end")).as("end_us"),
          col("n_events"), col("total_value"))
        .orderBy("user_id", "start_us")
    }),

    // ── range-partition planning (the terasort primitive): P−1 boundary
    //    keys from a deterministic md5 sample, every row assigned by
    //    boundary rank, per-partition counts + key ranges — the plan a
    //    1000-executor global sort would shuffle by ──
    "q183_range_partition" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_orderkey"),
        col("l_linenumber"), col("l_extendedprice").as("k"))
      val p = 8
      val sample = li.filter(
        substring(md5(concat(col("l_orderkey").cast("string"), lit(":"),
          col("l_linenumber").cast("string"), lit(":rp"))), 1, 8)
          < lit("05000000"))
      val w = Window.orderBy(col("k"), col("l_orderkey"), col("l_linenumber"))
      // equal-frequency buckets over the ranked sample; the boundary set is
      // the per-bucket max key of buckets 0..p−2 (the p−1 split points)
      val ranked = sample
        .withColumn("_rn", row_number().over(w))
        .withColumn("_n", count(lit(1)).over(Window.partitionBy(lit(1))))
      val bounds = ranked
        .withColumn("_bkt", floor((col("_rn") - 1) * p / col("_n")))
        .groupBy("_bkt").agg(max("k").as("bk"))
        .filter(col("_bkt") < p - 1)
        .agg(sort_array(collect_list("bk")).as("bnds"))
      li.crossJoin(bounds)
        .select(col("k"),
          size(filter(col("bnds"), b => b <= col("k"))).cast("long").as("pid"))
        .groupBy("pid")
        .agg(count(lit(1)).as("n_rows"),
          round(min("k"), 2).as("min_k"), round(max("k"), 2).as("max_k"))
        .orderBy("pid")
    }),

    // ── hard-negative mining: per query the top-k most-similar vectors
    //    of a DIFFERENT label — contrastive-training negatives from the
    //    same broadcast scan as brute-force ANN ──
    "q185_hard_negatives" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queriesDf = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"),
          col("label").as("query_label"))
      graft.operators.Similarity.hardNegatives(
          emb.filter(col("vec_id") >= 3), queriesDf, 5)
        .select(col("query_id"), col("rank"), col("vec_id"),
          round(col("cosine"), 4).as("cos_sim"))
        .orderBy("query_id", "rank")
    }),

    // ── embedding-space quality: centroid silhouette per label (the
    //    O(n·L) form — the O(n²) classic can't run at corpus scale) ──
    "q186_silhouette" -> ((s, dir) =>
      graft.operators.Similarity.centroidSilhouette(
          t(s, dir, "embeddings"), "vec_id", "embedding", "label")
        .orderBy("label")),

    // ── SCD2 point-in-time join: every line item priced against the
    //    order-priority version valid at its SHIP date — key-equality
    //    join with a residual interval filter (disjoint versions ⇒ no
    //    fan-out), composing the q84 history build ──
    "q187_pit_join" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val wded = Window.partitionBy("o_custkey", "o_orderdate")
        .orderBy("o_orderkey")
      val log = orders.withColumn("_rn", row_number().over(wded))
        .filter(col("_rn") === 1)
        .select(col("o_custkey").as("key"), col("o_orderdate").as("ts"),
          col("o_orderpriority").as("prio"))
      val dim = graft.operators.Scd.buildScd2(log, "key", "ts", Seq("prio"))
      val facts = t(s, dir, "lineitem")
        .join(orders.select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("key"), col("l_shipdate").as("fts"),
          col("l_quantity"))
      graft.operators.Scd.pointInTimeJoin(facts, dim, "key", "fts")
        .groupBy(coalesce(col("prio"), lit("NONE")).as("prio_at_ship"))
        .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("qty"))
        .orderBy("prio_at_ship")
    }),

    // ── acoustic fingerprinting (Haitsma–Kalker sign features, pure-JVM
    //    FFT): each clip vs its amplitude-scaled copy (must match) and
    //    vs the next clip (must not) — rows-only (no FFT in SQL);
    //    Round7Spec pins the DSP with closed-form tones ──
    "q188_audio_fingerprint" -> ((s, dir) => {
      import graft.multimodal.Multimodal
      // Hash-gated (round 11) on planted twin-pair tones: the Hann+FFT
      // Haitsma–Kalker path is fully real; the PLANTED structure pins
      // every output — n_words = ⌊(n−1024)/512⌋ (frame walk), ber vs the
      // exactly-halved re-master ≡ 0.0 (power-of-two scaling preserves
      // each band-energy-difference sign bitwise through the linear
      // FFT), and matched_next gates both robustness (even ids match
      // their 2×-amplitude twin) and discriminability (odd ids don't
      // match the next base wave)
      val docs = t(s, dir, "documents").select("doc_id")
        .filter(col("doc_id") < 24)
      val fps = Multimodal.withPlantedTonePairColumn(docs, "doc_id")
        .withColumn("fp", Multimodal.decodedFingerprint(col("audio")))
        .withColumn("fp_scaled", Multimodal.decodedFingerprint(
          Multimodal.scaledAudio(col("audio"), 1, 2)))
        .select(col("doc_id"), col("fp"), col("fp_scaled"))
      val next = fps.select((col("doc_id") - 1).as("doc_id"),
        col("fp").as("fp_next"))
      fps.join(next, Seq("doc_id"))
        .select(col("doc_id"), size(col("fp")).as("n_words"),
          Multimodal.fingerprintBer(col("fp"), col("fp_scaled"))
            .as("ber_scaled"),
          (Multimodal.fingerprintBer(col("fp"), col("fp_next")) < 0.2)
            .as("matched_next"))
        .orderBy("doc_id")
    }),

    // ── LEFT OUTER stream-stream interval join: unmatched clicks emit
    //    null conversions once the watermark passes their join window —
    //    a different state machine from the inner q75 (state eviction
    //    EMITS instead of dropping). Sentinel batches advance the
    //    watermark so the drain flushes all retained state; the oracle is
    //    the plain batch left join ──
    "q189_stream_outer_join" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val ev = t(s, dir, "events")
      val tmp = java.nio.file.Files.createTempDirectory("graft_q189_").toString
      // batch 1: real events (normalized µs timestamps — rewriting via
      // Tables.load sidesteps the TIMESTAMP(NANOS) generations). batches
      // 2-3: far-future click+purchase sentinels (negative ids) that pass
      // the type filters, so the watermark operator SEES them and expires
      // the outer-join state. The file source orders batches by file
      // mod-time, so each batch's mtime is SET explicitly — no clock race.
      def stampMtime(minuteOffset: Int): Unit = {
        val t = java.nio.file.attribute.FileTime.fromMillis(
          1700000000000L + minuteOffset * 60000L)
        val ls = java.nio.file.Files.list(java.nio.file.Paths.get(tmp))
        try ls.forEach { p =>
          val mt = java.nio.file.Files.getLastModifiedTime(p)
          if (mt.toMillis > 1700000000000L + (minuteOffset - 1) * 60000L + 59000L
            || mt.toMillis < 1700000000000L)
            java.nio.file.Files.setLastModifiedTime(p, t)
        } finally ls.close()
      }
      ev.select("event_id", "ts", "user_id", "event_type", "value")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      stampMtime(0)
      def sentinels(tsLit: String): Unit =
        s.sql(
          s"""SELECT * FROM VALUES
             | (CAST(-1 AS BIGINT), TIMESTAMP '$tsLit', CAST(-1 AS BIGINT),
             |  'click', CAST(0.0 AS DOUBLE)),
             | (CAST(-2 AS BIGINT), TIMESTAMP '$tsLit', CAST(-2 AS BIGINT),
             |  'purchase', CAST(0.0 AS DOUBLE))
             | AS t(event_id, ts, user_id, event_type, value)""".stripMargin)
          .coalesce(1).write.mode("append").parquet(tmp)
      sentinels("2024-06-01 00:00:00"); stampMtime(1)
      sentinels("2024-12-01 00:00:00"); stampMtime(2)
      val schema = s.read.parquet(tmp).schema
      def stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(tmp)
      val clicks = stream.filter(col("event_type") === "click")
        .select(col("event_id").as("imp_id"), col("user_id"), col("ts"))
        .withWatermark("ts", "1 hour")
      val purch = stream.filter(col("event_type") === "purchase")
        .select(col("event_id").as("conv_id"), col("user_id").as("cu"),
          col("ts").as("cts"), col("value").as("cv"))
        .withWatermark("cts", "1 hour")
      val joined = clicks.join(purch,
        col("user_id") === col("cu") && col("cts") >= col("ts") &&
          col("cts") <= col("ts") + expr("INTERVAL 6 HOURS"),
        "left_outer")
      withStatePartitions(s, 4) {
        val q = joined.writeStream.outputMode("append")
          .format("memory").queryName("q189_out")
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      s.table("q189_out").filter(col("imp_id") >= 0)
        .select(col("imp_id"), col("conv_id"),
          round(col("cv"), 2).as("conv_value"))
        .orderBy(col("imp_id").asc, col("conv_id").asc_nulls_first)
    }),

    // ── WHY z-order: data-skipping effectiveness, measured. The same
    //    rows bucketed 64 ways by insertion order vs by z-value; a box
    //    predicate must read every natural bucket (modular coords hit
    //    all key ranges) but only the z-buckets whose min/max rectangle
    //    intersects the box. (Exact global ranks keep the oracle simple;
    //    a production layout job would use q183's sampled boundaries.) ──
    "q190_skipping_stats" -> ((s, dir) => {
      val b = 64
      val base = t(s, dir, "orders")
        .select(col("o_orderkey"),
          ((col("o_orderkey") % 170 - 85).cast("double") + lit(0.5)).as("lat"),
          ((col("o_orderkey") % 356 - 178).cast("double") + lit(0.25)).as("lon"))
        .withColumn("z", graft.geo.ZOrder.zValue(col("lat"), col("lon")))
      val n = Window.partitionBy(lit(1))
      val ranked = base
        .withColumn("_rnat", row_number().over(Window.orderBy("o_orderkey")))
        .withColumn("_rz", row_number().over(Window.orderBy(col("z"), col("o_orderkey"))))
        .withColumn("_n", count(lit(1)).over(n))
      val lo = -20.0; val hi = 20.0; val lonLo = -30.0; val lonHi = 30.0
      // a bucket must be read iff its min/max rectangle intersects the box
      def layoutReads(rankCol: String) = ranked
        .withColumn("_bkt", floor((col(rankCol) - 1) * b / col("_n")))
        .groupBy("_bkt")
        .agg(min("lat").as("lat_min"), max("lat").as("lat_max"),
          min("lon").as("lon_min"), max("lon").as("lon_max"))
        .agg(sum(when(col("lat_min") <= hi && col("lat_max") >= lo &&
          col("lon_min") <= lonHi && col("lon_max") >= lonLo, 1L)
          .otherwise(0L)).as("reads"))
      val matches = base.agg(sum(when(col("lat").between(lo, hi) &&
        col("lon").between(lonLo, lonHi), 1L).otherwise(0L)).as("rows_match"))
      layoutReads("_rnat").select(col("reads").as("read_natural"))
        .crossJoin(layoutReads("_rz").select(col("reads").as("read_zorder")))
        .crossJoin(matches)
        .select(lit(b).cast("long").as("n_buckets"), col("read_natural"),
          col("read_zorder"), col("rows_match"))
    }),

    // ── water-filling budget allocation: the cap c with Σ min(n_i, c)
    //    filling the budget — caps dominant sources, passes small ones
    //    through; pure integer algebra over a |sources|-sized table ──
    "q191_water_filling" -> ((s, dir) =>
      graft.operators.Curation.waterFillAllocation(
          t(s, dir, "documents").groupBy(col("lang").as("source"))
            .agg(count(lit(1)).as("n")),
          budget = 300L)
        .orderBy("source")),

    // ── fixed-round k-core peeling over the part↔supplier graph:
    //    synchronous rounds (the scalable form of the inherently-serial
    //    degeneracy peel), converged flag from the last two rounds ──
    "q192_kcore_peel" -> ((s, dir) => {
      val base = t(s, dir, "lineitem").select(
        col("l_partkey").as("src"),
        (col("l_suppkey") + 1000000L).as("dst"))
      graft.operators.Graphs.kCorePeel(
          graft.operators.Graphs.symmetrize(base), k = 4, rounds = 3)
        .orderBy("node")
    }),

    // ── exact lower WEIGHTED median per group (no interpolation — any
    //    engine lands on the identical row): the doc size at which half
    //    of each language's BYTES sit in smaller docs ──
    "q193_weighted_median" -> ((s, dir) =>
      graft.operators.Profiling.weightedMedian(
          t(s, dir, "documents"), "lang", "n_chars", "n_chars", "doc_id")
        .orderBy("lang")),

    // ── calendar densify + forward fill of a sparse daily series (the
    //    feature-store resampling shape); gaps flagged ──
    "q194_forward_fill" -> ((s, dir) =>
      graft.operators.EventAnalytics.forwardFillDaily(
          t(s, dir, "events").filter(col("user_id") === 3),
          "event_type", "ts")
        .select(col("series"), date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("x_filled"), col("was_gap"))
        .orderBy("series", "day")),

    // ── LSH operating-point sweep: precision/recall for four bandings
    //    from ONE signature table and ONE ground truth — the S-curve
    //    tuning table, every cell oracle-checked ──
    "q195_lsh_sweep" -> ((s, dir) =>
      graft.operators.Dedup.lshBandingSweep(
          t(s, dir, "documents"), "doc_id", "text")
        .orderBy("rows_per_band")),

    // ── curriculum interleave plan: quality-ranked within source, then
    //    round-robin across sources — every epoch prefix is both
    //    high-quality and source-diverse. The global position comes from
    //    rank-table cumsums + a per-rank window (bounded by |sources|),
    //    NOT a global sort window — the scalable form ──
    "q196_curriculum" -> ((s, dir) => {
      val ranked = t(s, dir, "documents")
        .select("doc_id", "source", "n_chars")
        .withColumn("rank", row_number().over(
          Window.partitionBy("source")
            .orderBy(col("n_chars").desc, col("doc_id"))).cast("long"))
      val perRank = ranked.groupBy("rank").agg(count(lit(1)).as("_cnt"))
        .withColumn("_before", coalesce(sum("_cnt").over(
          Window.orderBy("rank")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select("rank", "_before")
      ranked.join(perRank, Seq("rank"))
        .withColumn("position", (col("_before") + row_number().over(
          Window.partitionBy("rank").orderBy("source", "doc_id"))).cast("long"))
        .select("position", "doc_id", "source", "rank")
        .orderBy("position")
    }),

    // ── benchmark-overlap fraction: per corpus doc, the share of its
    //    distinct word-8-gram windows present in the benchmark set — the
    //    graded form of binary decontamination (q58): how MUCH leaked ──
    "q197_overlap_fraction" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // join on the 64-bit gram hash, not the ~50-char gram string —
      // same counts up to xxhash64 collisions (the q58 hashed-gram
      // contract), a fraction of the shuffle bytes (guide §2.3)
      val corpusW = graft.operators.Dedup.wordShingleSet(
          docs.filter(col("source") =!= "src0"), "doc_id", "text", 8)
        .select(col("id"), xxhash64(col("sh")).as("g"))
      val benchW = graft.operators.Dedup.wordShingleSet(
          docs.filter(col("source") === "src0"), "doc_id", "text", 8)
        .select(xxhash64(col("sh")).as("g")).distinct()
        .withColumn("_hit", lit(1))
      corpusW.join(benchW, Seq("g"), "left")
        .groupBy(col("id").as("doc_id"))
        .agg(count(lit(1)).as("n_windows"),
          sum(coalesce(col("_hit"), lit(0))).as("n_hit"))
        .filter(col("n_hit") > 0)
        .withColumn("frac",
          round(col("n_hit").cast("double") / col("n_windows"), 6))
        .orderBy("doc_id")
    }),

    // ── quantile-rank transform (the rank-normalization preprocessing
    //    step): percent_rank of price within priority — exact rational
    //    (rank−1)/(n−1), identical row values on any engine ──
    "q198_quantile_rank" -> ((s, dir) =>
      t(s, dir, "orders").filter(col("o_orderkey") <= 2000)
        .select(col("o_orderkey"), col("o_orderpriority").as("prio"),
          round(percent_rank().over(Window.partitionBy("o_orderpriority")
            .orderBy(col("o_totalprice"), col("o_orderkey"))), 6).as("qr"))
        .orderBy("o_orderkey")),

    // ── calibration audit of the in-engine NB classifier: stable-softmax
    //    confidence deciles vs realized accuracy — is the model's
    //    confidence honest? (accuracy is an exact 0/1 rational; only the
    //    bin EDGES touch float exp, 1-ulp risk absorbed by density) ──
    "q199_nb_calibration" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val train = docs.filter(col("doc_id") % 2 === 0)
      val test = docs.filter(col("doc_id") % 2 === 1)
      val (ll, priors) = graft.operators.TextModels.naiveBayesTrain(
        train, "text", "lang")
      graft.operators.TextModels.naiveBayesConfidence(
          test, "doc_id", "text", ll, priors)
        .join(test.select(col("doc_id").as("id"), col("lang")), Seq("id"))
        .withColumn("bin",
          least(lit(9L), floor(col("conf") * 10)).cast("long"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"), round(avg("conf"), 4).as("avg_conf"),
          round(avg((col("pred") === col("lang")).cast("double")), 6)
            .as("accuracy"))
        .orderBy("bin")
    }),

    // ── content-defined chunking (LBFS-style storage dedup): boundaries
    //    move with the content, so identical spans chunk identically
    //    across docs; per-source chunk-duplication stats, every boundary
    //    oracle-replayed via the md5 cut rule ──
    "q200_cdc_chunking" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.Dedup.cdcChunks(docs, "doc_id", "text")
        .join(docs.select(col("doc_id").as("id"), col("source")), Seq("id"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_chunks"),
          count_distinct(col("chunk")).as("n_distinct"),
          round(avg(length(col("chunk"))), 4).as("mean_len"))
        .withColumn("dup_chunks", col("n_chunks") - col("n_distinct"))
        .orderBy("source")
    }),

    // ── cross-corpus dedup ("dedup the new crawl against the training
    //    set") in the oracle-replayable md5 form: both sides banded from
    //    md5 signatures, candidates from the cross band-bucket join,
    //    exact-Jaccard verify — the hash-gated companion of q139 ──
    "q201_cross_dedup_portable" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.Dedup.minhashCrossPortable(
          docs.filter(col("source") =!= "src0"),
          docs.filter(col("source") === "src0"), "doc_id", "text")
        .select(col("id_a"), col("id_b"),
          round(col("jaccard"), 6).as("jaccard"))
        .orderBy("id_a", "id_b")
    }),

    // ── md5-SimHash fingerprints: every BIT replayed by the oracle's
    //    (md5-uint64 >> b) & 1 vote algebra; formatted as 16 hex digits
    //    so signed/unsigned display cannot diverge ──
    "q202_simhash_portable" -> ((s, dir) =>
      graft.operators.Dedup.simhashPortable(
          t(s, dir, "documents"), "doc_id", "text")
        .select(col("id").as("doc_id"),
          lpad(lower(hex(col("sh"))), 16, "0").as("simhash"))
        .orderBy("doc_id")),

    // ── parquet bloom filters on the write path: point lookups skip row
    //    groups whose bloom rejects the key (the file-format tier of
    //    predicate pushdown — footer metadata asserted in Round7Spec);
    //    small row groups force real multi-group files at test scale ──
    "q203_parquet_bloom" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_bloom_")
        .toString
      t(s, dir, "documents")
        .write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#doc_id", "true")
        .option("parquet.block.size", (128 * 1024).toString)
        .parquet(tmp)
      s.read.parquet(tmp)
        .filter(col("doc_id").isin(7L, 99L, 321L))
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    }),

    // ── schema evolution on read: two parquet generations (one without
    //    the later `quality` column) unify under mergeSchema, old rows
    //    surfacing NULL — the lakehouse column-add path ──
    "q204_schema_evolution" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_evo_")
        .toString
      val docs = t(s, dir, "documents")
      docs.filter(col("doc_id") % 2 === 0)
        .select("doc_id", "lang", "n_chars")
        .write.mode("overwrite").parquet(s"$tmp/gen=1")
      docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          (col("n_chars") % 100).cast("long").as("quality"))
        .write.mode("overwrite").parquet(s"$tmp/gen=2")
      s.read.option("mergeSchema", "true").parquet(tmp)
        .groupBy("lang")
        .agg(count(lit(1)).as("n"),
          sum(when(col("quality").isNull, 1L).otherwise(0L))
            .as("n_pre_schema"),
          coalesce(sum("quality"), lit(0L)).as("quality_sum"))
        .orderBy("lang")
    }),

    // ── classical additive seasonal decomposition of the daily event
    //    volume: 7-row centered trend, weekday seasonal means of the
    //    detrended values, residuals — engine-neutral weekday (epoch-day
    //    mod 7) ──
    "q205_seasonal_decompose" -> ((s, dir) =>
      graft.operators.EventAnalytics.seasonalDecompose(
          t(s, dir, "events"), "event_type", "ts")
        .withColumn("day", date_format(col("day"), "yyyy-MM-dd"))
        .orderBy("series", "day")),

    // ── linear multi-touch attribution: each purchase splits one credit
    //    unit equally over all its clicks in the 7-day lookback — the
    //    fractional-credit companion of q180's winner-take-all ──
    "q206_linear_attribution" -> ((s, dir) =>
      graft.operators.EventAnalytics.linearAttribution(
          t(s, dir, "events"), "user_id", "ts", "event_type", "event_id",
          touchType = "click", conversionType = "purchase",
          windowSeconds = 7L * 86400)
        .withColumn("day", date_format(col("day"), "yyyy-MM-dd"))
        .orderBy("day")),

    // ── native Generator (the Catalyst UDTF tier): word_shingles fans
    //    each doc straight into its 3-gram rows — no intermediate array
    //    column — feeding a plain shingle facet ──
    "q207_shingle_facet" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(graft.plans.GraftFunctions
          .word_shingles(col("text"), lit(3)).as("sh"))
        .groupBy("sh").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("sh")).limit(20)
    }),

    // ── capstone: the WHOLE curation pipeline composed end-to-end —
    //    exact dedup → portable-LSH near-dedup with keep-best survivors →
    //    benchmark decontamination → quality floor → content-addressed
    //    split → per-(split, lang) yield report. Every stage is an
    //    operator proven above; the oracle replays the full chain ──
    "q208_curation_pipeline" -> ((s, dir) => {
      val all = t(s, dir, "documents")
      Curation.curateCorpus(
          all.filter(col("source") =!= "src0"),
          all.filter(col("source") === "src0"),
          "doc_id", "text", "n_chars", minQuality = 150)
        .groupBy("split", "lang")
        .agg(count(lit(1)).as("n"), sum("n_chars").as("chars"))
        .orderBy("split", "lang")
    }),

    // ── hive-style partitioned layout + partition pruning: the
    //    DIRECTORY-level skip (a predicate on the partition column never
    //    lists, let alone reads, the other partitions — PlanShapeSpec
    //    asserts the PartitionFilters), distinct from row-group pushdown ──
    "q209_partition_pruning" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_part_")
        .toString
      val docs = t(s, dir, "documents")
      docs.write.mode("overwrite")
        .partitionBy("lang").parquet(tmp)
      // explicit schema: a zero-row write leaves no footer to infer from
      s.read.schema(docs.schema).parquet(tmp)
        .filter(col("lang") === "de")
        .groupBy("source").agg(count(lit(1)).as("n"),
          sum("n_chars").as("chars"))
        .orderBy("source")
    }),

    // ── compression-ratio quality screen (CCNet/RefinedWeb signal):
    //    deflate size vs raw bytes per document (rows-only: no zlib in
    //    SQL; Round7Spec pins closed-form repetitive/random cases) ──
    "q184_compress_ratio" -> ((s, dir) => {
      val raw = octet_length(col("text"))
      t(s, dir, "documents")
        .select(col("doc_id"), raw.as("raw_bytes"),
          TF.deflateSize(col("text")).as("deflate_bytes"))
        .withColumn("ratio",
          round(col("deflate_bytes").cast("double") / col("raw_bytes"), 4))
        .withColumn("too_repetitive", col("ratio") < 0.3)
        .orderBy("doc_id")
    }),

    // ── miscProperties catch-all end to end (reference
    //    model/FullRecord.scala:28-32, dao/OccurrenceDAOImpl.scala:185-303):
    //    supplier → DwC CSV with two UNMAPPED columns → S2 load (unknown
    //    columns fold into the misc map) → enrich → index projection →
    //    S18 download with includeMisc (key universe discovered from the
    //    data) → facet over the misc-sourced field; the oracle replays the
    //    aggregate straight off the parquet, so every misc value must
    //    survive the load→index→download loop byte-for-byte ──
    "q210_misc_passthrough" -> ((s, dir) => {
      val src = t(s, dir, "supplier").select(
        col("s_suppkey").cast("string").as("occurrenceID"),
        col("s_name").as("recordedBy"),
        // NOT Darwin Core terms → miscProperties
        col("s_nationkey").cast("string").as("sourceSystem"),
        col("s_acctbal").cast("string").as("account_d"))
      val tmp = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_q210").getAbsolutePath
      src.coalesce(1).write.mode("overwrite")
        .option("header", "true").csv(tmp)
      val loaded = graft.sources.DwcSource.loadCsv(
        s, tmp, "dr210", uniqueTerms = Seq("occurrenceID"))
      val enriched = graft.processors.Processors.enrich(loaded)
      val index = graft.index.IndexSupport.project(enriched,
        miscKeys = Seq("sourceSystem", "account_d"))
      // explicit misc list (the aggregate below names these columns, so
      // the schema must not depend on what a possibly-empty load
      // discovers); the miscFields=Nil discovery path is pinned by
      // MiscPropertiesSpec
      val dl = graft.index.Serving.download(index,
        loaded.select("rowKey"), fields = Seq("id"), qaFields = Nil,
        includeMisc = true, miscFields = Seq("sourceSystem", "account_d"))
      dl.groupBy(col("misc_sourceSystem").as("source_system"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("misc_account_d").cast("double")), 2).as("bal"))
        .orderBy("source_system")
    }),

    // ── EXIF metadata end to end (reference util/EXIF.scala,
    //    load/MediaStore feeding occurrence coords from images): build a
    //    REAL JPEG/APP1/TIFF byte stream per row (GPS DMS rationals +
    //    DateTimeOriginal), parse it back with the pure-JVM reader, and
    //    aggregate the recovered coordinates by the recovered capture
    //    month. Coordinates are exact-DMS values (quarter degrees), so
    //    the oracle replays the arithmetic straight from the source
    //    columns — any byte-level drift in writer or parser breaks the
    //    hash ──
    "q211_exif_extract" -> ((s, dir) => {
      val jpegUdf = udf((k: Long, d: String) =>
        graft.multimodal.Exif.syntheticExifJpeg(
          (k % 170 - 85) + 0.25, (k % 356 - 178) + 0.5, d + " 10:00:00"))
      val exifUdf = udf((b: Array[Byte]) => graft.multimodal.Exif.extract(b))
      t(s, dir, "orders").filter(col("o_orderkey") <= 5000)
        .select(col("o_orderkey").as("img_id"),
          jpegUdf(col("o_orderkey"),
            date_format(col("o_orderdate"), "yyyy:MM:dd")).as("image"))
        .select(col("img_id"), exifUdf(col("image")).as("x"))
        .groupBy(substring(col("x.dateTimeOriginal"), 1, 7).as("ym"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("x.latitude")), 2).as("lat_sum"),
          round(sum(col("x.longitude")), 2).as("lon_sum"))
        .orderBy("ym")
    }),

    // ── CUPED variance-reduced A/B readout (Deng et al., WSDM 2013):
    //    units = per-user (pre-period spend, experiment-period spend),
    //    deterministic md5 arm split, θ = cov/var pooled, adjusted
    //    effect + ρ² variance removed — one groupBy(user) + one moment
    //    aggregate, closed form; the oracle restates every sum. Means
    //    deliberately NOT reported: money/2^a·5^b-count quotients sit on
    //    round-half boundaries (salt chosen so arm counts at sf0.01/0.1
    //    all carry a prime factor > 5 → non-terminating quotients) ──
    "q256_cuped" -> ((s, dir) => {
      val cutoff = lit("2024-01-15").cast("timestamp")
      val units = t(s, dir, "events")
        .groupBy("user_id")
        .agg(
          coalesce(sum(when(col("ts") < cutoff, col("value"))), lit(0.0))
            .as("x_pre"),
          coalesce(sum(when(col("ts") >= cutoff, col("value"))), lit(0.0))
            .as("y_exp"))
        .withColumn("arm", when(substring(md5(concat(
            col("user_id").cast("string"), lit(":exp2"))), 1, 1) >= "8",
          lit("b")).otherwise(lit("a")))
      graft.operators.Profiling.cuped(units, "arm", "b", "x_pre", "y_exp")
        .select("n_a", "n_b", "theta", "effect_raw", "effect_cuped",
          "rho_sq")
    }),

    // ── experiment health + difference-in-differences over the same
    //    md5-split panel as q256: sample-ratio-mismatch χ² against the
    //    designed 50/50 (a flagged split invalidates every downstream
    //    metric) and the parallel-trends DiD estimate — one moment
    //    aggregate, closed form, oracle restates every sum ──
    "q257_experiment_did" -> ((s, dir) => {
      val cutoff = lit("2024-01-15").cast("timestamp")
      val units = t(s, dir, "events")
        .groupBy("user_id")
        .agg(
          coalesce(sum(when(col("ts") < cutoff, col("value"))), lit(0.0))
            .as("x_pre"),
          coalesce(sum(when(col("ts") >= cutoff, col("value"))), lit(0.0))
            .as("y_exp"))
        .withColumn("arm", when(substring(md5(concat(
            col("user_id").cast("string"), lit(":exp2"))), 1, 1) >= "8",
          lit("b")).otherwise(lit("a")))
      graft.operators.Profiling.didHealth(
        units, "arm", "b", "x_pre", "y_exp")
    })
  )

  // q148 field parameters — shared with the oracle so the log2 weight
  // literals are bit-identical on both sides
  private val FsSegment =
    graft.operators.RecordLinkage.FieldParams("segment", 0.9, 0.2)
  private val FsArea =
    graft.operators.RecordLinkage.FieldParams("area", 0.95, 0.01)
  private val FsBalPos =
    graft.operators.RecordLinkage.FieldParams("bal_pos", 0.95, 0.9)
  // scientific notation: DuckDB types exponent literals DOUBLE (a plain
  // decimal literal becomes DECIMAL and the weight algebra drifts);
  // 17 significant digits round-trip any IEEE double exactly
  private def fsLit(x: Double): String =
    "%.16e".formatLocal(java.util.Locale.ROOT, x)

  /** q97/q100 oracle: the FULL BPE training loop replayed in DuckDB as a
    * chained (non-recursive) CTE pipeline. Symbol sequences are encoded
    * as `|s1||s2||s3|` strings: wrapping every symbol in its own `|…|`
    * makes pair boundaries explicit, so a plain left-to-right
    * non-overlapping `replace('|l||r|' → '|lr|')` is EXACTLY
    * [[graft.operators.Bpe.mergeOnce]] (adjacent matches share no
    * characters — the naive space-joined encoding would lose the second
    * of two back-to-back pairs to the consumed separator). Per merge
    * rank: pair counts from the unnested symbol lists, argmax with the
    * trainer's (-count, left, right) tie-break, one replace pass.
    *
    * Every stage is `MATERIALIZED`: the v-chain is referenced twice per
    * rank, and DuckDB 1.0 would otherwise inline the reference tree
    * exponentially (2^12 copies of the word scan — measured: hangs).
    * The q100 encode tail is NPASS chained lowest-rank-applicable
    * passes rather than a recursive CTE — DuckDB 1.0's recursive terms
    * read MATERIALIZED CTEs as empty (observed, silently) — and
    * NPASS = 10 exceeds the corpus's max word length (8), which bounds
    * [[graft.operators.Bpe.encodeWord]]'s iteration count (every pass
    * shortens a word's symbol sequence by at least one). */
  private def bpeOracleStages(numMerges: Int): Seq[String] = {
    val stages = scala.collection.mutable.ArrayBuffer.empty[String]
    stages += """wc AS MATERIALIZED (
      | SELECT item AS word, count(*) AS cnt FROM (
      |  SELECT unnest(regexp_split_to_array(lower(trim(text)),'\s+'))
      |   AS item FROM documents)
      | WHERE length(item) > 0 GROUP BY item)""".stripMargin
    stages += """v0 AS MATERIALIZED (
      | SELECT '|' || array_to_string(string_split(word, ''), '||')
      |  || '||</w>|' AS enc, cnt FROM wc)""".stripMargin
    for (k <- 0 until numMerges) {
      stages += s"""p$k AS MATERIALIZED (
        | SELECT l, r, sum(cnt) AS c FROM (
        |  SELECT syms[CAST(g AS INTEGER)] AS l,
        |   syms[CAST(g AS INTEGER)+1] AS r, cnt
        |  FROM (SELECT string_split(substr(enc, 2, length(enc)-2), '||')
        |     AS syms, cnt FROM v$k),
        |   unnest(generate_series(1, CAST(len(syms)-1 AS BIGINT))) AS t(g))
        | GROUP BY l, r)""".stripMargin
      stages += s"""b$k AS MATERIALIZED (
        | SELECT l, r FROM p$k ORDER BY c DESC, l, r LIMIT 1)""".stripMargin
      stages += s"""v${k + 1} AS MATERIALIZED (
        | SELECT replace(enc, '|'||b.l||'||'||b.r||'|',
        |   '|'||b.l||b.r||'|') AS enc, cnt FROM v$k, b$k b)""".stripMargin
    }
    stages.toSeq
  }

  private def bpeMergesOracle(numMerges: Int): String = {
    val union = (0 until numMerges)
      .map(k => s"SELECT $k AS rank, l AS left, r AS right FROM b$k")
      .mkString("\nUNION ALL ")
    "WITH " + bpeOracleStages(numMerges).mkString(",\n") +
      s"\nSELECT * FROM ($union) ORDER BY rank"
  }

  private def bpeEncodeOracle(numMerges: Int, nPass: Int): String = {
    val stages = scala.collection.mutable.ArrayBuffer.empty[String]
    stages ++= bpeOracleStages(numMerges)
    stages += "merges AS MATERIALIZED (" +
      (0 until numMerges)
        .map(k => s"SELECT $k AS rank, l, r FROM b$k")
        .mkString(" UNION ALL ") + ")"
    stages += """e0 AS MATERIALIZED (
      | SELECT word, '|' || array_to_string(string_split(word, ''), '||')
      |  || '||</w>|' AS enc, cnt FROM wc)""".stripMargin
    for (k <- 0 until nPass) {
      stages += s"""e${k + 1} AS MATERIALIZED (
        | SELECT e.word,
        |  CASE WHEN b.l IS NULL THEN e.enc
        |   ELSE replace(e.enc, '|'||b.l||'||'||b.r||'|',
        |     '|'||b.l||b.r||'|') END AS enc, e.cnt
        | FROM e$k e LEFT JOIN LATERAL (
        |  SELECT m.l, m.r FROM merges m
        |  WHERE position('|'||m.l||'||'||m.r||'|' IN e.enc) > 0
        |  ORDER BY m.rank LIMIT 1) b ON true)""".stripMargin
    }
    "WITH " + stages.mkString(",\n") +
      s"""
      |SELECT token, CAST(sum(cnt) AS BIGINT) AS total FROM (
      | SELECT unnest(string_split(substr(enc, 2, length(enc)-2), '||'))
      |   AS token, cnt FROM e$nPass) t
      |GROUP BY token ORDER BY total DESC, token LIMIT 40""".stripMargin
  }

  /** q177/q28 oracle: [[graft.operators.Dedup.minhashLshPortable]]
    * replayed bit for bit — distinct word `shingleWords`-gram shingles,
    * uint60(md5) signature minima over `numHashes` hashes, '_'-joined
    * keys of `rowsPerBand` consecutive minima, band-bucket self-join,
    * exact-Jaccard verify at `threshold`. */
  private def minhashLshOracle(shingleWords: Int, numHashes: Int,
      rowsPerBand: Int, threshold: Double): String =
    raw"""WITH toks AS (
      | SELECT doc_id, list_filter(
      |   regexp_split_to_array(lower(trim(text)), '\s+'),
      |   t -> len(t) > 0) AS ts
      | FROM documents),
      |sh AS (
      | SELECT DISTINCT id, sh FROM (
      |  SELECT doc_id AS id,
      |   unnest(list_transform(range(1, len(ts) - ${shingleWords - 2}),
      |    i -> array_to_string(list_slice(ts, i, i + ${shingleWords - 1}),
      |     ' '))) AS sh
      |  FROM toks WHERE len(ts) >= $shingleWords)),
      |hv AS (
      | SELECT id, h, min(CAST('0x' ||
      |   substring(md5(h::VARCHAR || ':' || sh), 1, 15) AS UBIGINT)) AS mv
      | FROM sh CROSS JOIN (SELECT unnest(range(0, $numHashes)) AS h) hh
      | GROUP BY id, h),
      |bk AS (
      | SELECT id, h // $rowsPerBand AS band,
      |  string_agg(mv::VARCHAR, '_' ORDER BY h) AS bkey
      | FROM hv GROUP BY id, band),
      |cand AS (
      | SELECT DISTINCT a.id AS id_a, b.id AS id_b
      | FROM bk a JOIN bk b
      |  ON a.band = b.band AND a.bkey = b.bkey AND a.id < b.id),
      |sz AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
      |ix AS (
      | SELECT c.id_a, c.id_b, count(*) AS i
      | FROM cand c JOIN sh x ON x.id = c.id_a
      |  JOIN sh y ON y.id = c.id_b AND y.sh = x.sh
      | GROUP BY c.id_a, c.id_b),
      |jj AS (
      | SELECT ix.id_a, ix.id_b, ix.i::DOUBLE / (na.n + nb.n - ix.i) AS j
      | FROM ix JOIN sz na ON na.id = ix.id_a
      |  JOIN sz nb ON nb.id = ix.id_b)
      |SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
      | CAST(round(j, 6) AS DOUBLE) AS jaccard FROM jj
      |WHERE j >= $threshold ORDER BY id_a, id_b""".stripMargin

  /** q202/q29 oracle CTEs ending in `fp(doc_id, sh)`: every
    * [[graft.operators.Dedup.simhashPortable]] fingerprint bit from the
    * (md5-uint64 >> b) & 1 weighted vote. */
  private def simhashOracleCtes: String =
    """WITH tokc AS (
      | SELECT doc_id, tok, count(*) AS w FROM (
      |  SELECT doc_id, unnest(list_filter(
      |    regexp_split_to_array(lower(trim(text)), '\s+'),
      |    t -> len(t) > 0)) AS tok
      |  FROM documents) GROUP BY doc_id, tok),
      |hv AS (
      | SELECT doc_id, w,
      |  CAST('0x' || substring(md5(tok), 1, 16) AS UBIGINT) AS h
      | FROM tokc),
      |bits AS (
      | SELECT doc_id, b,
      |  sum(CASE WHEN ((h >> CAST(b AS INTEGER)) & 1) = 1
      |      THEN w ELSE -w END) AS vote
      | FROM hv CROSS JOIN (SELECT unnest(range(0, 64)) AS b) bb
      | GROUP BY doc_id, b),
      |fp AS (
      | SELECT doc_id, CAST(sum(
      |  CASE WHEN vote > 0 THEN CAST(1 AS UBIGINT) << CAST(b AS INTEGER)
      |       ELSE CAST(0 AS UBIGINT) END) AS UBIGINT) AS sh
      | FROM bits GROUP BY doc_id)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q97_bpe_merges" -> bpeMergesOracle(12),
    "q100_bpe_encode" -> bpeEncodeOracle(12, 10),
    "q123_permutation_test" ->
      """WITH r AS (
        | SELECT doc_id, source = 'src2' AS isA,
        |  CAST(n_chars AS DOUBLE) AS x
        | FROM documents WHERE source IN ('src2', 'src3')),
        |nn AS (SELECT CAST(sum(CASE WHEN isA THEN 1 ELSE 0 END) AS BIGINT)
        |   AS nA,
        |  CAST(sum(CASE WHEN isA THEN 0 ELSE 1 END) AS BIGINT) AS nB
        | FROM r),
        |obs AS (SELECT abs(
        |  sum(CASE WHEN isA THEN x END) / (SELECT nA FROM nn) -
        |  sum(CASE WHEN NOT isA THEN x END) / (SELECT nB FROM nn)) AS d
        | FROM r),
        |perms AS (
        | SELECT b, abs(
        |   sum(CASE WHEN toA THEN x END) /
        |     sum(CASE WHEN toA THEN 1 ELSE 0 END) -
        |   sum(CASE WHEN NOT toA THEN x END) /
        |     sum(CASE WHEN NOT toA THEN 1 ELSE 0 END)) AS absdiff
        | FROM (
        |  SELECT b, x,
        |   ((CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':pt1:'
        |      || CAST(b AS VARCHAR)), 1, 8) AS UBIGINT) + 0.5)
        |     / 4294967296.0)
        |    < (SELECT CAST(nA AS DOUBLE) / (nA + nB) FROM nn) AS toA
        |  FROM r CROSS JOIN (SELECT unnest(range(0, 40)) AS b) reps)
        | GROUP BY b)
        |SELECT round((SELECT d FROM obs), 4) + 0.0 AS observed_diff,
        | round((1 + sum(CASE WHEN absdiff >= (SELECT d FROM obs)
        |    THEN 1 ELSE 0 END)) / 41.0, 4) AS p_value,
        | CAST(40 AS BIGINT) AS n_perms
        |FROM perms""".stripMargin,
    "q124_avro_roundtrip" ->
      """SELECT c_mktsegment AS segment, count(*) AS n,
        | round(sum(c_acctbal), 2) AS bal_sum, min(c_name) AS first_name
        |FROM customer GROUP BY segment ORDER BY segment""".stripMargin,
    "q138_jsonl_roundtrip" ->
      """SELECT lang, source, count(*) AS n,
        | CAST(sum(n_chars) AS BIGINT) AS chars,
        | min(md5(text)) AS first_text_md5
        |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin,
    "q137_orc_roundtrip" ->
      """SELECT l_returnflag, count(*) AS n,
        | round(sum(l_quantity), 2) AS qty,
        | round(sum(l_extendedprice), 2) AS price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q125_pmi_collocations" ->
      """WITH t AS (
        | SELECT list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |   w -> length(w) > 0) AS ws
        | FROM documents),
        |uni AS (
        | SELECT w, count(*) AS cw
        | FROM (SELECT unnest(ws) AS w FROM t) GROUP BY w),
        |n AS (SELECT CAST(sum(cw) AS DOUBLE) AS n FROM uni),
        |nb AS (
        | SELECT CAST(sum(greatest(len(ws) - 1, 0)) AS DOUBLE) AS nb FROM t),
        |big AS (
        | SELECT w1, w2, w1 || ' ' || w2 AS bigram, count(*) AS c_ab
        | FROM (SELECT ws[i] AS w1, ws[i + 1] AS w2
        |       FROM (SELECT ws, unnest(range(1, len(ws))) AS i FROM t))
        | GROUP BY w1, w2 HAVING count(*) >= 5)
        |SELECT b.bigram, b.c_ab, ua.cw AS c_a, ub.cw AS c_b,
        | round(log2((b.c_ab / nb.nb) / ((ua.cw / n.n) * (ub.cw / n.n))), 4)
        |   AS pmi
        |FROM big b, uni ua, uni ub, n, nb
        |WHERE ua.w = b.w1 AND ub.w = b.w2
        |ORDER BY pmi DESC, bigram LIMIT 20""".stripMargin,
    "q143_keep_best" ->
      """WITH RECURSIVE sh AS (
        | SELECT doc_id,
        |  CASE WHEN length(norm) < 16 THEN [norm]
        |   ELSE list_distinct(list_transform(
        |    range(1, length(norm)-14), i -> norm[i:i+15])) END AS shingles
        | FROM (SELECT doc_id,
        |   regexp_replace(lower(trim(text)),'\s+',' ','g') AS norm
        |   FROM documents)),
        |p AS (
        | SELECT a.doc_id AS id_a, b.doc_id AS id_b
        | FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        | WHERE CAST(length(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
        |  (length(a.shingles)+length(b.shingles)
        |    -length(list_intersect(a.shingles,b.shingles))) >= 0.5),
        |edges AS (SELECT id_a AS s, id_b AS t FROM p
        |          UNION SELECT id_b, id_a FROM p),
        |walk(node, reach) AS (
        | SELECT s, s FROM edges
        | UNION
        | SELECT w.node, e.t FROM walk w JOIN edges e ON w.reach = e.s),
        |comp AS (SELECT node, min(reach) AS component FROM walk GROUP BY node),
        |cl AS (
        | SELECT d.doc_id AS id, coalesce(c.component, d.doc_id) AS cluster,
        |   d.n_chars
        | FROM documents d LEFT JOIN comp c ON d.doc_id = c.node),
        |rk AS (
        | SELECT id, cluster, n_chars,
        |  row_number() OVER (PARTITION BY cluster
        |    ORDER BY n_chars DESC, id) AS rk,
        |  count(*) OVER (PARTITION BY cluster) AS n_members
        | FROM cl)
        |SELECT id, cluster, CAST(n_chars AS BIGINT) AS quality, n_members
        |FROM rk WHERE rk = 1 AND n_members >= 2
        |ORDER BY cluster""".stripMargin,
    "q142_classifier_score" ->
      """WITH t AS (
        | SELECT doc_id, list_filter(string_split_regex(lower(trim(text)),
        |   '\s+'), w -> length(w) > 0) AS ws
        | FROM documents)
        |SELECT doc_id,
        | CASE WHEN len(ws) = 0 THEN NULL ELSE
        |  round(1.0 / (1.0 + exp(-(
        |   list_aggregate(list_transform(ws, w ->
        |    ((((strpos('0123456789abcdef', md5(w)[1:1]) - 1) * 16 +
        |       (strpos('0123456789abcdef', md5(w)[2:2]) - 1)) % 64)
        |      * 37 % 101 - 50) / 100.0), 'sum')
        |   / len(ws) - 0.1))), 6) END AS score
        |FROM t ORDER BY doc_id""".stripMargin,
    "q141_boilerplate" ->
      """WITH d AS (
        | SELECT doc_id, source,
        |  'HEADER ' || source || chr(10) || text ||
        |  CASE WHEN doc_id % 4 = 0 THEN chr(10) || 'PROMO ' || source
        |       ELSE '' END ||
        |  chr(10) || 'Copyright ' || source AS text
        | FROM documents),
        |l AS (
        | SELECT doc_id, source, i - 1 AS pos, ls[i] AS line
        | FROM (SELECT doc_id, source, ls,
        |        unnest(range(1, len(ls) + 1)) AS i
        |       FROM (SELECT doc_id, source,
        |              string_split(text, chr(10)) AS ls FROM d))),
        |nd AS (SELECT source, count(*) AS n_docs FROM d GROUP BY source),
        |f AS (SELECT source, line, count(DISTINCT doc_id) AS df
        |      FROM l WHERE length(trim(line)) > 0 GROUP BY source, line),
        |boiler AS (
        | SELECT f.source, f.line FROM f JOIN nd ON nd.source = f.source
        | WHERE f.df >= 2 AND f.df >= ceil(nd.n_docs * 0.5)),
        |kept AS (
        | SELECT l.* FROM l LEFT JOIN boiler b
        |  ON l.source = b.source AND l.line = b.line
        | WHERE b.line IS NULL),
        |tot AS (SELECT doc_id, count(*) AS n_lines FROM l GROUP BY doc_id)
        |SELECT k.doc_id, count(*) AS n_lines_kept,
        | CAST(t.n_lines - count(*) AS BIGINT) AS n_lines_removed,
        | md5(string_agg(k.line, chr(10) ORDER BY k.pos)) AS clean_md5
        |FROM kept k JOIN tot t USING (doc_id)
        |GROUP BY k.doc_id, t.n_lines ORDER BY k.doc_id""".stripMargin,
    "q140_kn_bigram_nll" ->
      """WITH t AS (
        | SELECT doc_id, list_filter(string_split_regex(lower(trim(text)),
        |   '\s+'), w -> length(w) > 0) AS ws
        | FROM documents),
        |occ AS (
        | SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
        | FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i FROM t)),
        |cbg AS (SELECT w1, w2, count(*) AS c12 FROM occ GROUP BY w1, w2),
        |ctx AS (SELECT w1, CAST(sum(c12) AS DOUBLE) AS c1, count(*) AS n1f
        |        FROM cbg GROUP BY w1),
        |prec AS (SELECT w2, count(*) AS n1p FROM cbg GROUP BY w2),
        |b AS (SELECT CAST(count(*) AS DOUBLE) AS bt FROM cbg),
        |p AS (
        | SELECT c.w1, c.w2,
        |  (c.c12 - 0.75) / x.c1 + 0.75 * x.n1f / x.c1 * (pr.n1p / b.bt) AS p
        | FROM cbg c, ctx x, prec pr, b
        | WHERE x.w1 = c.w1 AND pr.w2 = c.w2)
        |SELECT o.doc_id, count(*) AS n_bigrams,
        | round(avg(-log2(p.p)), 4) AS nll_bits
        |FROM occ o JOIN p ON o.w1 = p.w1 AND o.w2 = p.w2
        |GROUP BY o.doc_id ORDER BY o.doc_id""".stripMargin,
    "q126_itemset_pairs" ->
      """WITH items AS (
        | SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
        | FROM lineitem)
        |SELECT a.item AS item_a, b.item AS item_b, count(*) AS support
        |FROM items a JOIN items b ON a.basket = b.basket
        | AND a.item < b.item
        |GROUP BY item_a, item_b HAVING count(*) >= 2
        |ORDER BY support DESC, item_a, item_b LIMIT 30""".stripMargin,
    "q128_stratified_sample" ->
      """WITH pop AS (
        | SELECT c_mktsegment AS stratum, count(*) AS n_pop
        | FROM customer GROUP BY 1),
        |tot AS (SELECT sum(n_pop) AS n FROM pop),
        |quota AS (
        | SELECT stratum, n_pop, (100 * n_pop) // n AS base,
        |  (100 * n_pop) % n AS frac
        | FROM pop, tot),
        |seats AS (SELECT 100 - sum(base) AS seats FROM quota),
        |alloc AS (
        | SELECT stratum, n_pop,
        |  base + CASE WHEN row_number()
        |      OVER (ORDER BY frac DESC, stratum) <= seats
        |    THEN 1 ELSE 0 END AS n_alloc
        | FROM quota, seats),
        |ranked AS (
        | SELECT c_mktsegment AS stratum, c_custkey AS id,
        |  row_number() OVER (PARTITION BY c_mktsegment
        |   ORDER BY md5(CAST(c_custkey AS VARCHAR) || ':ss1'), c_custkey)
        |   AS rk
        | FROM customer)
        |SELECT r.stratum, a.n_pop, CAST(a.n_alloc AS BIGINT) AS n_alloc,
        | r.id, CAST(r.rk AS BIGINT) AS rk
        |FROM ranked r JOIN alloc a ON r.stratum = a.stratum
        |WHERE r.rk <= a.n_alloc
        |ORDER BY r.stratum, r.rk""".stripMargin,
    "q127_mutual_info" ->
      """WITH cells AS (
        | SELECT o_orderpriority AS x, o_orderstatus AS y,
        |  CAST(count(*) AS DOUBLE) AS c
        | FROM orders GROUP BY x, y),
        |tot AS (SELECT sum(c) AS n FROM cells),
        |mx AS (SELECT x, sum(c) AS c FROM cells GROUP BY x),
        |my AS (SELECT y, sum(c) AS c FROM cells GROUP BY y),
        |hx AS (SELECT -sum((c / n) * log2(c / n)) AS h_x FROM mx, tot),
        |hy AS (SELECT -sum((c / n) * log2(c / n)) AS h_y FROM my, tot),
        |hxy AS (SELECT -sum((c / n) * log2(c / n)) AS h_xy FROM cells, tot)
        |SELECT CAST(n AS BIGINT) AS n, round(h_x, 6) AS h_x,
        | round(h_y, 6) AS h_y, round(h_xy, 6) AS h_xy,
        | round(h_x + h_y - h_xy, 6) AS mi
        |FROM hx, hy, hxy, tot""".stripMargin,
    "q122_poisson_bootstrap" ->
      """WITH draws AS (
        | SELECT b, CAST(n_chars AS DOUBLE) AS x,
        |  (CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':bs1:'
        |     || CAST(b AS VARCHAR)), 1, 8) AS UBIGINT) + 0.5)
        |   / 4294967296.0 AS u
        | FROM documents
        | CROSS JOIN (SELECT unnest(range(0, 32)) AS b) reps),
        |weighted AS (
        | SELECT b, x,
        |  CASE WHEN u < 0.36787944117144233 THEN 0
        |   WHEN u < 0.7357588823428846 THEN 1
        |   WHEN u < 0.9196986029286058 THEN 2
        |   WHEN u < 0.9810118431238462 THEN 3
        |   WHEN u < 0.9963401531726563 THEN 4
        |   ELSE 5 END AS w
        | FROM draws)
        |SELECT CAST(b AS INT) AS replicate,
        | round(sum(w * x) / sum(w), 4) AS wmean,
        | CAST(sum(w) AS BIGINT) AS n_drawn
        |FROM weighted GROUP BY b ORDER BY replicate""".stripMargin,
    "q121_stream_enrich_index" ->
      """SELECT year(o_orderdate) AS yr, 'PreservedSpecimen' AS bor,
        | count(*) AS n
        |FROM orders GROUP BY yr ORDER BY yr, bor""".stripMargin,
    "q136_char_entropy" ->
      """WITH chars AS (
        | SELECT doc_id, unnest(string_split_regex(text, '')) AS ch
        | FROM documents),
        |f AS (
        | SELECT doc_id, ch, CAST(count(*) AS DOUBLE) AS c
        | FROM chars WHERE ch <> '' GROUP BY doc_id, ch),
        |tot AS (SELECT doc_id, sum(c) AS n FROM f GROUP BY doc_id)
        |SELECT f.doc_id, round(-sum((c/n)*log2(c/n)), 6) AS h_bits
        |FROM f JOIN tot USING (doc_id)
        |GROUP BY f.doc_id ORDER BY f.doc_id""".stripMargin,
    "q135_leakage_safe_split" ->
      """WITH RECURSIVE sh AS (
        | SELECT doc_id,
        |  CASE WHEN length(norm) < 16 THEN [norm]
        |   ELSE list_distinct(list_transform(
        |    range(1, length(norm)-14), i -> norm[i:i+15])) END AS shingles
        | FROM (SELECT doc_id,
        |   regexp_replace(lower(trim(text)),'\s+',' ','g') AS norm
        |   FROM documents)),
        |p AS (
        | SELECT a.doc_id AS id_a, b.doc_id AS id_b
        | FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        | WHERE CAST(length(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
        |  (length(a.shingles)+length(b.shingles)
        |    -length(list_intersect(a.shingles,b.shingles))) >= 0.5),
        |edges AS (SELECT id_a AS s, id_b AS t FROM p
        |          UNION SELECT id_b, id_a FROM p),
        |walk(node, reach) AS (
        | SELECT s, s FROM edges
        | UNION
        | SELECT w.node, e.t FROM walk w JOIN edges e ON w.reach = e.s),
        |comp AS (SELECT node, min(reach) AS component FROM walk GROUP BY node),
        |cl AS (
        | SELECT d.doc_id AS id, coalesce(c.component, d.doc_id) AS cluster
        | FROM documents d LEFT JOIN comp c ON d.doc_id = c.node),
        |sp AS (
        | SELECT id, cluster, CASE
        |  WHEN substr(md5(CAST(cluster AS VARCHAR) || ':ls1'),1,8)
        |    < '19999999' THEN 'test'
        |  WHEN substr(md5(CAST(cluster AS VARCHAR) || ':ls1'),1,8)
        |    < '33333333' THEN 'val'
        |  ELSE 'train' END AS split
        | FROM cl)
        |SELECT split, count(*) AS n_docs,
        | count(DISTINCT cluster) AS n_clusters
        |FROM sp GROUP BY split ORDER BY split""".stripMargin,
    "q134_markup_stats" ->
      """SELECT source, count(*) AS docs,
        | CAST(sum(len(regexp_extract_all(text, '(?m)^#{1,6} ')))
        |   AS BIGINT) AS md_headings,
        | CAST(sum(len(regexp_extract_all(text, '\[[^\]]*\]\([^)]*\)')))
        |   AS BIGINT) AS md_links,
        | CAST(sum(len(regexp_extract_all(text, '```')))
        |   AS BIGINT) AS code_fence_marks,
        | CAST(sum(len(regexp_extract_all(text, '<[a-zA-Z][^>]*>')))
        |   AS BIGINT) AS html_tags,
        | CAST(sum(len(regexp_extract_all(text, 'https?://[^\s]+')))
        |   AS BIGINT) AS urls
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "q133_compaction_plan" ->
      """WITH files AS (
        | SELECT l_returnflag AS pt,
        |  CAST(l_orderkey AS VARCHAR) || '-' ||
        |    CAST(l_linenumber AS VARCHAR) AS path,
        |  CAST(l_quantity AS BIGINT) * 1048576 AS bytes
        | FROM lineitem),
        |binned AS (
        | SELECT pt AS partition, path, bytes AS size_bytes,
        |  CAST((sum(bytes) OVER (PARTITION BY pt ORDER BY path, bytes
        |     ROWS UNBOUNDED PRECEDING) - bytes) // 536870912 AS BIGINT)
        |   AS bin
        | FROM files)
        |SELECT partition, bin, count(*) AS n_files,
        | CAST(sum(size_bytes) AS BIGINT) AS bytes
        |FROM binned GROUP BY partition, bin
        |ORDER BY partition, bin""".stripMargin,
    "q132_raster_sample" ->
      """WITH pts AS (
        | SELECT (o_orderkey % 120 - 60) + 0.5 AS lat,
        |        (o_orderkey % 240 - 120) + 0.25 AS lon
        | FROM orders),
        |ras AS (
        | SELECT DISTINCT 'el' || CAST(p_partkey % 2 + 1 AS VARCHAR)
        |    AS layer,
        |  p_partkey % 48 - 24 AS ix, p_partkey % 24 - 12 AS iy
        | FROM part),
        |rv AS (SELECT layer, ix, iy, CAST(ix * 7 + iy * 3 AS DOUBLE)
        |   AS value FROM ras),
        |keyed AS (
        | SELECT lat, lon,
        |  CAST(floor(lon / 5.0) AS BIGINT) AS ix,
        |  CAST(floor(lat / 5.0) AS BIGINT) AS iy
        | FROM pts)
        |SELECT layer, count(*) AS n_samples,
        | round(sum(value), 2) AS value_sum, round(sum(lat), 2) AS lat_sum
        |FROM keyed k JOIN rv USING (ix, iy)
        |GROUP BY layer ORDER BY layer""".stripMargin,
    "q131_geohash_facet" ->
      """WITH pts AS (
        | SELECT (o_orderkey % 120 - 60) + 0.5 AS lat,
        |        (o_orderkey % 240 - 120) + 0.25 AS lon
        | FROM orders),
        |q AS (
        | SELECT least(CAST(floor((lon + 180.0) / 360.0 * 32768) AS BIGINT),
        |    32767) AS ilon,
        |  least(CAST(floor((lat + 90.0) / 180.0 * 32768) AS BIGINT),
        |    32767) AS ilat
        | FROM pts),
        |s1 AS (SELECT (ilon | (ilon << 8)) & 16711935 AS a,
        |  (ilat | (ilat << 8)) & 16711935 AS b FROM q),
        |s2 AS (SELECT (a | (a << 4)) & 252645135 AS a,
        |  (b | (b << 4)) & 252645135 AS b FROM s1),
        |s3 AS (SELECT (a | (a << 2)) & 858993459 AS a,
        |  (b | (b << 2)) & 858993459 AS b FROM s2),
        |s4 AS (SELECT (a | (a << 1)) & 1431655765 AS a,
        |  (b | (b << 1)) & 1431655765 AS b FROM s3),
        |m AS (SELECT (a << 1) | b AS morton FROM s4),
        |g AS (SELECT list_aggregate(list_transform(range(0, 6),
        |   i -> substring('0123456789bcdefghjkmnpqrstuvwxyz',
        |    CAST(((morton >> (25 - 5 * i)) & 31) + 1 AS INT), 1)),
        |  'string_agg', '') AS gh FROM m)
        |SELECT gh, count(*) AS n FROM g GROUP BY gh ORDER BY gh""".stripMargin,
    "q120_sorted_neighborhood" ->
      """WITH r AS (
        | SELECT c_nationkey AS nk, c_custkey AS id, c_name AS name,
        |  row_number() OVER (PARTITION BY c_nationkey
        |    ORDER BY c_name, c_custkey) AS rk
        | FROM customer),
        |p AS (
        | SELECT a.nk, a.name AS name_a, b.name AS name_b
        | FROM r a JOIN r b ON a.nk = b.nk
        |  AND b.rk BETWEEN a.rk + 1 AND a.rk + 3)
        |SELECT nk AS nation, count(*) AS n_pairs,
        | CAST(sum(CASE WHEN round(jaro_winkler_similarity(name_a, name_b),
        |   6) >= 0.9 THEN 1 ELSE 0 END) AS BIGINT) AS n_strong
        |FROM p GROUP BY nk ORDER BY nation""".stripMargin,
    "q119_dwca_roundtrip" ->
      """SELECT CAST(n_regionkey AS VARCHAR) AS locality,
        | count(*) AS n, min(n_name) AS first_name
        |FROM nation GROUP BY locality ORDER BY locality""".stripMargin,
    "q118_group_weighted_sample" ->
      """WITH k AS (
        | SELECT c_nationkey, c_custkey,
        |  pow((CAST('0x' || substring(
        |     md5(CAST(c_custkey AS VARCHAR) || ':gws'), 1, 8) AS UBIGINT)
        |    + 1.0) / 4294967296.0,
        |   1.0 / (c_acctbal + 1000.0)) AS es_key
        | FROM customer),
        |r AS (SELECT *, row_number() OVER (PARTITION BY c_nationkey
        |  ORDER BY es_key DESC, c_custkey) AS rn FROM k)
        |SELECT c_nationkey AS nation, c_custkey AS cust,
        | round(es_key, 6) AS es_key
        |FROM r WHERE rn <= 4 ORDER BY nation, cust""".stripMargin,
    "q115_substring_dedup" ->
      """WITH toks AS (
        | SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ts
        | FROM documents),
        |tok AS (
        | SELECT doc_id, unnest(ts) AS tok,
        |  unnest(range(0, len(ts))) AS pos FROM toks),
        |win AS (
        | SELECT doc_id, unnest(range(0, len(ts) - 7)) AS wpos,
        |  unnest(list_transform(range(1, len(ts) - 6),
        |   i -> array_to_string(list_slice(ts, i, i + 7), ' '))) AS gram
        | FROM toks WHERE len(ts) >= 8),
        |flagged AS (
        | SELECT doc_id, wpos FROM (
        |  SELECT doc_id, wpos, row_number() OVER (PARTITION BY gram
        |    ORDER BY doc_id, wpos) AS rk FROM win) WHERE rk > 1),
        |rm AS (
        | SELECT DISTINCT doc_id, wpos + d AS pos
        | FROM flagged CROSS JOIN (SELECT unnest(range(0, 8)) AS d) dd),
        |kept AS (
        | SELECT t.doc_id, t.pos, t.tok FROM tok t
        | LEFT JOIN rm ON t.doc_id = rm.doc_id AND t.pos = rm.pos
        | WHERE rm.pos IS NULL)
        |SELECT ti.doc_id,
        | md5(coalesce(string_agg(k.tok, ' ' ORDER BY k.pos), ''))
        |   AS text_md5,
        | ti.n_tokens_in,
        | CAST(count(k.pos) AS BIGINT) AS n_tokens_kept
        |FROM (SELECT doc_id, count(*) AS n_tokens_in FROM tok
        |      GROUP BY doc_id) ti
        |LEFT JOIN kept k ON ti.doc_id = k.doc_id
        |GROUP BY ti.doc_id, ti.n_tokens_in
        |ORDER BY ti.doc_id""".stripMargin,
    "q116_stream_heavy_hitters" ->
      """WITH w AS (
        | SELECT unnest(regexp_split_to_array(lower(trim(text)),'\s+'))
        |  AS item
        | FROM documents),
        |c AS (
        | SELECT item, count(*) AS cnt FROM w
        | WHERE length(item) > 0 GROUP BY item),
        |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM c)
        |SELECT item, cnt FROM c, t WHERE cnt * 60 > t.n
        |ORDER BY item""".stripMargin,
    "q110_paragraph_dedup" ->
      """WITH pages AS (
        | SELECT CAST(floor(doc_id / 5) AS BIGINT) AS page_id,
        |  string_agg(CASE WHEN doc_id % 7 = 0
        |    THEN 'standard legal disclaimer boilerplate' ELSE text END,
        |   chr(10)||chr(10) ORDER BY doc_id) AS text
        | FROM documents GROUP BY 1),
        |paras AS (
        | SELECT page_id,
        |  unnest(string_split(text, chr(10)||chr(10))) AS para,
        |  unnest(range(1, len(string_split(text, chr(10)||chr(10))) + 1))
        |    AS pos
        | FROM pages),
        |ranked AS (
        | SELECT page_id, pos, para,
        |  row_number() OVER (PARTITION BY para ORDER BY page_id, pos) AS rk
        | FROM paras)
        |SELECT page_id, count(*) AS n_paras_in,
        | CAST(sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_paras_kept,
        | md5(coalesce(string_agg(CASE WHEN rk = 1 THEN para END,
        |   chr(10)||chr(10) ORDER BY pos), '')) AS text_md5
        |FROM ranked GROUP BY page_id ORDER BY page_id""".stripMargin,
    "q111_bloom_decontaminate" ->
      """WITH w AS (
        | SELECT doc_id, source,
        |  regexp_split_to_array(lower(trim(text)),'\s+') AS ws
        | FROM documents),
        |g AS (
        | SELECT doc_id, source,
        |  CASE WHEN length(ws) < 6 THEN [array_to_string(ws,' ')]
        |   ELSE list_distinct(list_transform(range(1, length(ws)-4),
        |    i -> array_to_string(list_slice(ws,i,i+5),' '))) END AS grams
        | FROM w),
        |bench AS (SELECT DISTINCT unnest(grams) AS gram FROM g
        |          WHERE source='src1'),
        |corpus AS (SELECT doc_id, unnest(grams) AS gram FROM g
        |           WHERE source<>'src1')
        |SELECT DISTINCT c.doc_id FROM corpus c JOIN bench b USING (gram)
        |ORDER BY doc_id""".stripMargin,
    "q112_temperature_mix" ->
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
        |z AS (SELECT sum(sqrt(n)) AS z FROM c),
        |r AS (SELECT lang, n,
        |  round(least(1.0, (sqrt(n)/z.z) *
        |    (SELECT min(c2.n / (sqrt(c2.n)/z2.z)) FROM c c2, z z2) / n),
        |   6) AS rate
        | FROM c, z),
        |t AS (SELECT lang, printf('%08x',
        |   CAST(least(floor(rate*4294967296.0), 4294967295) AS BIGINT))
        |  AS thr FROM r)
        |SELECT d.lang, count(*) AS n
        |FROM documents d JOIN t USING (lang)
        |WHERE substring(md5(CAST(doc_id AS VARCHAR) || ':tmix'), 1, 8)
        |  < thr
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin,
    "q113_blocklist" ->
      """SELECT doc_id, CAST(len(hits) AS BIGINT) AS n_pats,
        | array_to_string(hits, '|') AS hits
        |FROM (SELECT doc_id,
        |  list_filter(['slow fast','hash join','merge batch','scan scan',
        |    'value part hash','key agg row'],
        |   p -> contains(text, p)) AS hits
        | FROM documents)
        |WHERE len(hits) > 0 ORDER BY doc_id""".stripMargin,
    "q114_kmv_sketch" ->
      """WITH w AS (
        | SELECT source, regexp_split_to_array(lower(trim(text)),'\s+') AS ws
        | FROM documents),
        |g AS (
        | SELECT DISTINCT source,
        |  unnest(CASE WHEN length(ws) < 3 THEN [array_to_string(ws,' ')]
        |   ELSE list_distinct(list_transform(range(1, length(ws)-1),
        |    i -> array_to_string(list_slice(ws,i,i+2),' '))) END) AS gram
        | FROM w),
        |sk AS (SELECT source,
        |  list_slice(list_sort(list(DISTINCT md5(gram))), 1, 64) AS sk
        | FROM g GROUP BY source),
        |b AS (SELECT sk AS sk0 FROM sk WHERE source = 'src0'),
        |j AS (SELECT source, sk, sk0,
        |  list_slice(list_sort(list_distinct(sk || sk0)), 1, 64) AS u
        | FROM sk, b)
        |SELECT source, CAST(len(sk) AS BIGINT) AS k_used,
        | round(4294967296.0 * (len(sk) - 1) /
        |   CAST('0x' || substring(sk[len(sk)], 1, 8) AS BIGINT), 4)
        |  AS est_distinct,
        | round(CAST(len(list_filter(u, h -> list_contains(sk, h)
        |     AND list_contains(sk0, h))) AS DOUBLE) / len(u), 4)
        |  AS jac_vs_src0
        |FROM j ORDER BY source""".stripMargin,
    "q109_topk_operator" ->
      """WITH r AS (
        | SELECT o_orderpriority, o_orderkey, o_totalprice,
        |  row_number() OVER (PARTITION BY o_orderpriority
        |   ORDER BY o_totalprice DESC, o_orderkey) AS rn
        | FROM orders)
        |SELECT o_orderpriority, o_orderkey, o_totalprice
        |FROM r WHERE rn <= 5
        |ORDER BY o_orderpriority, o_totalprice DESC, o_orderkey""".stripMargin,
    // the repo's codegen'd jaro_winkler reproduces DuckDB's built-in
    // conventions exactly (empty → 0, window ⌊max/2⌋−1, boost ≥ 0.7,
    // prefix cap 4); thresholds compare on round(·, 6) so a last-ulp
    // transcendental difference cannot flip a boundary pair
    "q106_jaro_winkler" ->
      """SELECT a.c_nationkey AS nationkey, count(*) AS n_pairs
        |FROM customer a JOIN customer b
        | ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
        |WHERE round(jaro_winkler_similarity(a.c_name, b.c_name), 6) >= 0.96
        |GROUP BY a.c_nationkey ORDER BY nationkey""".stripMargin,
    "q107_cumulative_users" ->
      """WITH fs AS (
        | SELECT user_id,
        |  min(CAST(floor(epoch(ts) / 86400) AS BIGINT)) AS day
        | FROM events GROUP BY user_id),
        |daily AS (
        | SELECT day, count(*) AS new_users FROM fs GROUP BY day)
        |SELECT day, new_users,
        | CAST(sum(new_users) OVER (ORDER BY day
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |  AS cum_users
        |FROM daily ORDER BY day""".stripMargin,
    // min-label transitive closure via recursive CTE — same clusters as
    // the distributed min-propagation components
    "q108_entity_resolution" ->
      """WITH RECURSIVE e AS (
        | SELECT a.c_custkey AS s, b.c_custkey AS d
        | FROM customer a JOIN customer b
        |  ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
        | WHERE round(jaro_winkler_similarity(a.c_name, b.c_name), 6)
        |  >= 0.98),
        |u AS (SELECT s, d FROM e UNION SELECT d, s FROM e),
        |n AS (SELECT DISTINCT s AS node FROM u),
        |r(node, lab) AS (
        | SELECT node, node FROM n
        | UNION
        | SELECT u.d, r.lab FROM r JOIN u ON u.s = r.node),
        |lbl AS (SELECT node, min(lab) AS cluster FROM r GROUP BY node)
        |SELECT cluster, count(*) AS n_members
        |FROM lbl GROUP BY cluster ORDER BY cluster""".stripMargin,
    // the sketch pass only NOMINATES candidates; the verify pass and the
    // integer threshold (cnt·k > N) make the result exact, so a plain
    // exact-count oracle applies
    "q101_heavy_hitters" ->
      """WITH w AS (
        | SELECT unnest(regexp_split_to_array(lower(trim(text)),'\s+'))
        |  AS item
        | FROM documents),
        |c AS (
        | SELECT item, count(*) AS cnt FROM w
        | WHERE length(item) > 0 GROUP BY item),
        |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM c)
        |SELECT item, cnt FROM c, t WHERE cnt * 30 > t.n
        |ORDER BY item""".stripMargin,
    "q102_url_parse" ->
      """WITH u AS (
        | SELECT 'https://' || source || '.example.org/d/' || doc_id ||
        |  '?lang=' || lang AS url
        | FROM documents),
        |p AS (
        | SELECT regexp_extract(url, 'https://([^/]+)/', 1) AS host,
        |  regexp_extract(url, '[?&]lang=([a-z]+)', 1) AS lang,
        |  CAST(regexp_extract(url, '/d/([0-9]+)', 1) AS BIGINT) AS path_id
        | FROM u)
        |SELECT host, lang, count(*) AS n, min(path_id) AS min_id,
        | max(path_id) AS max_id
        |FROM p GROUP BY host, lang ORDER BY host, lang""".stripMargin,
    "q103_stream_static_join" ->
      """SELECT time_bucket(INTERVAL '6 hours', ts) AS bucket,
        | c_mktsegment, count(*) AS n
        |FROM events e JOIN customer c
        | ON c.c_custkey = e.user_id % 1500 + 1
        |GROUP BY bucket, c_mktsegment
        |ORDER BY bucket, c_mktsegment""".stripMargin,
    "q104_histogram" ->
      """SELECT o_orderstatus,
        | CAST(least(floor(o_totalprice / 25000.0), 19) AS BIGINT)
        |  AS bucket,
        | count(*) AS n
        |FROM orders GROUP BY o_orderstatus, bucket
        |ORDER BY o_orderstatus, bucket""".stripMargin,
    // quantile_cont list boundaries == Spark `percentile(..., array)` —
    // both interpolate at (n-1)·p, so the bucket assignment agrees exactly
    "q105_equidepth" ->
      """WITH b AS (
        | SELECT quantile_cont(o_totalprice,
        |  [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS bs
        | FROM orders)
        |SELECT CAST(1 +
        |  (CASE WHEN o_totalprice > bs[1] THEN 1 ELSE 0 END) +
        |  (CASE WHEN o_totalprice > bs[2] THEN 1 ELSE 0 END) +
        |  (CASE WHEN o_totalprice > bs[3] THEN 1 ELSE 0 END) +
        |  (CASE WHEN o_totalprice > bs[4] THEN 1 ELSE 0 END) +
        |  (CASE WHEN o_totalprice > bs[5] THEN 1 ELSE 0 END) +
        |  (CASE WHEN o_totalprice > bs[6] THEN 1 ELSE 0 END) +
        |  (CASE WHEN o_totalprice > bs[7] THEN 1 ELSE 0 END) AS BIGINT)
        |  AS bucket,
        | count(*) AS n, round(min(o_totalprice), 2) AS lo,
        | round(max(o_totalprice), 2) AS hi
        |FROM orders, b GROUP BY bucket ORDER BY bucket""".stripMargin,
    // exact interpolated medians: Spark `percentile` and DuckDB
    // `quantile_cont` share the (n-1)·p convention, so the group stats are
    // bit-identical and the unrounded filter agrees across engines
    "q98_mad_outliers" ->
      """WITH med AS (
        | SELECT event_type, quantile_cont(value, 0.5) AS m
        | FROM events GROUP BY 1),
        |d AS (
        | SELECT e.event_id, e.event_type, e.value, abs(e.value - m.m) AS ad
        | FROM events e JOIN med m USING (event_type)),
        |mad AS (
        | SELECT event_type, quantile_cont(ad, 0.5) AS mad
        | FROM d GROUP BY 1)
        |SELECT event_id, d.event_type, value,
        | round(0.6745 * ad / mad.mad, 2) AS robust_z
        |FROM d JOIN mad USING (event_type)
        |WHERE mad.mad > 0 AND 0.6745 * ad / mad.mad > 3.0
        |ORDER BY event_id""".stripMargin,
    "q99_rrf_fusion" ->
      """WITH base AS (
        | SELECT doc_id,
        |  CAST(length(regexp_split_to_array(lower(trim(text)),'\s+'))
        |   AS DOUBLE) AS dl,
        |  unnest(regexp_split_to_array(lower(trim(text)),'\s+')) AS w
        | FROM documents),
        |stats AS (
        | SELECT CAST(count(*) AS DOUBLE) AS N, avg(dl) AS avgdl
        | FROM (SELECT doc_id, any_value(dl) AS dl FROM base GROUP BY doc_id)),
        |tf AS (
        | SELECT doc_id, w, CAST(count(*) AS DOUBLE) AS tf,
        |  any_value(dl) AS dl
        | FROM base WHERE w IN ('spark','query','vector')
        | GROUP BY doc_id, w),
        |dfx AS (SELECT w, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY w),
        |bm AS (
        | SELECT doc_id AS id, round(sum(
        |  ln(1.0 + (stats.N - df + 0.5)/(df + 0.5)) * tf * (1.2 + 1.0) /
        |  (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / stats.avgdl))), 4) AS score
        | FROM tf JOIN dfx USING (w), stats GROUP BY doc_id),
        |qv AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
        |       WHERE vec_id = 0),
        |cs AS (
        | SELECT vec_id AS id,
        |  round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv.qv),
        |   4) AS score
        | FROM embeddings, qv WHERE vec_id >= 1),
        |rb AS (SELECT id, row_number() OVER (ORDER BY score DESC, id)
        |       AS rank FROM bm),
        |rc AS (SELECT id, row_number() OVER (ORDER BY score DESC, id)
        |       AS rank FROM cs),
        |u AS (SELECT * FROM rb UNION ALL SELECT * FROM rc)
        |SELECT id, round(sum(1.0 / (60.0 + rank)), 6) AS rrf,
        | count(*) AS n_rankings
        |FROM u GROUP BY id ORDER BY rrf DESC, id LIMIT 30""".stripMargin,
    "q92_inverted_index" ->
      """WITH w AS (
        | SELECT doc_id,
        |  unnest(list_distinct(regexp_split_to_array(lower(trim(text)),
        |   '\s+'))) AS term
        | FROM documents)
        |SELECT term, count(*) AS df,
        | array_to_string(list_sort(list(doc_id)), ',') AS postings
        |FROM w WHERE length(term) > 0
        |GROUP BY term HAVING count(*) <= 400
        |ORDER BY term""".stripMargin,
    "q93_kl_drift" ->
      """WITH words AS (
        | SELECT source AS slice,
        |  unnest(regexp_split_to_array(lower(trim(text)),'\s+')) AS w
        | FROM documents),
        |counts AS (
        | SELECT slice, w, CAST(count(*) AS DOUBLE) AS c FROM words
        | WHERE length(w) > 0 GROUP BY slice, w),
        |totals AS (SELECT slice, sum(c) AS tot FROM counts GROUP BY slice),
        |corpus AS (SELECT w, sum(c) AS call FROM counts GROUP BY w),
        |vs AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM corpus),
        |gt AS (SELECT sum(tot) AS g FROM totals),
        |grid AS (
        | SELECT t.slice, t.tot, co.call, coalesce(c.c, 0) AS c
        | FROM totals t CROSS JOIN corpus co
        | LEFT JOIN counts c ON c.slice = t.slice AND c.w = co.w),
        |pq AS (
        | SELECT slice, c,
        |  (c + 0.5) / (tot + 0.5 * vs.v) AS p,
        |  (call - c + 0.5) / ((gt.g - tot) + 0.5 * vs.v) AS q
        | FROM grid, vs, gt)
        |SELECT slice, round(sum(p * ln(p / q)), 6) AS kl,
        | CAST(sum(c) AS BIGINT) AS n_tokens
        |FROM pq GROUP BY slice ORDER BY slice""".stripMargin,
    "q94_vocab_coverage" ->
      """WITH words AS (
        | SELECT source AS slice,
        |  unnest(regexp_split_to_array(lower(trim(text)),'\s+')) AS w
        | FROM documents),
        |clean AS (SELECT slice, w FROM words WHERE length(w) > 0),
        |vocab AS (
        | SELECT w FROM clean GROUP BY w
        | ORDER BY count(*) DESC, w LIMIT 20)
        |SELECT slice, count(*) AS n_tokens,
        | CAST(sum(CASE WHEN w IN (SELECT w FROM vocab) THEN 1 ELSE 0 END)
        |  AS BIGINT) AS covered,
        | round(CAST(sum(CASE WHEN w IN (SELECT w FROM vocab) THEN 1 ELSE 0
        |  END) AS DOUBLE) / count(*), 6) AS coverage
        |FROM clean GROUP BY slice ORDER BY slice""".stripMargin,
    // PageRank unrolled to 5 synchronous rounds; the Spark side symmetrises
    // the edge list, so every node has out-degree >= 1 and the dangling
    // term is identically zero in both engines
    "q95_pagerank" ->
      """WITH base AS (
        | SELECT DISTINCT l_partkey AS src, l_suppkey + 1000000 AS dst
        | FROM lineitem),
        |edges AS (
        | SELECT src, dst FROM base
        | UNION SELECT dst AS src, src AS dst FROM base),
        |nodes AS (
        | SELECT DISTINCT src AS node FROM edges
        | UNION SELECT DISTINCT dst AS node FROM edges),
        |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
        |dg AS (SELECT src, CAST(count(*) AS DOUBLE) AS deg FROM edges
        |       GROUP BY src),
        |r0 AS (SELECT node, 1.0 / nn.n AS rank FROM nodes, nn),
        |c1 AS (SELECT e.dst AS node, sum(r.rank / dg.deg) AS inflow
        |       FROM edges e JOIN r0 r ON r.node = e.src
        |       JOIN dg ON dg.src = e.src GROUP BY e.dst),
        |r1 AS (SELECT n.node,
        |        0.15 / nn.n + 0.85 * coalesce(c.inflow, 0) AS rank
        |       FROM nodes n LEFT JOIN c1 c ON c.node = n.node, nn),
        |c2 AS (SELECT e.dst AS node, sum(r.rank / dg.deg) AS inflow
        |       FROM edges e JOIN r1 r ON r.node = e.src
        |       JOIN dg ON dg.src = e.src GROUP BY e.dst),
        |r2 AS (SELECT n.node,
        |        0.15 / nn.n + 0.85 * coalesce(c.inflow, 0) AS rank
        |       FROM nodes n LEFT JOIN c2 c ON c.node = n.node, nn),
        |c3 AS (SELECT e.dst AS node, sum(r.rank / dg.deg) AS inflow
        |       FROM edges e JOIN r2 r ON r.node = e.src
        |       JOIN dg ON dg.src = e.src GROUP BY e.dst),
        |r3 AS (SELECT n.node,
        |        0.15 / nn.n + 0.85 * coalesce(c.inflow, 0) AS rank
        |       FROM nodes n LEFT JOIN c3 c ON c.node = n.node, nn),
        |c4 AS (SELECT e.dst AS node, sum(r.rank / dg.deg) AS inflow
        |       FROM edges e JOIN r3 r ON r.node = e.src
        |       JOIN dg ON dg.src = e.src GROUP BY e.dst),
        |r4 AS (SELECT n.node,
        |        0.15 / nn.n + 0.85 * coalesce(c.inflow, 0) AS rank
        |       FROM nodes n LEFT JOIN c4 c ON c.node = n.node, nn),
        |c5 AS (SELECT e.dst AS node, sum(r.rank / dg.deg) AS inflow
        |       FROM edges e JOIN r4 r ON r.node = e.src
        |       JOIN dg ON dg.src = e.src GROUP BY e.dst),
        |r5 AS (SELECT n.node,
        |        0.15 / nn.n + 0.85 * coalesce(c.inflow, 0) AS rank
        |       FROM nodes n LEFT JOIN c5 c ON c.node = n.node, nn)
        |SELECT node, round(rank, 8) AS rank FROM r5
        |ORDER BY node""".stripMargin,
    // plain a<b<c three-way join — counts each triangle exactly once, same
    // multiset as the Spark side's degree-oriented enumeration
    "q96_triangles" ->
      """WITH e AS (
        | SELECT DISTINCT least(o_custkey, o_orderkey % 1499 + 1) AS a,
        |  greatest(o_custkey, o_orderkey % 1499 + 1) AS b
        | FROM orders WHERE o_custkey <> o_orderkey % 1499 + 1),
        |t AS (
        | SELECT e1.a AS x, e1.b AS y, e2.b AS z
        | FROM e e1 JOIN e e2 ON e2.a = e1.b
        | JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
        |SELECT node, count(*) AS tri_cnt
        |FROM (SELECT unnest([x, y, z]) AS node FROM t)
        |GROUP BY node ORDER BY node""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity),2) AS sum_qty,
        | round(sum(l_extendedprice),2) AS sum_base_price,
        | round(sum(l_extendedprice*(1-l_discount)),2) AS sum_disc_price,
        | round(sum(l_discount),2) AS sum_disc,
        | count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q2_facet_mincount" ->
      """SELECT p_brand, count(*) AS cnt FROM part
        |GROUP BY p_brand HAVING count(*) >= 5 ORDER BY p_brand""".stripMargin,
    "q3_distinct" ->
      "SELECT DISTINCT c_mktsegment FROM customer ORDER BY c_mktsegment",
    "q4_star_join" ->
      """SELECT r_name,
        | round(sum(l_extendedprice*(1-l_discount)),2) AS revenue,
        | count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,
    "q5_broadcast_join" ->
      """SELECT p_brand, round(sum(l_quantity),2) AS total_qty,
        | count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "q6_semi_join" ->
      """SELECT o_orderstatus, count(*) AS n_orders FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey AND l_quantity >= 49)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q7_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q8_range_join" ->
      """SELECT band, count(*) AS n_parts,
        | round(sum(p_retailprice),2) AS total_price
        |FROM part
        |JOIN (VALUES ('band0',0.0,500.0),('band1',500.0,1000.0),
        |  ('band2',1000.0,1500.0),('band3',1500.0,100000.0))
        |  AS bands(band, lo, hi)
        | ON p_retailprice >= lo AND p_retailprice < hi
        |GROUP BY band ORDER BY band""".stripMargin,
    "q9_window_topk" ->
      """SELECT c_nationkey, rnk, c_custkey, acctbal FROM (
        | SELECT c_nationkey, c_custkey, round(c_acctbal,2) AS acctbal,
        |  row_number() OVER (PARTITION BY c_nationkey
        |    ORDER BY c_acctbal DESC, c_custkey ASC) AS rnk
        | FROM customer) WHERE rnk <= 2
        |ORDER BY c_nationkey, rnk""".stripMargin,
    "q10_window_max" ->
      """SELECT c_custkey, c_nationkey, round(c_acctbal,2) AS acctbal,
        | round(max(c_acctbal) OVER (PARTITION BY c_nationkey),2) AS nation_max
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "q11_limit" ->
      """SELECT o_orderkey, round(o_totalprice,2) AS totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100""".stripMargin,
    "q12_except" ->
      """SELECT o_custkey FROM orders WHERE year(o_orderdate)=1995
        |EXCEPT SELECT o_custkey FROM orders WHERE year(o_orderdate)=1996
        |ORDER BY o_custkey""".stripMargin,
    "q13_union" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |UNION SELECT s_nationkey AS nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin,
    "q14_date_parts" ->
      """SELECT year(o_orderdate) AS yr, month(o_orderdate) AS mth,
        | count(*) AS n_orders, round(sum(o_totalprice),2) AS total
        |FROM orders GROUP BY yr, mth ORDER BY yr, mth""".stripMargin,
    "q15_date_trunc" ->
      """SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
        | count(*) AS n, round(sum(value),2) AS total_value
        |FROM events GROUP BY day, event_type ORDER BY day, event_type""".stripMargin,
    "q16_string_funcs" ->
      """SELECT c_custkey, upper(c_name) AS name_upper,
        | CAST(length(c_name) AS BIGINT) AS name_len,
        | CAST(levenshtein(lower(c_mktsegment),'building') AS BIGINT) AS lev
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "q17_json" ->
      """SELECT CAST(json_extract_string(props,'$.k') AS BIGINT) AS k,
        | count(*) AS n
        |FROM events GROUP BY k ORDER BY k""".stripMargin,
    "q18_coord_round" ->
      """SELECT DISTINCT round(value,0) AS v0, round(value,1) AS v1
        |FROM events ORDER BY v0, v1""".stripMargin,
    "q19_dedup_exact" ->
      """SELECT fp, count(*) AS n_docs, min(doc_id) AS representative_id
        |FROM (SELECT doc_id,
        |  md5(regexp_replace(lower(trim(text)),'\s+',' ','g')) AS fp
        |  FROM documents)
        |GROUP BY fp HAVING count(*) > 1 ORDER BY fp""".stripMargin,
    "q20_fingerprint" ->
      """SELECT doc_id,
        | md5(regexp_replace(lower(trim(text)),'\s+',' ','g')) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q21_token_count" ->
      """SELECT doc_id,
        | CASE WHEN length(trim(text))=0 THEN 0
        |   ELSE CAST(length(regexp_split_to_array(trim(text),'\s+')) AS BIGINT)
        | END AS n_tokens,
        | CAST(length(text) AS BIGINT) AS n_chars_actual
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q22_text_quality" ->
      """SELECT doc_id,
        | CAST(length(regexp_split_to_array(trim(text),'\s+')) AS BIGINT)
        |   AS n_tokens,
        | round(CAST(list_sum(list_transform(
        |     regexp_split_to_array(trim(text),'\s+'), x -> length(x)))
        |   AS DOUBLE) / length(regexp_split_to_array(trim(text),'\s+')), 4)
        |   AS mean_word_len
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q23_lang_hist" ->
      """SELECT lang, source, count(*) AS n FROM documents
        |GROUP BY lang, source ORDER BY lang, source""".stripMargin,
    "q24_keyed_lookup" ->
      """SELECT o_orderkey, o_orderstatus, round(o_totalprice,2) AS totalprice
        |FROM orders WHERE o_orderkey IN (1,2,3,5,8,13,21,34)
        |ORDER BY o_orderkey""".stripMargin,
    "q25_filter_project" ->
      """SELECT l_orderkey, l_linenumber, round(l_extendedprice,2) AS price
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        | AND l_shipdate < TIMESTAMP '1997-01-01'
        | AND l_quantity > 45 AND l_returnflag IS NOT NULL
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q26_jackknife_stats" ->
      """SELECT l_partkey, count(*) AS n,
        | round(min(l_extendedprice),2) AS mn,
        | round(max(l_extendedprice),2) AS mx,
        | round(sum(l_extendedprice),2) AS total,
        | round((0.95*sqrt(count(*))+0.2) *
        |   ((max(l_extendedprice)-min(l_extendedprice))/50.0),2) AS threshold
        |FROM lineitem GROUP BY l_partkey HAVING count(*) >= 20
        |ORDER BY l_partkey""".stripMargin,
    "q30_ngram_jaccard" ->
      """WITH sh AS (
        | SELECT doc_id,
        |  CASE WHEN length(norm) < 16 THEN [norm]
        |   ELSE list_distinct(list_transform(
        |    range(1, length(norm)-14), i -> norm[i:i+15])) END AS shingles
        | FROM (SELECT doc_id,
        |   regexp_replace(lower(trim(text)),'\s+',' ','g') AS norm
        |   FROM documents)),
        |pairs AS (
        | SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(length(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
        |  (length(a.shingles)+length(b.shingles)
        |    -length(list_intersect(a.shingles,b.shingles))) AS j
        | FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        | WHERE length(list_intersect(a.shingles, b.shingles)) > 0)
        |SELECT id_a, id_b, round(j,4) AS jaccard FROM pairs
        |WHERE j >= 0.5 ORDER BY id_a, id_b""".stripMargin,
    // same brute-force pair derivation as q30, then transitive closure via
    // a recursive CTE → min-id component labels (mirrors Components'
    // min-label propagation from first principles)
    "q51_dedup_clusters" ->
      """WITH RECURSIVE sh AS (
        | SELECT doc_id,
        |  CASE WHEN length(norm) < 16 THEN [norm]
        |   ELSE list_distinct(list_transform(
        |    range(1, length(norm)-14), i -> norm[i:i+15])) END AS shingles
        | FROM (SELECT doc_id,
        |   regexp_replace(lower(trim(text)),'\s+',' ','g') AS norm
        |   FROM documents)),
        |p AS (
        | SELECT a.doc_id AS id_a, b.doc_id AS id_b
        | FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        | WHERE CAST(length(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
        |  (length(a.shingles)+length(b.shingles)
        |    -length(list_intersect(a.shingles,b.shingles))) >= 0.5),
        |edges AS (SELECT id_a AS s, id_b AS t FROM p
        |          UNION SELECT id_b, id_a FROM p),
        |walk(node, reach) AS (
        | SELECT s, s FROM edges
        | UNION
        | SELECT w.node, e.t FROM walk w JOIN edges e ON w.reach = e.s),
        |comp AS (SELECT node, min(reach) AS component FROM walk GROUP BY node)
        |SELECT component AS representative,
        |  count(*) AS n_members, max(node) AS max_member
        |FROM comp GROUP BY component ORDER BY representative""".stripMargin,
    // content-addressed split: same md5 key + hex thresholds as
    // Curation.assignSplit (0.05 → 0ccccccc, 0.10 cumulative → 19999999)
    "q53_hash_split" ->
      """SELECT split, lang, count(*) AS n FROM (
        | SELECT lang, CASE
        |  WHEN substr(md5(doc_id::VARCHAR || ':v1'),1,8) < '0ccccccc'
        |    THEN 'test'
        |  WHEN substr(md5(doc_id::VARCHAR || ':v1'),1,8) < '19999999'
        |    THEN 'val'
        |  ELSE 'train' END AS split
        | FROM documents)
        |GROUP BY split, lang ORDER BY split, lang""".stripMargin,
    // mirrors Curation.rebalanceClasses arithmetic step by step: per-class
    // counts, T = min(n/s), keep-rate = least(1, s*T/n), hex threshold =
    // printf('%08x', floor(rate * 2^32))
    "q54_rebalance" ->
      """WITH counts AS (
        | SELECT lang, count(*)::BIGINT AS n FROM documents
        | WHERE lang IN ('en','zh','es') GROUP BY lang),
        |shares AS (SELECT * FROM (VALUES ('en',0.5::DOUBLE),
        |  ('zh',0.25::DOUBLE),('es',0.25::DOUBLE)) AS t(lang, s)),
        |j AS (SELECT c.lang, c.n, sh.s FROM counts c JOIN shares sh USING (lang)),
        |tot AS (SELECT min(n / s) AS T FROM j),
        |thr AS (SELECT lang, printf('%08x', least(CAST(floor(
        |   least(1.0, s * (SELECT T FROM tot) / n)*4294967296.0) AS BIGINT),
        |   4294967295)) AS hex
        | FROM j)
        |SELECT d.lang, count(*) AS n
        |FROM documents d JOIN thr USING (lang)
        |WHERE substr(md5(d.doc_id::VARCHAR || ':mix1'),1,8) < thr.hex
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin,
    "q55_det_sample" ->
      """SELECT count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
        |FROM documents
        |WHERE substr(md5(doc_id::VARCHAR || ':s1'),1,8) < '40000000'""".stripMargin,
    "q56_pack_tokens" ->
      """WITH tok AS (
        | SELECT doc_id, source,
        |  CASE WHEN length(trim(text))=0 THEN 0
        |   ELSE CAST(length(regexp_split_to_array(trim(text),'\s+')) AS BIGINT)
        |  END AS n_tokens
        | FROM documents),
        |off AS (
        | SELECT source, n_tokens,
        |  COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_offset
        | FROM tok)
        |SELECT source, CAST(floor(tok_offset / 2048.0) AS BIGINT) AS bin,
        | count(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
        |FROM off GROUP BY source, bin ORDER BY source, bin""".stripMargin,
    "q57_gopher_quality" ->
      """WITH base AS (
        | SELECT doc_id,
        |  CASE WHEN length(trim(text))=0 THEN 0
        |   ELSE CAST(length(regexp_split_to_array(trim(text),'\s+')) AS BIGINT)
        |  END AS n_words,
        |  regexp_split_to_array(trim(text),'\s+') AS ws,
        |  regexp_split_to_array(lower(trim(text)),'\s+') AS lws
        | FROM documents),
        |m AS (
        | SELECT doc_id, n_words,
        |  CASE WHEN n_words=0 THEN 0.0 ELSE
        |   round(CAST(list_sum(list_transform(ws, x -> length(x)))
        |    AS DOUBLE)/n_words, 4) END AS mean_word_len,
        |  CASE WHEN n_words=0 THEN 0.0 ELSE
        |   round(CAST(length(list_filter(ws,
        |    w -> regexp_matches(w,'[A-Za-z]'))) AS DOUBLE)/n_words, 4)
        |  END AS alpha_word_ratio,
        |  CASE WHEN n_words=0 THEN 0.0 ELSE
        |   round(CAST(length(list_filter(lws, t -> list_contains(
        |    ['the','a','an','and','or','of','to','in','is','it','that',
        |     'for','on','with','as','was','at','by','be'],
        |    regexp_replace(t,'[^a-z]','','g')))) AS DOUBLE)/n_words, 4)
        |  END AS stop_ratio
        | FROM base)
        |SELECT doc_id, n_words, mean_word_len, alpha_word_ratio, stop_ratio,
        | (n_words >= 20 AND n_words <= 100000 AND mean_word_len >= 2.0
        |  AND mean_word_len <= 10.0 AND alpha_word_ratio >= 0.8) AS pass
        |FROM m ORDER BY doc_id""".stripMargin,
    "q58_decontaminate" ->
      """WITH w AS (
        | SELECT doc_id, source,
        |  regexp_split_to_array(lower(trim(text)),'\s+') AS ws
        | FROM documents),
        |g AS (
        | SELECT doc_id, source,
        |  CASE WHEN length(ws) < 8 THEN [array_to_string(ws,' ')]
        |   ELSE list_distinct(list_transform(range(1, length(ws)-6),
        |    i -> array_to_string(list_slice(ws,i,i+7),' '))) END AS grams
        | FROM w),
        |bench AS (SELECT DISTINCT unnest(grams) AS gram FROM g
        |          WHERE source='src0'),
        |corpus AS (SELECT doc_id, unnest(grams) AS gram FROM g
        |           WHERE source<>'src0')
        |SELECT DISTINCT c.doc_id FROM corpus c JOIN bench b USING (gram)
        |ORDER BY doc_id""".stripMargin,
    // conditional aggregation IS the pivot (engine-portable spelling);
    // dayofweek: Spark is 1=Sunday, DuckDB dayofweek is 0=Sunday → +1
    "q88_pivot" ->
      """SELECT CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
        | CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS click,
        | CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS view,
        | CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT)
        |   AS purchase,
        | CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS signup,
        | CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS error
        |FROM events GROUP BY 1 ORDER BY dow""".stripMargin,
    // exact distinct per group; the within_5pct audit column is pinned
    // TRUE — Spark's HLL++ drifting past 5% relative error fails the hash
    "q90_approx_distinct" ->
      """SELECT l_returnflag,
        | CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
        | TRUE AS within_5pct
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    // group MinHash signature replay: min is associative, so the typed
    // Aggregator's elementwise-min over per-doc md5 signatures equals the
    // per-(source,h) min over the source's pooled distinct shingle set
    "q91_group_signature" ->
      """WITH toks AS (
        | SELECT doc_id, source, list_filter(
        |   regexp_split_to_array(lower(trim(text)), '\s+'),
        |   t -> len(t) > 0) AS ts
        | FROM documents),
        |sh AS (
        | SELECT DISTINCT source, sh FROM (
        |  SELECT source, unnest(list_transform(range(1, len(ts) - 1),
        |    i -> array_to_string(list_slice(ts, i, i + 2), ' '))) AS sh
        |  FROM toks WHERE len(ts) >= 3)),
        |gs AS (
        | SELECT source, h, min(CAST('0x' ||
        |   substring(md5(h::VARCHAR || ':' || sh), 1, 15) AS UBIGINT)) AS mv
        | FROM sh CROSS JOIN (SELECT unnest(range(0, 24)) AS h) hh
        | GROUP BY source, h),
        |pairs AS (
        | SELECT a.source AS src_a, b.source AS src_b,
        |  sum(CASE WHEN a.mv = b.mv THEN 1.0 ELSE 0.0 END) / 24.0 AS sim
        | FROM gs a JOIN gs b ON a.h = b.h AND a.source < b.source
        | GROUP BY 1, 2)
        |SELECT src_a, src_b, round(sim, 4) AS est_jaccard
        |FROM pairs ORDER BY src_a, src_b""".stripMargin,
    "q89_skew_report" ->
      """WITH counts AS (
        | SELECT CAST(l_partkey AS VARCHAR) AS key,
        |  CAST(count(*) AS BIGINT) AS key_rows
        | FROM lineitem GROUP BY 1),
        |stats AS (
        | SELECT CAST(floor(quantile_cont(key_rows, 0.5)) AS BIGINT) AS p50,
        |  CAST(floor(quantile_cont(key_rows, 0.9)) AS BIGINT) AS p90,
        |  CAST(floor(quantile_cont(key_rows, 0.99)) AS BIGINT) AS p99,
        |  max(key_rows) AS max_rows, CAST(count(*) AS BIGINT) AS n_keys
        | FROM counts)
        |SELECT key, key_rows, p50, p90, p99, max_rows, n_keys
        |FROM (SELECT * FROM counts ORDER BY key_rows DESC, key LIMIT 20),
        |  stats
        |ORDER BY key_rows DESC, key""".stripMargin,
    // same run-collapse + interval derivation; epoch_us ≡ unix_micros
    "q84_scd2" ->
      """WITH c AS (
        | SELECT user_id, ts, event_type,
        |  lag(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        | FROM events),
        |runs AS (
        | SELECT user_id, ts, event_type FROM c
        | WHERE prev IS NULL OR prev <> event_type),
        |v AS (
        | SELECT user_id, event_type, ts AS valid_from,
        |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts) AS valid_to,
        |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts)
        |    AS BIGINT) AS version_seq
        | FROM runs)
        |SELECT user_id, version_seq, event_type,
        | epoch_us(valid_from) AS from_us, epoch_us(valid_to) AS to_us,
        | (valid_to IS NULL) AS is_current
        |FROM v WHERE user_id <= 200
        |ORDER BY user_id, version_seq""".stripMargin,
    "q85_transitions" ->
      """WITH s AS (
        | SELECT event_type, lead(event_type) OVER
        |   (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
        | FROM events)
        |SELECT event_type, next_type, CAST(count(*) AS BIGINT) AS n
        |FROM s WHERE next_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // RANGE frame over integer epoch seconds — engine-portable event-time
    // windows (calendar INTERVAL frames are not guaranteed identical)
    "q86_rolling_time" ->
      """SELECT event_id, user_id,
        | CAST(count(*) OVER w AS BIGINT) AS roll_n,
        | round(sum(value) OVER w, 2) AS roll_sum
        |FROM events WHERE user_id <= 100
        |WINDOW w AS (PARTITION BY user_id
        |  ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
        |  RANGE BETWEEN 21600 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    "q87_zscore_outliers" ->
      """WITH s AS (
        | SELECT l_returnflag, avg(l_extendedprice) AS mu,
        |  stddev_pop(l_extendedprice) AS sigma
        | FROM lineitem GROUP BY 1)
        |SELECT l_orderkey, l_linenumber, l.l_returnflag, l_extendedprice,
        | round(abs(l_extendedprice - mu) / sigma, 2) AS zscore
        |FROM lineitem l JOIN s USING (l_returnflag)
        |WHERE sigma > 0 AND abs(l_extendedprice - mu) > 1.7 * sigma
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q81_label_centroids" ->
      """WITH e AS (
        | SELECT label,
        |  CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos,
        |  unnest(embedding) AS x
        | FROM embeddings)
        |SELECT label, pos, CAST(count(*) AS BIGINT) AS n,
        | round(avg(x), 4) AS mean
        |FROM e GROUP BY label, pos ORDER BY label, pos""".stripMargin,
    // epoch-second division, not calendar weeks: week-start conventions
    // differ across engines, integer day buckets don't
    "q82_retention" ->
      """WITH a AS (
        | SELECT DISTINCT user_id AS u,
        |  CAST(floor(epoch(ts) / 86400) AS BIGINT) AS p
        | FROM events),
        |c AS (SELECT u, min(p) AS cohort_p FROM a GROUP BY u)
        |SELECT cohort_p AS cohort_period, p - cohort_p AS period_offset,
        | CAST(count(*) AS BIGINT) AS n_users
        |FROM a JOIN c USING (u)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q83_funnel" ->
      """WITH m AS (
        | SELECT user_id,
        |  min(ts) FILTER (event_type = 'click') AS t0,
        |  min(ts) FILTER (event_type = 'view') AS t1,
        |  min(ts) FILTER (event_type = 'purchase') AS t2
        | FROM events
        | WHERE event_type IN ('click', 'view', 'purchase')
        | GROUP BY user_id),
        |s0 AS (SELECT user_id, t0 AS q0, t1, t2 FROM m),
        |s1 AS (SELECT user_id, q0,
        |  CASE WHEN q0 IS NOT NULL AND t1 >= q0 THEN t1 END AS q1, t2
        | FROM s0),
        |s2 AS (SELECT user_id, q0, q1,
        |  CASE WHEN q1 IS NOT NULL AND t2 >= q1 THEN t2 END AS q2
        | FROM s1)
        |SELECT CAST(0 AS BIGINT) AS step_idx, 'click' AS step_name,
        |  CAST(count(q0) AS BIGINT) AS n_users FROM s2
        |UNION ALL
        |SELECT 1, 'view', CAST(count(q1) AS BIGINT) FROM s2
        |UNION ALL
        |SELECT 2, 'purchase', CAST(count(q2) AS BIGINT) FROM s2
        |ORDER BY step_idx""".stripMargin,
    // brute-force containment over the same normalised word 8-grams; the
    // Spark side's prefix filter is lossless so results must be identical
    "q80_containment" ->
      """WITH w AS (
        | SELECT doc_id, regexp_split_to_array(lower(trim(text)),'\s+') AS ws
        | FROM documents),
        |g AS (
        | SELECT doc_id, unnest(
        |  CASE WHEN len(ws) < 8 THEN [array_to_string(ws, ' ')]
        |   ELSE list_transform(range(1, len(ws)-6),
        |     i -> array_to_string(list_slice(ws, i, i+7), ' '))
        |  END) AS gram
        | FROM w),
        |d AS (SELECT DISTINCT doc_id, gram FROM g),
        |sz AS (SELECT doc_id, count(*) AS a FROM d GROUP BY doc_id),
        |pairs AS (
        | SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS shared
        | FROM d x JOIN d y ON x.gram = y.gram AND x.doc_id <> y.doc_id
        | GROUP BY 1, 2)
        |SELECT id_a, id_b,
        | round(CAST(shared AS DOUBLE) / sz.a, 4) AS containment
        |FROM pairs p JOIN sz ON sz.doc_id = p.id_a
        |WHERE CAST(shared AS DOUBLE) / sz.a >= 0.5
        |ORDER BY id_a, id_b""".stripMargin,
    // same md5 draw, same key formula → byte-identical sample
    "q78_weighted_sample" ->
      """WITH keyed AS (
        | SELECT doc_id, CAST(n_chars AS DOUBLE) AS w,
        |  pow((CAST('0x' || substring(
        |     md5(CAST(doc_id AS VARCHAR) || ':v1'), 1, 8) AS UBIGINT)
        |    + 1.0) / 4294967296.0,
        |   1.0 / CAST(n_chars AS DOUBLE)) AS es_key
        | FROM documents)
        |SELECT doc_id, w, round(es_key, 4) AS es_key FROM keyed
        |ORDER BY es_key DESC, doc_id LIMIT 100""".stripMargin,
    "q79_profile" ->
      """WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM lineitem)
        |SELECT col_name, n.n_rows, n_null, n_distinct, min_str, max_str
        |FROM n, (
        | SELECT 'l_orderkey' AS col_name,
        |  CAST(count(*) - count(l_orderkey) AS BIGINT) AS n_null,
        |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_distinct,
        |  CAST(min(l_orderkey) AS VARCHAR) AS min_str,
        |  CAST(max(l_orderkey) AS VARCHAR) AS max_str FROM lineitem
        | UNION ALL
        | SELECT 'l_quantity',
        |  CAST(count(*) - count(l_quantity) AS BIGINT),
        |  CAST(count(DISTINCT l_quantity) AS BIGINT),
        |  CAST(min(l_quantity) AS VARCHAR),
        |  CAST(max(l_quantity) AS VARCHAR) FROM lineitem
        | UNION ALL
        | SELECT 'l_returnflag',
        |  CAST(count(*) - count(l_returnflag) AS BIGINT),
        |  CAST(count(DISTINCT l_returnflag) AS BIGINT),
        |  CAST(min(l_returnflag) AS VARCHAR),
        |  CAST(max(l_returnflag) AS VARCHAR) FROM lineitem)
        |ORDER BY col_name""".stripMargin,
    // DuckDB ships the same two normalisation ops as built-ins
    "q77_normalize" ->
      """SELECT doc_id,
        | md5(nfc_normalize(text)) AS nfc_md5,
        | md5(strip_accents(lower(text))) AS folded_md5
        |FROM documents ORDER BY doc_id""".stripMargin,
    // identical smoothing arithmetic; OOV target words via LEFT JOIN
    "q76_importance_resample" ->
      """WITH cw AS (
        | SELECT doc_id,
        |  unnest(regexp_split_to_array(lower(trim(text)),'\s+')) AS w
        | FROM documents WHERE source <> 'src1'),
        |tw AS (
        | SELECT unnest(regexp_split_to_array(lower(trim(text)),'\s+')) AS w
        | FROM documents WHERE source = 'src1'),
        |v AS (SELECT CAST(count(DISTINCT w) AS DOUBLE) AS vocab
        |      FROM (SELECT w FROM cw UNION SELECT w FROM tw)),
        |nc AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM cw),
        |nt AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM tw),
        |fc AS (SELECT w, count(*) AS c_c FROM cw GROUP BY w),
        |ft AS (SELECT w, count(*) AS c_t FROM tw GROUP BY w),
        |scored AS (
        | SELECT doc_id, round(avg(
        |   ln((coalesce(c_t, 0) + 0.5) / (nt.n + 0.5 * v.vocab)) -
        |   ln((c_c + 0.5) / (nc.n + 0.5 * v.vocab))), 4) + 0.0 AS weight
        | FROM cw JOIN fc USING (w) LEFT JOIN ft USING (w), nc, nt, v
        | GROUP BY doc_id),
        |thr AS (SELECT round(quantile_cont(weight, 0.5), 4) + 0.0 AS w_thr
        |        FROM scored)
        |SELECT doc_id, weight, w_thr FROM scored, thr
        |WHERE weight >= w_thr ORDER BY doc_id""".stripMargin,
    // plain batch interval join — the stream must converge to exactly this
    "q75_stream_join" ->
      """WITH imp AS (
        | SELECT event_id AS imp_id, user_id, ts FROM events
        | WHERE event_type = 'click'),
        |conv AS (
        | SELECT event_id AS conv_id, user_id, ts, value FROM events
        | WHERE event_type = 'purchase')
        |SELECT i.imp_id, c.conv_id, i.user_id,
        | round(c.value, 2) AS conv_value
        |FROM imp i JOIN conv c ON i.user_id = c.user_id
        | AND c.ts >= i.ts AND c.ts <= i.ts + INTERVAL 6 HOUR
        |ORDER BY imp_id, conv_id""".stripMargin,
    // positional n-grams (doc shorter than n → one whole-text gram, like
    // the Spark side's wordNgramsAll); df from distinct membership
    "q72_crossdoc_ngram" ->
      """WITH w AS (
        | SELECT doc_id,
        |  regexp_split_to_array(lower(trim(text)),'\s+') AS ws
        | FROM documents),
        |g AS (
        | SELECT doc_id, unnest(
        |  CASE WHEN len(ws) < 5 THEN [array_to_string(ws, ' ')]
        |   ELSE list_transform(range(1, len(ws)-3),
        |     i -> array_to_string(list_slice(ws, i, i+4), ' '))
        |  END) AS gram
        | FROM w),
        |shared AS (
        | SELECT gram FROM (
        |  SELECT gram, count(*) AS gdf
        |  FROM (SELECT DISTINCT doc_id, gram FROM g) GROUP BY gram)
        | WHERE gdf >= 2)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        | round(CAST(count(*) FILTER (gram IN (SELECT gram FROM shared))
        |   AS DOUBLE) / count(*), 4) AS dup_ratio
        |FROM g GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // byte-identical patterns: Java regex (Spark) and RE2 (DuckDB) agree
    // on this lookaround-free subset
    "q70_pii_redact" ->
      ("""WITH r AS (
        | SELECT doc_id,
        |  CAST(len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |   AS BIGINT) AS n_email,
        |  CAST(len(regexp_extract_all(text,
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ip,
        |  CAST(len(regexp_extract_all(text,
        |    '\+\d{1,3}([ -]?\d){7,14}')) AS BIGINT) AS n_phone,
        |  md5(regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\+\d{1,3}([ -]?\d){7,14}', '<PHONE>', 'g')) AS redacted_md5
        | FROM documents)
        |SELECT * FROM r ORDER BY doc_id""").stripMargin,
    // identical quantile definition: Spark exact `percentile` and DuckDB
    // `quantile_cont` both linearly interpolate at (n-1)*q
    "q71_perplexity_filter" ->
      """WITH words AS (
        | SELECT doc_id,
        |  unnest(regexp_split_to_array(lower(trim(text)),'\s+')) AS w
        | FROM documents),
        |freq AS (
        | SELECT w, CAST(count(*) AS DOUBLE) /
        |   (SELECT count(*) FROM words) AS p
        | FROM words GROUP BY w),
        |nll AS (
        | SELECT doc_id, round(avg(-ln(p)), 4) AS nll
        | FROM words JOIN freq USING (w) GROUP BY doc_id),
        |thr AS (SELECT round(quantile_cont(nll, 0.75), 4) AS nll_thr
        |        FROM nll)
        |SELECT doc_id, nll, nll_thr FROM nll, thr
        |WHERE nll <= nll_thr ORDER BY doc_id""".stripMargin,
    "q73_bigram_stats" ->
      """WITH w AS (
        | SELECT regexp_split_to_array(lower(trim(text)),'\s+') AS ws
        | FROM documents),
        |b AS (
        | SELECT unnest(list_transform(range(1, len(ws)),
        |   i -> ws[i] || ' ' || ws[i+1])) AS bigram
        | FROM w WHERE len(ws) >= 2)
        |SELECT bigram, count(*) AS cnt FROM b
        |GROUP BY bigram ORDER BY cnt DESC, bigram LIMIT 50""".stripMargin,
    // Morton bit-spreading with the standard magic masks — identical
    // 64-bit integer ops in both engines; row ORDER (the layout) is
    // what's checked
    "q69_zorder" ->
      """WITH q AS (
        | SELECT o_orderkey,
        |  CAST(floor((((o_orderkey % 170 - 85) + 0.5) + 90.0)
        |    / 180.0 * 65535.0) AS BIGINT) AS latq,
        |  CAST(floor((((o_orderkey % 356 - 178) + 0.25) + 180.0)
        |    / 360.0 * 65535.0) AS BIGINT) AS lonq
        | FROM orders WHERE o_orderkey <= 2000),
        |s1 AS (SELECT o_orderkey,
        |  ((latq | (latq << 8)) & 16711935) AS a,
        |  ((lonq | (lonq << 8)) & 16711935) AS b FROM q),
        |s2 AS (SELECT o_orderkey,
        |  ((a | (a << 4)) & 252645135) AS a,
        |  ((b | (b << 4)) & 252645135) AS b FROM s1),
        |s3 AS (SELECT o_orderkey,
        |  ((a | (a << 2)) & 858993459) AS a,
        |  ((b | (b << 2)) & 858993459) AS b FROM s2),
        |s4 AS (SELECT o_orderkey,
        |  ((a | (a << 1)) & 1431655765) AS a,
        |  ((b | (b << 1)) & 1431655765) AS b FROM s3)
        |SELECT o_orderkey, a | (b << 1) AS z FROM s4
        |ORDER BY z, o_orderkey""".stripMargin,
    "q68_chunk_text" ->
      """WITH w AS (SELECT doc_id,
        |  regexp_split_to_array(trim(text),'\s+') AS ws FROM documents),
        |c AS (
        | SELECT doc_id, ws,
        |  CASE WHEN length(ws) <= 32 THEN 1
        |   ELSE CAST(ceil(CAST(length(ws)-32 AS DOUBLE)/24) AS INT) + 1
        |  END AS nc
        | FROM w),
        |e AS (
        | SELECT doc_id, ws, unnest(range(0, nc)) AS chunk_idx FROM c)
        |SELECT doc_id, chunk_idx,
        | md5(array_to_string(
        |  list_slice(ws, chunk_idx*24+1, chunk_idx*24+32),' ')) AS chunk_md5,
        | CAST(length(list_slice(ws, chunk_idx*24+1, chunk_idx*24+32))
        |  AS BIGINT) AS chunk_tokens
        |FROM e ORDER BY doc_id, chunk_idx""".stripMargin,
    "q67_bm25" ->
      """WITH base AS (
        | SELECT doc_id,
        |  CAST(length(regexp_split_to_array(lower(trim(text)),'\s+'))
        |   AS DOUBLE) AS dl,
        |  unnest(regexp_split_to_array(lower(trim(text)),'\s+')) AS w
        | FROM documents),
        |stats AS (
        | SELECT CAST(count(*) AS DOUBLE) AS N, avg(dl) AS avgdl
        | FROM (SELECT doc_id, any_value(dl) AS dl FROM base GROUP BY doc_id)),
        |tf AS (
        | SELECT doc_id, w, CAST(count(*) AS DOUBLE) AS tf,
        |  any_value(dl) AS dl
        | FROM base WHERE w IN ('spark','query','vector')
        | GROUP BY doc_id, w),
        |dfx AS (SELECT w, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY w)
        |SELECT doc_id, round(sum(
        |  ln(1.0 + (stats.N - df + 0.5)/(df + 0.5)) * tf * (1.2 + 1.0) /
        |  (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / stats.avgdl))), 4) AS bm25
        |FROM tf JOIN dfx USING (w), stats
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q66_unigram_nll" ->
      """WITH words AS (
        | SELECT doc_id,
        |  unnest(regexp_split_to_array(lower(trim(text)),'\s+')) AS w
        | FROM documents),
        |freq AS (
        | SELECT w, CAST(count(*) AS DOUBLE) /
        |   (SELECT count(*) FROM words) AS p
        | FROM words GROUP BY w)
        |SELECT doc_id, round(avg(-ln(p)), 4) AS nll, count(*) AS n_words
        |FROM words JOIN freq USING (w)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // the full curation pipeline restated: quality gate (word count, mean
    // word length, alpha-word ratio), min-id exact dedup on normalised
    // text, 8-gram decontamination flag, md5 split thresholds as in q53
    "q65_curate_corpus" ->
      """WITH corpus AS (SELECT * FROM documents WHERE source<>'src0'),
        |q AS (
        | SELECT doc_id, text FROM (
        |  SELECT doc_id, text,
        |   CASE WHEN length(trim(text))=0 THEN 0
        |    ELSE CAST(length(regexp_split_to_array(trim(text),'\s+'))
        |     AS BIGINT) END AS nw,
        |   CAST(list_sum(list_transform(
        |     regexp_split_to_array(trim(text),'\s+'), x -> length(x)))
        |    AS DOUBLE) /
        |    length(regexp_split_to_array(trim(text),'\s+')) AS mwl,
        |   CAST(length(list_filter(regexp_split_to_array(trim(text),'\s+'),
        |     w -> regexp_matches(w,'[A-Za-z]'))) AS DOUBLE) /
        |    length(regexp_split_to_array(trim(text),'\s+')) AS awr
        |  FROM corpus)
        | WHERE nw >= 20 AND nw <= 100000 AND mwl >= 2.0 AND mwl <= 10.0
        |  AND awr >= 0.8),
        |d AS (
        | SELECT doc_id, text FROM (
        |  SELECT doc_id, text, row_number() OVER (
        |   PARTITION BY regexp_replace(lower(trim(text)),'\s+',' ','g')
        |   ORDER BY doc_id) AS rn FROM q)
        | WHERE rn = 1),
        |dg AS (
        | SELECT doc_id,
        |  regexp_split_to_array(lower(trim(text)),'\s+') AS ws FROM d),
        |grams AS (
        | SELECT doc_id,
        |  CASE WHEN length(ws) < 8 THEN [array_to_string(ws,' ')]
        |   ELSE list_distinct(list_transform(range(1, length(ws)-6),
        |    i -> array_to_string(list_slice(ws,i,i+7),' '))) END AS g
        | FROM dg),
        |bw AS (
        | SELECT regexp_split_to_array(lower(trim(text)),'\s+') AS ws
        | FROM documents WHERE source='src0'),
        |bench AS (
        | SELECT DISTINCT unnest(CASE WHEN length(ws) < 8
        |   THEN [array_to_string(ws,' ')]
        |   ELSE list_distinct(list_transform(range(1, length(ws)-6),
        |    i -> array_to_string(list_slice(ws,i,i+7),' '))) END) AS gram
        | FROM bw),
        |contam AS (
        | SELECT DISTINCT g2.doc_id FROM
        |  (SELECT doc_id, unnest(g) AS gram FROM grams) g2
        |  JOIN bench USING (gram)),
        |final AS (
        | SELECT d.doc_id,
        |  (d.doc_id IN (SELECT doc_id FROM contam)) AS contaminated,
        |  CASE
        |   WHEN substr(md5(d.doc_id::VARCHAR || ':v1'),1,8) < '0ccccccc'
        |    THEN 'test'
        |   WHEN substr(md5(d.doc_id::VARCHAR || ':v1'),1,8) < '19999999'
        |    THEN 'val'
        |   ELSE 'train' END AS split
        | FROM d)
        |SELECT split, contaminated, count(*) AS n, min(doc_id) AS min_id
        |FROM final GROUP BY split, contaminated
        |ORDER BY split, contaminated""".stripMargin,
    "q62_salted_join" ->
      """SELECT n_name, round(sum(l_extendedprice),2) AS rev, count(*) AS n
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    // DuckDB's native ASOF JOIN is the oracle for the union+window shape
    "q63_asof_join" ->
      """SELECT l.event_id, l.user_id, epoch_us(l.ts) AS t_us,
        | round(r.value,2) AS view_value
        |FROM (SELECT * FROM events WHERE event_type='click') l
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type='view') r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY l.event_id""".stripMargin,
    // 21600s gap pre-multiplied to µs (DuckDB INT32 literals overflow on
    // 21600 * 1000000)
    "q64_sessionize" ->
      """WITH g AS (
        | SELECT user_id, ts, value, CASE WHEN lag(ts) OVER w IS NULL
        |   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 21600000000
        |   THEN 1 ELSE 0 END AS is_new
        | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (
        | SELECT user_id, value, epoch_us(ts) AS t_us,
        |  CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |   AS session_seq
        | FROM g)
        |SELECT user_id, session_seq, min(t_us) AS start_us,
        | max(t_us) AS end_us, count(*) AS n_events,
        | round(CAST(sum(value) AS DOUBLE),2) AS total_value
        |FROM s GROUP BY user_id, session_seq
        |ORDER BY user_id, session_seq""".stripMargin,
    // row ORDER is the contract here: the driver hashes rows in sequence,
    // so a wrong permutation fails even though the row SET is identical
    "q61_det_shuffle" ->
      """SELECT doc_id, substr(md5(doc_id::VARCHAR || ':sh1'),1,8)
        |  AS shuffle_key
        |FROM documents ORDER BY shuffle_key, doc_id""".stripMargin,
    // hash-free restatement of "first arrival per distinct content":
    // min doc_id per normalised text (single-file stream = one micro-batch,
    // where the operator keeps the min id; fingerprints collide with
    // probability ~2^-64, below the driver's hash resolution)
    "q60_stream_dedup" ->
      """SELECT min(doc_id) AS id FROM documents
        |GROUP BY regexp_replace(lower(trim(text)),'\s+',' ','g')
        |ORDER BY id""".stripMargin,
    "q59_repetition" ->
      """WITH w AS (SELECT doc_id,
        |  regexp_split_to_array(lower(trim(text)),'\s+') AS ws
        | FROM documents)
        |SELECT doc_id,
        | CASE WHEN length(ws) < 2 THEN 0.0 ELSE
        |  round(1.0 - CAST(length(list_distinct(list_transform(
        |   range(1, length(ws)),
        |   i -> array_to_string(list_slice(ws,i,i+1),' ')))) AS DOUBLE) /
        |  (length(ws)-1), 4) END AS dup2,
        | CASE WHEN length(ws) < 3 THEN 0.0 ELSE
        |  round(1.0 - CAST(length(list_distinct(list_transform(
        |   range(1, length(ws)-1),
        |   i -> array_to_string(list_slice(ws,i,i+2),' ')))) AS DOUBLE) /
        |  (length(ws)-2), 4) END AS dup3
        |FROM w ORDER BY doc_id""".stripMargin,
    "q31_cosine_topk" ->
      """WITH q AS (SELECT vec_id AS query_id,
        |   CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 3),
        |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv
        |   FROM embeddings WHERE vec_id >= 3),
        |scored AS (SELECT q.query_id, c.vec_id,
        |   list_cosine_similarity(c.cv, q.qv) AS cos FROM c CROSS JOIN q),
        |ranked AS (SELECT query_id, vec_id, cos, row_number() OVER (
        |   PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
        | FROM scored)
        |SELECT query_id, rank, vec_id, round(cos,4) AS cos_sim
        |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    "q34_lang_id" ->
      """WITH t AS (
        | SELECT doc_id, lang AS declared_lang,
        |  string_split_regex(lower(trim(text)), '[^a-zà-ÿ]+') AS toks
        | FROM documents),
        |m AS (
        | SELECT * FROM (VALUES
        |  ('en', ['the','and','of','is','that','with','for','this']),
        |  ('de', ['der','die','und','das','ist','nicht','mit','ein']),
        |  ('fr', ['le','la','les','est','une','des','dans','pour']),
        |  ('es', ['el','los','las','es','una','para','por','como']),
        |  ('it', ['il','di','che','per','con','una','sono','della']))
        |  AS v(lang, words)),
        |s AS (
        | SELECT doc_id, declared_lang, m.lang,
        |  len(list_filter(t.toks, x -> list_contains(m.words, x))) AS hits
        | FROM t, m),
        |best AS (
        | SELECT doc_id, declared_lang, lang, hits, row_number() OVER (
        |   PARTITION BY doc_id ORDER BY hits DESC, lang DESC) AS rn
        | FROM s)
        |SELECT doc_id,
        | CASE WHEN hits > 0 THEN lang ELSE 'und' END AS pred_lang,
        | declared_lang
        |FROM best WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "q44_quality_score" ->
      """WITH base AS (SELECT doc_id, text, trim(text) AS tt FROM documents),
        |prim AS (
        | SELECT doc_id,
        |  CASE WHEN length(tt) = 0 THEN 0
        |   ELSE len(string_split_regex(tt, '\s+')) END AS ntok,
        |  -- java's boundary split (?<=\W)|(?=\W) has no RE2 equivalent;
        |  -- count = word runs + non-word chars + 1 if a leading non-word
        |  -- char opens an empty first token
        |  CASE WHEN length(tt) = 0 THEN 0
        |   ELSE length(regexp_replace(tt, '\w', '', 'g')) +
        |    len(list_filter(string_split_regex(tt, '\W+'), x -> x <> '')) +
        |    CASE WHEN regexp_matches(tt, '^\W') THEN 1 ELSE 0 END
        |  END AS nsub,
        |  length(regexp_replace(text, '[^.,;:!?''"()\[\]{}-]', '', 'g'))
        |    AS npunct,
        |  length(text) AS nchar,
        |  len(list_filter(string_split_regex(lower(tt), '\s+'),
        |   x -> list_contains(['the','a','an','and','or','of','to','in',
        |     'is','it','that','for','on','with','as','was','at','by','be'],
        |    regexp_replace(x, '[^a-z]', '', 'g')))) AS nstop
        | FROM base),
        |sc AS (
        | SELECT doc_id, least(ntok / 20.0, 1.0) AS len_score,
        |  CASE WHEN (CASE WHEN nchar = 0 THEN 0.0
        |    ELSE npunct * 1.0 / nchar END) < 0.2 THEN 1.0 ELSE 0.5 END
        |   AS punct_ok,
        |  CASE WHEN (CASE WHEN ntok = 0 THEN 0.0
        |    ELSE nstop * 1.0 / ntok END) > 0.05 THEN 1.0 ELSE 0.5 END
        |   AS stop_ok,
        |  CASE WHEN ntok = 0 THEN 0.0 ELSE nstop * 1.0 / ntok END AS sr,
        |  nsub
        | FROM prim)
        |SELECT doc_id,
        | round(len_score * 0.5 + punct_ok * 0.25 + stop_ok * 0.25, 4)
        |   AS quality,
        | round(sr, 4) AS stopword_ratio,
        | CAST(nsub AS BIGINT) AS n_subword_tokens
        |FROM sc ORDER BY doc_id""".stripMargin,
    "q35_null_bucket" ->
      """SELECT coalesce(nullif(event_type,'error'),'UNKNOWN') AS etype,
        | count(*) AS n
        |FROM events GROUP BY etype ORDER BY etype""".stripMargin,
    // the deletion-neighborhood candidates are lossless, so the oracle
    // stays the naive all-pairs form
    "q36_blocked_levenshtein" ->
      """SELECT a.c_nationkey AS nationkey, count(*) AS n_pairs
        |FROM customer a JOIN customer b
        | ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
        |WHERE levenshtein(a.c_name, b.c_name) <= 2
        |GROUP BY a.c_nationkey ORDER BY nationkey""".stripMargin,
    "q37_rollup" ->
      """SELECT year(o_orderdate) AS yr, month(o_orderdate) AS mth,
        | count(*) AS n, round(sum(o_totalprice),2) AS total
        |FROM orders GROUP BY ROLLUP (yr, mth)
        |ORDER BY yr ASC NULLS FIRST, mth ASC NULLS FIRST""".stripMargin,
    "q38_count_distinct" ->
      """SELECT c_mktsegment, count(DISTINCT o_custkey) AS n_customers,
        | count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q39_window_frame" ->
      """SELECT o_custkey, o_orderkey,
        | round(sum(o_totalprice) OVER (PARTITION BY o_custkey
        |   ORDER BY o_orderdate, o_orderkey
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),2)
        |   AS running_total
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q40_percentile" ->
      """WITH ranked AS (
        | SELECT l_returnflag, l_extendedprice,
        |  row_number() OVER (PARTITION BY l_returnflag
        |    ORDER BY l_extendedprice) AS rn,
        |  count(*) OVER (PARTITION BY l_returnflag) AS n
        | FROM lineitem)
        |SELECT l_returnflag,
        | round(max(CASE WHEN rn = ceil(n*0.5) THEN l_extendedprice END),2)
        |   AS p50,
        | round(max(CASE WHEN rn = ceil(n*0.9) THEN l_extendedprice END),2)
        |   AS p90
        |FROM ranked GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q221_winsorize" ->
      """WITH ranked AS (
        | SELECT l_returnflag, l_extendedprice,
        |  row_number() OVER (PARTITION BY l_returnflag
        |    ORDER BY l_extendedprice) AS rn,
        |  count(*) OVER (PARTITION BY l_returnflag) AS n
        | FROM lineitem),
        |bounds AS (
        | SELECT l_returnflag,
        |  max(CASE WHEN rn = ceil(n*0.05) THEN l_extendedprice END) AS lo,
        |  max(CASE WHEN rn = ceil(n*0.95) THEN l_extendedprice END) AS hi
        | FROM ranked GROUP BY l_returnflag)
        |SELECT l.l_returnflag, count(*) AS n,
        | cast(sum(cast(round(
        |   greatest(least(l.l_extendedprice, b.hi), b.lo) * 100)
        |   AS bigint)) AS bigint) AS sum_cents,
        | round(min(greatest(least(l.l_extendedprice, b.hi), b.lo)), 2)
        |   AS min_w,
        | round(max(greatest(least(l.l_extendedprice, b.hi), b.lo)), 2)
        |   AS max_w
        |FROM lineitem l JOIN bounds b USING (l_returnflag)
        |GROUP BY l.l_returnflag ORDER BY l.l_returnflag""".stripMargin,
    // 3 synchronous LPA rounds replayed as nested CTEs; argmax restated
    // as a window over the grouped neighbour-label counts (count desc,
    // label asc = the operator's smallest-label tie-break)
    "q222_label_propagation" ->
      """WITH base AS (
        | SELECT l_partkey AS src, l_suppkey + 1000000 AS dst FROM lineitem
        | WHERE l_orderkey % 11 = 0),
        |e AS (
        | SELECT DISTINCT src, dst FROM (
        |  SELECT src, dst FROM base WHERE src <> dst
        |  UNION
        |  SELECT dst AS src, src AS dst FROM base WHERE src <> dst)),
        |l0 AS (
        | SELECT node, node AS label
        | FROM (SELECT DISTINCT src AS node FROM e)),
        |r1 AS (
        | SELECT node, label FROM (
        |  SELECT e.src AS node, l.label,
        |   row_number() OVER (PARTITION BY e.src
        |     ORDER BY count(*) DESC, l.label ASC) AS rn
        |  FROM e JOIN l0 l ON e.dst = l.node
        |  GROUP BY e.src, l.label) WHERE rn = 1),
        |r2 AS (
        | SELECT node, label FROM (
        |  SELECT e.src AS node, l.label,
        |   row_number() OVER (PARTITION BY e.src
        |     ORDER BY count(*) DESC, l.label ASC) AS rn
        |  FROM e JOIN r1 l ON e.dst = l.node
        |  GROUP BY e.src, l.label) WHERE rn = 1),
        |r3 AS (
        | SELECT node, label FROM (
        |  SELECT e.src AS node, l.label,
        |   row_number() OVER (PARTITION BY e.src
        |     ORDER BY count(*) DESC, l.label ASC) AS rn
        |  FROM e JOIN r2 l ON e.dst = l.node
        |  GROUP BY e.src, l.label) WHERE rn = 1)
        |SELECT label AS community, count(*) AS n_members
        |FROM r3 GROUP BY label ORDER BY community""".stripMargin,
    "q223_acf" ->
      """WITH s AS (
        | SELECT event_type AS grp, value AS x,
        |  lag(value, 1) OVER w AS x1,
        |  lag(value, 2) OVER w AS x2,
        |  lag(value, 3) OVER w AS x3
        | FROM events
        | WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT grp AS "group", count(*) AS n,
        | round(corr(x, x1), 4) AS acf1,
        | round(corr(x, x2), 4) AS acf2,
        | round(corr(x, x3), 4) AS acf3
        |FROM s GROUP BY grp ORDER BY grp""".stripMargin,
    // the skyline restated as the naive NOT EXISTS dominance anti-join
    // over distinct points — the formulation the operator exists to avoid
    "q224_pareto_skyline" ->
      """WITH d AS (
        | SELECT CAST(p_retailprice AS DOUBLE) AS price,
        |  CAST(p_size AS DOUBLE) AS size, count(*) AS n_rows
        | FROM part GROUP BY 1, 2)
        |SELECT round(price, 2) AS price, CAST(size AS BIGINT) AS size,
        | n_rows
        |FROM d a WHERE NOT EXISTS (
        | SELECT 1 FROM d b
        | WHERE b.price <= a.price AND b.size >= a.size
        |  AND (b.price < a.price OR b.size > a.size))
        |ORDER BY price, size""".stripMargin,
    "q225_theil_sen" ->
      """WITH e AS (
        | SELECT user_id, event_id,
        |  CAST(epoch_us(ts) AS DOUBLE) / 86400000000.0 AS x, value AS y
        | FROM events),
        |p AS (
        | SELECT a.user_id AS g, (b.y - a.y) / (b.x - a.x) AS slope
        | FROM e a JOIN e b
        |  ON a.user_id = b.user_id AND a.event_id < b.event_id
        |   AND a.x <> b.x),
        |s AS (
        | SELECT g, count(*) AS n_pairs,
        |  round(quantile_cont(slope, 0.5), 6) AS sen_slope
        | FROM p GROUP BY g),
        |np AS (SELECT user_id AS g, count(*) AS n_points
        |  FROM events GROUP BY user_id)
        |SELECT np.g AS "group", np.n_points, s.n_pairs, s.sen_slope
        |FROM np JOIN s USING (g) ORDER BY "group"""".stripMargin,
    // the duplication kernel replayed on the controlled fixture: null
    // collectors make every spatially-equal pair a duplicate and the
    // 1-dp coordinates make spatial equality ⇔ equal tenth digit, so
    // the greedy per-block clustering reduces to grouping by
    // (taxon, day, tenth) with the lexicographically-smallest rowKey as
    // representative — and the incremental splice must equal the full
    // recompute (its documented contract), which is what this checks
    "q129_incremental_dedup" ->
      """WITH m AS (
        | SELECT 40 * greatest(1, CAST(floor(count(*) / 30000.0) AS BIGINT))
        |   AS tmod
        | FROM orders WHERE o_orderkey % 4 = 0),
        |o AS (
        | SELECT CAST(o_orderkey AS VARCHAR) AS rowKey,
        |  't' || CAST(o_orderkey % (SELECT tmod FROM m) AS VARCHAR)
        |    AS taxonGuid,
        |  CAST(o_orderkey % 28 + 1 AS VARCHAR) AS dy,
        |  o_orderkey % 10 AS d,
        |  'dr' || CAST(o_orderkey % 3 AS VARCHAR) AS druid
        | FROM orders WHERE o_orderkey % 4 = 0),
        |g AS (
        | SELECT *, count(*) OVER w AS sz, min(rowKey) OVER w AS clusterId
        | FROM o WINDOW w AS (PARTITION BY taxonGuid, dy, d)),
        |rep AS (SELECT clusterId AS cid, druid AS repDruid
        |        FROM g WHERE rowKey = clusterId)
        |SELECT g.rowKey, g.taxonGuid, g.clusterId,
        | CASE WHEN g.rowKey = g.clusterId THEN 'R'
        |      WHEN g.druid = rep.repDruid THEN 'D1' ELSE 'D2' END AS status,
        | CAST(1 AS INT) AS "precision"
        |FROM g JOIN rep ON rep.cid = g.clusterId
        |WHERE g.sz >= 2
        |ORDER BY g.taxonGuid, g.rowKey""".stripMargin,
    // same replay over the streaming splice's fixture — the drained
    // stream's final table must equal the batch dedup of all files
    "q130_stream_incr_dedup" ->
      """WITH o AS (
        | SELECT CAST(o_orderkey AS VARCHAR) AS rowKey,
        |  't' || CAST(o_orderkey % 25 AS VARCHAR) AS taxonGuid,
        |  CAST(o_orderkey % 28 + 1 AS VARCHAR) AS dy,
        |  o_orderkey % 10 AS d,
        |  'dr' || CAST(o_orderkey % 3 AS VARCHAR) AS druid
        | FROM orders WHERE o_orderkey % 5 = 0),
        |g AS (
        | SELECT *, count(*) OVER w AS sz, min(rowKey) OVER w AS clusterId
        | FROM o WINDOW w AS (PARTITION BY taxonGuid, dy, d)),
        |rep AS (SELECT clusterId AS cid, druid AS repDruid
        |        FROM g WHERE rowKey = clusterId),
        |m AS (
        | SELECT g.taxonGuid,
        |  CASE WHEN g.rowKey = g.clusterId THEN 'R'
        |       WHEN g.druid = rep.repDruid THEN 'D1' ELSE 'D2' END AS status
        | FROM g JOIN rep ON rep.cid = g.clusterId
        | WHERE g.sz >= 2)
        |SELECT taxonGuid, status, CAST(count(*) AS BIGINT) AS n
        |FROM m GROUP BY 1, 2 ORDER BY taxonGuid, status""".stripMargin,
    // PCA invariants pinned TRUE: score variance ≡ eigenvalue per
    // component, spectrum sorted; n and component ids replay exactly
    "q247_pca" ->
      """SELECT CAST(c AS BIGINT) AS component,
        | (SELECT CAST(count(*) AS BIGINT) FROM embeddings) AS n,
        | TRUE AS var_matches_eigen, TRUE AS eigen_monotone
        |FROM (SELECT unnest(range(0, 4)) AS c) ORDER BY component""".stripMargin,
    // Procrustes invariants pinned TRUE: planted permutation realigned to
    // ≥0.999 mean cosine and strictly better than unaligned
    "q246_procrustes" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_pairs, TRUE AS aligned_ok,
        | TRUE AS improved
        |FROM embeddings""".stripMargin,
    // ZCA invariant pinned TRUE: whitened covariance ≡ identity; cell
    // counts replay from the embedding width d as d(d−1)/2 and d
    "q250_zca_whiten" ->
      """WITH dd AS (SELECT min(len(embedding)) AS d FROM embeddings)
        |SELECT FALSE AS diagonal,
        | CAST(d * (d - 1) // 2 AS BIGINT) AS n_cells, TRUE AS identity_ok
        |FROM dd
        |UNION ALL
        |SELECT TRUE, CAST(d AS BIGINT), TRUE FROM dd
        |ORDER BY diagonal""".stripMargin,
    // UPGMA invariants pinned TRUE: monotone merge heights, size
    // bookkeeping, k−1 merges completing the tree
    "q252_hac_dendrogram" ->
      """SELECT CAST(s AS BIGINT) AS step, TRUE AS dist_monotone,
        | TRUE AS size_ok
        |FROM (SELECT unnest(range(1, 8)) AS s) ORDER BY step""".stripMargin,
    // exact EWMA control-chart replay: the per-series recurrence steps
    // through a lockstep recursive CTE in the SAME double arithmetic and
    // operation order as the fold (note (1 - 0.3), never the literal 0.7
    // — they differ in the last ulp), so alert counts are bit-exact; the
    // query's own stream-vs-batch comparison rides on top
    "q249_stream_control_chart" ->
      """WITH RECURSIVE
        |o AS (
        | SELECT user_id AS series, epoch_us(ts) AS t, event_id,
        |  value AS x,
        |  row_number() OVER (PARTITION BY user_id
        |    ORDER BY epoch_us(ts), event_id) AS rn
        | FROM events),
        |chart AS (
        | SELECT series, CAST(0 AS BIGINT) AS rn, CAST(0 AS BIGINT) AS n,
        |  CAST(0.0 AS DOUBLE) AS ewma, CAST(0.0 AS DOUBLE) AS ewvar,
        |  CAST(0 AS BIGINT) AS alerts
        | FROM (SELECT DISTINCT series FROM o)
        | UNION ALL
        | SELECT c.series, o.rn, c.n + 1,
        |  CASE WHEN c.n = 0 THEN o.x
        |       ELSE c.ewma + 0.3 * (o.x - c.ewma) END,
        |  CASE WHEN c.n = 0 THEN 0.0
        |       ELSE (1 - 0.3) * (c.ewvar +
        |         0.3 * (o.x - c.ewma) * (o.x - c.ewma)) END,
        |  c.alerts + CASE WHEN c.n >= 5 AND
        |    (o.x - c.ewma) * (o.x - c.ewma) > 3.0 * 3.0 * c.ewvar
        |    THEN 1 ELSE 0 END
        | FROM chart c JOIN o ON o.series = c.series AND o.rn = c.rn + 1),
        |fin AS (
        | SELECT series, arg_max(alerts, rn) AS na FROM chart GROUP BY series)
        |SELECT series, na AS n_alerts_stream, na AS n_alerts_batch
        |FROM fin WHERE na > 0 ORDER BY series""".stripMargin,
    // full jackknife replay in DuckDB's float32 arithmetic (REAL ops stay
    // REAL): float mean/stddev/threshold, per-position gap statistic over
    // the sorted value sequence (lead/lag), tail-extended flags as two
    // cumulative window maxima, failsafe at > n/2 — bit-exact against the
    // typed Aggregator (verified all 1963 sf0.01 groups incl. float cols)
    "q27_jackknife_full" ->
      """WITH s AS (
        | SELECT l_partkey, CAST(l_extendedprice AS FLOAT) AS v
        | FROM lineitem),
        |g AS (
        | SELECT l_partkey, CAST(count(*) AS INT) AS n,
        |  min(v) AS mn, max(v) AS mx,
        |  CAST(CAST(sum(CAST(v AS DOUBLE)) AS FLOAT) /
        |    CAST(count(*) AS FLOAT) AS FLOAT) AS mean
        | FROM s GROUP BY l_partkey HAVING count(*) >= 20),
        |d AS (
        | SELECT s.l_partkey, s.v, g.n, g.mean, g.mx, g.mn,
        |  lead(s.v) OVER w AS nv, lag(s.v) OVER w AS pv
        | FROM s JOIN g USING (l_partkey)
        | WINDOW w AS (PARTITION BY s.l_partkey ORDER BY s.v)),
        |st AS (
        | SELECT l_partkey,
        |  CAST(sqrt(sum(POWER(v - mean, 2)) / CAST(max(n) AS FLOAT))
        |    AS FLOAT) AS sstd,
        |  CAST((0.95 * sqrt(CAST(max(n) AS DOUBLE)) + 0.2) *
        |    ((max(mx) - max(mn)) / CAST(50 AS FLOAT)) AS FLOAT) AS threshold
        | FROM d GROUP BY l_partkey),
        |cs AS (
        | SELECT d.*, st.sstd, st.threshold,
        |  CASE WHEN v < mean THEN CAST((nv - v) * (mean - v) AS DOUBLE)
        |       WHEN v > mean THEN CAST((v - pv) * (v - mean) AS DOUBLE)
        |       ELSE 0.0 END / CAST(sstd AS DOUBLE) AS c
        | FROM d JOIN st USING (l_partkey)),
        |fl AS (
        | SELECT *, (c > CAST(threshold AS DOUBLE)) AS base,
        |  coalesce(max(CASE WHEN c > CAST(threshold AS DOUBLE) AND v < mean
        |      THEN 1 ELSE 0 END) OVER (PARTITION BY l_partkey ORDER BY v
        |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 0) = 1
        |    AS ext_low,
        |  coalesce(max(CASE WHEN c > CAST(threshold AS DOUBLE) AND v > mean
        |      THEN 1 ELSE 0 END) OVER (PARTITION BY l_partkey ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) = 1
        |    AS ext_high
        | FROM cs),
        |res AS (
        | SELECT l_partkey, max(n) AS n, max(mean) AS mean,
        |  max(sstd) AS sstd, max(threshold) AS threshold,
        |  sum(CASE WHEN base OR ext_low OR ext_high THEN 1 ELSE 0 END)
        |    AS raw_out
        | FROM fl GROUP BY l_partkey)
        |SELECT l_partkey, n, mean, sstd AS "stdDev", threshold,
        | CAST(CASE WHEN raw_out > n // 2 THEN 0 ELSE raw_out END AS INT)
        |   AS n_outliers,
        | (raw_out > n // 2) AS "triggerFailsafe"
        |FROM res WHERE threshold > 0 ORDER BY l_partkey""".stripMargin,
    // exact order-statistic percentiles (index ⌊p·(n−1)⌋, no lerp — the
    // picked value is verbatim); the t-digest audit columns pinned TRUE
    "q219_tdigest_quantiles" ->
      """WITH r AS (
        | SELECT l_returnflag, l_extendedprice AS v,
        |  row_number() OVER (PARTITION BY l_returnflag
        |    ORDER BY l_extendedprice) AS rn,
        |  count(*) OVER (PARTITION BY l_returnflag) AS nn
        | FROM lineitem)
        |SELECT l_returnflag, CAST(max(nn) AS BIGINT) AS n,
        | max(CASE WHEN rn = floor(0.5 * (nn - 1)) + 1 THEN v END)
        |   AS exact_p50,
        | max(CASE WHEN rn = floor(0.9 * (nn - 1)) + 1 THEN v END)
        |   AS exact_p90,
        | max(CASE WHEN rn = floor(0.99 * (nn - 1)) + 1 THEN v END)
        |   AS exact_p99,
        | TRUE AS ok_p50, TRUE AS ok_p90, TRUE AS ok_p99
        |FROM r GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // stream window counts replay as time_bucket; the observed-rank
    // audits of the state-store t-digest estimates are pinned TRUE
    "q220_stream_windowed_quantiles" ->
      """SELECT time_bucket(INTERVAL '6 hours', ts) AS bucket, event_type,
        | CAST(count(*) AS BIGINT) AS n, TRUE AS ok_p50, TRUE AS ok_p95
        |FROM events GROUP BY 1, 2 ORDER BY bucket, event_type""".stripMargin,
    // Borůvka MSF replay via the matroid invariant: all MSFs share the
    // weight multiset, and #forest edges with weight ≤ t is
    // |V| − components(E_{≤t}); per-threshold components come from one
    // recursive-CTE min-label closure (m ≤ node pruning: a label larger
    // than any node it visits can never be a component minimum)
    "q234_boruvka_msf" ->
      """WITH RECURSIVE
        |li AS (SELECT l_orderkey, l_suppkey FROM lineitem
        |       WHERE l_orderkey % 211 = 0),
        |base AS (
        | SELECT DISTINCT a.l_suppkey AS src, b.l_suppkey AS dst
        | FROM li a JOIN li b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey),
        |we AS (SELECT src, dst,
        |        CAST((src * dst) % 25 + 1 AS DOUBLE) AS w FROM base),
        |sym AS (SELECT src, dst, w FROM we
        |        UNION ALL SELECT dst, src, w FROM we),
        |nodes AS (SELECT DISTINCT src AS node FROM sym),
        |th AS (SELECT DISTINCT w AS t FROM we),
        |reach AS (
        | SELECT t, node, node AS m FROM nodes CROSS JOIN th
        | UNION
        | SELECT r.t, s.dst AS node, r.m
        | FROM reach r JOIN sym s ON s.src = r.node AND s.w <= r.t
        | WHERE r.m <= s.dst),
        |comp AS (SELECT t, node, min(m) AS c FROM reach GROUP BY t, node),
        |cc AS (SELECT t, count(DISTINCT c) AS nc FROM comp GROUP BY t),
        |nn AS (SELECT count(*) AS n FROM nodes),
        |seq AS (SELECT t, nc, lag(nc) OVER (ORDER BY t) AS prev FROM cc),
        |ed AS (SELECT t,
        |        coalesce(prev, (SELECT n FROM nn)) - nc AS ne FROM seq)
        |SELECT
        | (SELECT min(nc) FROM cc) AS n_components,
        | CAST((SELECT sum(ne) FROM ed) AS BIGINT) AS n_edges,
        | round((SELECT sum(t * ne) FROM ed), 2) AS total_w,
        | round((SELECT min(t) FROM ed WHERE ne > 0), 2) AS min_w,
        | round((SELECT max(t) FROM ed WHERE ne > 0), 2) AS max_w""".stripMargin,
    // SCC replay: recursive-CTE transitive closure joined against itself
    // — scc(v) = min{m : m reaches v and v reaches m}
    "q237_scc" ->
      """WITH RECURSIVE
        |e0 AS (
        | SELECT DISTINCT
        |  CASE WHEN l_orderkey % 2 = 0 THEN l_partkey
        |       ELSE l_suppkey + 1000000 END AS src,
        |  CASE WHEN l_orderkey % 2 = 0 THEN l_suppkey + 1000000
        |       ELSE l_partkey END AS dst
        | FROM lineitem WHERE l_orderkey % 11 = 0),
        |e AS (SELECT src, dst FROM e0 WHERE src <> dst),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst AS node FROM e),
        |reach AS (
        | SELECT node AS a, node AS b FROM nodes
        | UNION
        | SELECT r.a, e.dst AS b FROM reach r JOIN e ON e.src = r.b),
        |scc AS (
        | SELECT r1.a AS node, min(r1.b) AS scc
        | FROM reach r1 JOIN reach r2 ON r2.a = r1.b AND r2.b = r1.a
        | GROUP BY r1.a),
        |sz AS (SELECT scc, count(*) AS sz FROM scc GROUP BY scc)
        |SELECT sz AS scc_size, CAST(count(*) AS BIGINT) AS n_sccs
        |FROM sz GROUP BY sz ORDER BY scc_size""".stripMargin,
    "q235_dp_counts" ->
      """WITH c AS (
        | SELECT event_type AS "group", count(*) AS n_true
        | FROM events GROUP BY event_type),
        |u AS (
        | SELECT "group", n_true,
        |  CAST(CAST('0x' || substring(md5("group" || ':' || 'r8'), 1, 13)
        |    AS UBIGINT) AS DOUBLE) / 4503599627370496.0 AS uu
        | FROM c)
        |SELECT "group", n_true,
        | round(n_true + (-(1.0 / 0.5)) *
        |  (CASE WHEN uu - 0.5 < 0 THEN -1.0
        |        WHEN uu - 0.5 > 0 THEN 1.0 ELSE 0.0 END) *
        |  ln(1.0 - 2.0 * abs(uu - 0.5)), 6) AS n_noisy
        |FROM u ORDER BY "group"""".stripMargin,
    // the direct algebra over the ordered changeset the stream applied:
    // updates (%7), then deletes (%11), then inserts (%13 as new keys)
    "q248_stream_merge_apply" ->
      """WITH upd AS (
        | SELECT c_custkey,
        |  CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100
        |       ELSE c_acctbal END AS bal,
        |  c_mktsegment
        | FROM customer WHERE c_custkey % 11 <> 0),
        |ins AS (
        | SELECT c_custkey + 1000000 AS c_custkey,
        |  round(c_acctbal * 2, 2) AS bal, 'NEW' AS c_mktsegment
        | FROM customer WHERE c_custkey % 13 = 0),
        |fin AS (SELECT * FROM upd UNION ALL SELECT * FROM ins)
        |SELECT c_mktsegment, count(*) AS n,
        | CAST(sum(CAST(round(bal * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM fin GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q244_unpivot" ->
      """WITH wide AS (
        | SELECT l_returnflag AS flag,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |    AS BIGINT) AS price_cents,
        |  CAST(sum(CAST(round(l_discount * 100) AS BIGINT))
        |    AS BIGINT) AS discount_cents,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
        | FROM lineitem GROUP BY 1)
        |SELECT flag, 'price_cents' AS metric, price_cents AS value
        | FROM wide
        |UNION ALL SELECT flag, 'discount_cents', discount_cents FROM wide
        |UNION ALL SELECT flag, 'qty', qty FROM wide
        |ORDER BY flag, metric""".stripMargin,
    "q245_golden_record" ->
      """WITH v1 AS (
        | SELECT user_id, value, row_number() OVER (PARTITION BY user_id
        |   ORDER BY ts DESC, event_id DESC) AS rn
        | FROM events WHERE value IS NOT NULL),
        |t1 AS (
        | SELECT user_id, event_type, row_number() OVER (
        |   PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        | FROM events WHERE event_type IS NOT NULL
        |   AND event_type <> 'error'),
        |base AS (
        | SELECT user_id, count(*) AS n_obs,
        |  epoch_us(max(ts)) AS last_seen_us
        | FROM events GROUP BY user_id)
        |SELECT b.user_id, b.n_obs, round(v.value, 4) AS latest_value,
        | t.event_type AS latest_type, b.last_seen_us
        |FROM base b
        |LEFT JOIN (SELECT user_id, value FROM v1 WHERE rn = 1) v
        |  USING (user_id)
        |LEFT JOIN (SELECT user_id, event_type FROM t1 WHERE rn = 1) t
        |  USING (user_id)
        |ORDER BY b.user_id""".stripMargin,
    "q253_rolling_ols" ->
      """WITH b AS (
        | SELECT user_id AS series, event_id, ts,
        |  CAST(epoch_us(ts) AS DOUBLE) / 86400000000.0 - 19700.0 AS x,
        |  value AS y
        | FROM events),
        |w AS (
        | SELECT series, event_id,
        |  count(*) OVER fr AS cnt, sum(x) OVER fr AS sx,
        |  sum(y) OVER fr AS sy, sum(x*y) OVER fr AS sxy,
        |  sum(x*x) OVER fr AS sxx
        | FROM b WINDOW fr AS (PARTITION BY series ORDER BY ts, event_id
        |   ROWS BETWEEN 9 PRECEDING AND CURRENT ROW))
        |SELECT series, event_id,
        | CASE WHEN 10.0*sxx - sx*sx <> 0
        |  THEN round((10.0*sxy - sx*sy) / (10.0*sxx - sx*sx), 6) END
        |  AS slope
        |FROM w WHERE cnt = 10 ORDER BY series, event_id""".stripMargin,
    "q254_kaplan_meier" ->
      """WITH firsts AS (
        | SELECT user_id, event_type AS cohort FROM (
        |  SELECT user_id, event_type, row_number() OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events) WHERE rn = 1),
        |agg AS (
        | SELECT user_id,
        |  CAST(date_diff('day', CAST(min(ts) AS DATE),
        |    CAST(max(ts) AS DATE)) AS DOUBLE) AS dur,
        |  max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS ev
        | FROM events GROUP BY user_id),
        |pu AS (
        | SELECT a.user_id, f.cohort, a.dur, a.ev
        | FROM agg a JOIN firsts f USING (user_id)),
        |perT AS (
        | SELECT cohort AS grp, dur AS t, CAST(sum(ev) AS BIGINT) AS d,
        |  count(*) AS leaving
        | FROM pu GROUP BY 1, 2),
        |r AS (
        | SELECT grp, t, d, CAST(sum(leaving) OVER (PARTITION BY grp
        |   ORDER BY t ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        |   AS BIGINT) AS n_risk
        | FROM perT),
        |km AS (
        | SELECT grp, t, d, n_risk,
        |  max(CASE WHEN d = n_risk THEN 1 ELSE 0 END) OVER upto AS dead,
        |  sum(CASE WHEN d < n_risk
        |    THEN ln(1.0 - CAST(d AS DOUBLE) / n_risk) END)
        |    OVER upto AS lsum
        | FROM r WINDOW upto AS (PARTITION BY grp ORDER BY t
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT grp AS "group", t, n_risk, d AS n_events,
        | CASE WHEN dead = 1 THEN 0.0
        |      ELSE round(exp(coalesce(lsum, 0.0)), 6) END AS survival
        |FROM km WHERE d > 0 ORDER BY "group", t""".stripMargin,
    // the q243 Cramer fit restricted to the fit split, then the same
    // quantile/coverage algebra over the calibration and test splits
    "q251_conformal" ->
      """WITH b AS (
        | SELECT event_type AS slice, event_id,
        |  CAST(epoch_us(ts) AS DOUBLE) / 86400000000.0 - 19700.0 AS x1,
        |  CAST(user_id % 10 AS DOUBLE) AS x2, value AS y
        | FROM events),
        |m AS (
        | SELECT slice,
        |  sum(x1*x1) AS a, sum(x1*x2) AS bb, sum(x1) AS c,
        |  sum(x2*x2) AS d, sum(x2) AS e, CAST(count(*) AS DOUBLE) AS f,
        |  sum(x1*y) AS p, sum(x2*y) AS q, sum(y) AS r
        | FROM b WHERE event_id % 4 <= 1 GROUP BY slice),
        |fit AS (
        | SELECT slice,
        |  (p*(d*f - e*e) - q*(bb*f - c*e) + r*(bb*e - c*d))
        |   / (a*(d*f - e*e) - bb*(bb*f - c*e) + c*(bb*e - c*d)) AS b1,
        |  (a*(q*f - e*r) - p*(bb*f - e*c) + c*(bb*r - q*c))
        |   / (a*(d*f - e*e) - bb*(bb*f - c*e) + c*(bb*e - c*d)) AS b2,
        |  (a*(d*r - q*e) - bb*(bb*r - q*c) + p*(bb*e - d*c))
        |   / (a*(d*f - e*e) - bb*(bb*f - c*e) + c*(bb*e - c*d)) AS b0
        | FROM m),
        |cal AS (
        | SELECT b.slice,
        |  round(abs(b.y - (f.b1*b.x1 + f.b2*b.x2 + f.b0)), 6) AS r
        | FROM b JOIN fit f USING (slice) WHERE b.event_id % 4 = 2),
        |qh AS (
        | SELECT slice, round(quantile_cont(r, 0.9), 6) AS qhat
        | FROM cal GROUP BY slice),
        |tst AS (
        | SELECT b.slice,
        |  round(abs(b.y - (f.b1*b.x1 + f.b2*b.x2 + f.b0)), 6) AS r
        | FROM b JOIN fit f USING (slice) WHERE b.event_id % 4 = 3)
        |SELECT t.slice, count(*) AS n_test, max(q.qhat) AS qhat,
        | round(avg(CASE WHEN t.r <= q.qhat THEN 1.0 ELSE 0.0 END), 6)
        |  AS coverage
        |FROM tst t JOIN qh q USING (slice)
        |GROUP BY t.slice ORDER BY t.slice""".stripMargin,
    // Cramer's rule over the 3x3 normal equations [x1, x2, 1]·β = y —
    // the same sufficient statistics RidgeAgg accumulates, restated as
    // plain aggregates; r² from SSE = Σy² − 2βᵀXᵀy + βᵀXᵀXβ
    "q243_group_ridge" ->
      """WITH b AS (
        | SELECT event_type AS slice,
        |  CAST(epoch_us(ts) AS DOUBLE) / 86400000000.0 - 19700.0 AS x1,
        |  CAST(user_id % 10 AS DOUBLE) AS x2, value AS y
        | FROM events),
        |m AS (
        | SELECT slice, count(*) AS n,
        |  sum(x1*x1) AS a, sum(x1*x2) AS bb, sum(x1) AS c,
        |  sum(x2*x2) AS d, sum(x2) AS e, CAST(count(*) AS DOUBLE) AS f,
        |  sum(x1*y) AS p, sum(x2*y) AS q, sum(y) AS r,
        |  sum(y*y) AS syy
        | FROM b GROUP BY slice),
        |s AS (
        | SELECT slice, n, p, q, r, syy, c AS sx1, e AS sx2,
        |  a*(d*f - e*e) - bb*(bb*f - c*e) + c*(bb*e - c*d) AS det,
        |  p*(d*f - e*e) - q*(bb*f - c*e) + r*(bb*e - c*d) AS det1,
        |  a*(q*f - e*r) - p*(bb*f - e*c) + c*(bb*r - q*c) AS det2,
        |  a*(d*r - q*e) - bb*(bb*r - q*c) + p*(bb*e - d*c) AS det3,
        |  a, bb, c, d, e, f
        | FROM m),
        |fit AS (
        | SELECT slice, n, det1/det AS b1, det2/det AS b2, det3/det AS b0,
        |  p, q, r, syy, a, bb, c, d, e, f
        | FROM s),
        |metr AS (
        | SELECT slice, n, b1, b2, b0,
        |  syy - 2*(b1*p + b2*q + b0*r)
        |   + (b1*b1*a + b2*b2*d + b0*b0*f
        |      + 2*b1*b2*bb + 2*b1*b0*c + 2*b2*b0*e) AS sse,
        |  syy - r*r/n AS sst
        | FROM fit)
        |SELECT slice, n, round(b1, 6) AS b1, round(b2, 6) AS b2,
        | round(b0, 6) AS intercept,
        | CASE WHEN sst > 0 THEN round(1.0 - sse/sst, 6) END AS r2
        |FROM metr ORDER BY slice""".stripMargin,
    "q241_grouping_sets" ->
      """SELECT l_returnflag AS flag, l_linestatus AS status,
        | CASE WHEN l_returnflag IS NULL AND l_linestatus IS NULL THEN 3
        |      WHEN l_linestatus IS NULL THEN 1 ELSE 0 END AS gid,
        | count(*) AS n,
        | CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |   AS BIGINT) AS cents
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
        | (l_returnflag), ())
        |ORDER BY gid, flag NULLS FIRST, status NULLS FIRST""".stripMargin,
    "q242_cascade_delete" ->
      """SELECT event_type, count(*) AS n_events,
        | count(DISTINCT user_id) AS n_users
        |FROM events WHERE user_id % 13 <> 0
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the FULL recompute — the identity the delta algebra must match
    "q240_join_ivm" ->
      """SELECT c.c_mktsegment, count(*) AS n,
        | CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
        |   AS BIGINT) AS cents
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""".stripMargin,
    "q238_dp_sums" ->
      """WITH c AS (
        | SELECT event_type AS "group",
        |  sum(greatest(least(value, 50.0), 0.0)) AS sum_clipped
        | FROM events GROUP BY event_type),
        |u AS (
        | SELECT "group", sum_clipped,
        |  CAST(CAST('0x' || substring(md5("group" || ':' || 'r8s'), 1, 13)
        |    AS UBIGINT) AS DOUBLE) / 4503599627370496.0 AS uu
        | FROM c)
        |SELECT "group", round(sum_clipped, 6) AS sum_clipped,
        | round(sum_clipped + (-(50.0 / 1.0)) *
        |  (CASE WHEN uu - 0.5 < 0 THEN -1.0
        |        WHEN uu - 0.5 > 0 THEN 1.0 ELSE 0.0 END) *
        |  ln(1.0 - 2.0 * abs(uu - 0.5)), 6) AS sum_noisy
        |FROM u ORDER BY "group"""".stripMargin,
    "q239_group_auc" ->
      """WITH base AS (
        | SELECT event_type AS slice, value AS s,
        |  CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS y
        | FROM events WHERE value IS NOT NULL),
        |r AS (
        | SELECT slice, y,
        |  rank() OVER (PARTITION BY slice ORDER BY s)
        |   + (count(*) OVER (PARTITION BY slice, s) - 1) / 2.0 AS rr
        | FROM base),
        |agg AS (
        | SELECT slice, CAST(sum(y) AS BIGINT) AS n_pos,
        |  CAST(sum(1 - y) AS BIGINT) AS n_neg,
        |  sum(CASE WHEN y = 1 THEN rr END) AS rpos
        | FROM r GROUP BY slice)
        |SELECT slice, n_pos, n_neg,
        | CASE WHEN n_pos > 0 AND n_neg > 0 THEN
        |  round((rpos - n_pos * (n_pos + 1) / 2.0) / (n_pos * n_neg), 6)
        | END AS auc
        |FROM agg ORDER BY slice""".stripMargin,
    "q236_pattern_novelty" ->
      """WITH seq AS (
        | SELECT CAST(ts AS DATE) AS day, event_type AS a,
        |  lead(event_type, 1) OVER w AS b,
        |  lead(event_type, 2) OVER w AS c
        | FROM events
        | WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |pats AS (
        | SELECT day, a || '>' || b || '>' || c AS pattern FROM seq
        | WHERE b IS NOT NULL AND c IS NOT NULL),
        |daily AS (
        | SELECT day, pattern, count(*) AS n FROM pats GROUP BY 1, 2),
        |fd AS (SELECT pattern, min(day) AS first_day FROM daily GROUP BY 1)
        |SELECT d.day, count(*) AS n_patterns,
        | CAST(sum(CASE WHEN d.day = f.first_day THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_new,
        | round(CAST(sum(CASE WHEN d.day = f.first_day THEN 1 ELSE 0 END)
        |   AS DOUBLE) / count(*), 6) AS novelty
        |FROM daily d JOIN fd f USING (pattern)
        |GROUP BY d.day ORDER BY d.day""".stripMargin,
    "q232_js_divergence" ->
      """WITH words AS (
        | SELECT source AS slice,
        |  unnest(regexp_split_to_array(lower(trim(text)),'\s+')) AS w
        | FROM documents),
        |counts AS (
        | SELECT slice, w, CAST(count(*) AS DOUBLE) AS c FROM words
        | WHERE length(w) > 0 GROUP BY slice, w),
        |totals AS (SELECT slice, sum(c) AS tot FROM counts GROUP BY slice),
        |corpus AS (SELECT DISTINCT w FROM counts),
        |grid AS (
        | SELECT t.slice, co.w, coalesce(c.c, 0) / t.tot AS p
        | FROM totals t CROSS JOIN corpus co
        | LEFT JOIN counts c ON c.slice = t.slice AND c.w = co.w)
        |SELECT a.slice AS slice_a, b.slice AS slice_b,
        | round(sum(
        |  (CASE WHEN a.p > 0
        |    THEN a.p * log2(a.p / ((a.p + b.p) / 2)) ELSE 0 END +
        |   CASE WHEN b.p > 0
        |    THEN b.p * log2(b.p / ((a.p + b.p) / 2)) ELSE 0 END) / 2), 6)
        |  AS jsd
        |FROM grid a JOIN grid b ON a.w = b.w AND a.slice < b.slice
        |GROUP BY a.slice, b.slice ORDER BY slice_a, slice_b""".stripMargin,
    "q233_embed_dimstats" ->
      """WITH x AS (
        | SELECT unnest(range(len(embedding))) AS dim,
        |  unnest(CAST(embedding AS DOUBLE[])) AS x
        | FROM embeddings)
        |SELECT CAST(dim AS BIGINT) AS dim, count(*) AS n,
        | round(avg(x), 6) AS mean, round(stddev(x), 6) AS std,
        | round(min(x), 6) AS min, round(max(x), 6) AS max
        |FROM x GROUP BY dim ORDER BY dim""".stripMargin,
    "q230_spearman" ->
      """WITH r AS (
        | SELECT l_returnflag AS grp,
        |  rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity)
        |   + (count(*) OVER (PARTITION BY l_returnflag, l_quantity) - 1)
        |     / 2.0 AS rx,
        |  rank() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice)
        |   + (count(*) OVER (PARTITION BY l_returnflag, l_extendedprice)
        |     - 1) / 2.0 AS ry
        | FROM lineitem)
        |SELECT grp AS "group", count(*) AS n,
        | round(corr(rx, ry), 6) AS spearman
        |FROM r GROUP BY grp ORDER BY grp""".stripMargin,
    // the PAV fit restated through the isotonic minimax identity
    // iso(b) = max_{i<=b} min_{j>=b} mean(i..j) over observed bins —
    // O(B^3) rows at B=50, trivial for the oracle, impossible at corpus
    // scale (which is why the operator bins first)
    "q231_isotonic" ->
      """WITH params AS (
        | SELECT min(CAST(n_chars AS DOUBLE)) AS lo,
        |  greatest(max(CAST(n_chars AS DOUBLE))
        |   - min(CAST(n_chars AS DOUBLE)),
        |   2.2250738585072014e-308) AS span
        | FROM documents),
        |b AS (
        | SELECT CAST(least(floor((CAST(n_chars AS DOUBLE) - lo)
        |    / span * 50), 49) AS BIGINT) AS bin,
        |  count(*) AS n,
        |  sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS pos
        | FROM documents, params GROUP BY 1),
        |ord AS (SELECT bin, n, pos,
        |  row_number() OVER (ORDER BY bin) AS r FROM b),
        |cum AS (SELECT r, bin, n, pos,
        |  sum(n) OVER (ORDER BY r) AS cn,
        |  sum(pos) OVER (ORDER BY r) AS cp FROM ord),
        |means AS (
        | SELECT i.r AS ri, j.r AS rj,
        |  (j.cp - (i.cp - i.pos)) * 1.0 / (j.cn - (i.cn - i.n)) AS m
        | FROM cum i JOIN cum j ON i.r <= j.r),
        |inner_min AS (
        | SELECT m.ri, c.r AS rb, min(m.m) AS mn
        | FROM means m JOIN cum c ON m.ri <= c.r AND m.rj >= c.r
        | GROUP BY m.ri, c.r),
        |iso AS (SELECT rb, max(mn) AS cal FROM inner_min GROUP BY rb)
        |SELECT o.bin,
        | round(p.lo + o.bin * p.span / 50, 6) AS lo,
        | round(p.lo + (o.bin + 1) * p.span / 50, 6) AS hi,
        | o.n, CAST(o.pos AS BIGINT) AS n_pos,
        | round(o.pos * 1.0 / o.n, 6) AS raw_rate,
        | round(i.cal, 6) AS calibrated
        |FROM ord o JOIN iso i ON i.rb = o.r CROSS JOIN params p
        |ORDER BY o.bin""".stripMargin,
    "q227_dict_encode" ->
      """WITH dict AS (
        | SELECT p_type AS term, count(*) AS n FROM part
        | WHERE p_type IS NOT NULL GROUP BY p_type),
        |idx AS (
        | SELECT term,
        |  row_number() OVER (ORDER BY n DESC, term ASC) - 1 AS idx
        | FROM dict)
        |SELECT p.p_brand, count(*) AS n_rows,
        | CAST(sum(i.idx) AS BIGINT) AS sum_idx, max(i.idx) AS max_idx
        |FROM part p JOIN idx i ON p.p_type = i.term
        |GROUP BY p.p_brand ORDER BY p.p_brand""".stripMargin,
    "q228_target_encode" ->
      """WITH o AS (
        | SELECT o_orderkey, o_orderpriority,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS y FROM orders),
        |c AS (SELECT o_orderpriority, sum(y) AS s, count(*) AS n
        |  FROM o GROUP BY 1),
        |g AS (SELECT CAST(sum(y) AS DOUBLE) / count(*) / 100.0 AS prior
        |  FROM o)
        |SELECT o.o_orderkey, o.o_orderpriority,
        | round((CAST(c.s - o.y AS DOUBLE) / 100.0 + 10.0 * g.prior) /
        |   (c.n - 1 + 10.0), 6) AS enc
        |FROM o JOIN c USING (o_orderpriority) CROSS JOIN g
        |ORDER BY o.o_orderkey""".stripMargin,
    "q229_adamic_adar" ->
      """WITH base AS (
        | SELECT l_partkey AS src, l_suppkey + 1000000 AS dst FROM lineitem
        | WHERE l_orderkey % 11 = 0),
        |e AS (SELECT DISTINCT src, dst FROM (
        |  SELECT src, dst FROM base WHERE src <> dst
        |  UNION SELECT dst, src FROM base WHERE src <> dst)),
        |deg AS (SELECT src AS z, count(*) AS deg FROM e GROUP BY src),
        |b AS (SELECT e.src AS z, e.dst AS n, deg.deg
        |  FROM e JOIN deg ON e.src = deg.z WHERE deg.deg <= 64),
        |w AS (SELECT x.z, x.n AS a, y.n AS b, x.deg
        |  FROM b x JOIN b y ON x.z = y.z WHERE x.n < y.n),
        |s AS (SELECT a AS node_a, b AS node_b, count(*) AS n_common,
        |  round(sum(1.0 / ln(deg)), 6) AS aa_score FROM w GROUP BY a, b)
        |SELECT s.node_a, s.node_b, s.n_common, s.aa_score FROM s
        |WHERE NOT EXISTS (SELECT 1 FROM e
        |  WHERE e.src = s.node_a AND e.dst = s.node_b)
        |ORDER BY node_a, node_b""".stripMargin,
    "q226_mutual_topk" ->
      """WITH a AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id % 2 = 0),
        |b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id % 2 = 1),
        |sc AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  list_cosine_similarity(a.v, b.v) AS cos
        | FROM a CROSS JOIN b),
        |ab AS (SELECT id_a, id_b, cos FROM (
        |  SELECT *, row_number() OVER (PARTITION BY id_a
        |    ORDER BY cos DESC, id_b ASC) AS rn FROM sc) WHERE rn = 1),
        |ba AS (SELECT id_a, id_b FROM (
        |  SELECT *, row_number() OVER (PARTITION BY id_b
        |    ORDER BY cos DESC, id_a ASC) AS rn FROM sc) WHERE rn = 1)
        |SELECT ab.id_a, ab.id_b, round(ab.cos, 4) AS cos_sim
        |FROM ab JOIN ba USING (id_a, id_b) ORDER BY id_a""".stripMargin,
    "q41_stream_agg" ->
      """SELECT time_bucket(INTERVAL '1 hour', ts) AS bucket, event_type,
        | count(*) AS n, round(sum(value),2) AS total_value
        |FROM events GROUP BY bucket, event_type
        |ORDER BY bucket, event_type""".stripMargin,
    // quality components restated in RE2-safe SQL; the subword count
    // (Spark splits on lookaround word boundaries, which RE2 lacks) is
    // restated as (#non-word chars) + (#maximal word runs) — equivalent
    // because every non-word char is its own token under that split
    "q44_quality_score" ->
      """WITH base AS (
        | SELECT doc_id, trim(text) AS t,
        |  CASE WHEN length(trim(text))=0 THEN 0
        |   ELSE CAST(length(regexp_split_to_array(trim(text),'\s+')) AS BIGINT)
        |  END AS n_words,
        |  regexp_split_to_array(lower(trim(text)),'\s+') AS lws
        | FROM documents),
        |m AS (
        | SELECT doc_id, t, n_words,
        |  CASE WHEN length(t)=0 THEN 0.0 ELSE
        |   CAST(length(regexp_replace(t,'[^.,;:!?''"()\[\]{}-]','','g'))
        |    AS DOUBLE) / length(t) END AS punct_ratio,
        |  CASE WHEN n_words=0 THEN 0.0 ELSE
        |   CAST(length(list_filter(lws, x -> list_contains(
        |    ['the','a','an','and','or','of','to','in','is','it','that',
        |     'for','on','with','as','was','at','by','be'],
        |    regexp_replace(x,'[^a-z]','','g')))) AS DOUBLE)/n_words
        |  END AS stop_ratio
        | FROM base)
        |SELECT doc_id,
        | round(least(n_words/20.0, 1.0)*0.5
        |   + (CASE WHEN punct_ratio < 0.2 THEN 1.0 ELSE 0.5 END)*0.25
        |   + (CASE WHEN stop_ratio > 0.05 THEN 1.0 ELSE 0.5 END)*0.25, 4)
        |  AS quality,
        | round(stop_ratio, 4) AS stopword_ratio,
        | CASE WHEN length(t)=0 THEN 0 ELSE
        |  CAST(length(regexp_replace(t,'[A-Za-z0-9_]','','g'))
        |   + length(list_filter(regexp_split_to_array(t,'[^A-Za-z0-9_]+'),
        |      x -> x <> '')) AS BIGINT) END AS n_subword_tokens
        |FROM m ORDER BY doc_id""".stripMargin,
    // argmax over (hits, lang) mirrors Spark's array_max on
    // struct(hits, lang): max hits, ties broken by the GREATER lang string
    "q34_lang_id" ->
      """WITH t AS (SELECT doc_id, lang AS declared_lang,
        |  regexp_split_to_array(lower(trim(text)), '[^a-zà-ÿ]+') AS toks
        | FROM documents),
        |c AS (
        | SELECT doc_id, declared_lang, cand.lang AS cl,
        |  length(list_filter(toks, x -> list_contains(cand.words, x))) AS hits
        | FROM t, (VALUES
        |   ('en', ['the','and','of','is','that','with','for','this']),
        |   ('de', ['der','die','und','das','ist','nicht','mit','ein']),
        |   ('fr', ['le','la','les','est','une','des','dans','pour']),
        |   ('es', ['el','los','las','es','una','para','por','como']),
        |   ('it', ['il','di','che','per','con','una','sono','della']))
        |   AS cand(lang, words)),
        |r AS (SELECT doc_id, declared_lang, cl, hits,
        |  row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, cl DESC)
        |   AS rn
        | FROM c)
        |SELECT doc_id,
        | CASE WHEN hits > 0 THEN cl ELSE 'und' END AS pred_lang,
        | declared_lang
        |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "q45_dateparse" ->
      """SELECT year(o_orderdate) AS iso_year, month(o_orderdate) AS dmy_month,
        | month(o_orderdate) AS mmm_month, year(o_orderdate) AS mmmyy_year,
        | day(o_orderdate) AS trunc_day, count(*) AS n
        |FROM orders
        |GROUP BY iso_year, dmy_month, mmm_month, mmmyy_year, trunc_day
        |ORDER BY iso_year, dmy_month, mmm_month, mmmyy_year, trunc_day""".stripMargin,
    "q48_infer_state" ->
      """SELECT CASE WHEN lat > 0 AND lon > 0 THEN 'NorthEast'
        |            WHEN lat > 0 THEN 'NorthWest'
        |            WHEN lon > 0 THEN 'SouthEast'
        |            ELSE 'SouthWest' END AS state,
        |       CASE WHEN lon < 0 THEN 'Westland' END AS country,
        |       count(*) AS n
        |FROM (SELECT (o_orderkey % 120) - 60 + 0.5 AS lat,
        |             (o_orderkey % 340) - 170 + 0.5 AS lon FROM orders)
        |GROUP BY state, country
        |ORDER BY state, country NULLS FIRST""".stripMargin,
    "q46_enrich_pipeline" ->
      """SELECT year(o_orderdate) AS yr,
        | NOT (o_orderkey % 170 - 85 = 0 OR o_orderkey % 356 - 178 = 0)
        |   AS kosher,
        | 'PreservedSpecimen' AS bor, count(*) AS n
        |FROM orders GROUP BY yr, kosher ORDER BY yr, kosher""".stripMargin,
    "q49_event_precision" ->
      """WITH base AS (
        | SELECT CAST(o_orderdate AS DATE) AS d0,
        |   CAST(o_orderdate AS DATE) + CAST(o_orderkey % 3 AS INT) AS d1,
        |   o_orderkey % 4 AS p4, o_orderkey % 3 AS p3
        | FROM orders),
        |rowed AS (
        | SELECT
        |  CASE p4 WHEN 0 THEN 'Day' WHEN 1 THEN 'Month'
        |   WHEN 2 THEN 'Year Range'
        |   ELSE CASE WHEN p3 = 0 THEN 'Day'
        |     WHEN month(d1) = month(d0) AND year(d1) = year(d0) THEN 'Month'
        |     WHEN year(d1) = year(d0) THEN 'Year'
        |     ELSE 'Day Range' END END AS precision,
        |  CASE WHEN p4 IN (1, 2) OR p3 <> 0 THEN 1 ELSE 0 END AS day_null,
        |  CASE WHEN p4 = 2 OR (p3 <> 0 AND (month(d1) <> month(d0)
        |    OR year(d1) <> year(d0))) THEN 1 ELSE 0 END AS month_null,
        |  CASE WHEN p4 = 2 OR (p3 <> 0 AND year(d1) <> year(d0))
        |    THEN 1 ELSE 0 END AS year_null,
        |  CASE p4 WHEN 1 THEN CAST(date_trunc('month', d0) AS DATE)
        |   WHEN 2 THEN CAST(date_trunc('year', d0) AS DATE)
        |   ELSE d0 END AS start_d,
        |  CASE p4 WHEN 1 THEN CAST(date_trunc('month', d1) AS DATE)
        |   WHEN 2 THEN CAST(date_trunc('year', d1) AS DATE)
        |   ELSE d1 END AS end_d
        | FROM base)
        |SELECT precision, count(*) AS n,
        |  CAST(sum(day_null) AS BIGINT) AS day_nulls,
        |  CAST(sum(month_null) AS BIGINT) AS month_nulls,
        |  CAST(sum(year_null) AS BIGINT) AS year_nulls,
        |  strftime(min(start_d), '%Y-%m-%d') AS min_start,
        |  strftime(max(end_d), '%Y-%m-%d') AS max_end
        |FROM rowed GROUP BY precision ORDER BY precision""".stripMargin,
    "q50_loc_uncertainty" ->
      """WITH base AS (
        | SELECT o_orderkey % 5 AS u, o_orderkey % 4 AS p FROM orders),
        |rowed AS (
        | SELECT u, p,
        |  CASE WHEN u = 0 THEN 100.0 WHEN u = 1 THEN 2000.0
        |       WHEN u >= 3 AND p = 1 THEN 700.0 ELSE 0.0 END AS unc_val,
        |  CASE WHEN u >= 3 AND p = 1 THEN 1 ELSE 0 END AS uip,
        |  CASE WHEN NOT (u >= 3 AND p = 1) AND p IN (1, 2)
        |       THEN 1 ELSE 0 END AS pr,
        |  CASE WHEN u = 2 THEN 1 ELSE 0 END AS ur,
        |  CASE WHEN u IN (0, 1) OR (u >= 3 AND p = 1)
        |       THEN 0 ELSE 1 END AS um
        | FROM base)
        |SELECT CAST(u AS BIGINT) AS unc_kind, CAST(p AS BIGINT) AS prec_kind,
        |  count(*) AS n, sum(unc_val) AS unc_sum,
        |  CAST(sum(uip) AS BIGINT) AS unc_in_prec,
        |  CAST(sum(pr) AS BIGINT) AS prec_range,
        |  CAST(0 AS BIGINT) AS prec_mismatch,
        |  CAST(sum(ur) AS BIGINT) AS unc_range,
        |  CAST(sum(um) AS BIGINT) AS unc_missing
        |FROM rowed GROUP BY u, p ORDER BY unc_kind, prec_kind""".stripMargin,
    "q47_enrich_assertions" ->
      """WITH per_row AS (
        | SELECT list_concat(list_concat(list_concat(
        |   [20018, 51, 27, 29, 31, 32, 33, 34, 42,
        |    20015, 10009, 10010, 10011, 10012],
        |   CASE WHEN lat = 0 AND lon = 0 THEN [4, 53, 54]
        |        WHEN lat = 0 THEN [53]
        |        WHEN lon = 0 THEN [54] ELSE [] END),
        |   CASE WHEN day(o_orderdate) = 1 AND month(o_orderdate) = 1
        |         AND year(o_orderdate) % 100 = 0
        |        THEN [30003, 30004, 30005]
        |        WHEN day(o_orderdate) = 1 AND month(o_orderdate) = 1
        |        THEN [30003, 30004]
        |        WHEN day(o_orderdate) = 1 THEN [30003] ELSE [] END),
        |   []) AS codes
        | FROM (SELECT o_orderdate, o_orderkey % 170 - 85 AS lat,
        |   o_orderkey % 356 - 178 AS lon FROM orders))
        |SELECT CAST(code AS BIGINT) AS code, count(*) AS n
        |FROM (SELECT unnest(codes) AS code FROM per_row)
        |GROUP BY code ORDER BY code""".stripMargin,
    "q144_tfidf_terms" ->
      """WITH d AS (SELECT * FROM documents WHERE doc_id < 200),
        |tf AS (
        | SELECT doc_id AS doc, term, CAST(count(*) AS DOUBLE) AS tf
        | FROM (SELECT doc_id, unnest(string_split_regex(
        |   lower(trim(text)), '\s+')) AS term FROM d)
        | WHERE length(term) >= 1
        | GROUP BY doc, term),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS N FROM d),
        |df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df
        |       FROM tf GROUP BY term),
        |scored AS (
        | SELECT tf.doc, tf.term,
        |  round(tf.tf * (ln((1.0 + n.N) / (1.0 + df.df)) + 1.0), 6)
        |   AS tfidf
        | FROM tf JOIN df USING (term), n),
        |ranked AS (
        | SELECT doc, term, tfidf, CAST(row_number() OVER (
        |   PARTITION BY doc ORDER BY tfidf DESC, term) AS INTEGER) AS rk
        | FROM scored)
        |SELECT doc, term, tfidf, rk FROM ranked
        |WHERE rk <= 3 ORDER BY doc, rk""".stripMargin,
    "q145_zipf_fit" ->
      """WITH counts AS (
        | SELECT w, CAST(count(*) AS DOUBLE) AS c
        | FROM (SELECT unnest(string_split_regex(lower(trim(text)),
        |   '\s+')) AS w FROM documents)
        | WHERE length(w) > 0 GROUP BY w),
        |ranked AS (
        | SELECT ln(CAST(row_number() OVER (ORDER BY c DESC, w) AS DOUBLE))
        |   AS x, ln(c) AS y,
        |  row_number() OVER (ORDER BY c DESC, w) AS rk
        | FROM counts QUALIFY rk <= 500),
        |m AS (
        | SELECT CAST(count(*) AS DOUBLE) AS n, sum(x) AS sx, sum(y) AS sy,
        |  sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
        | FROM ranked)
        |SELECT CAST(n AS BIGINT) AS n_terms,
        | round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
        | round((sy - sx * ((n * sxy - sx * sy) / (n * sxx - sx * sx))) / n,
        |   6) AS intercept,
        | round(pow(n * sxy - sx * sy, 2) /
        |   ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
        |FROM m""".stripMargin,
    "q146_sentence_stats" ->
      """WITH sents AS (
        | SELECT doc_id, list_filter(string_split_regex(trim(text),
        |   '[.!?]+(\s+|$)'), s -> length(trim(s)) > 0) AS ss
        | FROM documents),
        |wc AS (
        | SELECT doc_id, list_transform(ss, s -> len(list_filter(
        |   string_split_regex(trim(s), '\s+'), w -> length(w) > 0))) AS ws
        | FROM sents)
        |SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_sentences,
        | CASE WHEN len(ws) = 0 THEN 0.0
        |  ELSE round(CAST(list_sum(ws) AS DOUBLE) / len(ws), 4)
        |  END AS mean_words,
        | CASE WHEN len(ws) = 0 THEN CAST(0 AS BIGINT)
        |  ELSE CAST(list_max(ws) AS BIGINT) END AS max_words
        |FROM wc ORDER BY doc_id""".stripMargin,
    "q147_count_min" ->
      """WITH items AS (
        | SELECT CAST(l_suppkey AS VARCHAR) AS item FROM lineitem
        | WHERE l_suppkey IS NOT NULL),
        |rows_ AS (SELECT CAST(unnest(range(0, 4)) AS INTEGER) AS r),
        |cols_ AS (SELECT CAST(unnest(range(0, 64)) AS INTEGER) AS b),
        |cells AS (
        | SELECT r, CAST(CAST('0x' || substring(md5(item || ':' ||
        |    CAST(r AS VARCHAR)), 1, 8) AS UBIGINT) % 64 AS INTEGER) AS b,
        |  count(*) AS cnt
        | FROM items, rows_ GROUP BY 1, 2)
        |SELECT g.r, g.b, COALESCE(c.cnt, 0) AS cnt
        |FROM (SELECT r, b FROM rows_, cols_) g
        |LEFT JOIN cells c ON c.r = g.r AND c.b = g.b
        |ORDER BY g.r, g.b""".stripMargin,
    // ANN invariants pinned TRUE: within-probe exactness (independent
    // selection path) + recall floor; query ids and k replay exactly
    "q32_ivf_topk" ->
      """SELECT CAST(vec_id AS BIGINT) AS query_id,
        | CAST(10 AS BIGINT) AS n_results, TRUE AS exact_in_probes,
        | TRUE AS recall_ok
        |FROM embeddings WHERE vec_id < 3 ORDER BY query_id""".stripMargin,
    // IVFPQ+refine invariants pinned TRUE: rerank scores ≡ true cosine,
    // rank order follows score, recall floor
    "q74_pq_topk" ->
      """SELECT CAST(vec_id AS BIGINT) AS query_id,
        | CAST(10 AS BIGINT) AS n_results, TRUE AS scores_exact,
        | TRUE AS ranked_desc, TRUE AS recall_ok
        |FROM embeddings WHERE vec_id < 3 ORDER BY query_id""".stripMargin,
    // kNN-graph audit slice pinned TRUE: each audited query's rows are
    // the exact ranked top-k within its probed cells (self-hit dropped,
    // so k−1 rows); the 1-in-97 slice replays from vec_id
    "q212_batch_ann" ->
      """SELECT CAST(vec_id AS BIGINT) AS query_id,
        | CAST(3 AS BIGINT) AS n_results, TRUE AS exact_in_probes
        |FROM embeddings WHERE vec_id % 97 = 0 ORDER BY query_id""".stripMargin,
    // k-means invariants pinned TRUE: assignment is argmax over all k
    // centroids (independent scoring path) and Lloyd's leaves no cell
    // empty on this corpus; n replays exactly
    "q218_kmeans_cells" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_vectors,
        | CAST(8 AS BIGINT) AS n_cells, TRUE AS assign_optimal
        |FROM embeddings""".stripMargin,
    // sign-LSH near-dup invariant pinned TRUE: the grid-paired operator
    // output ≡ the plain within-bucket join; n replays exactly
    "q33_embed_neardup" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_vectors,
        | TRUE AS bucket_pairs_exact
        |FROM embeddings""".stripMargin,
    // SemDeDup invariants pinned TRUE: the within-cell ≥-threshold pair
    // graph is closed under the component assignment, every drop is
    // edge-justified, and each component keeps exactly its min id
    "q52_semantic_dedup" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_docs, TRUE AS edges_closed,
        | TRUE AS drops_have_edges, TRUE AS reps_are_min
        |FROM embeddings""".stripMargin,
    // the planted near-dup closed form: even/odd ids share a raster (odd
    // perturbed within Hamming 3), distinct seeds land far apart — the
    // detected pair set must be exactly the planted pairs
    "q149_image_phash_dedup" ->
      """SELECT a.o_orderkey AS id_a, b.o_orderkey AS id_b
        |FROM orders a JOIN orders b ON b.o_orderkey = a.o_orderkey + 1
        |WHERE a.o_orderkey % 2 = 0 AND a.o_orderkey <= 400
        | AND b.o_orderkey <= 400
        |ORDER BY id_a, id_b""".stripMargin,
    // same planted closed form for the temporal signature family
    "q215_video_neardup" ->
      """SELECT a.o_orderkey AS id_a, b.o_orderkey AS id_b
        |FROM orders a JOIN orders b ON b.o_orderkey = a.o_orderkey + 1
        |WHERE a.o_orderkey % 2 = 0 AND a.o_orderkey <= 300
        | AND b.o_orderkey <= 300
        |ORDER BY id_a, id_b""".stripMargin,
    // planted-payload container walks (round 11): every stream byte is
    // derivable from the doc key, so the md5s replay exactly — see the
    // generator contract in multimodal/Multimodal.scala
    "q214_video_mjpeg" ->
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 200),
        |f AS (
        | SELECT doc_id, CAST(g AS INTEGER) AS frame_idx,
        |  40 + (CAST(g AS INTEGER) % 7) AS flen
        | FROM d, unnest(generate_series(0, (doc_id % 5) + 2, 2)) AS t(g))
        |SELECT doc_id, frame_idx, CAST(flen AS BIGINT) AS frame_len,
        | md5('F' || doc_id || ':' || frame_idx || ':' ||
        |   repeat('x', flen - length('F' || doc_id || ':' || frame_idx
        |     || ':'))) AS frame_md5
        |FROM f ORDER BY doc_id, frame_idx""".stripMargin,
    "q217_av_demux" ->
      """WITH d AS (
        | SELECT doc_id, (doc_id % 4) + 2 AS n
        | FROM documents WHERE doc_id < 200),
        |fr AS (
        | SELECT doc_id, CAST(g AS INTEGER) AS i,
        |  'F' || doc_id || ':' || CAST(g AS INTEGER) || ':' AS head,
        |  40 + (CAST(g AS INTEGER) % 7) AS flen
        | FROM d, unnest(generate_series(0, n - 1)) AS t(g)),
        |v AS (
        | SELECT doc_id, count(*) AS n_frames,
        |  md5(string_agg(head || repeat('x', flen - length(head)), ''
        |    ORDER BY i)) AS video_md5
        | FROM fr GROUP BY doc_id),
        |au AS (
        | SELECT doc_id, count(*) AS n_samples,
        |  md5(string_agg(chr(65 + CAST((doc_id + j) % 26 AS INTEGER)) ||
        |    chr(48 + CAST((doc_id + j) % 10 AS INTEGER)), ''
        |    ORDER BY j)) AS audio_md5
        | FROM (SELECT doc_id, CAST(g AS BIGINT) AS j FROM d,
        |   unnest(generate_series(0, CAST(n * 80 - 1 AS BIGINT))) AS t(g))
        | GROUP BY doc_id)
        |SELECT d.doc_id, CAST(v.n_frames AS BIGINT) AS n_frames,
        | v.video_md5, CAST(au.n_samples AS BIGINT) AS n_samples,
        | au.audio_md5
        |FROM d JOIN v USING (doc_id) JOIN au USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    // planted-PIXEL decode gates (round 11): channel sums of the planted
    // raster replay over generate_series; float32 means replay as REAL
    // division (REAL ops stay REAL in DuckDB — the q27 precedent)
    "q42_multimodal_features" ->
      """WITH d AS (
        | SELECT doc_id, (doc_id % 13) + 8 AS w, (doc_id % 7) + 6 AS h
        | FROM documents),
        |px AS (
        | SELECT d.doc_id, d.w, d.h, CAST(x.g AS BIGINT) AS x,
        |  CAST(y.g AS BIGINT) AS y
        | FROM d, unnest(generate_series(0, d.w - 1)) AS x(g),
        |      unnest(generate_series(0, d.h - 1)) AS y(g)),
        |s AS (
        | SELECT doc_id, max(w) AS w, max(h) AS h,
        |  sum((doc_id + x + y) % 256) AS sr,
        |  sum((3 * doc_id + 2 * x + y) % 256) AS sg,
        |  sum((7 * doc_id + x + 3 * y) % 256) AS sb
        | FROM px GROUP BY doc_id)
        |SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        | CAST(sr AS FLOAT) / CAST(w * h * 255 AS FLOAT) AS mean_r,
        | CAST(sg AS FLOAT) / CAST(w * h * 255 AS FLOAT) AS mean_g,
        | CAST(sb AS FLOAT) / CAST(w * h * 255 AS FLOAT) AS mean_b,
        | CAST(11 AS INT) AS dim
        |FROM s ORDER BY doc_id""".stripMargin,
    // planted per-frame pixels: sampled indices from the stride walk,
    // per-frame float32 means, double average like Spark's avg(FLOAT)
    "q43_frame_sample" ->
      """WITH d AS (
        | SELECT doc_id, (doc_id % 5) + 2 AS k
        | FROM (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 100)),
        |f AS (
        | SELECT doc_id, CAST(g AS INTEGER) AS f
        | FROM d, unnest(generate_series(0, k - 1, 2)) AS t(g)),
        |px AS (
        | SELECT f.doc_id, f.f, CAST(x.g AS BIGINT) AS x,
        |  CAST(y.g AS BIGINT) AS y
        | FROM f, unnest(generate_series(0, 7)) AS x(g),
        |      unnest(generate_series(0, 5)) AS y(g)),
        |fm AS (
        | SELECT doc_id, f,
        |  CAST(sum((doc_id + 97 * (f + 1) + x + y) % 256) AS FLOAT) /
        |    CAST(12240 AS FLOAT) AS mr
        | FROM px GROUP BY doc_id, f)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frames,
        | CAST(max(f) AS INT) AS max_idx,
        | ROUND(AVG(CAST(mr AS DOUBLE)), 4) AS mean_r
        |FROM fm GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // planted square wave: rms = A/32768 exactly (Σv² = n·A² is
    // integer-exact in double, sqrt of a perfect square is exact),
    // zcr = ⌊(n−1)/HP⌋/n, decimated WAV = 44-byte header + n bytes
    "q117_audio_features" ->
      """WITH p AS (
        | SELECT doc_id, ((doc_id % 11) + 4) * 400 AS n,
        |  ((doc_id % 9) + 1) * 1000 AS a, (doc_id % 7) + 2 AS hp
        | FROM documents)
        |SELECT doc_id, CAST(8000 AS INT) AS rate,
        | CAST(n AS DOUBLE) / 8000 AS duration_s,
        | CAST(a AS DOUBLE) / 32768 AS rms,
        | CAST((n - 1) // hp AS DOUBLE) / CAST(n AS DOUBLE) AS zcr,
        | CAST(44 + n AS BIGINT) AS half_bytes
        |FROM p ORDER BY doc_id""".stripMargin,
    // planted twin-pair tones: frame-walk word count, bitwise-invariant
    // fingerprint under exact power-of-two re-mastering (ber ≡ 0), and
    // the even/odd match pattern — robustness AND discriminability
    "q188_audio_fingerprint" ->
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 24),
        |p AS (
        | SELECT a.doc_id FROM d a JOIN d b ON b.doc_id = a.doc_id + 1)
        |SELECT doc_id,
        | CAST(((doc_id // 2) % 7 + 4) * 2 - 2 AS INT) AS n_words,
        | CAST(0.0 AS DOUBLE) AS ber_scaled,
        | doc_id % 2 = 0 AS matched_next
        |FROM p ORDER BY doc_id""".stripMargin,
    // derivative-ladder geometry: Math.round(dim · target/maxside)
    // replayed in float32 (floor(x + 0.5f) with REAL-only arithmetic)
    "q213_thumbnails" ->
      """WITH d AS (
        | SELECT o_orderkey AS img_id, (o_orderkey % 13) + 8 AS w,
        |  (o_orderkey % 7) + 6 AS h
        | FROM orders WHERE o_orderkey <= 2000),
        |m AS (SELECT img_id, w, h, GREATEST(w, h) AS mx FROM d)
        |SELECT img_id,
        | GREATEST(1, CAST(floor(CAST(w AS FLOAT) *
        |   (CAST(100 AS FLOAT) / CAST(mx AS FLOAT)) +
        |   CAST(0.5 AS FLOAT)) AS INT)) AS thumb_w,
        | GREATEST(1, CAST(floor(CAST(h AS FLOAT) *
        |   (CAST(100 AS FLOAT) / CAST(mx AS FLOAT)) +
        |   CAST(0.5 AS FLOAT)) AS INT)) AS thumb_h,
        | GREATEST(1, CAST(floor(CAST(w AS FLOAT) *
        |   (CAST(314 AS FLOAT) / CAST(mx AS FLOAT)) +
        |   CAST(0.5 AS FLOAT)) AS INT)) AS small_w,
        | GREATEST(1, CAST(floor(CAST(h AS FLOAT) *
        |   (CAST(314 AS FLOAT) / CAST(mx AS FLOAT)) +
        |   CAST(0.5 AS FLOAT)) AS INT)) AS small_h,
        | GREATEST(1, CAST(floor(CAST(w AS FLOAT) *
        |   (CAST(650 AS FLOAT) / CAST(mx AS FLOAT)) +
        |   CAST(0.5 AS FLOAT)) AS INT)) AS large_w,
        | GREATEST(1, CAST(floor(CAST(h AS FLOAT) *
        |   (CAST(650 AS FLOAT) / CAST(mx AS FLOAT)) +
        |   CAST(0.5 AS FLOAT)) AS INT)) AS large_h
        |FROM m ORDER BY img_id""".stripMargin,
    // EM contract pinned TRUE: convergence, canonical class order,
    // proper prevalence, finite-negative log-likelihood; n replays
    "q255_fs_em_estimation" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows, TRUE AS converged,
        | TRUE AS match_class_dominates, TRUE AS p_in_range,
        | TRUE AS loglik_finite_neg
        |FROM customer""".stripMargin,
    // full md5 replay of the cross-corpus banding (q201's algebra at
    // 4-word shingles / 16 hashes / 4 rows per band) + exact Jaccard
    "q139_cross_dedup" ->
      """WITH base AS (
        | SELECT doc_id, list_filter(
        |   regexp_split_to_array(lower(trim(text)), '\s+'),
        |   t -> len(t) > 0) AS ts
        | FROM documents),
        |shAll AS (
        | SELECT DISTINCT id, sh FROM (
        |  SELECT doc_id AS id,
        |   unnest(list_transform(range(1, len(ts) - 2),
        |    i -> array_to_string(list_slice(ts, i, i + 3), ' '))) AS sh
        |  FROM base WHERE len(ts) >= 4)),
        |shc AS (SELECT id, sh FROM shAll WHERE id % 2 = 0),
        |shp AS (SELECT id, sh FROM shAll WHERE id % 2 = 1),
        |hvc AS (
        | SELECT id, h, min(CAST('0x' ||
        |   substring(md5(h::VARCHAR || ':' || sh), 1, 15) AS UBIGINT)) AS mv
        | FROM shc CROSS JOIN (SELECT unnest(range(0, 16)) AS h) hh
        | GROUP BY id, h),
        |hvp AS (
        | SELECT id, h, min(CAST('0x' ||
        |   substring(md5(h::VARCHAR || ':' || sh), 1, 15) AS UBIGINT)) AS mv
        | FROM shp CROSS JOIN (SELECT unnest(range(0, 16)) AS h) hh
        | GROUP BY id, h),
        |bc AS (SELECT id, h // 4 AS band,
        |  string_agg(mv::VARCHAR, '_' ORDER BY h) AS bkey
        | FROM hvc GROUP BY id, band),
        |bp AS (SELECT id, h // 4 AS band,
        |  string_agg(mv::VARCHAR, '_' ORDER BY h) AS bkey
        | FROM hvp GROUP BY id, band),
        |cand AS (
        | SELECT DISTINCT a.id AS id_a, b.id AS id_b
        | FROM bc a JOIN bp b ON a.band = b.band AND a.bkey = b.bkey),
        |szc AS (SELECT id, count(*) AS n FROM shc GROUP BY id),
        |szp AS (SELECT id, count(*) AS n FROM shp GROUP BY id),
        |ix AS (
        | SELECT c.id_a, c.id_b, count(*) AS i
        | FROM cand c JOIN shc x ON x.id = c.id_a
        |  JOIN shp y ON y.id = c.id_b AND y.sh = x.sh
        | GROUP BY c.id_a, c.id_b),
        |jj AS (
        | SELECT ix.id_a, ix.id_b, ix.i::DOUBLE / (na.n + nb.n - ix.i) AS j
        | FROM ix JOIN szc na ON na.id = ix.id_a
        |  JOIN szp nb ON nb.id = ix.id_b)
        |SELECT id_a, id_b, round(j, 6) AS jaccard FROM jj
        |WHERE j >= 0.5 ORDER BY id_a, id_b""".stripMargin,
    "q148_fellegi_sunter" ->
      s"""WITH c AS (
        | SELECT c_custkey AS id, c_nationkey AS blk,
        |  lower(trim(c_mktsegment)) AS segment,
        |  lower(trim(CAST(CAST(abs(floor(c_acctbal)) AS BIGINT) % 100
        |    AS VARCHAR))) AS area,
        |  lower(trim(CAST(c_acctbal > 0 AS VARCHAR))) AS bal_pos
        | FROM customer),
        |p AS (
        | SELECT a.id AS id_a, b.id AS id_b, round(
        |  CASE WHEN a.segment = b.segment
        |   THEN ${fsLit(FsSegment.agreeWeight)}
        |   ELSE ${fsLit(FsSegment.disagreeWeight)} END +
        |  CASE WHEN a.area = b.area
        |   THEN ${fsLit(FsArea.agreeWeight)}
        |   ELSE ${fsLit(FsArea.disagreeWeight)} END +
        |  CASE WHEN a.bal_pos = b.bal_pos
        |   THEN ${fsLit(FsBalPos.agreeWeight)}
        |   ELSE ${fsLit(FsBalPos.disagreeWeight)} END, 4) AS weight
        | FROM c a JOIN c b ON a.blk = b.blk AND a.id < b.id)
        |SELECT CASE WHEN weight > 6.0 THEN 'match'
        |  WHEN weight > 0.0 THEN 'possible' ELSE 'nonmatch' END AS decision,
        | count(*) AS n_pairs, min(weight) AS min_w, max(weight) AS max_w
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin,
    "q150_snapshot_diff" ->
      """WITH prev AS (
        | SELECT doc_id, text FROM documents WHERE doc_id % 11 <> 0),
        |cur AS (
        | SELECT doc_id, CASE WHEN doc_id % 13 = 0 THEN text || ' v2'
        |   ELSE text END AS text
        | FROM documents WHERE doc_id % 17 <> 0),
        |j AS (
        | SELECT CASE WHEN p.doc_id IS NULL THEN 'added'
        |   WHEN c.doc_id IS NULL THEN 'removed'
        |   WHEN md5(p.text) <> md5(c.text) THEN 'changed'
        |   ELSE 'unchanged' END AS status
        | FROM prev p FULL OUTER JOIN cur c ON p.doc_id = c.doc_id)
        |SELECT status, count(*) AS n FROM j
        |GROUP BY status ORDER BY status""".stripMargin,
    "q151_fd_check" ->
      """WITH g1 AS (
        | SELECT a, sum(n) AS rows_, max(n) AS modal, count(*) AS n_b
        | FROM (SELECT l_orderkey AS a, l_returnflag AS b, count(*) AS n
        |       FROM lineitem GROUP BY 1, 2) GROUP BY a),
        |r1 AS (
        | SELECT 'orderkey->returnflag' AS fd,
        |  CAST(count(*) AS BIGINT) AS n_groups,
        |  CAST(sum(CASE WHEN n_b > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_violating_groups,
        |  CAST(sum(rows_ - modal) AS BIGINT) AS violation_rows
        | FROM g1),
        |g2 AS (
        | SELECT a, sum(n) AS rows_, max(n) AS modal, count(*) AS n_b
        | FROM (SELECT l_partkey AS a, l_suppkey AS b, count(*) AS n
        |       FROM lineitem GROUP BY 1, 2) GROUP BY a),
        |r2 AS (
        | SELECT 'partkey->suppkey' AS fd,
        |  CAST(count(*) AS BIGINT) AS n_groups,
        |  CAST(sum(CASE WHEN n_b > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_violating_groups,
        |  CAST(sum(rows_ - modal) AS BIGINT) AS violation_rows
        | FROM g2)
        |SELECT fd, n_groups, n_violating_groups, violation_rows,
        | violation_rows = 0 AS fd_holds
        |FROM (SELECT * FROM r1 UNION ALL SELECT * FROM r2)
        |ORDER BY fd""".stripMargin,
    "q152_benford" ->
      """WITH vals AS (
        | SELECT CAST(l_extendedprice AS DOUBLE) AS v FROM lineitem
        | WHERE l_extendedprice IS NOT NULL
        |  AND CAST(l_extendedprice AS DOUBLE) > 0),
        |digits AS (
        | SELECT regexp_extract(CAST(v AS VARCHAR), '[1-9]') AS d
        | FROM vals),
        |counts AS (
        | SELECT d, count(*) AS n FROM digits WHERE d <> '' GROUP BY d),
        |tot AS (SELECT CAST(sum(n) AS DOUBLE) AS total FROM counts)
        |SELECT CAST(d AS INTEGER) AS digit, n,
        | round(n / total, 6) AS observed,
        | round(log10(1.0 + 1.0 / CAST(d AS DOUBLE)), 6) AS expected,
        | round(pow(n / total - log10(1.0 + 1.0 / CAST(d AS DOUBLE)), 2)
        |   / log10(1.0 + 1.0 / CAST(d AS DOUBLE)) * total, 4) AS chi2_term
        |FROM counts, tot ORDER BY digit""".stripMargin,
    "q153_corr_matrix" ->
      """WITH c AS (
        | SELECT CAST(l_quantity AS DOUBLE) AS q,
        |  CAST(l_extendedprice AS DOUBLE) AS p,
        |  CAST(l_discount AS DOUBLE) AS d, CAST(l_tax AS DOUBLE) AS t
        | FROM lineitem
        | WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        |  AND l_discount IS NOT NULL AND l_tax IS NOT NULL),
        |m AS (
        | SELECT CAST(count(*) AS DOUBLE) AS n,
        |  sum(q) AS sq, sum(p) AS sp, sum(d) AS sd, sum(t) AS st,
        |  sum(q*q) AS sqq, sum(p*p) AS spp, sum(d*d) AS sdd,
        |  sum(t*t) AS stt, sum(q*p) AS sqp, sum(q*d) AS sqd,
        |  sum(q*t) AS sqt, sum(p*d) AS spd, sum(p*t) AS spt,
        |  sum(d*t) AS sdt
        | FROM c)
        |SELECT col_a, col_b, corr FROM (
        | SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
        |  CASE WHEN n*sqq - sq*sq > 0 AND n*spp - sp*sp > 0 THEN
        |   round((n*sqp - sq*sp)/sqrt((n*sqq - sq*sq)*(n*spp - sp*sp)), 6)
        |  END AS corr FROM m
        | UNION ALL SELECT 'l_quantity', 'l_discount',
        |  CASE WHEN n*sqq - sq*sq > 0 AND n*sdd - sd*sd > 0 THEN
        |   round((n*sqd - sq*sd)/sqrt((n*sqq - sq*sq)*(n*sdd - sd*sd)), 6)
        |  END FROM m
        | UNION ALL SELECT 'l_quantity', 'l_tax',
        |  CASE WHEN n*sqq - sq*sq > 0 AND n*stt - st*st > 0 THEN
        |   round((n*sqt - sq*st)/sqrt((n*sqq - sq*sq)*(n*stt - st*st)), 6)
        |  END FROM m
        | UNION ALL SELECT 'l_extendedprice', 'l_discount',
        |  CASE WHEN n*spp - sp*sp > 0 AND n*sdd - sd*sd > 0 THEN
        |   round((n*spd - sp*sd)/sqrt((n*spp - sp*sp)*(n*sdd - sd*sd)), 6)
        |  END FROM m
        | UNION ALL SELECT 'l_extendedprice', 'l_tax',
        |  CASE WHEN n*spp - sp*sp > 0 AND n*stt - st*st > 0 THEN
        |   round((n*spt - sp*st)/sqrt((n*spp - sp*sp)*(n*stt - st*st)), 6)
        |  END FROM m
        | UNION ALL SELECT 'l_discount', 'l_tax',
        |  CASE WHEN n*sdd - sd*sd > 0 AND n*stt - st*st > 0 THEN
        |   round((n*sdt - sd*st)/sqrt((n*sdd - sd*sd)*(n*stt - st*st)), 6)
        |  END FROM m)
        |ORDER BY col_a, col_b""".stripMargin,
    "q154_ks_test" ->
      """WITH pv AS (
        | SELECT CAST(n_chars AS DOUBLE) AS x,
        |  sum(CASE WHEN source = 'src2' THEN 1 ELSE 0 END) AS ca,
        |  sum(CASE WHEN source = 'src3' THEN 1 ELSE 0 END) AS cb
        | FROM documents
        | WHERE source IN ('src2', 'src3') AND n_chars IS NOT NULL
        | GROUP BY 1),
        |cums AS (
        | SELECT x,
        |  sum(ca) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS cuma,
        |  sum(cb) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS cumb
        | FROM pv),
        |tot AS (SELECT max(cuma) AS n1, max(cumb) AS n2 FROM cums)
        |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
        | round(max(abs(CAST(cuma AS DOUBLE) / CAST(n1 AS DOUBLE) -
        |   CAST(cumb AS DOUBLE) / CAST(n2 AS DOUBLE))), 6) AS d_stat
        |FROM cums, tot GROUP BY n1, n2""".stripMargin,
    "q155_fix_mojibake" ->
      """WITH aug AS (
        | SELECT doc_id, CASE WHEN doc_id % 3 = 0
        |   THEN text || ' — café, naïve ✓' ELSE text END AS text
        | FROM documents),
        |c AS (
        | SELECT doc_id,
        |  regexp_matches(text, '[^\x00-\x7f]') AS was_corrupted
        | FROM aug)
        |SELECT was_corrupted, true AS repaired, count(*) AS n
        |FROM c GROUP BY was_corrupted
        |ORDER BY was_corrupted, repaired""".stripMargin,
    "q156_script_profile" ->
      """SELECT source, count(*) AS docs,
        | CAST(sum(len(regexp_extract_all(text, '[A-Za-z]')))
        |   AS BIGINT) AS latin,
        | CAST(sum(len(regexp_extract_all(text, '[0-9]')))
        |   AS BIGINT) AS digits,
        | CAST(sum(len(regexp_extract_all(text, '[\x{0400}-\x{04FF}]')))
        |   AS BIGINT) AS cyrillic,
        | CAST(sum(len(regexp_extract_all(text, '[\x{0600}-\x{06FF}]')))
        |   AS BIGINT) AS arabic,
        | CAST(sum(len(regexp_extract_all(text, '[\x{4E00}-\x{9FFF}]')))
        |   AS BIGINT) AS han,
        | CAST(sum(len(regexp_extract_all(text, '[\x{AC00}-\x{D7AF}]')))
        |   AS BIGINT) AS hangul,
        | CAST(sum(len(regexp_extract_all(text, '[\x{3040}-\x{30FF}]')))
        |   AS BIGINT) AS kana
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "q157_distance_join" ->
      """WITH pts AS (
        | SELECT CAST(o_orderkey AS BIGINT) AS pid,
        |  -35.0 + CAST((o_orderkey // 16) % 50 AS DOUBLE) * 0.001 AS lat,
        |  149.0 + CAST(((o_orderkey // 16) // 50) % 50 AS DOUBLE) * 0.001
        |   AS lon
        | FROM orders WHERE o_orderkey % 16 = 0),
        |pairs AS (
        | SELECT a.pid AS id_a, b.pid AS id_b,
        |  round(2 * 6371000.0 * asin(sqrt(
        |    pow(sin(radians(b.lat - a.lat) / 2), 2) +
        |    cos(radians(a.lat)) * cos(radians(b.lat)) *
        |    pow(sin(radians(b.lon - a.lon) / 2), 2))), 1) AS dist_m
        | FROM pts a JOIN pts b ON a.pid < b.pid)
        |SELECT id_a, id_b, dist_m FROM pairs WHERE dist_m <= 250.0
        |ORDER BY id_a, id_b""".stripMargin,
    "q158_tws_lifetime" ->
      """SELECT CAST(user_id AS BIGINT) AS user_id,
        | count(*) AS n_events,
        | count(DISTINCT event_type) AS n_types,
        | round(sum(CAST(value AS DOUBLE)), 2) AS total_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q159_chi_square" ->
      """WITH cells AS (
        | SELECT o_orderstatus AS a, o_orderpriority AS b,
        |  CAST(count(*) AS BIGINT) AS o
        | FROM orders
        | WHERE o_orderstatus IS NOT NULL AND o_orderpriority IS NOT NULL
        | GROUP BY 1, 2),
        |ra AS (SELECT a, CAST(sum(o) AS BIGINT) AS ra FROM cells GROUP BY a),
        |rb AS (SELECT b, CAST(sum(o) AS BIGINT) AS rb FROM cells GROUP BY b),
        |j AS (SELECT cells.o, ra.ra, rb.rb, cells.a, cells.b
        |      FROM cells JOIN ra USING (a) JOIN rb USING (b)),
        |m AS (SELECT CAST(sum(o) AS BIGINT) AS n,
        |  count(DISTINCT a) AS r, count(DISTINCT b) AS c,
        |  sum(CAST(o AS DOUBLE) * CAST(o AS DOUBLE) /
        |      (CAST(ra AS DOUBLE) * CAST(rb AS DOUBLE))) AS q
        | FROM j)
        |SELECT n, CAST((r - 1) * (c - 1) AS BIGINT) AS dof,
        | round(CAST(n AS DOUBLE) * q - n, 6) AS chi2,
        | round(sqrt(greatest(0.0, (n * q - n) /
        |   (n * CAST(least(r - 1, c - 1) AS DOUBLE)))), 6) AS cramers_v
        |FROM m""".stripMargin,
    "q160_welch_ttest" ->
      """WITH m AS (
        | SELECT
        |  CAST(sum(CASE WHEN source = 'src2' THEN 1 ELSE 0 END) AS DOUBLE)
        |    AS na,
        |  sum(CASE WHEN source = 'src2'
        |      THEN CAST(n_chars AS DOUBLE) END) AS sa,
        |  sum(CASE WHEN source = 'src2'
        |      THEN CAST(n_chars AS DOUBLE) * n_chars END) AS qa,
        |  CAST(sum(CASE WHEN source = 'src3' THEN 1 ELSE 0 END) AS DOUBLE)
        |    AS nb,
        |  sum(CASE WHEN source = 'src3'
        |      THEN CAST(n_chars AS DOUBLE) END) AS sb,
        |  sum(CASE WHEN source = 'src3'
        |      THEN CAST(n_chars AS DOUBLE) * n_chars END) AS qb
        | FROM documents
        | WHERE source IN ('src2', 'src3') AND n_chars IS NOT NULL)
        |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        | round(sa / na, 6) AS mean_a, round(sb / nb, 6) AS mean_b,
        | round((sa / na - sb / nb) / sqrt(
        |   (qa - sa * sa / na) / (na - 1) / na +
        |   (qb - sb * sb / nb) / (nb - 1) / nb), 6) AS t_stat,
        | round(pow((qa - sa * sa / na) / (na - 1) / na +
        |           (qb - sb * sb / nb) / (nb - 1) / nb, 2) /
        |   (pow((qa - sa * sa / na) / (na - 1) / na, 2) / (na - 1) +
        |    pow((qb - sb * sb / nb) / (nb - 1) / nb, 2) / (nb - 1)), 4)
        |   AS welch_df
        |FROM m""".stripMargin,
    "q161_group_ols" ->
      """WITH pts AS (
        | SELECT c_mktsegment AS segment,
        |  CAST(date_diff('day', DATE '1995-06-01',
        |    CAST(o_orderdate AS DATE)) AS DOUBLE) AS x,
        |  CAST(o_totalprice AS DOUBLE) AS y
        | FROM orders JOIN customer ON o_custkey = c_custkey
        | WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL),
        |m AS (
        | SELECT segment, CAST(count(*) AS DOUBLE) AS n,
        |  sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
        |  sum(x * x) AS sxx, sum(y * y) AS syy
        | FROM pts GROUP BY segment)
        |SELECT segment, CAST(n AS BIGINT) AS n,
        | round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
        | round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
        |   AS intercept,
        | round(CASE WHEN n * syy - sy * sy > 0
        |   THEN (n * sxy - sx * sy) * (n * sxy - sx * sy) /
        |        ((n * sxx - sx * sx) * (n * syy - sy * sy)) END, 6) AS r2
        |FROM m
        |WHERE n >= 2 AND n * sxx - sx * sx > 0
        |ORDER BY segment""".stripMargin,
    "q162_gini" ->
      """WITH mass AS (
        | SELECT source AS grp, CAST(sum(n_chars) AS DOUBLE) AS mass
        | FROM documents GROUP BY source),
        |r AS (
        | SELECT grp, mass,
        |  row_number() OVER (ORDER BY mass, grp) AS i,
        |  sum(mass) OVER (ORDER BY mass, grp
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_mass
        | FROM mass),
        |t AS (SELECT CAST(count(*) AS DOUBLE) AS ng, sum(mass) AS total,
        |  sum((2 * i - 1) * mass) AS wsum FROM r)
        |SELECT grp, CAST(mass AS BIGINT) AS mass,
        | round(i / ng, 6) AS cum_group_share,
        | round(cum_mass / total, 6) AS cum_mass_share,
        | round(wsum / (ng * total) - 1.0, 6) AS gini
        |FROM r, t ORDER BY mass, grp""".stripMargin,
    "q163_winnow_fps" ->
      (winnowSelCte("SELECT doc_id, text FROM documents") +
        """SELECT doc_id, count(*) AS n_fps
          |FROM sel GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    "q164_winnow_pairs" ->
      (winnowSelCte(
        """SELECT doc_id, text FROM documents
          | UNION ALL
          | SELECT doc_id + 10000000, 'edited prefix ' || text
          | FROM documents WHERE doc_id % 10 = 0""".stripMargin) +
        """, kept AS (
          | SELECT doc_id, h FROM sel
          | WHERE h IN (SELECT h FROM sel GROUP BY h HAVING count(*) <= 8))
          |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          | count(*) AS shared_fps
          |FROM kept a JOIN kept b ON a.h = b.h AND a.doc_id < b.doc_id
          |GROUP BY 1, 2 HAVING count(*) >= 10
          |ORDER BY doc_a, doc_b""".stripMargin),
    "q165_interval_join" ->
      """WITH iv AS (
        | SELECT CAST(o_orderkey AS BIGINT) AS id,
        |  CAST(date_diff('day', DATE '1992-01-01',
        |    CAST(o_orderdate AS DATE)) AS BIGINT) AS s
        | FROM orders WHERE o_orderkey % 50 = 0),
        |iv2 AS (SELECT id, s, s + id % 13 + 1 AS e FROM iv)
        |SELECT a.id AS id_a, b.id AS id_b,
        | least(a.e, b.e) - greatest(a.s, b.s) + 1 AS overlap_units
        |FROM iv2 a JOIN iv2 b
        | ON a.id < b.id AND a.s <= b.e AND b.s <= a.e
        |ORDER BY id_a, id_b""".stripMargin,
    "q166_k_anonymity" ->
      """WITH cells AS (
        | SELECT c_nationkey, c_mktsegment, (c_acctbal >= 0) AS sens,
        |  CAST(count(*) AS BIGINT) AS n
        | FROM customer GROUP BY 1, 2, 3),
        |g AS (
        | SELECT c_nationkey, c_mktsegment,
        |  CAST(sum(n) AS BIGINT) AS grp_rows,
        |  CAST(count(DISTINCT sens) AS BIGINT) AS l_div
        | FROM cells GROUP BY 1, 2)
        |SELECT CAST(count(*) AS BIGINT) AS n_groups,
        | CAST(sum(CASE WHEN grp_rows < 10 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_risky_groups,
        | CAST(sum(CASE WHEN grp_rows < 10 THEN grp_rows ELSE 0 END)
        |   AS BIGINT) AS rows_at_risk,
        | min(grp_rows) AS min_group_size,
        | min(CASE WHEN grp_rows >= 10 THEN l_div END) AS min_l_diversity
        |FROM g""".stripMargin,
    "q167_flesch" ->
      """WITH f AS (
        | SELECT source,
        |  len(regexp_extract_all(text, '[^\s]+')) AS words,
        |  len(regexp_extract_all(lower(text), '[aeiouy]+')) +
        |   len(regexp_extract_all(text, '[^\s]+')) -
        |   len(regexp_extract_all(lower(text), '[^\s]*[aeiouy][^\s]*'))
        |   AS syllables,
        |  greatest(1, len(list_filter(string_split_regex(trim(text),
        |    '[.!?]+(\s+|$)'), s -> length(trim(s)) > 0))) AS sents
        | FROM documents)
        |SELECT source, count(*) AS docs,
        | CAST(sum(words) AS BIGINT) AS words,
        | CAST(sum(syllables) AS BIGINT) AS syllables,
        | round(avg(CASE WHEN words > 0 THEN round(206.835 -
        |   1.015 * words / sents - 84.6 * syllables / words, 4) END), 4)
        |   AS avg_flesch
        |FROM f GROUP BY source ORDER BY source""".stripMargin,
    "q168_mann_whitney" ->
      """WITH byval AS (
        | SELECT CAST(n_chars AS DOUBLE) AS v,
        |  CAST(sum(CASE WHEN source = 'src2' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS ta,
        |  CAST(count(*) AS BIGINT) AS t
        | FROM documents
        | WHERE source IN ('src2', 'src3') AND n_chars IS NOT NULL
        | GROUP BY 1),
        |r AS (
        | SELECT ta, t,
        |  sum(t) OVER (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |   - t + (t + 1) / 2.0 AS avgrank
        | FROM byval),
        |m AS (
        | SELECT CAST(sum(ta) AS DOUBLE) AS na,
        |  CAST(sum(t - ta) AS DOUBLE) AS nb,
        |  sum(ta * avgrank) AS rank_a,
        |  CAST(sum(t * t * t - t) AS DOUBLE) AS ties
        | FROM r)
        |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        | round(rank_a - na * (na + 1) / 2, 2) AS u_a,
        | round((rank_a - na * (na + 1) / 2 - na * nb / 2) /
        |   sqrt(na * nb / 12 * ((na + nb + 1) -
        |     ties / ((na + nb) * (na + nb - 1)))), 6) AS z
        |FROM m""".stripMargin,
    "q169_slice_fdr" ->
      """WITH m AS (
        | SELECT source AS slice, CAST(count(*) AS DOUBLE) AS n,
        |  sum(CAST(n_chars AS DOUBLE)) AS s,
        |  sum(CAST(n_chars AS DOUBLE) * n_chars) AS q
        | FROM documents
        | WHERE source IS NOT NULL AND n_chars IS NOT NULL
        | GROUP BY 1),
        |tot AS (SELECT sum(n) AS tn, sum(s) AS ts, sum(q) AS tq FROM m),
        |z AS (
        | SELECT slice, n, s / n AS mean,
        |  round((s / n - (ts - s) / (tn - n)) / sqrt(
        |    (q - s * s / n) / (n - 1) / n +
        |    ((tq - q) - (ts - s) * (ts - s) / (tn - n)) / (tn - n - 1)
        |      / (tn - n)), 6) AS z
        | FROM m, tot),
        |p AS (
        | SELECT slice, n, mean, z,
        |  round(((((1.061405429 * t - 1.453152027) * t + 1.421413741) * t
        |    - 0.284496736) * t + 0.254829592) * t * exp(-az * az), 8) AS p
        | FROM (SELECT slice, n, mean, z, abs(z) / sqrt(2.0) AS az,
        |   1.0 / (1.0 + 0.3275911 * abs(z) / sqrt(2.0)) AS t FROM z)),
        |r0 AS (
        | SELECT slice, n, mean, z, p,
        |  row_number() OVER (ORDER BY p, slice) AS rank,
        |  count(*) OVER () AS m
        | FROM p),
        |r AS (
        | SELECT *, max(CASE WHEN p <= rank * 0.05 / m THEN rank END)
        |   OVER () AS k
        | FROM r0)
        |SELECT slice, CAST(n AS BIGINT) AS n, round(mean, 6) AS mean,
        | z, p, rank, (k IS NOT NULL AND rank <= k) AS significant
        |FROM r ORDER BY rank""".stripMargin,
    "q170_cusum" ->
      """WITH daily AS (
        | SELECT event_type AS key,
        |  CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
        |    AS BIGINT) AS ord,
        |  round(sum(value), 6) AS x
        | FROM events GROUP BY 1, 2),
        |w AS (
        | SELECT key, ord, x,
        |  avg(x) OVER (PARTITION BY key) AS mean,
        |  stddev_samp(x) OVER (PARTITION BY key) AS sd,
        |  count(*) OVER (PARTITION BY key) AS nk
        | FROM daily),
        |c AS (
        | SELECT key, ord, nk, sd,
        |  round(abs(sum(x - mean) OVER (PARTITION BY key ORDER BY ord
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6) AS a
        | FROM w),
        |r AS (
        | SELECT key, nk, sd, ord, a,
        |  row_number() OVER (PARTITION BY key ORDER BY a DESC, ord) AS rn
        | FROM c)
        |SELECT key, CAST(nk AS BIGINT) AS n, ord AS changepoint_at,
        | round(a, 4) AS max_abs_cusum,
        | round(a / (sd * sqrt(nk)), 6) AS cusum_stat
        |FROM r WHERE rn = 1 ORDER BY key""".stripMargin,
    "q171_merge_apply" ->
      """WITH tgt AS (
        | SELECT c_custkey, c_acctbal, c_mktsegment FROM customer),
        |src AS (
        | SELECT c_custkey, (c_custkey % 11 = 0) AS del,
        |  CASE WHEN c_custkey % 11 = 0 THEN c_acctbal
        |       ELSE c_acctbal + 100 END AS c_acctbal,
        |  c_mktsegment
        | FROM customer WHERE c_custkey % 7 = 0 OR c_custkey % 11 = 0
        | UNION ALL
        | SELECT c_custkey + 1000000, false, round(c_acctbal * 2, 2), 'NEW'
        | FROM customer WHERE c_custkey % 13 = 0)
        |SELECT coalesce(s.c_custkey, t.c_custkey) AS c_custkey,
        | round(CASE WHEN s.c_custkey IS NOT NULL THEN s.c_acctbal
        |       ELSE t.c_acctbal END, 2) AS c_acctbal,
        | CASE WHEN s.c_custkey IS NOT NULL THEN s.c_mktsegment
        |      ELSE t.c_mktsegment END AS c_mktsegment
        |FROM tgt t FULL JOIN src s ON t.c_custkey = s.c_custkey
        |WHERE NOT coalesce(s.del, false)
        |ORDER BY c_custkey""".stripMargin,
    "q172_incremental_agg" ->
      """SELECT l_suppkey AS key, count(*) AS cnt,
        | round(sum(l_quantity), 2) AS sum
        |FROM lineitem
        |WHERE l_orderkey % 10 = 0
        |   OR (l_orderkey % 10 <> 0 AND l_orderkey % 7 <> 3)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q173_bfs_hops" ->
      """WITH RECURSIVE base AS (
        | SELECT DISTINCT l_partkey AS src, l_suppkey + 1000000 AS dst
        | FROM lineitem),
        |edges AS (
        | SELECT src, dst FROM base
        | UNION SELECT dst, src FROM base),
        |walk(node, hops) AS (
        | SELECT CAST(p_partkey AS BIGINT), CAST(0 AS BIGINT)
        | FROM part WHERE p_partkey < 10
        | UNION
        | SELECT e.dst, w.hops + 1
        | FROM walk w JOIN edges e ON w.node = e.src
        | WHERE w.hops < 3)
        |SELECT node, min(hops) AS hops
        |FROM walk GROUP BY node ORDER BY node""".stripMargin,
    // replays Naive Bayes TRAINING (Laplace-smoothed vocab×class grid from
    // token counts) and scoring; ln on identical doubles differs by ≤1 ulp
    // across libms, absorbed by the 6dp/4dp rounds
    "q174_naive_bayes" ->
      """WITH tokd AS (
        | SELECT doc_id, lang, unnest(list_filter(
        |   regexp_split_to_array(lower(trim(text)), '\s+'),
        |   t -> len(t) > 0)) AS tok
        | FROM documents),
        |traintok AS (SELECT lang AS cls, tok FROM tokd WHERE doc_id % 2 = 0),
        |counts AS (SELECT cls, tok, count(*) AS cnt
        |           FROM traintok GROUP BY cls, tok),
        |ct AS (SELECT cls, count(*) AS n_tok FROM traintok GROUP BY cls),
        |vocab AS (SELECT DISTINCT tok FROM counts),
        |v AS (SELECT count(*) AS v FROM vocab),
        |ll AS (
        | SELECT vo.tok, ct.cls,
        |  ln((coalesce(c.cnt, 0) + 1)::DOUBLE / (ct.n_tok + v.v)) AS ll
        | FROM vocab vo CROSS JOIN ct CROSS JOIN v
        | LEFT JOIN counts c ON c.cls = ct.cls AND c.tok = vo.tok),
        |priors AS (
        | SELECT lang AS cls, ln(count(*)::DOUBLE /
        |   (SELECT count(*) FROM documents WHERE doc_id % 2 = 0)) AS logprior
        | FROM documents WHERE doc_id % 2 = 0 GROUP BY lang),
        |tf AS (SELECT doc_id AS id, tok, count(*) AS tf
        |       FROM tokd WHERE doc_id % 2 = 1 GROUP BY id, tok),
        |scored AS (
        | SELECT tf.id, ll.cls, sum(tf.tf * ll.ll) AS tokll
        | FROM tf JOIN ll ON ll.tok = tf.tok GROUP BY tf.id, ll.cls),
        |lp AS (SELECT s.id, s.cls, s.tokll + p.logprior AS lp
        |       FROM scored s JOIN priors p ON p.cls = s.cls),
        |pred AS (
        | SELECT id, cls AS pred, round(lp, 6) AS lp FROM (
        |  SELECT *, row_number() OVER (PARTITION BY id
        |    ORDER BY lp DESC, cls) AS rn FROM lp) WHERE rn = 1)
        |SELECT d.lang, pr.pred, count(*) AS n, round(avg(pr.lp), 4) AS avg_lp
        |FROM pred pr JOIN documents d ON d.doc_id = pr.id
        |GROUP BY d.lang, pr.pred ORDER BY d.lang, pr.pred""".stripMargin,
    "q175_ewma" ->
      """WITH daily AS (
        | SELECT event_type AS series, CAST(ts AS DATE) AS day,
        |  count(*) AS x
        | FROM events GROUP BY 1, 2),
        |rk AS (
        | SELECT *, row_number() OVER (PARTITION BY series ORDER BY day) AS rn,
        |  count(*) OVER (PARTITION BY series) AS n FROM daily),
        |wtd AS (
        | SELECT series, n, day, x,
        |  CASE WHEN rn = 1 THEN pow(0.7, n - 1)
        |       ELSE 0.3 * pow(0.7, n - rn) END AS w
        | FROM rk)
        |SELECT series, max(n) AS n_days,
        | strftime(max(day), '%Y-%m-%d') AS last_day,
        | round(sum(w * x), 6) AS ewma
        |FROM wtd GROUP BY series ORDER BY series""".stripMargin,
    "q176_seq_trigrams" ->
      """WITH seq AS (
        | SELECT event_type AS a,
        |  lead(event_type, 1) OVER w AS b,
        |  lead(event_type, 2) OVER w AS c
        | FROM events
        | WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT a || '>' || b || '>' || c AS pattern, count(*) AS n
        |FROM seq WHERE b IS NOT NULL AND c IS NOT NULL
        |GROUP BY 1 HAVING count(*) >= 10
        |ORDER BY n DESC, pattern""".stripMargin,
    "q177_minhash_portable" -> minhashLshOracle(3, 12, 3, 0.5),
    "q28_dedup_minhash" -> minhashLshOracle(5, 32, 4, 0.5),
    // same signatures/candidates as q177 plus exact ground truth
    // (inverted-index pairs), confusion counted over the full outer join
    "q178_lsh_eval" ->
      """WITH toks AS (
        | SELECT doc_id, list_filter(
        |   regexp_split_to_array(lower(trim(text)), '\s+'),
        |   t -> len(t) > 0) AS ts
        | FROM documents),
        |sh AS (
        | SELECT DISTINCT id, sh FROM (
        |  SELECT doc_id AS id, unnest(list_transform(range(1, len(ts) - 1),
        |    i -> array_to_string(list_slice(ts, i, i + 2), ' '))) AS sh
        |  FROM toks WHERE len(ts) >= 3)),
        |hv AS (
        | SELECT id, h, min(CAST('0x' ||
        |   substring(md5(h::VARCHAR || ':' || sh), 1, 15) AS UBIGINT)) AS mv
        | FROM sh CROSS JOIN (SELECT unnest(range(0, 12)) AS h) hh
        | GROUP BY id, h),
        |bk AS (
        | SELECT id, h // 3 AS band,
        |  string_agg(mv::VARCHAR, '_' ORDER BY h) AS bkey
        | FROM hv GROUP BY id, band),
        |cand AS (
        | SELECT DISTINCT a.id AS id_a, b.id AS id_b
        | FROM bk a JOIN bk b
        |  ON a.band = b.band AND a.bkey = b.bkey AND a.id < b.id),
        |sz AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
        |shared AS (
        | SELECT DISTINCT x.id AS id_a, y.id AS id_b
        | FROM sh x JOIN sh y ON x.sh = y.sh AND x.id < y.id),
        |ixall AS (
        | SELECT s.id_a, s.id_b, count(*) AS i
        | FROM shared s JOIN sh x ON x.id = s.id_a
        |  JOIN sh y ON y.id = s.id_b AND y.sh = x.sh
        | GROUP BY s.id_a, s.id_b),
        |truth AS (
        | SELECT ixall.id_a, ixall.id_b FROM ixall
        |  JOIN sz na ON na.id = ixall.id_a
        |  JOIN sz nb ON nb.id = ixall.id_b
        | WHERE ixall.i::DOUBLE / (na.n + nb.n - ixall.i) >= 0.5),
        |fo AS (
        | SELECT t.id_a AS ta, c.id_a AS ca
        | FROM truth t FULL OUTER JOIN cand c
        |  ON t.id_a = c.id_a AND t.id_b = c.id_b)
        |SELECT count(ta)::BIGINT AS n_truth, count(ca)::BIGINT AS n_cand,
        | count(CASE WHEN ta IS NOT NULL AND ca IS NOT NULL THEN 1 END)::BIGINT AS tp,
        | (count(ca) - count(CASE WHEN ta IS NOT NULL AND ca IS NOT NULL THEN 1 END))::BIGINT AS fp,
        | (count(ta) - count(CASE WHEN ta IS NOT NULL AND ca IS NOT NULL THEN 1 END))::BIGINT AS fn,
        | round(count(CASE WHEN ta IS NOT NULL AND ca IS NOT NULL THEN 1 END)::DOUBLE
        |   / count(ca), 6) AS precision,
        | round(count(CASE WHEN ta IS NOT NULL AND ca IS NOT NULL THEN 1 END)::DOUBLE
        |   / count(ta), 6) AS recall
        |FROM fo""".stripMargin,
    "q179_segment_overlap" ->
      """WITH du AS (
        | SELECT DISTINCT event_type AS seg, user_id FROM events),
        |sz AS (SELECT seg, count(*) AS n FROM du GROUP BY seg),
        |ix AS (
        | SELECT a.seg AS seg_a, b.seg AS seg_b, count(*) AS i
        | FROM du a JOIN du b ON a.user_id = b.user_id AND a.seg < b.seg
        | GROUP BY 1, 2)
        |SELECT p.seg_a, p.seg_b, na.n AS n_a, nb.n AS n_b,
        | coalesce(ix.i, 0) AS n_common,
        | (na.n + nb.n - coalesce(ix.i, 0)) AS n_union,
        | round(coalesce(ix.i, 0)::DOUBLE /
        |   (na.n + nb.n - coalesce(ix.i, 0)), 6) AS jaccard
        |FROM (SELECT a.seg AS seg_a, b.seg AS seg_b
        |      FROM sz a JOIN sz b ON a.seg < b.seg) p
        |JOIN sz na ON na.seg = p.seg_a
        |JOIN sz nb ON nb.seg = p.seg_b
        |LEFT JOIN ix ON ix.seg_a = p.seg_a AND ix.seg_b = p.seg_b
        |ORDER BY p.seg_a, p.seg_b""".stripMargin,
    // LATERAL top-1 restates the running struct-max window; "before" is
    // the lexicographic (ts, event_id) order on both sides
    "q180_attribution" ->
      """SELECT p.event_id AS conversion_id, c.event_id AS touch_id,
        | date_diff('second', c.ts, p.ts) AS lag_s
        |FROM events p JOIN LATERAL (
        |  SELECT event_id, ts FROM events c
        |  WHERE c.user_id = p.user_id AND c.event_type = 'click'
        |   AND (c.ts < p.ts OR (c.ts = p.ts AND c.event_id < p.event_id))
        |  ORDER BY c.ts DESC, c.event_id DESC LIMIT 1) c ON true
        |WHERE p.event_type = 'purchase'
        |  AND date_diff('second', c.ts, p.ts) <= 604800
        |ORDER BY conversion_id""".stripMargin,
    // restates the CMS cells (same md5 buckets as q147), the per-row inner
    // products, and the min-over-rows estimate next to the exact join count
    "q181_join_estimate" ->
      """WITH rr AS (SELECT unnest(range(0, 4)) AS r),
        |ca AS (
        | SELECT r, CAST('0x' || substring(
        |    md5(l_partkey::VARCHAR || ':' || r), 1, 8) AS UBIGINT) % 256 AS w,
        |  count(*) AS c
        | FROM lineitem CROSS JOIN rr GROUP BY 1, 2),
        |cb AS (
        | SELECT r, CAST('0x' || substring(
        |    md5(p_partkey::VARCHAR || ':' || r), 1, 8) AS UBIGINT) % 256 AS w,
        |  count(*) AS c
        | FROM part CROSS JOIN rr GROUP BY 1, 2),
        |prod AS (
        | SELECT ca.r, CAST(sum(ca.c * cb.c) AS BIGINT) AS ip
        | FROM ca JOIN cb ON ca.r = cb.r AND ca.w = cb.w GROUP BY ca.r),
        |est AS (SELECT min(ip) AS est FROM prod),
        |ex AS (SELECT count(*) AS exact
        |       FROM lineitem JOIN part ON l_partkey = p_partkey)
        |SELECT est, exact,
        | round((est - exact)::DOUBLE / exact, 6) AS rel_err
        |FROM est, ex""".stripMargin,
    // island restatement of session_window: a session breaks when the gap
    // is ≥ 6 h (strictly-overlapping [ts, ts+gap) intervals merge);
    // window end = last event + gap
    "q182_stream_sessions" ->
      """WITH g AS (
        | SELECT user_id, ts, value, CASE WHEN lag(ts) OVER w IS NULL
        |   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 21600000000
        |   THEN 1 ELSE 0 END AS is_new
        | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (
        | SELECT user_id, value, epoch_us(ts) AS t_us,
        |  SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seq
        | FROM g)
        |SELECT user_id, min(t_us) AS start_us,
        | max(t_us) + 21600000000 AS end_us,
        | count(*) AS n_events,
        | round(CAST(sum(value) AS DOUBLE), 2) AS total_value
        |FROM s GROUP BY user_id, seq
        |ORDER BY user_id, start_us""".stripMargin,
    // same md5 sample, same equal-frequency bucket maxima as boundary
    // keys, same boundaries-≤-key partition assignment
    "q183_range_partition" ->
      """WITH li AS (
        | SELECT l_orderkey, l_linenumber, l_extendedprice AS k
        | FROM lineitem),
        |samp AS (
        | SELECT * FROM li WHERE substring(md5(l_orderkey::VARCHAR || ':' ||
        |   l_linenumber::VARCHAR || ':rp'), 1, 8) < '05000000'),
        |rk AS (
        | SELECT k, row_number() OVER (
        |    ORDER BY k, l_orderkey, l_linenumber) AS rn,
        |  count(*) OVER () AS n FROM samp),
        |bx AS (SELECT (rn - 1) * 8 // n AS bkt, max(k) AS bk
        |       FROM rk GROUP BY 1),
        |bnds AS (SELECT list_sort(list(bk)) AS bnds FROM bx WHERE bkt < 7),
        |asg AS (
        | SELECT li.k, len(list_filter(b.bnds, x -> x <= li.k)) AS pid
        | FROM li CROSS JOIN bnds b)
        |SELECT pid, count(*) AS n_rows, round(min(k), 2) AS min_k,
        | round(max(k), 2) AS max_k
        |FROM asg GROUP BY pid ORDER BY pid""".stripMargin,
    "q185_hard_negatives" ->
      """WITH q AS (
        | SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv,
        |  label AS qlbl
        | FROM embeddings WHERE vec_id < 3),
        |c AS (
        | SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv, label
        | FROM embeddings WHERE vec_id >= 3),
        |scored AS (
        | SELECT q.query_id, c.vec_id,
        |  list_cosine_similarity(c.cv, q.qv) AS cos
        | FROM c CROSS JOIN q WHERE c.label <> q.qlbl),
        |ranked AS (
        | SELECT query_id, vec_id, cos, row_number() OVER (
        |   PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
        | FROM scored)
        |SELECT query_id, rank, vec_id, round(cos, 4) AS cos_sim
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // centroids as positional averages, distances in index order on both
    // sides; ≤1e-14 float drift absorbed by the 4dp round
    "q186_silhouette" ->
      """WITH e AS (
        | SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        | FROM embeddings),
        |pos AS (
        | SELECT label AS clbl, i, avg(v[i]) AS c
        | FROM e CROSS JOIN (SELECT unnest(range(1, 65)) AS i) ii
        | GROUP BY 1, 2),
        |cent AS (SELECT clbl, list(c ORDER BY i) AS cvec
        |         FROM pos GROUP BY clbl),
        |d AS (
        | SELECT e.vec_id AS id, e.label AS lbl, c.clbl,
        |  list_distance(e.v, c.cvec) AS d
        | FROM e CROSS JOIN cent c),
        |own AS (SELECT id, lbl, d AS a FROM d WHERE lbl = clbl),
        |oth AS (SELECT id, min(d) AS b FROM d WHERE lbl <> clbl GROUP BY id),
        |s AS (SELECT own.lbl, (b - a) / greatest(a, b) AS s
        |      FROM own JOIN oth ON own.id = oth.id)
        |SELECT lbl AS label, count(*) AS n, round(avg(s), 4) AS silhouette
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin,
    // SCD2 rebuild (dedup → collapse-unchanged → lead validity) + the
    // interval-residual key join, exactly the operator's algebra
    "q187_pit_join" ->
      """WITH log AS (
        | SELECT o_custkey AS key, o_orderdate AS ts,
        |  o_orderpriority AS prio
        | FROM (SELECT *, row_number() OVER (
        |    PARTITION BY o_custkey, o_orderdate ORDER BY o_orderkey) AS rn
        |   FROM orders) WHERE rn = 1),
        |chg AS (
        | SELECT key, ts, prio FROM (
        |  SELECT *, lag(prio) OVER (PARTITION BY key ORDER BY ts) AS pp
        |  FROM log)
        | WHERE pp IS NULL OR pp <> prio),
        |dim AS (
        | SELECT key, prio, ts AS valid_from,
        |  lead(ts) OVER (PARTITION BY key ORDER BY ts) AS valid_to
        | FROM chg),
        |facts AS (
        | SELECT o_custkey AS key, l_shipdate AS fts, l_quantity
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |pit AS (
        | SELECT f.l_quantity, d.prio
        | FROM facts f LEFT JOIN dim d ON d.key = f.key
        |  AND d.valid_from <= f.fts
        |  AND (d.valid_to IS NULL OR f.fts < d.valid_to))
        |SELECT coalesce(prio, 'NONE') AS prio_at_ship, count(*) AS n,
        | round(sum(l_quantity), 2) AS qty
        |FROM pit GROUP BY 1 ORDER BY 1""".stripMargin,
    // the batch semantics the streaming outer join must converge to once
    // every watermark has passed
    "q189_stream_outer_join" ->
      """SELECT c.event_id AS imp_id, p.event_id AS conv_id,
        | round(p.value, 2) AS conv_value
        |FROM events c LEFT JOIN events p
        | ON p.user_id = c.user_id AND p.event_type = 'purchase'
        | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 6 HOUR
        |WHERE c.event_type = 'click'
        |ORDER BY imp_id, conv_id NULLS FIRST""".stripMargin,
    // q69's bit-spread z restatement + equal-frequency buckets per layout
    // + rectangle-vs-box intersection counts
    "q190_skipping_stats" ->
      """WITH q AS (
        | SELECT o_orderkey,
        |  (o_orderkey % 170 - 85) + 0.5 AS lat,
        |  (o_orderkey % 356 - 178) + 0.25 AS lon,
        |  CAST(floor((((o_orderkey % 170 - 85) + 0.5) + 90.0)
        |    / 180.0 * 65535.0) AS BIGINT) AS latq,
        |  CAST(floor((((o_orderkey % 356 - 178) + 0.25) + 180.0)
        |    / 360.0 * 65535.0) AS BIGINT) AS lonq
        | FROM orders),
        |s1 AS (SELECT o_orderkey,
        |  ((latq | (latq << 8)) & 16711935) AS a,
        |  ((lonq | (lonq << 8)) & 16711935) AS b FROM q),
        |s2 AS (SELECT o_orderkey,
        |  ((a | (a << 4)) & 252645135) AS a,
        |  ((b | (b << 4)) & 252645135) AS b FROM s1),
        |s3 AS (SELECT o_orderkey,
        |  ((a | (a << 2)) & 858993459) AS a,
        |  ((b | (b << 2)) & 858993459) AS b FROM s2),
        |s4 AS (SELECT o_orderkey,
        |  ((a | (a << 1)) & 1431655765) AS a,
        |  ((b | (b << 1)) & 1431655765) AS b FROM s3),
        |zz AS (
        | SELECT q.o_orderkey, q.lat, q.lon, s4.a | (s4.b << 1) AS z
        | FROM q JOIN s4 ON q.o_orderkey = s4.o_orderkey),
        |rk AS (
        | SELECT *, row_number() OVER (ORDER BY o_orderkey) AS rnat,
        |  row_number() OVER (ORDER BY z, o_orderkey) AS rz,
        |  count(*) OVER () AS n
        | FROM zz),
        |nat AS (
        | SELECT (rnat - 1) * 64 // n AS bkt,
        |  min(lat) AS latmin, max(lat) AS latmax,
        |  min(lon) AS lonmin, max(lon) AS lonmax
        | FROM rk GROUP BY 1),
        |zb AS (
        | SELECT (rz - 1) * 64 // n AS bkt,
        |  min(lat) AS latmin, max(lat) AS latmax,
        |  min(lon) AS lonmin, max(lon) AS lonmax
        | FROM rk GROUP BY 1)
        |SELECT CAST(64 AS BIGINT) AS n_buckets,
        | (SELECT count(*) FROM nat WHERE latmin <= 20 AND latmax >= -20
        |   AND lonmin <= 30 AND lonmax >= -30) AS read_natural,
        | (SELECT count(*) FROM zb WHERE latmin <= 20 AND latmax >= -20
        |   AND lonmin <= 30 AND lonmax >= -30) AS read_zorder,
        | (SELECT count(*) FROM zz WHERE lat BETWEEN -20 AND 20
        |   AND lon BETWEEN -30 AND 30) AS rows_match""".stripMargin,
    // the closed-form cap: unique k whose candidate lands inside its own
    // [n_{k-1}, n_k) segment; negative candidates fail the >= lo guard on
    // both engines (floor vs truncate differs only below zero)
    "q191_water_filling" ->
      """WITH counts AS (
        | SELECT lang AS source, count(*) AS n FROM documents GROUP BY 1),
        |rk AS (
        | SELECT *, row_number() OVER (ORDER BY n, source) AS k,
        |  coalesce(sum(n) OVER (ORDER BY n, source
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix,
        |  count(*) OVER () AS s_cnt,
        |  sum(n) OVER () AS total,
        |  coalesce(lag(n) OVER (ORDER BY n, source), 0) AS lo
        | FROM counts),
        |cap AS (
        | SELECT CAST(min((300 - prefix) // (s_cnt - k + 1)) AS BIGINT) AS cap
        | FROM rk
        | WHERE total > 300
        |  AND (300 - prefix) // (s_cnt - k + 1) >= lo
        |  AND (300 - prefix) // (s_cnt - k + 1) < n)
        |SELECT c.source, c.n,
        | CASE WHEN cap.cap IS NOT NULL THEN least(c.n, cap.cap)
        |      ELSE c.n END AS alloc,
        | cap.cap
        |FROM counts c CROSS JOIN cap ORDER BY source""".stripMargin,
    // three explicit peel rounds (degree >= 4 survivors, induced
    // subgraph), converged = |s3| = |s2|
    "q192_kcore_peel" ->
      """WITH base AS (
        | SELECT DISTINCT l_partkey AS src, l_suppkey + 1000000 AS dst
        | FROM lineitem),
        |e0 AS (SELECT src, dst FROM base UNION SELECT dst, src FROM base),
        |s1 AS (SELECT src AS node FROM (
        |  SELECT src, count(*) AS deg FROM e0 GROUP BY 1) WHERE deg >= 4),
        |e1 AS (SELECT e.src, e.dst FROM e0 e
        |  JOIN s1 a ON e.src = a.node JOIN s1 b ON e.dst = b.node),
        |s2 AS (SELECT src AS node FROM (
        |  SELECT src, count(*) AS deg FROM e1 GROUP BY 1) WHERE deg >= 4),
        |e2 AS (SELECT e.src, e.dst FROM e1 e
        |  JOIN s2 a ON e.src = a.node JOIN s2 b ON e.dst = b.node),
        |s3 AS (SELECT src AS node FROM (
        |  SELECT src, count(*) AS deg FROM e2 GROUP BY 1) WHERE deg >= 4),
        |e3 AS (SELECT e.src, e.dst FROM e2 e
        |  JOIN s3 a ON e.src = a.node JOIN s3 b ON e.dst = b.node),
        |deg3 AS (SELECT src AS node, count(*) AS degree
        |         FROM e3 GROUP BY 1),
        |conv AS (SELECT (SELECT count(*) FROM s3) =
        |  (SELECT count(*) FROM s2) AS converged)
        |SELECT s3.node, coalesce(deg3.degree, 0) AS degree, conv.converged
        |FROM s3 LEFT JOIN deg3 ON deg3.node = s3.node CROSS JOIN conv
        |ORDER BY s3.node""".stripMargin,
    "q193_weighted_median" ->
      """WITH c AS (
        | SELECT lang, n_chars,
        |  sum(n_chars) OVER (PARTITION BY lang ORDER BY n_chars, doc_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |  sum(n_chars) OVER (PARTITION BY lang) AS tot
        | FROM documents)
        |SELECT lang, min(n_chars) AS weighted_median,
        | CAST(max(tot) AS BIGINT) AS total_weight
        |FROM c WHERE cum * 2 >= tot GROUP BY lang ORDER BY lang""".stripMargin,
    "q194_forward_fill" ->
      """WITH daily AS (
        | SELECT event_type AS series, CAST(ts AS DATE) AS day,
        |  count(*) AS x
        | FROM events WHERE user_id = 3 GROUP BY 1, 2),
        |span AS (SELECT series, min(day) AS d0, max(day) AS d1
        |         FROM daily GROUP BY 1),
        |cal AS (
        | SELECT series, CAST(unnest(generate_series(
        |   d0::TIMESTAMP, d1::TIMESTAMP, INTERVAL 1 DAY)) AS DATE) AS day
        | FROM span),
        |f AS (SELECT c.series, c.day, d.x FROM cal c
        |      LEFT JOIN daily d ON d.series = c.series AND d.day = c.day)
        |SELECT series, strftime(day, '%Y-%m-%d') AS day,
        | last_value(x IGNORE NULLS) OVER (PARTITION BY series ORDER BY day
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS x_filled,
        | x IS NULL AS was_gap
        |FROM f ORDER BY series, day""".stripMargin,
    // q178's signatures/truth shared across four bandings; one result row
    // per rows-per-band setting
    "q195_lsh_sweep" ->
      """WITH toks AS (
        | SELECT doc_id, list_filter(
        |   regexp_split_to_array(lower(trim(text)), '\s+'),
        |   t -> len(t) > 0) AS ts
        | FROM documents),
        |sh AS (
        | SELECT DISTINCT id, sh FROM (
        |  SELECT doc_id AS id, unnest(list_transform(range(1, len(ts) - 1),
        |    i -> array_to_string(list_slice(ts, i, i + 2), ' '))) AS sh
        |  FROM toks WHERE len(ts) >= 3)),
        |hv AS (
        | SELECT id, h, min(CAST('0x' ||
        |   substring(md5(h::VARCHAR || ':' || sh), 1, 15) AS UBIGINT)) AS mv
        | FROM sh CROSS JOIN (SELECT unnest(range(0, 12)) AS h) hh
        | GROUP BY id, h),
        |sz AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
        |shared AS (
        | SELECT DISTINCT x.id AS id_a, y.id AS id_b
        | FROM sh x JOIN sh y ON x.sh = y.sh AND x.id < y.id),
        |ixall AS (
        | SELECT s.id_a, s.id_b, count(*) AS i
        | FROM shared s JOIN sh x ON x.id = s.id_a
        |  JOIN sh y ON y.id = s.id_b AND y.sh = x.sh
        | GROUP BY s.id_a, s.id_b),
        |truth AS (
        | SELECT ixall.id_a, ixall.id_b FROM ixall
        |  JOIN sz na ON na.id = ixall.id_a
        |  JOIN sz nb ON nb.id = ixall.id_b
        | WHERE ixall.i::DOUBLE / (na.n + nb.n - ixall.i) >= 0.5),
        |b2 AS (SELECT id, h // 2 AS band,
        |  string_agg(mv::VARCHAR, '_' ORDER BY h) AS bkey
        | FROM hv GROUP BY id, band),
        |c2 AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b FROM b2 a
        | JOIN b2 b ON a.band = b.band AND a.bkey = b.bkey AND a.id < b.id),
        |b3 AS (SELECT id, h // 3 AS band,
        |  string_agg(mv::VARCHAR, '_' ORDER BY h) AS bkey
        | FROM hv GROUP BY id, band),
        |c3 AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b FROM b3 a
        | JOIN b3 b ON a.band = b.band AND a.bkey = b.bkey AND a.id < b.id),
        |b4 AS (SELECT id, h // 4 AS band,
        |  string_agg(mv::VARCHAR, '_' ORDER BY h) AS bkey
        | FROM hv GROUP BY id, band),
        |c4 AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b FROM b4 a
        | JOIN b4 b ON a.band = b.band AND a.bkey = b.bkey AND a.id < b.id),
        |b6 AS (SELECT id, h // 6 AS band,
        |  string_agg(mv::VARCHAR, '_' ORDER BY h) AS bkey
        | FROM hv GROUP BY id, band),
        |c6 AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b FROM b6 a
        | JOIN b6 b ON a.band = b.band AND a.bkey = b.bkey AND a.id < b.id),
        |r2 AS (SELECT CAST(2 AS BIGINT) AS rows_per_band,
        |  CAST(6 AS BIGINT) AS n_bands,
        |  count(c.id_a)::BIGINT AS n_cand,
        |  count(CASE WHEN t.id_a IS NOT NULL AND c.id_a IS NOT NULL
        |    THEN 1 END)::BIGINT AS tp,
        |  (count(t.id_a) - count(CASE WHEN t.id_a IS NOT NULL
        |    AND c.id_a IS NOT NULL THEN 1 END))::BIGINT AS fn,
        |  round(count(CASE WHEN t.id_a IS NOT NULL AND c.id_a IS NOT NULL
        |    THEN 1 END)::DOUBLE / count(c.id_a), 6) AS precision,
        |  round(count(CASE WHEN t.id_a IS NOT NULL AND c.id_a IS NOT NULL
        |    THEN 1 END)::DOUBLE / count(t.id_a), 6) AS recall
        | FROM truth t FULL OUTER JOIN c2 c
        |  ON t.id_a = c.id_a AND t.id_b = c.id_b),
        |r3 AS (SELECT CAST(3 AS BIGINT), CAST(4 AS BIGINT),
        |  count(c.id_a)::BIGINT,
        |  count(CASE WHEN t.id_a IS NOT NULL AND c.id_a IS NOT NULL
        |    THEN 1 END)::BIGINT,
        |  (count(t.id_a) - count(CASE WHEN t.id_a IS NOT NULL
        |    AND c.id_a IS NOT NULL THEN 1 END))::BIGINT,
        |  round(count(CASE WHEN t.id_a IS NOT NULL AND c.id_a IS NOT NULL
        |    THEN 1 END)::DOUBLE / count(c.id_a), 6),
        |  round(count(CASE WHEN t.id_a IS NOT NULL AND c.id_a IS NOT NULL
        |    THEN 1 END)::DOUBLE / count(t.id_a), 6)
        | FROM truth t FULL OUTER JOIN c3 c
        |  ON t.id_a = c.id_a AND t.id_b = c.id_b),
        |r4 AS (SELECT CAST(4 AS BIGINT), CAST(3 AS BIGINT),
        |  count(c.id_a)::BIGINT,
        |  count(CASE WHEN t.id_a IS NOT NULL AND c.id_a IS NOT NULL
        |    THEN 1 END)::BIGINT,
        |  (count(t.id_a) - count(CASE WHEN t.id_a IS NOT NULL
        |    AND c.id_a IS NOT NULL THEN 1 END))::BIGINT,
        |  round(count(CASE WHEN t.id_a IS NOT NULL AND c.id_a IS NOT NULL
        |    THEN 1 END)::DOUBLE / count(c.id_a), 6),
        |  round(count(CASE WHEN t.id_a IS NOT NULL AND c.id_a IS NOT NULL
        |    THEN 1 END)::DOUBLE / count(t.id_a), 6)
        | FROM truth t FULL OUTER JOIN c4 c
        |  ON t.id_a = c.id_a AND t.id_b = c.id_b),
        |r6 AS (SELECT CAST(6 AS BIGINT), CAST(2 AS BIGINT),
        |  count(c.id_a)::BIGINT,
        |  count(CASE WHEN t.id_a IS NOT NULL AND c.id_a IS NOT NULL
        |    THEN 1 END)::BIGINT,
        |  (count(t.id_a) - count(CASE WHEN t.id_a IS NOT NULL
        |    AND c.id_a IS NOT NULL THEN 1 END))::BIGINT,
        |  round(count(CASE WHEN t.id_a IS NOT NULL AND c.id_a IS NOT NULL
        |    THEN 1 END)::DOUBLE / count(c.id_a), 6),
        |  round(count(CASE WHEN t.id_a IS NOT NULL AND c.id_a IS NOT NULL
        |    THEN 1 END)::DOUBLE / count(t.id_a), 6)
        | FROM truth t FULL OUTER JOIN c6 c
        |  ON t.id_a = c.id_a AND t.id_b = c.id_b)
        |SELECT * FROM r2 UNION ALL SELECT * FROM r3
        |UNION ALL SELECT * FROM r4 UNION ALL SELECT * FROM r6
        |ORDER BY rows_per_band""".stripMargin,
    // the plain global row_number restates the rank-cumsum position
    // arithmetic (identical result, simpler SQL)
    "q196_curriculum" ->
      """WITH ranked AS (
        | SELECT doc_id, source, n_chars, row_number() OVER (
        |   PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rank
        | FROM documents)
        |SELECT row_number() OVER (ORDER BY rank, source, doc_id) AS position,
        | doc_id, source, rank
        |FROM ranked ORDER BY position""".stripMargin,
    "q197_overlap_fraction" ->
      """WITH toks AS (
        | SELECT doc_id, source, list_filter(
        |   regexp_split_to_array(lower(trim(text)), '\s+'),
        |   t -> len(t) > 0) AS ts
        | FROM documents),
        |w AS (
        | SELECT DISTINCT doc_id, source, sh FROM (
        |  SELECT doc_id, source, unnest(list_transform(range(1, len(ts) - 6),
        |    i -> array_to_string(list_slice(ts, i, i + 7), ' '))) AS sh
        |  FROM toks WHERE len(ts) >= 8)),
        |bench AS (SELECT DISTINCT sh FROM w WHERE source = 'src0'),
        |hits AS (
        | SELECT a.doc_id, count(*) AS n_windows,
        |  count(b.sh) AS n_hit
        | FROM w a LEFT JOIN bench b ON a.sh = b.sh
        | WHERE a.source <> 'src0'
        | GROUP BY a.doc_id)
        |SELECT doc_id, n_windows, n_hit,
        | round(n_hit::DOUBLE / n_windows, 6) AS frac
        |FROM hits WHERE n_hit > 0 ORDER BY doc_id""".stripMargin,
    "q198_quantile_rank" ->
      """SELECT o_orderkey, o_orderpriority AS prio,
        | round(percent_rank() OVER (PARTITION BY o_orderpriority
        |   ORDER BY o_totalprice, o_orderkey), 6) AS qr
        |FROM orders WHERE o_orderkey <= 2000
        |ORDER BY o_orderkey""".stripMargin,
    // replays q174's training + scoring, then the stable softmax and the
    // decile reliability bins
    "q199_nb_calibration" ->
      """WITH tokd AS (
        | SELECT doc_id, lang, unnest(list_filter(
        |   regexp_split_to_array(lower(trim(text)), '\s+'),
        |   t -> len(t) > 0)) AS tok
        | FROM documents),
        |traintok AS (SELECT lang AS cls, tok FROM tokd WHERE doc_id % 2 = 0),
        |counts AS (SELECT cls, tok, count(*) AS cnt
        |           FROM traintok GROUP BY cls, tok),
        |ct AS (SELECT cls, count(*) AS n_tok FROM traintok GROUP BY cls),
        |vocab AS (SELECT DISTINCT tok FROM counts),
        |v AS (SELECT count(*) AS v FROM vocab),
        |ll AS (
        | SELECT vo.tok, ct.cls,
        |  ln((coalesce(c.cnt, 0) + 1)::DOUBLE / (ct.n_tok + v.v)) AS ll
        | FROM vocab vo CROSS JOIN ct CROSS JOIN v
        | LEFT JOIN counts c ON c.cls = ct.cls AND c.tok = vo.tok),
        |priors AS (
        | SELECT lang AS cls, ln(count(*)::DOUBLE /
        |   (SELECT count(*) FROM documents WHERE doc_id % 2 = 0)) AS logprior
        | FROM documents WHERE doc_id % 2 = 0 GROUP BY lang),
        |tf AS (SELECT doc_id AS id, tok, count(*) AS tf
        |       FROM tokd WHERE doc_id % 2 = 1 GROUP BY id, tok),
        |scored AS (
        | SELECT tf.id, ll.cls, sum(tf.tf * ll.ll) AS tokll
        | FROM tf JOIN ll ON ll.tok = tf.tok GROUP BY tf.id, ll.cls),
        |lp AS (SELECT s.id, s.cls, s.tokll + p.logprior AS lp
        |       FROM scored s JOIN priors p ON p.cls = s.cls),
        |mxd AS (
        | SELECT id, cls, lp, max(lp) OVER (PARTITION BY id) AS mx
        | FROM lp),
        |zz AS (
        | SELECT id, cls, lp,
        |  sum(exp(lp - mx)) OVER (PARTITION BY id) AS z,
        |  row_number() OVER (PARTITION BY id
        |    ORDER BY lp DESC, cls) AS rn
        | FROM mxd),
        |pred AS (
        | SELECT id, cls AS pred, 1.0 / z AS conf FROM zz WHERE rn = 1),
        |joined AS (
        | SELECT pr.id, pr.pred, pr.conf, d.lang
        | FROM pred pr JOIN documents d ON d.doc_id = pr.id)
        |SELECT least(9, CAST(floor(conf * 10) AS BIGINT)) AS bin,
        | count(*) AS n, round(avg(conf), 4) AS avg_conf,
        | round(avg(CASE WHEN pred = lang THEN 1.0 ELSE 0.0 END), 6)
        |   AS accuracy
        |FROM joined GROUP BY 1 ORDER BY 1""".stripMargin,
    // replays every cut position (md5 of the trailing 16-char span ≡ 0
    // mod 64) and the chunk substrings between consecutive cuts
    "q200_cdc_chunking" ->
      """WITH d AS (
        | SELECT doc_id, source, text AS t, length(text) AS L
        | FROM documents),
        |cut AS (
        | SELECT doc_id, source, t, L,
        |  list_filter(range(16, L + 1), i ->
        |   CAST('0x' || substring(md5(
        |     t[CAST(i - 15 AS INTEGER):CAST(i AS INTEGER)]), 1, 8)
        |    AS UBIGINT) % 64 = 0) AS cuts
        | FROM d),
        |cut2 AS (
        | SELECT doc_id, source, t,
        |  CASE WHEN len(cuts) = 0 OR cuts[-1] <> L
        |       THEN list_append(cuts, L) ELSE cuts END AS cuts
        | FROM cut),
        |chunks AS (
        | SELECT doc_id, source,
        |  unnest(list_transform(range(1, len(cuts) + 1), c ->
        |   t[CAST(CASE WHEN c = 1 THEN 1
        |          ELSE cuts[CAST(c - 1 AS INTEGER)] + 1 END AS INTEGER)
        |    :CAST(cuts[CAST(c AS INTEGER)] AS INTEGER)])) AS chunk
        | FROM cut2)
        |SELECT source, count(*) AS n_chunks,
        | count(DISTINCT chunk) AS n_distinct,
        | round(avg(length(chunk)), 4) AS mean_len,
        | count(*) - count(DISTINCT chunk) AS dup_chunks
        |FROM chunks GROUP BY source ORDER BY source""".stripMargin,
    // q177's signature algebra on each side, cross band-bucket join,
    // two-sided exact-Jaccard verify
    "q201_cross_dedup_portable" ->
      """WITH toks AS (
        | SELECT doc_id, source, list_filter(
        |   regexp_split_to_array(lower(trim(text)), '\s+'),
        |   t -> len(t) > 0) AS ts
        | FROM documents),
        |shAll AS (
        | SELECT DISTINCT id, source, sh FROM (
        |  SELECT doc_id AS id, source,
        |   unnest(list_transform(range(1, len(ts) - 1),
        |    i -> array_to_string(list_slice(ts, i, i + 2), ' '))) AS sh
        |  FROM toks WHERE len(ts) >= 3)),
        |shc AS (SELECT id, sh FROM shAll WHERE source <> 'src0'),
        |shp AS (SELECT id, sh FROM shAll WHERE source = 'src0'),
        |hvc AS (
        | SELECT id, h, min(CAST('0x' ||
        |   substring(md5(h::VARCHAR || ':' || sh), 1, 15) AS UBIGINT)) AS mv
        | FROM shc CROSS JOIN (SELECT unnest(range(0, 12)) AS h) hh
        | GROUP BY id, h),
        |hvp AS (
        | SELECT id, h, min(CAST('0x' ||
        |   substring(md5(h::VARCHAR || ':' || sh), 1, 15) AS UBIGINT)) AS mv
        | FROM shp CROSS JOIN (SELECT unnest(range(0, 12)) AS h) hh
        | GROUP BY id, h),
        |bc AS (SELECT id, h // 3 AS band,
        |  string_agg(mv::VARCHAR, '_' ORDER BY h) AS bkey
        | FROM hvc GROUP BY id, band),
        |bp AS (SELECT id, h // 3 AS band,
        |  string_agg(mv::VARCHAR, '_' ORDER BY h) AS bkey
        | FROM hvp GROUP BY id, band),
        |cand AS (
        | SELECT DISTINCT a.id AS id_a, b.id AS id_b
        | FROM bc a JOIN bp b ON a.band = b.band AND a.bkey = b.bkey),
        |szc AS (SELECT id, count(*) AS n FROM shc GROUP BY id),
        |szp AS (SELECT id, count(*) AS n FROM shp GROUP BY id),
        |ix AS (
        | SELECT c.id_a, c.id_b, count(*) AS i
        | FROM cand c JOIN shc x ON x.id = c.id_a
        |  JOIN shp y ON y.id = c.id_b AND y.sh = x.sh
        | GROUP BY c.id_a, c.id_b),
        |jj AS (
        | SELECT ix.id_a, ix.id_b, ix.i::DOUBLE / (na.n + nb.n - ix.i) AS j
        | FROM ix JOIN szc na ON na.id = ix.id_a
        |  JOIN szp nb ON nb.id = ix.id_b)
        |SELECT id_a, id_b, round(j, 6) AS jaccard FROM jj
        |WHERE j >= 0.5 ORDER BY id_a, id_b""".stripMargin,
    "q202_simhash_portable" -> (simhashOracleCtes +
      """
        |SELECT doc_id, lpad(lower(hex(sh)), 16, '0') AS simhash
        |FROM fp ORDER BY doc_id""".stripMargin),
    // all fingerprint pairs within Hamming 8, no banding
    "q29_dedup_simhash" -> (simhashOracleCtes +
      """
        |SELECT CAST(a.doc_id AS BIGINT) AS id_a,
        | CAST(b.doc_id AS BIGINT) AS id_b,
        | CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
        |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sh, b.sh)) <= 8
        |ORDER BY id_a, id_b""".stripMargin),
    "q203_parquet_bloom" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE doc_id IN (7, 99, 321) ORDER BY doc_id""".stripMargin,
    // the full chain: fingerprint dedup (q19/q20 algebra) → q177's md5
    // banding + verify → q51-style recursive closure → keep-best window →
    // q197-style 8-gram decontamination → quality floor → q53 split
    "q208_curation_pipeline" ->
      """WITH RECURSIVE corpus0 AS (
        | SELECT * FROM documents WHERE source <> 'src0'),
        |norm AS (
        | SELECT doc_id, lang, n_chars, text,
        |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        | FROM corpus0),
        |exact AS (
        | SELECT doc_id, lang, n_chars, text FROM (
        |  SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id)
        |    AS rn FROM norm) WHERE rn = 1),
        |toks AS (
        | SELECT doc_id, list_filter(
        |   regexp_split_to_array(lower(trim(text)), '\s+'),
        |   t -> len(t) > 0) AS ts
        | FROM exact),
        |sh3 AS (
        | SELECT DISTINCT id, sh FROM (
        |  SELECT doc_id AS id, unnest(list_transform(range(1, len(ts) - 1),
        |    i -> array_to_string(list_slice(ts, i, i + 2), ' '))) AS sh
        |  FROM toks WHERE len(ts) >= 3)),
        |hv AS (
        | SELECT id, h, min(CAST('0x' ||
        |   substring(md5(h::VARCHAR || ':' || sh), 1, 15) AS UBIGINT)) AS mv
        | FROM sh3 CROSS JOIN (SELECT unnest(range(0, 12)) AS h) hh
        | GROUP BY id, h),
        |bk AS (
        | SELECT id, h // 3 AS band,
        |  string_agg(mv::VARCHAR, '_' ORDER BY h) AS bkey
        | FROM hv GROUP BY id, band),
        |cand AS (
        | SELECT DISTINCT a.id AS id_a, b.id AS id_b
        | FROM bk a JOIN bk b
        |  ON a.band = b.band AND a.bkey = b.bkey AND a.id < b.id),
        |sz AS (SELECT id, count(*) AS n FROM sh3 GROUP BY id),
        |ix AS (
        | SELECT c.id_a, c.id_b, count(*) AS i
        | FROM cand c JOIN sh3 x ON x.id = c.id_a
        |  JOIN sh3 y ON y.id = c.id_b AND y.sh = x.sh
        | GROUP BY c.id_a, c.id_b),
        |ppairs AS (
        | SELECT ix.id_a, ix.id_b FROM ix
        |  JOIN sz na ON na.id = ix.id_a JOIN sz nb ON nb.id = ix.id_b
        | WHERE ix.i::DOUBLE / (na.n + nb.n - ix.i) >= 0.5),
        |edges AS (SELECT id_a AS s, id_b AS t2 FROM ppairs
        |          UNION SELECT id_b, id_a FROM ppairs),
        |walk(node, reach) AS (
        | SELECT s, s FROM edges
        | UNION
        | SELECT w.node, e.t2 FROM walk w JOIN edges e ON w.reach = e.s),
        |comp AS (SELECT node, min(reach) AS component FROM walk
        |         GROUP BY node),
        |clustered AS (
        | SELECT e.*, coalesce(c.component, e.doc_id) AS eff
        | FROM exact e LEFT JOIN comp c ON c.node = e.doc_id),
        |kept AS (
        | SELECT doc_id, lang, n_chars, text FROM (
        |  SELECT *, row_number() OVER (PARTITION BY eff
        |    ORDER BY n_chars DESC, doc_id) AS krn FROM clustered)
        | WHERE krn = 1),
        |ktoks AS (
        | SELECT doc_id, list_filter(
        |   regexp_split_to_array(lower(trim(text)), '\s+'),
        |   t -> len(t) > 0) AS ts
        | FROM kept),
        |w8 AS (
        | SELECT DISTINCT doc_id, g FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, len(ts) - 6),
        |    i -> array_to_string(list_slice(ts, i, i + 7), ' '))) AS g
        |  FROM ktoks WHERE len(ts) >= 8)),
        |btoks AS (
        | SELECT list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |   t -> len(t) > 0) AS ts
        | FROM documents WHERE source = 'src0'),
        |b8 AS (
        | SELECT DISTINCT g FROM (
        |  SELECT unnest(list_transform(range(1, len(ts) - 6),
        |    i -> array_to_string(list_slice(ts, i, i + 7), ' '))) AS g
        |  FROM btoks WHERE len(ts) >= 8)),
        |contaminated AS (
        | SELECT DISTINCT w8.doc_id FROM w8 JOIN b8 USING (g)),
        |clean AS (
        | SELECT k.* FROM kept k LEFT JOIN contaminated c
        |  ON c.doc_id = k.doc_id
        | WHERE c.doc_id IS NULL AND k.n_chars >= 150),
        |sp AS (
        | SELECT lang, n_chars, CASE
        |   WHEN substr(md5(doc_id::VARCHAR || ':v1'), 1, 8) < '0ccccccc'
        |    THEN 'test'
        |   WHEN substr(md5(doc_id::VARCHAR || ':v1'), 1, 8) < '19999999'
        |    THEN 'val'
        |   ELSE 'train' END AS split
        | FROM clean)
        |SELECT split, lang, count(*) AS n,
        | CAST(sum(n_chars) AS BIGINT) AS chars
        |FROM sp GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q209_partition_pruning" ->
      """SELECT source, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
        |FROM documents WHERE lang = 'de'
        |GROUP BY source ORDER BY source""".stripMargin,
    "q210_misc_passthrough" ->
      """SELECT CAST(s_nationkey AS VARCHAR) AS source_system,
        | count(*) AS n, round(sum(s_acctbal), 2) AS bal
        |FROM supplier GROUP BY 1 ORDER BY source_system""".stripMargin,
    "q211_exif_extract" ->
      """SELECT strftime(o_orderdate, '%Y:%m') AS ym, count(*) AS n,
        | round(sum((o_orderkey % 170 - 85) + 0.25), 2) AS lat_sum,
        | round(sum((o_orderkey % 356 - 178) + 0.5), 2) AS lon_sum
        |FROM orders WHERE o_orderkey <= 5000
        |GROUP BY 1 ORDER BY ym""".stripMargin,
    "q216_consensus_version" ->
      """WITH rowed AS (
        | SELECT CASE WHEN o_orderkey % 7 = 0 THEN 'circa nineties'
        |   ELSE strftime(o_orderdate, '%Y-%m-%d') END AS c
        | FROM orders)
        |SELECT substr(c, 1, 4) AS bucket, count(*) AS n,
        | min(c) AS min_c, max(c) AS max_c
        |FROM rowed GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q207_shingle_facet" ->
      """WITH sh AS (
        | SELECT unnest(list_transform(range(1, len(ts) - 1),
        |   i -> array_to_string(list_slice(ts, i, i + 2), ' '))) AS sh
        | FROM (SELECT list_filter(
        |    regexp_split_to_array(lower(trim(text)), '\s+'),
        |    t -> len(t) > 0) AS ts FROM documents)
        | WHERE len(ts) >= 3)
        |SELECT sh, count(*) AS n FROM sh GROUP BY sh
        |ORDER BY n DESC, sh LIMIT 20""".stripMargin,
    "q205_seasonal_decompose" ->
      """WITH daily AS (
        | SELECT event_type AS series, CAST(ts AS DATE) AS day,
        |  count(*)::DOUBLE AS x
        | FROM events GROUP BY 1, 2),
        |tr AS (
        | SELECT *, CASE WHEN count(*) OVER w = 7
        |   THEN avg(x) OVER w END AS trend,
        |  (day - DATE '1970-01-01') % 7 AS dow
        | FROM daily WINDOW w AS (PARTITION BY series ORDER BY day
        |  ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |se AS (SELECT series, dow, avg(x - trend) AS seasonal
        |       FROM tr WHERE trend IS NOT NULL GROUP BY 1, 2)
        |SELECT tr.series, strftime(tr.day, '%Y-%m-%d') AS day, tr.x,
        | round(tr.trend, 4) AS trend, round(se.seasonal, 4) AS seasonal,
        | round(tr.x - tr.trend - se.seasonal, 4) AS residual
        |FROM tr LEFT JOIN se ON se.series = tr.series AND se.dow = tr.dow
        |ORDER BY tr.series, day""".stripMargin,
    "q206_linear_attribution" ->
      """WITH touches AS (
        | SELECT user_id AS u, event_id AS touch_id, ts AS tts
        | FROM events WHERE event_type = 'click'),
        |convs AS (
        | SELECT user_id AS u, event_id AS conv_id, ts AS cts
        | FROM events WHERE event_type = 'purchase'),
        |j AS (
        | SELECT c.conv_id, t.tts FROM convs c JOIN touches t
        |  ON t.u = c.u AND t.tts < c.cts
        |  AND date_diff('second', t.tts, c.cts) <= 604800),
        |n AS (SELECT conv_id, count(*) AS cnt FROM j GROUP BY 1),
        |cred AS (
        | SELECT CAST(j.tts AS DATE) AS day, 1::DOUBLE / n.cnt AS cr
        | FROM j JOIN n ON n.conv_id = j.conv_id)
        |SELECT strftime(day, '%Y-%m-%d') AS day,
        | round(sum(cr), 6) AS credit, count(*) AS n_touches
        |FROM cred GROUP BY 1 ORDER BY 1""".stripMargin,
    "q204_schema_evolution" ->
      """SELECT lang, count(*) AS n,
        | sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT
        |   AS n_pre_schema,
        | coalesce(sum(CASE WHEN doc_id % 2 = 1
        |   THEN n_chars % 100 ELSE 0 END), 0)::BIGINT AS quality_sum
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q256_cuped" ->
      """WITH units AS (
        | SELECT user_id,
        |  coalesce(sum(CASE WHEN ts < TIMESTAMP '2024-01-15'
        |    THEN value END), 0) AS x,
        |  coalesce(sum(CASE WHEN ts >= TIMESTAMP '2024-01-15'
        |    THEN value END), 0) AS y,
        |  CASE WHEN substr(md5(user_id::VARCHAR || ':exp2'), 1, 1) >= '8'
        |    THEN 'b' ELSE 'a' END AS arm
        | FROM events GROUP BY user_id),
        |m AS (
        | SELECT
        |  sum(CASE WHEN arm = 'a' THEN 1.0 ELSE 0 END) AS na,
        |  sum(CASE WHEN arm = 'b' THEN 1.0 ELSE 0 END) AS nb,
        |  sum(CASE WHEN arm = 'a' THEN x ELSE 0 END) AS sxa,
        |  sum(CASE WHEN arm = 'b' THEN x ELSE 0 END) AS sxb,
        |  sum(CASE WHEN arm = 'a' THEN y ELSE 0 END) AS sya,
        |  sum(CASE WHEN arm = 'b' THEN y ELSE 0 END) AS syb,
        |  sum(x*y) AS sxy, sum(x*x) AS sxx, sum(y*y) AS syy
        | FROM units),
        |d AS (
        | SELECT na, nb, sxa, sxb, sya, syb,
        |  (na+nb)*sxy - (sxa+sxb)*(sya+syb) AS cov_xy,
        |  (na+nb)*sxx - (sxa+sxb)*(sxa+sxb) AS var_x,
        |  (na+nb)*syy - (sya+syb)*(sya+syb) AS var_y
        | FROM m)
        |SELECT na::BIGINT AS n_a, nb::BIGINT AS n_b,
        | CASE WHEN na > 0 AND nb > 0 AND var_x > 0
        |   THEN round(cov_xy/var_x, 6) END AS theta,
        | CASE WHEN na > 0 AND nb > 0
        |   THEN round(syb/nb - sya/na, 6) END AS effect_raw,
        | CASE WHEN na > 0 AND nb > 0 AND var_x > 0
        |   THEN round(syb/nb - sya/na
        |     - cov_xy/var_x * (sxb/nb - sxa/na), 6) END AS effect_cuped,
        | CASE WHEN na > 0 AND nb > 0 AND var_x > 0 AND var_y > 0
        |   THEN round(cov_xy*cov_xy/(var_x*var_y), 6) END AS rho_sq
        |FROM d""".stripMargin,
    "q257_experiment_did" ->
      """WITH units AS (
        | SELECT user_id,
        |  coalesce(sum(CASE WHEN ts < TIMESTAMP '2024-01-15'
        |    THEN value END), 0) AS x,
        |  coalesce(sum(CASE WHEN ts >= TIMESTAMP '2024-01-15'
        |    THEN value END), 0) AS y,
        |  CASE WHEN substr(md5(user_id::VARCHAR || ':exp2'), 1, 1) >= '8'
        |    THEN 'b' ELSE 'a' END AS arm
        | FROM events GROUP BY user_id),
        |m AS (
        | SELECT
        |  sum(CASE WHEN arm = 'a' THEN 1.0 ELSE 0 END) AS na,
        |  sum(CASE WHEN arm = 'b' THEN 1.0 ELSE 0 END) AS nb,
        |  sum(CASE WHEN arm = 'a' THEN x ELSE 0 END) AS sxa,
        |  sum(CASE WHEN arm = 'b' THEN x ELSE 0 END) AS sxb,
        |  sum(CASE WHEN arm = 'a' THEN y ELSE 0 END) AS sya,
        |  sum(CASE WHEN arm = 'b' THEN y ELSE 0 END) AS syb
        | FROM units),
        |d AS (
        | SELECT na, nb,
        |  (nb - (na+nb)*0.5)*(nb - (na+nb)*0.5)/((na+nb)*0.5)
        |   + (na - (na+nb)*0.5)*(na - (na+nb)*0.5)/((na+nb)*0.5) AS chi2,
        |  sya/na - sxa/na AS delta_a,
        |  syb/nb - sxb/nb AS delta_b
        | FROM m)
        |SELECT na::BIGINT AS n_a, nb::BIGINT AS n_b,
        | CASE WHEN na + nb > 0 THEN round(chi2, 6) END AS srm_chi2,
        | CASE WHEN na + nb > 0 THEN chi2 <= 3.841 END AS srm_ok,
        | CASE WHEN na > 0 AND nb > 0
        |   THEN round(delta_a, 6) END AS delta_a,
        | CASE WHEN na > 0 AND nb > 0
        |   THEN round(delta_b, 6) END AS delta_b,
        | CASE WHEN na > 0 AND nb > 0
        |   THEN round(delta_b - delta_a, 6) END AS did
        |FROM d""".stripMargin
  )

  /** Shared winnowing restatement (k = 8, w = 4) over an input relation
    * producing (doc_id, text): CTEs ending in `sel` = the DISTINCT
    * (doc_id, fingerprint) set, mirroring
    * [[graft.operators.TextSearch.winnowFingerprints]]. */
  private def winnowSelCte(inputSql: String): String =
    s"""WITH input AS ($inputSql),
       |d AS (SELECT doc_id,
       |  regexp_replace(lower(text), '\\s+', ' ', 'g') AS t FROM input),
       |p0 AS (
       | SELECT doc_id, t, CAST(len(t) - 7 AS BIGINT) AS np,
       |  unnest(generate_series(1, CAST(len(t) - 7 AS BIGINT))) AS p
       | FROM d WHERE len(t) - 7 >= 4),
       |g AS (
       | SELECT doc_id, CAST(p AS BIGINT) AS pos, np,
       |  CAST('0x' || substring(md5(substring(t, CAST(p AS INTEGER), 8)),
       |    1, 8) AS BIGINT) AS h
       | FROM p0),
       |m AS (
       | SELECT doc_id, pos, np, h,
       |  min(h) OVER (PARTITION BY doc_id ORDER BY pos
       |   ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m0,
       |  min(h) OVER (PARTITION BY doc_id ORDER BY pos
       |   ROWS BETWEEN 1 PRECEDING AND 2 FOLLOWING) AS m1,
       |  min(h) OVER (PARTITION BY doc_id ORDER BY pos
       |   ROWS BETWEEN 2 PRECEDING AND 1 FOLLOWING) AS m2,
       |  min(h) OVER (PARTITION BY doc_id ORDER BY pos
       |   ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS m3
       | FROM g),
       |sel AS (
       | SELECT DISTINCT doc_id, h FROM m WHERE
       |  (pos >= 1 AND pos <= np - 3 AND m0 = h) OR
       |  (pos - 1 >= 1 AND pos - 1 <= np - 3 AND m1 = h) OR
       |  (pos - 2 >= 1 AND pos - 2 <= np - 3 AND m2 = h) OR
       |  (pos - 3 >= 1 AND pos - 3 <= np - 3 AND m3 = h))
       |""".stripMargin
}
