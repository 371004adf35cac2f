package graft.plans

import graft.SparkTestSession
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression guards: the properties that make the operators
  * viable at 100 TB — predicate pushdown reaching the parquet scan, column
  * pruning, broadcast joins for small dimensions, map-only shapes staying
  * shuffle-free — asserted on the executed plans so they cannot silently
  * regress.
  */
class PlanShapeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  /** Executed plan text (final + initial sections — scan details like
    * PushedFilters are static, so either section may carry them). */
  private def planOf(df: DataFrame): String = {
    df.collect() // materialise so AdaptiveSparkPlan reports the final plan
    df.queryExecution.executedPlan.toString
  }

  /** Only the post-AQE "Final Plan" section — use for operator COUNTS,
    * which would otherwise double-count the appended "Initial Plan". */
  private def finalPlanOf(df: DataFrame): String =
    planOf(df).split("== Initial Plan ==")(0)

  test("q25 filter+project: predicates push to the parquet scan, columns prune") {
    val plan = planOf(graft.SparkEntry.queries("q25_filter_project")(spark, sf))
    assert(plan.contains("PushedFilters: ["), s"no pushed filters in:\n$plan")
    assert(plan.matches("(?s).*PushedFilters: \\[[^\\]]*(GreaterThan|LessThan|IsNotNull)[^\\]]*\\].*"),
      "expected comparison predicates pushed to the scan")
    // column pruning: the 16-column lineitem scan must not read all fields
    val readSchema = "ReadSchema: [^\\n]*".r.findFirstIn(plan).getOrElse("")
    assert(!readSchema.contains("l_comment"),
      s"projection did not prune unused columns: $readSchema")
  }

  test("q5 small-dim join broadcasts (no shuffled hash/sort-merge join)") {
    val plan = planOf(graft.SparkEntry.queries("q5_broadcast_join")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join in:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      "small dimension should broadcast, not sort-merge")
  }

  test("q4 star join: every dimension side broadcasts") {
    val plan = planOf(graft.SparkEntry.queries("q4_star_join")(spark, sf))
    val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).size
    assert(broadcasts >= 2, s"expected >=2 broadcast joins, got $broadcasts")
    assert(!plan.contains("SortMergeJoin"))
  }

  test("q1 aggregation is partial (map-side combine before the shuffle)") {
    val plan = planOf(graft.SparkEntry.queries("q1_agg")(spark, sf))
    // partial + final HashAggregate pair around a single key exchange
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"expected partial+final aggregate pair in:\n$plan")
  }

  test("map-only text scoring has no shuffle at all") {
    import org.apache.spark.sql.functions._
    import graft.functions.{TextFunctions => TF}
    val df = graft.Tables.load(spark, sf, "documents")
      .select(col("doc_id"), TF.tokenCount(col("text")).as("n"),
        TF.fingerprint(col("text")).as("fp"))
    val plan = planOf(df)
    assert(!plan.contains("Exchange"),
      s"map-only projection must not shuffle:\n$plan")
  }

  test("q142 classifier inference is shuffle-free up to the output sort") {
    import org.apache.spark.sql.functions._
    import graft.functions.{TextFunctions => TF}
    val weights = Array.tabulate(64)(b => ((b * 37) % 101 - 50) / 100.0)
    val df = graft.Tables.load(spark, sf, "documents")
      .select(col("doc_id"),
        filter(split(lower(trim(col("text"))), "\\s+"),
          w => length(w) > 0).as("ws"))
      .select(col("doc_id"),
        TF.hashedLinearScore(col("ws"), weights, -0.1).as("score"))
    // model inference must stay in-row: no Exchange of any kind
    val plan = planOf(df)
    assert(!plan.contains("Exchange"),
      s"hashed-linear scoring must not shuffle:\n$plan")
  }

  test("q136 char entropy scoring is map-only") {
    import org.apache.spark.sql.functions._
    GraftFunctions.register(spark)
    val df = graft.Tables.load(spark, sf, "documents")
      .select(col("doc_id"),
        GraftFunctions.char_entropy(col("text")).as("h"))
    val plan = planOf(df)
    assert(!plan.contains("Exchange"),
      s"char-entropy projection must not shuffle:\n$plan")
  }

  test("q64 sessionize: windows + session aggregate reuse ONE hash exchange") {
    // lag-window, running-sum window, and the (user_id, session_seq)
    // aggregate all cluster by user_id — the plan must shuffle the events
    // once, not once per step (the final orderBy adds a range exchange,
    // which is the query's presentation, not the operator's cost)
    val plan = finalPlanOf(graft.SparkEntry.queries("q64_sessionize")(spark, sf))
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashExchanges == 1,
      s"expected exactly 1 hash exchange, got $hashExchanges in:\n$plan")
  }

  test("bucketed tables join with zero exchanges (shuffle paid at write)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val a = (1L to 500L).map(i => (i, s"a$i")).toDF("k", "va")
    val b = (1L to 500L).map(i => (i, s"b$i")).toDF("k", "vb")
    graft.Store.writeBucketed(a, "bkt_a", "k", 4)
    graft.Store.writeBucketed(b, "bkt_b", "k", 4)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force a non-broadcast join so the bucket co-location is what
      // eliminates the exchanges
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
      val plan = finalPlanOf(joined)
      assert(!plan.contains("Exchange"),
        s"bucketed equi-join must not shuffle:\n$plan")
      assert(joined.count() == 500)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS bkt_a")
      spark.sql("DROP TABLE IF EXISTS bkt_b")
    }
  }

  test("q58 decontamination joins the benchmark gram side by broadcast") {
    val plan = planOf(graft.SparkEntry.queries("q58_decontaminate")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      s"benchmark gram set should broadcast in:\n$plan")
  }

  test("q84 SCD2: run-collapse + both windows reuse ONE user-key exchange") {
    // lag (collapse), lead (valid_to) and row_number (version_seq) all
    // partition by the key: one hash exchange total (plus the final
    // presentation sort)
    val plan = finalPlanOf(graft.SparkEntry.queries("q84_scd2")(spark, sf))
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashExchanges == 1,
      s"expected exactly 1 hash exchange, got $hashExchanges in:\n$plan")
  }

  test("q86 rolling time window: one user-key exchange, RANGE frame") {
    val plan = finalPlanOf(graft.SparkEntry.queries("q86_rolling_time")(spark, sf))
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashExchanges == 1,
      s"expected exactly 1 hash exchange, got $hashExchanges in:\n$plan")
    assert(plan.contains("RangeFrame"),
      s"expected a RANGE frame (event-time window) in:\n$plan")
  }

  test("q81 label centroids: partial aggregation before the exchange") {
    val plan = finalPlanOf(
      graft.SparkEntry.queries("q81_label_centroids")(spark, sf))
    // partial+final HashAggregate pair: the shuffle carries |labels|·dim
    // combined rows, not one row per (row, dimension)
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"expected map-side combine in:\n$plan")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashExchanges == 1,
      s"expected exactly 1 hash exchange, got $hashExchanges in:\n$plan")
  }

  test("q87 z-score screen: group stats broadcast back, fact side map-only") {
    val plan = planOf(
      graft.SparkEntry.queries("q87_zscore_outliers")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      s"tiny stats table should broadcast in:\n$plan")
    assert(!plan.contains("SortMergeJoin"))
  }

  test("q98 MAD screen: median/MAD stats broadcast back to the fact scan") {
    val plan = planOf(
      graft.SparkEntry.queries("q98_mad_outliers")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      s"group-stat tables should broadcast in:\n$plan")
    assert(!plan.contains("SortMergeJoin"))
  }

  test("q92 inverted index: one term-key exchange builds the postings") {
    // distinct-terms explode is map-side (array_distinct before explode),
    // so the only exchange below the presentation sort is the term groupBy
    val plan = finalPlanOf(
      graft.SparkEntry.queries("q92_inverted_index")(spark, sf))
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashExchanges == 1,
      s"expected exactly 1 hash exchange, got $hashExchanges in:\n$plan")
  }

  test("q94 vocab coverage: top-k vocabulary joins back as a broadcast") {
    val plan = planOf(
      graft.SparkEntry.queries("q94_vocab_coverage")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      s"k-row vocab should broadcast in:\n$plan")
    assert(!plan.contains("SortMergeJoin"))
    // the top-k itself must be a TakeOrdered, not a global Sort
    assert(plan.contains("TakeOrderedAndProject"),
      s"vocab cutoff should be TakeOrdered in:\n$plan")
  }

  test("q113 blocklist scan is map-only below the presentation sort") {
    // the Aho-Corasick automaton travels in the UDF closure: the scan
    // itself must not shuffle (the orderBy adds one range exchange)
    val plan = finalPlanOf(
      graft.SparkEntry.queries("q113_blocklist")(spark, sf))
    assert(!plan.contains("Exchange hashpartitioning"),
      s"blocklist matching must be map-only:\n$plan")
  }

  test("paragraph dedup shuffles on the paragraph, then once on the id") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = (0L until 200L)
      .map(i => (i, if (i % 5 == 0) "X\n\nY" else s"a$i\n\nb$i"))
      .toDF("id", "text")
    val plan = finalPlanOf(
      graft.operators.Curation.dedupParagraphs(docs, "id", "text"))
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    // one exchange keyed on the paragraph (first-occurrence window), one
    // keyed on the id (reassembly groupBy + join-back reuse it)
    assert(hashExchanges <= 3,
      s"expected <=3 hash exchanges, got $hashExchanges in:\n$plan")
  }

  test("q115 substring dedup: all joins stay hash-keyed, no nested-loop pairs") {
    val plan = finalPlanOf(
      graft.SparkEntry.queries("q115_substring_dedup")(spark, sf))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"substring dedup must never form unkeyed pairs:\n$plan")
  }

  test("q114 KMV sketch: partial aggregation bounds the shuffle to k rows") {
    val plan = finalPlanOf(
      graft.SparkEntry.queries("q114_kmv_sketch")(spark, sf))
    // typed Aggregator must run as partial_bottomkagg + final pair — the
    // distinct gram set itself never shuffles
    assert("partial_bottomkagg".r.findAllIn(plan.toLowerCase).size >= 1,
      s"expected partial aggregation of the sketch in:\n$plan")
  }

  test("q128 stratified sample: the allocation table joins back as a " +
      "broadcast, never a shuffled join") {
    val plan = finalPlanOf(
      graft.SparkEntry.queries("q128_stratified_sample")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      s"strata-sized allocation should broadcast:\n$plan")
  }

  test("q132 raster sampling joins on the quantised cell key — no " +
      "nested-loop spatial pairing") {
    val plan = finalPlanOf(
      graft.SparkEntry.queries("q132_raster_sample")(spark, sf))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"raster lookup must stay an equi-join on (ix, iy):\n$plan")
  }

  test("q126 itemset pairs: the pair join is keyed on the basket, never " +
      "a nested-loop product") {
    val plan = finalPlanOf(
      graft.SparkEntry.queries("q126_itemset_pairs")(spark, sf))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"pair explosion must stay basket-keyed:\n$plan")
  }

  test("q127 mutual information: one exchange over the data, marginals " +
      "derived from the contingency cells") {
    val df = graft.SparkEntry.queries("q127_mutual_info")(spark, sf)
    val plan = finalPlanOf(df)
    // the parquet source feeds exactly one exchange (the (x,y) cell agg —
    // reused via the persisted cells table); everything after runs on
    // cell-cardinality data. InMemoryTableScan appearances confirm reuse.
    assert(plan.contains("InMemoryTableScan"),
      s"cells table should be persisted and reused:\n$plan")
  }

  test("q144 tf-idf: df table and corpus-size attach by broadcast, no " +
      "sort-merge join on the term table") {
    val plan = finalPlanOf(
      graft.SparkEntry.queries("q144_tfidf_terms")(spark, sf))
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"), // the 1-row N cross join
      s"df/N must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"vocabulary-sized df table must not sort-merge:\n$plan")
  }

  test("q153 correlation matrix: ONE aggregate pass over the scan " +
      "(single partial+final pair, no per-column scans)") {
    val df = graft.operators.Profiling.correlationMatrix(
      graft.Tables.load(spark, sf, "lineitem"),
      Seq("l_quantity", "l_extendedprice", "l_discount"))
    // the result is driver-assembled; assert the MOMENT aggregation plan
    // instead: one scan, one partial+final aggregate, nothing else
    val moments = graft.Tables.load(spark, sf, "lineitem")
      .select(org.apache.spark.sql.functions.col("l_quantity")
        .cast("double").as("q"))
      .agg(org.apache.spark.sql.functions.sum("q"))
    val plan = finalPlanOf(moments)
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"moment aggregate must be partial+final:\n$plan")
    assert(df.collect().length == 3)
  }

  test("q150 snapshot diff: payloads hash before the join — the join " +
      "input projects ids + digests only") {
    val df = graft.SparkEntry.queries("q150_snapshot_diff")(spark, sf)
    // optimized logical plan: the full-outer join's inputs must emit only
    // (id, digest) — the payload column is hashed and pruned BELOW the join
    val joins = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.nonEmpty, "expected a join in the snapshot diff plan")
    joins.foreach { j =>
      val inputCols = (j.left.output ++ j.right.output).map(_.name)
      assert(!inputCols.contains("text"),
        s"join inputs must carry hashes, not payloads: $inputCols")
      assert(inputCols.forall(Set("id", "h_prev", "h_cur")),
        s"unexpected join input columns: $inputCols")
    }
  }

  test("q157 distance join pairs via the cell equi-join, never a " +
      "cartesian / nested-loop product") {
    val plan = finalPlanOf(
      graft.SparkEntry.queries("q157_distance_join")(spark, sf))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"distance join must stay (cx, cy)-keyed:\n$plan")
  }

  test("q187 point-in-time join plans as an equi-join with a residual " +
      "interval filter, never a nested loop") {
    val plan = finalPlanOf(
      graft.SparkEntry.queries("q187_pit_join")(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"PIT join must use the key equality:\n$plan")
    assert(plan.contains("SortMergeJoin") || plan.contains("BroadcastHashJoin"),
      s"expected a hash/merge join on the key:\n$plan")
  }

  test("q185 hard negatives: queries broadcast, corpus scan is map-only " +
      "up to the per-query top-k") {
    val plan = finalPlanOf(
      graft.SparkEntry.queries("q185_hard_negatives")(spark, sf))
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"),
      s"query set must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus must never shuffle for the scoring scan:\n$plan")
  }

  test("q174 naive bayes: the model grid joins by token — the plan " +
      "works without any broadcast (no driver-sized model assumption)") {
    // at test scale AQE rightly broadcasts the tiny grid; the SCALE
    // property is that nothing in the plan REQUIRES it: with broadcast
    // disabled the model join must fall back to a shuffle join (a 10M-term
    // × 10-class grid is big data, not a driver-side dimension)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = finalPlanOf(
        graft.SparkEntry.queries("q174_naive_bayes")(spark, sf))
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"expected the token-keyed model join to shuffle:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q209 partitioned layout: the lang predicate prunes at the " +
      "DIRECTORY level (PartitionFilters, not just row-group pushdown)") {
    val plan = planOf(
      graft.SparkEntry.queries("q209_partition_pruning")(spark, sf))
    assert(plan.matches("(?s).*PartitionFilters: \\[[^\\]]*lang[^\\]]*\\].*"),
      s"expected the lang predicate in PartitionFilters:\n$plan")
  }

  test("q146 sentence stats stay map-only over the scan (no exchange " +
      "before the per-doc projection)") {
    val df = graft.Tables.load(spark, sf, "documents")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        graft.functions.TextFunctions.sentences(
          org.apache.spark.sql.functions.col("text")).as("sents"))
      .select(org.apache.spark.sql.functions.col("doc_id"),
        graft.functions.TextFunctions.sentenceStatsOfSentences(
          org.apache.spark.sql.functions.col("sents")).as("st"))
    val plan = finalPlanOf(df)
    assert(!plan.contains("Exchange"),
      s"per-doc sentence stats must not shuffle:\n$plan")
  }

  test("q212 batch ANN: TopKPerGroup partial prune in the plan, no " +
      "cartesian, no broadcast of the query side") {
    val plan = planOf(graft.SparkEntry.queries("q212_batch_ann")(spark, sf))
    assert(plan.contains("TopKPerGroup"),
      s"partial top-k operator missing from:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), s"quadratic join in:\n$plan")
  }

  test("q29 simhash: banding runs over DISTINCT signatures (aggregate " +
      "below the band join), never a cartesian") {
    val df = graft.SparkEntry.queries("q29_dedup_simhash")(spark, sf)
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), s"quadratic join in:\n$plan")
    // the distinct-signature collapse shows up as an aggregate feeding the
    // band explode (Generate)
    assert(plan.contains("Generate"), "band explode missing")
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      "distinct-signature aggregate missing below the band join")
  }

  test("q210 misc download: key restriction is a semi-join; no cartesian") {
    val plan = planOf(
      graft.SparkEntry.queries("q210_misc_passthrough")(spark, sf))
    assert(plan.contains("LeftSemi"), s"keyed download must semi-join:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
  }

  test("q219 t-digest: sketch aggregates partially — centroids, not rows, " +
      "cross the exchange") {
    val plan = finalPlanOf(
      graft.SparkEntry.queries("q219_tdigest_quantiles")(spark, sf))
    assert("partial_tdigestagg".r.findAllIn(plan.toLowerCase).size >= 1,
      s"expected map-side partial t-digest aggregation in:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), s"quadratic join in:\n$plan")
  }

  test("q218 k-means: the centroid table broadcast-expands the corpus " +
      "in ONE pass; no shuffled or driver-sized join against the corpus") {
    val plan = planOf(
      graft.SparkEntry.queries("q218_kmeans_cells")(spark, sf))
    // round 10: the audit is a broadcast cross-expand (k rows per
    // vector) folded by a partial aggregate — the only join over the
    // corpus is the broadcast nested-loop expand of the k-row table
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"centroid table must broadcast-expand:\n$plan")
    assert(!plan.contains("SortMergeJoin") &&
      !plan.contains("CartesianProduct"), s"shuffled/quadratic join:\n$plan")
  }

  test("q243 ridge: ONE aggregate pass — no join, no window, partial+final " +
      "HashAggregate pair over the scan") {
    val plan = finalPlanOf(
      graft.SparkEntry.queries("q243_group_ridge")(spark, sf))
    assert(!plan.contains("Join") && !plan.contains("Window"),
      s"normal-equations fit must be a single aggregate pass:\n$plan")
  }

  test("q240 join IVM: no cartesian/nested-loop anywhere in the delta algebra") {
    val plan = planOf(graft.SparkEntry.queries("q240_join_ivm")(spark, sf))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"delta terms must stay equi-joins:\n$plan")
  }

  test("q224 skyline: no quadratic join anywhere — the sweep is windows " +
      "plus one broadcast of the bucket table") {
    val plan = planOf(
      graft.SparkEntry.queries("q224_pareto_skyline")(spark, sf))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"skyline must not pair points quadratically:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"bucket prefix table must broadcast:\n$plan")
  }

  test("q223 acf: lag windows partition by the series key (never a " +
      "global single-partition sort)") {
    val df = graft.SparkEntry.queries("q223_acf")(spark, sf)
    val plan = planOf(df)
    // the lag's window spec must lead with the series key — an
    // unpartitioned spec would print the ORDER column first
    assert(plan.contains("windowspecdefinition(user_id"),
      s"acf lag must be keyed by the series column:\n$plan")
    assert(!plan.contains("windowspecdefinition(ts"),
      s"unpartitioned (global-sort) window detected:\n$plan")
  }

  test("q228 target encode: category aggregate broadcasts back; the row " +
      "scan never shuffles on the category") {
    val plan = finalPlanOf(
      graft.SparkEntry.queries("q228_target_encode")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      s"category aggregate must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"row-side shuffle on the category key:\n$plan")
  }

  test("q79 profile: per-column hash aggregates — no Expand, no " +
      "corpus-wide SortAggregate (the multi-distinct expand form sorted " +
      "(c+1)·n wide rows twice: 8.1 s vs 0.8 s at sf0.1)") {
    val plan = planOf(graft.SparkEntry.queries("q79_profile")(spark, sf))
    assert(!plan.contains("Expand"),
      s"profile must not multi-distinct-expand the corpus:\n$plan")
    assert(plan.contains("HashAggregate"),
      s"value grouping must hash-aggregate:\n$plan")
  }

  test("q229 adamic-adar: wedge join is an equi-join through the shared " +
      "neighbour; known-edge exclusion is a real anti-join") {
    val plan = planOf(
      graft.SparkEntry.queries("q229_adamic_adar")(spark, sf))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"wedge enumeration must stay an equi-join:\n$plan")
    assert(plan.contains("LeftAnti"),
      s"known edges must be anti-joined out:\n$plan")
  }

  test("enrichAll with the bulk dimensions: one projection per stage, the " +
      "records and the name match planned once") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join,
      LogicalPlan, Project}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("plan_enrich").toString
    Seq(("dr1|a", "dr1", "Macropus rufus", "2012-03-05", "-35.2", "149.2"),
      ("dr1|b", "dr1", "Plainus speciesus", "2013-04-01", "-25.0", "135.0"))
      .toDF("rowKey", "dataResourceUid", "scientificName", "eventDate",
        "decimalLatitude", "decimalLongitude")
      .write.parquet(s"$dir/records")
    Seq(("dr1|b", -25.0, 135.0, Map("cl927" -> "NT"), Seq(20014), "D1"))
      .toDF("rowKey", "processed_decimalLatitude",
        "processed_decimalLongitude", "cl", "assertionCodes",
        "processed_duplicationStatus")
      .write.parquet(s"$dir/last")
    val dims = graft.processors.Processors.Dimensions(
      names = Some(Seq(("macropus rufus", "lsid:1", "Macropus rufus",
        "species", "Animalia", "Macropodidae", "Macropus", 150L, 151L))
        .toDF("nameLower", "taxonConceptID", "acceptedName", "taxonRank",
          "kingdom", "family", "genus", "lft", "rgt")),
      sensitivity = Some(Seq(("macropus rufus", 10000))
        .toDF("nameLower", "generalisationMetres")),
      speciesGroups = Some(Seq(("Mammals", 100L, 200L))
        .toDF("speciesGroup", "lft", "rgt")),
      lastProcessed = Some(spark.read.parquet(s"$dir/last")))
    val out = graft.processors.Processors.enrichAll(
      spark.read.parquet(s"$dir/records"), dims)
    val qe = out.queryExecution
    val projects = qe.analyzed.collect { case p: Project => p }.size
    def scans(plan: LogicalPlan, leaf: String): Int = plan.collect {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _)
        if fs.location.rootPaths.exists(_.getName == leaf) => fs
    }.size
    // the names dimension's block arrays (NameMatcher's `_block`)
    def blocks(plan: LogicalPlan) = plan.output.exists(_.name == "_block")
    val nameAggregates = qe.optimizedPlan.collect {
      case a: Aggregate if blocks(a) => a
    }.size
    val nameJoins = qe.optimizedPlan.collect {
      case j: Join if blocks(j.right) => j
    }.size
    assert(projects <= 40, s"$projects Project nodes in the analyzed plan")
    assert(scans(qe.optimizedPlan, "records") == 1,
      s"records scanned more than once:\n${qe.optimizedPlan}")
    assert(scans(qe.optimizedPlan, "last") == 1,
      s"previous snapshot joined more than once:\n${qe.optimizedPlan}")
    assert(nameAggregates == 1 && nameJoins == 1, s"$nameAggregates names " +
      s"aggregates, $nameJoins names joins:\n${qe.optimizedPlan}")
    assert(out.count() == 2)
  }
}
