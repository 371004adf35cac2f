package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-dataset curation operators: deterministic splits, mixture
  * control, and token-budget packing for large-scale document corpora.
  *
  * Everything here is pure column algebra over codegen'd built-ins (md5,
  * windows, arithmetic) — no UDFs, no driver-side state, no randomness.
  * Determinism is the point: split membership and sampling decisions are
  * content-addressed (hash of a stable id + salt), so re-running the
  * pipeline on a grown corpus never reshuffles previously assigned rows,
  * and any engine that can compute md5 reproduces the exact same dataset
  * (the DuckDB oracles for q53–q56 do precisely that).
  *
  * Scale shape at 100 TB:
  *  - split/sample assignment is map-only (one hash per row, no shuffle);
  *  - mixture weights need one tiny aggregate (rows per class — broadcast
  *    back as a literal CASE, never a shuffled join);
  *  - packing windows are partitioned by shard key, so the sort is
  *    per-shard and parallel, never a single global order-by.
  */
object Curation {

  /** Lowercase-hex prefix of md5(id:salt) — an 8-hex-digit (32-bit) uniform
    * key in [0, 16^8). Lexicographic comparison on the hex string equals
    * numeric comparison, which is what makes thresholds portable SQL. */
  private def hashKey(idCol: Column, salt: String): Column =
    substring(md5(concat(idCol.cast("string"), lit(":" + salt))), 1, 8)

  /** 8-digit lowercase-hex threshold for a fraction of the 32-bit space. */
  private def hexThreshold(fraction: Double): String = {
    val bound = math.min(math.max(fraction, 0.0), 1.0)
    f"${(bound * 4294967296.0).toLong.min(4294967295L)}%08x"
  }

  /** Deterministic train/val/test-style split assignment.
    *
    * `fractions` maps split name → fraction; fractions must sum to ≤ 1 and
    * any remainder falls into `defaultSplit`. A row's split is decided by
    * where the md5 hash of its id lands in [0,1) — stable under corpus
    * growth, engine-portable, and exactly reproducible (no RNG seeds). */
  def assignSplit(df: DataFrame, idCol: String, salt: String,
      fractions: Seq[(String, Double)],
      defaultSplit: String = "train"): DataFrame = {
    require(fractions.nonEmpty, "at least one split fraction required")
    require(fractions.map(_._2).sum <= 1.0 + 1e-9, "fractions must sum to <= 1")
    val key = hashKey(col(idCol), salt)
    val cumulative = fractions.scanLeft(0.0)(_ + _._2).tail
    val firstBranch: Column = when(
      key < lit(hexThreshold(cumulative.head)), lit(fractions.head._1))
    val assigned = fractions.tail.zip(cumulative.tail).foldLeft(firstBranch) {
      case (acc, ((name, _), cum)) =>
        acc.when(key < lit(hexThreshold(cum)), lit(name))
    }
    df.withColumn("split", assigned.otherwise(lit(defaultSplit)))
  }

  /** Deterministic Bernoulli-style sample: keep rows whose id-hash falls
    * under `rate`. Map-only; same contract as assignSplit. */
  def deterministicSample(df: DataFrame, idCol: String, salt: String,
      rate: Double): DataFrame =
    df.filter(hashKey(col(idCol), salt) < lit(hexThreshold(rate)))

  /** Rebalance a corpus to target per-class proportions by deterministic
    * down-sampling (no up-sampling): with n_c rows of class c and target
    * share s_c, the largest achievable total is T = min_c(n_c / s_c) and
    * class c keeps s_c·T / n_c of its rows, selected by id-hash.
    *
    * Classes absent from `targetShares` are dropped. The per-class counts
    * are one tiny aggregate collected to the driver (bounded by the number
    * of classes, not rows) and folded into a literal CASE expression, so
    * the sampling pass itself is map-only. */
  def rebalanceClasses(df: DataFrame, idCol: String, classCol: String,
      salt: String, targetShares: Map[String, Double]): DataFrame = {
    require(targetShares.nonEmpty && targetShares.values.forall(_ > 0))
    val counts = df.groupBy(classCol).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val present = targetShares.filter { case (c, _) => counts.getOrElse(c, 0L) > 0L }
    require(present.nonEmpty, "no targeted class present in the data")
    val total = present.map { case (c, s) => counts(c) / s }.min
    val keepRates = present.map { case (c, s) =>
      c -> math.min(1.0, s * total / counts(c))
    }
    sampleByClassRates(df, idCol, classCol, salt, keepRates)
  }

  /** Map-only deterministic per-class Bernoulli filter at the given rates. */
  private def sampleByClassRates(df: DataFrame, idCol: String,
      classCol: String, salt: String,
      keepRates: Iterable[(String, Double)]): DataFrame = {
    val key = hashKey(col(idCol), salt)
    val keep = keepRates.foldLeft(lit(false)) { case (acc, (c, rate)) =>
      acc || (col(classCol) === lit(c) && key < lit(hexThreshold(rate)))
    }
    df.filter(keep)
  }

  /** Token-budget sequence packing: assign documents to training bins of
    * `budgetTokens` by token offset. Within each shard (documents ordered
    * by id), a document starting at cumulative token offset o lands in bin
    * floor(o / budget) — the contiguous-fill contract used for packed
    * pre-training shards. A document longer than the budget spills past its
    * bin boundary by construction (documents are never split here; cap
    * inputs upstream if hard bin limits are needed).
    *
    * The window is partitioned by `shardCol`: the per-shard running sum is
    * a parallel sort over shards, never one global order-by — the shard key
    * (source file / date bucket) is what makes this viable at 100 TB. */
  def packByTokenBudget(df: DataFrame, idCol: String, tokensCol: String,
      shardCol: String, budgetTokens: Long): DataFrame = {
    require(budgetTokens > 0)
    val w = Window.partitionBy(shardCol).orderBy(idCol)
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("tok_offset",
        coalesce(sum(col(tokensCol)).over(w), lit(0L)))
      .withColumn("bin", floor(col("tok_offset") / lit(budgetTokens)))
  }

  /** Deterministic global shuffle for training-shard output: order rows by
    * the md5 hash of their id (salted, so successive epochs/reshuffles are
    * independent permutations). Reproducible on any engine — no RNG state.
    *
    * The `orderBy` is a range-partitioned distributed sort: at 100 TB the
    * result lands in hash-random order across shards AND within each shard
    * — exactly the property pre-training dataloaders need — without any
    * single-node bottleneck. Ties (hash collisions) break on the id, so the
    * permutation is total. */
  def shuffleDeterministic(df: DataFrame, idCol: String,
      salt: String): DataFrame =
    df.withColumn("shuffle_key", hashKey(col(idCol), salt))
      .orderBy(col("shuffle_key"), col(idCol))

  /** Unigram language-model negative log-likelihood per document — the
    * CCNet-style "perplexity against the corpus itself" quality signal:
    * documents full of globally rare words (noise, mojibake, boilerplate
    * IDs) score high, ordinary prose scores low.
    *
    * Two-pass shape: build the word-frequency table (one shuffle on the
    * word), then join it back and average −ln p(w) per document. The
    * corpus total is attached by broadcasting a one-row aggregate — never
    * a driver-side collect. The frequency table is bounded by vocabulary
    * size, not corpus size, so the join side stays dimension-like even at
    * 100 TB (and can itself be broadcast when the vocab fits). */
  def unigramNll(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val words = docs.select(col(idCol),
        explode(split(lower(trim(col(textCol))), "\\s+")).as("w"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val freq = words.groupBy("w").agg(count(lit(1)).as("c"))
    val withP = freq
      .crossJoin(broadcast(freq.agg(sum("c").as("N"))))
      .select(col("w"), (col("c").cast("double") / col("N")).as("p"))
    words.join(withP, "w")
      .groupBy(idCol)
      .agg(round(avg(-log(col("p"))), 4).as("nll"),
        count(lit(1)).as("n_words"))
  }

  /** Quality-aware near-duplicate resolution: given the corpus, a
    * near-duplicate PAIR table, and a per-document quality column, keep
    * the HIGHEST-QUALITY member of every duplicate cluster (ties break
    * to the lowest id) — what production dedup actually ships, vs the
    * keep-min-id convention of [[operators.Components.clusterSummary]]:
    * the survivor should be the best page, not the first-crawled one.
    *
    * Output: one row per KEPT document — (id, cluster, quality,
    * n_members); singletons (docs in no pair) survive as their own
    * 1-member cluster. Scale shape: components over the pair table
    * (O(diameter) label-propagation rounds), one left join back to the
    * corpus, one per-cluster top-1 window — all equi-shuffles on
    * id/cluster keys.
    */
  def keepBestPerCluster(docs: DataFrame, idCol: String, qualityCol: String,
      pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val comps = graft.operators.Components
      .connectedComponents(pairs, aCol, bCol)
      .withColumnRenamed("node", "_cid")
    val withCluster = docs
      .select(col(idCol).as("id"), col(qualityCol).cast("double").as("quality"))
      .join(comps, col("id") === col("_cid"), "left")
      .select(col("id"), col("quality"),
        coalesce(col("component"), col("id")).as("cluster"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("cluster")
      .orderBy(col("quality").desc, col("id"))
    withCluster
      .withColumn("_rk", row_number().over(w))
      .withColumn("n_members",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy("cluster")))
      .filter(col("_rk") === 1)
      .select(col("id"), col("cluster"), col("quality"), col("n_members"))
  }

  /** CCNet-style boilerplate-line removal: a line that recurs across a
    * large fraction of ONE SOURCE's documents (header, footer, nav text,
    * cookie banner) is boilerplate — every occurrence is dropped and each
    * document reassembled from its surviving lines in original order.
    * Distinct from [[dedupParagraphs]], which keeps the globally-FIRST
    * occurrence and cuts only re-occurrences: boilerplate is removed from
    * every document, including the first.
    *
    * A line is boilerplate in source S iff it is non-blank, appears in
    * ≥ 2 documents of S, and in ≥ ⌈n_docs(S)·minDocFrac⌉ of them. Blank
    * lines are structure, never boilerplate. Documents whose every line
    * is boilerplate drop out of the result.
    *
    * Scale shape: the line table is corpus-sized (persisted — feeds the
    * doc-frequency count, the anti-join, and the per-doc totals); the
    * doc-frequency table is bounded by distinct (source, line); the
    * anti-join and reassembly are equi-shuffles on (source, line) and id.
    */
  def removeBoilerplate(docs: DataFrame, idCol: String, textCol: String,
      sourceCol: String, minDocFrac: Double = 0.5): DataFrame = {
    require(minDocFrac > 0 && minDocFrac <= 1, "minDocFrac must be in (0,1]")
    val lines = docs.select(col(idCol), col(sourceCol),
        posexplode(split(col(textCol), "\n", -1)).as(Seq("pos", "line")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nDocs = docs.groupBy(col(sourceCol)).agg(count(lit(1)).as("n_docs"))
    val docFreq = lines
      .filter(length(trim(col("line"))) > 0)
      .select(col(sourceCol), col("line"), col(idCol)).distinct()
      .groupBy(col(sourceCol), col("line")).agg(count(lit(1)).as("df"))
    val boiler = docFreq.join(nDocs, sourceCol)
      .filter(col("df") >= 2 &&
        col("df") >= ceil(col("n_docs") * lit(minDocFrac)))
      .select(col(sourceCol), col("line"))
    val kept = lines.join(boiler, Seq(sourceCol, "line"), "left_anti")
    val totals = lines.groupBy(col(idCol)).agg(count(lit(1)).as("n_lines"))
    kept.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_lines_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("line")))),
          x => x.getField("line")), "\n").as("text_clean"))
      .join(totals, idCol)
      .select(col(idCol), col("n_lines_kept"),
        (col("n_lines") - col("n_lines_kept")).as("n_lines_removed"),
        col("text_clean"))
  }

  /** Kneser–Ney smoothed bigram NLL per document (bits/bigram) — the
    * CCNet-style LM-perplexity quality signal one order up from
    * [[unigramNll]]: a document whose word SEQUENCES are improbable under
    * the corpus's own bigram distribution (not just its word choices)
    * scores high and is a removal/down-weight candidate.
    *
    * Absolute-discount KN, self-trained on the scored corpus so every
    * scored bigram has c ≥ 1 (no zero path; the continuation backoff
    * still redistributes the discounted mass):
    *   P(w2|w1) = (c(w1w2) − d)/c(w1·) + d·N1+(w1·)/c(w1·) · N1+(·w2)/B
    * with c(w1·) the context total, N1+ the distinct-continuation /
    * distinct-left-context counts, B the distinct bigram types.
    *
    * Scale shape: one corpus-sized bigram-occurrence table (persisted —
    * feeds the count tables and the scoring join); every count table is
    * vocab-bounded; all joins are equi-shuffles on word keys; the
    * type-count B attaches as a broadcast one-row aggregate. Documents
    * with < 2 tokens have no bigrams and drop out (score undefined).
    */
  def knBigramNll(docs: DataFrame, idCol: String, textCol: String,
      discount: Double = 0.75): DataFrame = {
    require(discount > 0 && discount < 1, "discount must be in (0,1)")
    val toks = docs
      .select(col(idCol), split(lower(trim(col(textCol))), "\\s+").as("ws0"))
      .select(col(idCol), filter(col("ws0"), w => length(w) > 0).as("ws"))
    val occ = toks
      .select(col(idCol), explode(graft.functions.TextFunctions
        .wordBigrams(col("ws"))).as("bigram"))
      .select(col(idCol),
        substring_index(col("bigram"), " ", 1).as("w1"),
        substring_index(col("bigram"), " ", -1).as("w2"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cBg = occ.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val ctx = cBg.groupBy("w1")
      .agg(sum("c12").as("c1"), count(lit(1)).as("n1f"))
    val prec = cBg.groupBy("w2").agg(count(lit(1)).as("n1p"))
    val types = cBg.agg(count(lit(1)).cast("double").as("bTypes"))
    val p = cBg.join(ctx, "w1").join(prec, "w2")
      .crossJoin(broadcast(types))
      .select(col("w1"), col("w2"),
        ((col("c12") - lit(discount)) / col("c1") +
          lit(discount) * col("n1f") / col("c1") *
            (col("n1p") / col("bTypes"))).as("p"))
    occ.join(p, Seq("w1", "w2"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(-log2(col("p"))), 4).as("nll_bits"))
  }

  /** Deterministic weighted sampling without replacement
    * (Efraimidis–Spirakis A-ES): each row draws u ∈ (0,1) content-addressed
    * from md5(id ∥ salt) and gets key u^(1/w); the global top-k keys ARE a
    * weighted sample without replacement. One map-only key computation +
    * one top-k — no per-row RNG state, reproducible on any engine with md5
    * (the DuckDB oracle re-draws the identical sample).
    *
    * At 100 TB the top-k is Spark's orderBy+limit, which runs as
    * per-partition top-k + a single-reducer merge of k rows — not a global
    * sort of the corpus. */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String,
      salt: String, k: Int): DataFrame = {
    val u = (conv(substring(md5(concat(col(idCol).cast("string"),
        lit(":"), lit(salt))), 1, 8), 16, 10).cast("double") + lit(1.0)) /
      lit(4294967296.0)
    val key = pow(u, lit(1.0) / col(weightCol).cast("double"))
    df.select(col(idCol), col(weightCol).cast("double").as("w"),
        key.as("es_key"))
      .orderBy(col("es_key").desc, col(idCol))
      .limit(k)
  }

  /** Leakage-safe split assignment: near-duplicate documents MUST land on
    * the same side of a train/eval split, or the held-out set silently
    * contains training content (the contamination mode document-level
    * hashing cannot see). Pipeline: prefix-filtered exact n-gram Jaccard
    * pairs → connected components → [[assignSplit]] keyed by the CLUSTER
    * label instead of the document id (clusterless docs key by their own
    * id, which equals their singleton cluster label). Returns
    * `(id, cluster, split)`.
    *
    * Shape at 100 TB: the pair/component stages are the q30/q51 machinery
    * (vocabulary-bounded shuffles, O(diameter) label rounds); the split
    * itself stays map-only content-addressed hashing — so the leakage
    * guarantee costs exactly one dedup pass, amortised if the pair table
    * already exists. */
  def leakageSafeSplit(docs: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double, salt: String,
      fractions: Seq[(String, Double)],
      defaultSplit: String = "train"): DataFrame = {
    val pairs = Dedup.ngramJaccardPairs(docs, idCol, textCol, n, threshold)
    val comps = Components.connectedComponents(pairs, "id_a", "id_b")
    val withCluster = docs.select(col(idCol).as("id"))
      .join(comps.withColumnRenamed("node", "id"), Seq("id"), "left")
      .withColumn("cluster", coalesce(col("component"), col("id")))
      .drop("component")
    assignSplit(withCluster, "cluster", salt, fractions, defaultSplit)
      .select(col("id"), col("cluster"), col("split"))
  }

  /** Stratified sampling with largest-remainder (Hamilton) allocation:
    * each stratum gets `⌊k·N_h/N⌋` rows plus one of the `k − Σ⌊·⌋`
    * leftovers, awarded by descending integer remainder `(k·N_h) mod N`
    * (stratum name breaks ties) — so Σ allocations = k exactly, with NO
    * floating point anywhere in the allocation (pure integer arithmetic,
    * bit-identical on any engine). Within a stratum the sample is the
    * bottom-`n_h` rows by `md5(id:salt)` — content-addressed like
    * [[assignSplit]], so the same row is drawn regardless of partitioning
    * or engine. Output: `(stratum, n_pop, n_alloc, id, rk)`, the k
    * sampled rows ordered by (stratum, rk).
    *
    * Shape at 100 TB: the population count and allocation tables are
    * strata-sized (broadcast back); selection is one rank window per
    * stratum — per-stratum k-row heaps (TopKPerGroup) replace the window
    * when k·strata is small, but the window form keeps the EXACT
    * varying-k-per-group semantics the allocation requires. */
  def stratifiedSample(df: DataFrame, stratumCol: String, idCol: String,
      k: Int, salt: String): DataFrame = {
    val pop = df.groupBy(col(stratumCol).as("stratum"))
      .agg(count(lit(1)).as("n_pop"))
    val tot = pop.agg(sum("n_pop").as("n"))
    val quota = pop.crossJoin(tot).select(col("stratum"), col("n_pop"),
      // `div` is INTEGER division on longs — the floor stays exact where
      // floor(a/b) on doubles could misround for large populations
      expr(s"(${k.toLong} * n_pop) div n").as("base"),
      expr(s"(${k.toLong} * n_pop) % n").as("frac"))
    // leftover seats = k − Σ base, awarded by remainder rank
    val leftover = quota.agg((lit(k.toLong) - sum("base")).as("seats"))
    val remW = org.apache.spark.sql.expressions.Window
      .orderBy(col("frac").desc, col("stratum"))
    val alloc = quota
      .withColumn("fr", row_number().over(remW))
      .crossJoin(leftover)
      .select(col("stratum"), col("n_pop"),
        (col("base") + when(col("fr") <= col("seats"), 1L).otherwise(0L))
          .as("n_alloc"))
    val rankW = org.apache.spark.sql.expressions.Window
      .partitionBy(col(stratumCol))
      .orderBy(md5(concat(col(idCol).cast("string"), lit(":"), lit(salt))),
        col(idCol))
    df.select(col(stratumCol).as("stratum"), col(idCol).as("id"),
        row_number().over(rankW).as("rk"))
      .join(broadcast(alloc), Seq("stratum"))
      .filter(col("rk") <= col("n_alloc"))
      .select(col("stratum"), col("n_pop"), col("n_alloc"), col("id"),
        col("rk"))
      .orderBy("stratum", "rk")
  }

  /** DSIR-style importance resampling: score each corpus document by the
    * mean log-likelihood ratio of a target-domain unigram LM over the
    * corpus unigram LM (add-half smoothing over the union vocabulary), and
    * keep the top `keepFraction` by weight — "select pretraining data that
    * looks like the target domain". Output: (id, weight, w_thr).
    *
    * Shape at scale: both LMs are word-count aggregates (one shuffle
    * each); the three corpus-level scalars (token counts, union vocab) are
    * O(scan) distributed aggregates collected as single numbers; the
    * selection threshold is ONE exact percentile joined back as a
    * broadcast literal, exactly like [[perplexityFilter]] — no global
    * sort anywhere. */
  def importanceResample(corpus: DataFrame, target: DataFrame,
      idCol: String, textCol: String, keepFraction: Double): DataFrame = {
    require(keepFraction > 0 && keepFraction < 1, "0 < keepFraction < 1")
    def words(df: DataFrame) = df.select(col(idCol),
      explode(split(lower(trim(col(textCol))), "\\s+")).as("w"))
    val cw = words(corpus)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tw = words(target).select("w")
    val vocab = cw.select("w").union(tw).distinct().count().toDouble
    val nC = cw.count().toDouble
    val nT = tw.count().toDouble
    val fC = cw.groupBy("w").agg(count(lit(1)).as("c_c"))
    val fT = tw.groupBy("w").agg(count(lit(1)).as("c_t"))
    val scored = cw.join(fC, "w").join(fT, Seq("w"), "left")
      .select(col(idCol),
        (log((coalesce(col("c_t"), lit(0L)).cast("double") + lit(0.5)) /
            lit(nT + 0.5 * vocab)) -
          log((col("c_c").cast("double") + lit(0.5)) /
            lit(nC + 0.5 * vocab))).as("llr"))
      .groupBy(idCol)
      // + 0.0 folds IEEE −0.0 (a tiny negative mean rounded to 4 dp) to
      // +0.0 so engines can't disagree on the sign of zero
      .agg((round(avg("llr"), 4) + lit(0.0)).as("weight"))
    val thr = scored.agg(
      (round(expr(s"percentile(weight, ${1.0 - keepFraction})"), 4) +
        lit(0.0)).as("w_thr"))
    scored.crossJoin(broadcast(thr))
      .filter(col("weight") >= col("w_thr"))
      .select(col(idCol), col("weight"), col("w_thr"))
  }

  /** Cross-document repetition (RefinedWeb-style): for each document, the
    * fraction of its positional word n-gram instances that also occur in at
    * least one OTHER document. High ratios flag boilerplate/templated text
    * that exact- and near-dup passes miss because no single pair of docs is
    * similar enough.
    *
    * Shape: one explode → distinct (doc, gram) membership → gram document
    * frequency → join-back on gram. All shuffles key on the gram, so hot
    * grams ("click here to") spread over partitions by Spark's hash; no
    * per-doc state. At 100 TB grams should travel as 64-bit hashes (see
    * [[decontaminate]]'s `wordShinglesHashed` pattern); the string form
    * here is what the DuckDB oracle can reproduce.
    * NOTE: the persisted blocks live until `spark.catalog.clearCache()`
    * or session end — long-lived sessions invoking this repeatedly should
    * clear the cache between calls (Bench does).
    */
  def crossDocRepetitionRatio(docs: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame = {
    // persist: the exploded gram table feeds BOTH the document-frequency
    // aggregate and the join-back — without it the interpreted-HOF explode
    // pipeline runs twice. Tokens are staged in their own projection so
    // the split runs once per row, not once per gram (no CSE in HOFs).
    val grams = docs
      .select(col(idCol),
        split(lower(trim(col(textCol))), "\\s+").as("_toks"))
      .select(col(idCol),
        explode(graft.functions.TextFunctions
          .wordNgramsOfTokens(col("_toks"), n, distinctGrams = false))
          .as("gram"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val df2 = grams.distinct()
      .groupBy("gram").agg(count(lit(1)).as("gdf"))
      .filter(col("gdf") >= 2)
      .select("gram")
    grams.join(df2.withColumn("shared", lit(1)), Seq("gram"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_grams"),
        round(coalesce(sum("shared"), lit(0)).cast("double") /
          count(lit(1)), 4).as("dup_ratio"))
  }

  /** Percentile-threshold perplexity filtering (the CCNet head/middle cut):
    * keep documents whose unigram NLL is at or below the corpus `quantile`
    * cut-point. The threshold is ONE exact-percentile aggregate — a single
    * double broadcast back as a cross-join literal — so the filter costs no
    * global sort and no second pass over the word table: scalar compare,
    * map-only after the [[unigramNll]] aggregate.
    *
    * Both sides of the compare are rounded to 4 dp so the decision is
    * reproducible across engines (the DuckDB oracle recomputes the same
    * `quantile_cont` threshold). */
  def perplexityFilter(docs: DataFrame, idCol: String, textCol: String,
      quantile: Double): DataFrame = {
    require(quantile > 0 && quantile < 1, "0 < quantile < 1")
    val nll = unigramNll(docs, idCol, textCol)
    val thr = nll.agg(
      round(expr(s"percentile(nll, $quantile)"), 4).as("nll_thr"))
    nll.crossJoin(broadcast(thr))
      .filter(col("nll") <= col("nll_thr"))
      .select(col(idCol), col("nll"), col("nll_thr"))
  }

  /** Paragraph-level exact deduplication with document reassembly (the
    * MassiveText/Gopher intra-corpus boilerplate cut): split every document
    * on `sep`, keep only the globally FIRST occurrence of each distinct
    * paragraph — ordered by (document id, position) — and stitch each
    * document back together from its surviving paragraphs in original
    * order. Documents whose paragraphs were all seen earlier come back as
    * the empty string (callers drop or keep them; the row set is stable).
    *
    * Output: (idCol, textCol replaced by the deduped text, n_paras_in,
    * n_paras_kept).
    *
    * Shape at 100 TB: one posexplode (map-only), one shuffle keyed on the
    * paragraph for the first-occurrence window — hot boilerplate paragraphs
    * hash across partitions, and each window group only carries that
    * paragraph's occurrences — then one shuffle back on the id to
    * reassemble. Paragraphs could travel as 64-bit hashes with a join-back
    * for the survivors; the string form here is what the DuckDB oracle
    * reproduces verbatim. */
  def dedupParagraphs(df: DataFrame, idCol: String, textCol: String,
      sep: String = "\n\n"): DataFrame = {
    val paras = df.select(col(idCol),
      posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
        .as(Seq("pos", "para")))
    val firstW = Window.partitionBy("para").orderBy(col(idCol), col("pos"))
    val kept = paras
      .withColumn("rk", row_number().over(firstW))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_paras_in"),
        sum(when(col("rk") === 1, 1L).otherwise(0L)).as("n_paras_kept"),
        array_join(
          transform(
            array_sort(collect_list(
              when(col("rk") === 1, struct(col("pos"), col("para"))))),
            s => s.getField("para")),
          sep).as(textCol))
    df.select(col(idCol)).join(kept, Seq(idCol), "left")
      .select(col(idCol), coalesce(col(textCol), lit("")).as(textCol),
        coalesce(col("n_paras_in"), lit(0L)).as("n_paras_in"),
        coalesce(col("n_paras_kept"), lit(0L)).as("n_paras_kept"))
  }

  /** Exact-substring span deduplication (the Lee et al. 2021
    * "Deduplicating Training Data" cut, window form): every length-`w`
    * token window that already occurred earlier in the corpus — ordered by
    * (document id, position); the FIRST occurrence survives — marks its w
    * token positions for removal; marked positions are cut and each
    * document is re-joined from its surviving tokens in order. Overlapping
    * duplicate windows merge for free (position-set union), so whole
    * repeated passages collapse without any interval bookkeeping.
    *
    * Output: (idCol, textCol cleaned, n_tokens_in, n_tokens_kept).
    *
    * Shape at 100 TB: the window table shuffles keyed on the gram (hot
    * boilerplate grams spread by hash; each group carries (id, pos) pairs
    * only), flagged windows explode to ≤ w positions each — bounded by the
    * duplicated fraction, not the corpus — and removal is an anti-join on
    * (id, pos). Grams should travel as 64-bit hashes at scale (the string
    * form is what the oracle reproduces); suffix-array approaches find
    * variable-length repeats but need a global sort — the fixed-window
    * form is one gram-keyed shuffle.
    * NOTE: the persisted blocks live until `spark.catalog.clearCache()`
    * or session end — long-lived sessions invoking this repeatedly should
    * clear the cache between calls (Bench does).
    */
  def dedupExactSubstrings(df: DataFrame, idCol: String, textCol: String,
      windowTokens: Int): DataFrame = {
    require(windowTokens >= 2)
    // stage the token array once: HOFs are interpreted with no CSE, and
    // both the token table and the window table derive from it
    val staged = df.select(col(idCol),
        split(trim(col(textCol)), "\\s+").as("toks"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tokens = staged.select(col(idCol),
      posexplode(col("toks")).as(Seq("pos", "tok")))
    val windows = staged
      .filter(size(col("toks")) >= windowTokens)
      .select(col(idCol), posexplode(transform(
        sequence(lit(0), size(col("toks")) - windowTokens),
        i => concat_ws(" ", slice(col("toks"), i + 1, lit(windowTokens)))))
        .as(Seq("wpos", "gram")))
    val firstW = Window.partitionBy("gram").orderBy(col(idCol), col("wpos"))
    val removed = windows
      .withColumn("rk", row_number().over(firstW))
      .filter(col("rk") > 1)
      .select(col(idCol),
        explode(sequence(col("wpos"),
          col("wpos") + lit(windowTokens - 1))).as("pos"))
      .distinct()
    val kept = tokens.join(removed, Seq(idCol, "pos"), "left_anti")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          s => s.getField("tok")), " ").as(textCol))
    tokens.groupBy(idCol).agg(count(lit(1)).as("n_tokens_in"))
      .join(kept, Seq(idCol), "left")
      .select(col(idCol), coalesce(col(textCol), lit("")).as(textCol),
        col("n_tokens_in"),
        coalesce(col("n_tokens_kept"), lit(0L)).as("n_tokens_kept"))
  }

  /** Temperature-based mixture sampling (the multilingual-pretraining
    * p ∝ countᵅ rule): compute per-class target shares proportional to
    * count^alpha — alpha = 1 keeps natural proportions, alpha = 0 moves to
    * uniform, 0 < alpha < 1 up-weights the tail — then down-sample to those
    * shares with the same deterministic content-addressed machinery as
    * [[rebalanceClasses]] (no up-sampling: the largest achievable total
    * respecting the shares is kept). Map-only after one tiny per-class
    * count aggregate. */
  def temperatureSample(df: DataFrame, idCol: String, classCol: String,
      salt: String, alpha: Double): DataFrame = {
    require(alpha >= 0.0 && alpha <= 1.0, "0 <= alpha <= 1")
    val counts = df.groupBy(classCol).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    require(counts.nonEmpty, "empty input")
    // shares p_c ∝ n_c^alpha; the largest total respecting them without
    // up-sampling is T = min_c(n_c / p_c); class c then keeps p_c·T/n_c.
    // Summation order of Z varies across engines, so the final rate is
    // rounded to 6 dp before thresholding — a 1-ulp wobble in Z can no
    // longer flip a sampling decision (the DuckDB oracle rounds the same).
    val powed = counts.map { case (c, n) =>
      c -> math.pow(n.toDouble, alpha)
    }.toSeq.sortBy(_._1)
    val z = powed.map(_._2).sum
    val total = powed.map { case (c, p) => counts(c) / (p / z) }.min
    val keepRates = powed.map { case (c, p) =>
      val share = p / z
      c -> BigDecimal(math.min(1.0, share * total / counts(c)))
        .setScale(6, BigDecimal.RoundingMode.HALF_EVEN).toDouble
    }
    sampleByClassRates(df, idCol, classCol, salt, keepRates)
  }

  /** Benchmark decontamination with a Bloom pre-filter: identical result
    * rows to [[decontaminate]], but the expensive corpus-side explode+join
    * only runs over documents the (broadcast) Bloom filter could not rule
    * out.
    *
    * Build: benchmark n-gram hashes aggregate into a
    * [[graft.functions.BloomFilterAgg]] bitset — partial aggregation ships
    * one bitset per partition, OR-merged — sized at ~10 bits/gram (< 1%
    * false positives). Probe: a map-only scan keeps documents with ≥ 1
    * maybe-contained gram. Verify: the exact hashed-gram semi-join of
    * [[decontaminate]] runs over the survivors only, so false positives
    * cannot reach the output — the result is exact and oracle-checkable.
    *
    * At 100 TB this inverts the cost: the full corpus explode (the
    * dominant shuffle in plain decontamination — every gram of every
    * document) shrinks to the contaminated-ish fraction, while the added
    * cost is one broadcast bitset and one codegen-unfriendly but map-only
    * probe pass.
    * NOTE: the persisted blocks live until `spark.catalog.clearCache()`
    * or session end — long-lived sessions invoking this repeatedly should
    * clear the cache between calls (Bench does).
    */
  def decontaminateBloom(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int,
      bitsPerGram: Int = 10): DataFrame = {
    import org.apache.spark.sql.functions.{udaf, udf}
    val gramsUdf = udf((text: String) =>
      graft.functions.HashKernels.wordShinglesHashed(text, n))
    val benchGrams = benchmark
      .select(explode(gramsUdf(col(textCol))).as("gram"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // benchmark gram count: one scalar action over a small (eval-set) side;
    // fixes the filter size before the aggregate builds the bitset
    val nGrams = benchGrams.count()
    val bloomAgg = udaf(new graft.functions.BloomFilterAgg(
      graft.functions.BloomFilterAgg.sizeFor(nGrams, bitsPerGram)))
    val bits = benchGrams.agg(bloomAgg(col("gram")).as("bits"))
      .head().getAs[scala.collection.Seq[Long]]("bits").toArray
    val mightHit = udf((grams: Array[Long]) =>
      grams.exists(g => graft.functions.BloomFilterAgg.mightContain(bits, g)))
    // asNondeterministic stops Catalyst pushing the probe filter below the
    // projection (which would substitute the alias and evaluate the
    // expensive gram-hashing UDF twice per row — once in the filter, once
    // in the explode). The function IS deterministic; the flag is only an
    // optimizer barrier.
    val gramsOnce = gramsUdf.asNondeterministic()
    val candidates = corpus
      .withColumn("_grams", gramsOnce(col(textCol)))
      .filter(mightHit(col("_grams")))
    val contaminatedIds = candidates
      .select(col(idCol), explode(col("_grams")).as("gram"))
      .join(benchGrams, Seq("gram"), "left_semi")
      .select(idCol).distinct()
      .withColumn("contaminated", lit(true))
    corpus.join(contaminatedIds, Seq(idCol), "left")
      .withColumn("contaminated",
        coalesce(col("contaminated"), lit(false)))
  }

  /** Benchmark decontamination: flag corpus documents sharing any word
    * n-gram with a benchmark/eval set (the GPT-3-style "13-gram overlap"
    * test-set leak check; `n` is a parameter because short synthetic docs
    * need smaller windows).
    *
    * Grams travel as 64-bit hashes (`HashKernels.wordShinglesHashed`):
    * equality — all the overlap test needs — is preserved up to hash
    * collisions (~2⁻⁶⁴ per comparison), and both explode sides shuffle
    * 8 bytes per gram instead of an n-word string.
    *
    * Shape at 100 TB: the benchmark side is exploded to distinct n-grams
    * (eval sets are small — typically < 10⁶ grams, broadcast-able, and
    * Spark's join planner picks broadcast when it fits), the corpus side is
    * exploded lazily, and the semi-join never materialises matched pairs —
    * only the distinct contaminated id set comes back. */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame = {
    val gramsUdf = udf((text: String) =>
      graft.functions.HashKernels.wordShinglesHashed(text, n))
    // fan-out + explode_outer: the gram kernel runs ≥cores-way on a
    // single-row-group scan, with no inferred size(udf(..))>0 filter for
    // pushdown to duplicate below the exchange (round 12; empty gram
    // arrays yield a null gram that the isNotNull drops — same rows)
    val benchGrams = graft.Tuning.fanOutSmallScan(benchmark)
      .select(explode_outer(gramsUdf(col(textCol))).as("gram"))
      .filter(col("gram").isNotNull)
      .distinct()
    val contaminatedIds = graft.Tuning.fanOutSmallScan(corpus)
      .select(col(idCol), explode_outer(gramsUdf(col(textCol))).as("gram"))
      .filter(col("gram").isNotNull)
      .join(benchGrams, Seq("gram"), "left_semi")
      .select(idCol).distinct()
      .withColumn("contaminated", lit(true))
    corpus.join(contaminatedIds, Seq(idCol), "left")
      .withColumn("contaminated",
        coalesce(col("contaminated"), lit(false)))
  }

  /** The full corpus-curation pipeline as ONE operator (the q208
    * capstone, reusable from the CLI): exact dedup (keep lowest id per
    * normalized content) → portable-LSH near-dedup keeping the
    * highest-quality member of each duplicate cluster → drop docs sharing
    * any word-8-gram with the benchmark → quality floor → deterministic
    * content-addressed split. Returns the surviving docs with their
    * `split` column; every stage is an operator proven by its own gate.
    */
  def curateCorpus(corpus: DataFrame, benchmark: DataFrame, idCol: String,
      textCol: String, qualityCol: String, minQuality: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // exact feeds both the near-dup pairing and the representative join;
    // kept feeds both the decontamination shingles and the final
    // anti-join — persist each so the upstream dedup window runs once,
    // not once per consumer branch
    val exact = Dedup.dropExactDuplicates(corpus, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = Dedup.minhashLshPortable(exact, idCol, textCol)
      .select("id_a", "id_b")
    val comps = Components.connectedComponents(pairs, "id_a", "id_b")
      .withColumnRenamed("node", idCol)
    val eff = coalesce(col("component"), col(idCol))
    val kept = exact.join(comps, Seq(idCol), "left")
      .withColumn("_rn", row_number().over(Window.partitionBy(eff)
        .orderBy(col(qualityCol).desc, col(idCol).asc)))
      .filter(col("_rn") === 1).drop("_rn", "component")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // round 12 (guide §2.3 "shuffle keys, not payloads"): the 8-gram
    // semi-join only needs gram EQUALITY, so both sides join on the
    // 64-bit xxhash of the gram instead of the ~50-char gram string —
    // same contaminated id set up to 64-bit collisions (the established
    // wordShinglesHashed contract, q58), at a fraction of the bytes
    val gramsOf = (df: DataFrame) =>
      Dedup.wordShingleArrays(df, idCol, textCol, 8)
        .select(col("id"),
          explode_outer(transform(col("shs"), s => xxhash64(s))).as("g"))
        .filter(col("g").isNotNull) // outer: no inferred-filter re-inline
    val contaminated = gramsOf(kept)
      .join(gramsOf(benchmark).select("g").distinct(), Seq("g"), "left_semi")
      .select(col("id").as(idCol)).distinct()
    kept.join(contaminated, Seq(idCol), "left_anti")
      .filter(col(qualityCol) >= minQuality)
      .transform(assignSplit(_, idCol, "v1",
        Seq("test" -> 0.05, "val" -> 0.05)))
  }

  /** Water-filling budget allocation: spread `budget` rows across sources
    * by capping every source at the level `c` where `Σ min(n_i, c)` fills
    * the budget — small sources pass through untouched, dominant sources
    * are capped at a COMMON level (the fair-allocation dual of q54's
    * proportional rebalance; the same move DoReMi-style mixture tuning
    * applies to head domains).
    *
    * Closed form in pure integer arithmetic, no iteration: with counts
    * sorted ascending and prefix sums, on the segment where the cap lands
    * between n_k and n_{k+1} the fill is `prefix(k) + (S−k)·c`, so
    * `c = (budget − prefix(k)) div (S−k)` for the unique valid k. All
    * work is |sources|-sized; the allocation applies downstream as a
    * per-source `least(n, c)` (sampling within a source stays the
    * content-addressed draw).
    *
    * Output: (source, n, alloc, cap). If `Σ n ≤ budget` every source gets
    * `alloc = n` and `cap` is null.
    */
  def waterFillAllocation(counts: DataFrame, budget: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("n").asc, col("source").asc)
    val ranked = counts
      .withColumn("_k", row_number().over(w))
      .withColumn("_prefix",
        coalesce(sum("n").over(w.rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .withColumn("_s", count(lit(1)).over(Window.partitionBy(lit(1))))
      .withColumn("_total", sum("n").over(Window.partitionBy(lit(1))))
    // the unique k whose candidate cap lands inside its own segment
    // [n_{k−1}, n_k): for smaller k the candidate overshoots n_k, for
    // larger k it undershoots n_{k−1} — both sides of the filter exclude
    // them, so exactly one row survives (none when the budget covers all)
    val cap = ranked
      .withColumn("_lo", coalesce(lag(col("n"), 1).over(w), lit(0L)))
      .withColumn("_c",
        floor((lit(budget) - col("_prefix")) / (col("_s") - col("_k") + 1))
          .cast("long"))
      .filter(col("_total") > budget &&
        col("_c") >= col("_lo") && col("_c") < col("n"))
      .agg(min("_c").as("cap"))
    counts.crossJoin(cap)
      .select(col("source"), col("n"),
        when(col("cap").isNotNull, least(col("n"), col("cap")))
          .otherwise(col("n")).as("alloc"),
        col("cap"))
  }
}
