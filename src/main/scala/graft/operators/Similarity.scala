package graft.operators

import graft.functions.VectorFunctions._
import graft.plans.GraftFunctions.cosine_sim
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbour search over an embedding column.
  *
  * Two tiers:
  *  - brute-force cosine top-k: the exact baseline. One broadcast of the
  *    query set, one codegen'd scan — correct at any scale, O(n·q).
  *  - IVF (inverted-file) top-k: vectors pre-assigned to the nearest of C
  *    deterministic centroids; queries probe only `nprobe` nearest cells.
  *    Scan cost drops by ~C/nprobe; recall controlled by nprobe.
  */
object Similarity {

  /** Exact top-k by cosine for each query vector.
    * `queries` must be small (it is broadcast). Output: (query_id, id, cosine, rank).
    *
    * The n_corpus × n_queries scored stream is pruned by the
    * [[graft.plans.TopKPerGroup]] physical operator BEFORE the shuffle —
    * each partition ships ≤ k rows per query instead of its whole scored
    * slice. The window form shuffled (and spilled) the full cross
    * product: 100M scored rows / 9.5 GB spill on the 10× rehearsal for
    * the mutual-best-match query, vs ≤ k·partitions rows per query here.
    * Tie-break (cosine desc, corpusId asc) is identical, so output —
    * and the q31 oracle — are unchanged. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      corpusId: String = "vec_id", corpusVec: String = "embedding",
      queryId: String = "query_id", queryVec: String = "query_vec"): DataFrame = {
    val scored = corpus.crossJoin(broadcast(queries))
      .select(col(queryId), col(corpusId),
        cosine_sim(col(corpusVec), col(queryVec)).as("cosine"))
    val pruned = graft.plans.TopKOps.topKPerGroup(scored,
      Seq(col(queryId)), Seq(col("cosine").desc, col(corpusId).asc), k)
    // rank over the pruned set (≤ k rows per query) — same total order
    val w = Window.partitionBy(col(queryId))
      .orderBy(col("cosine").desc, col(corpusId).asc)
    pruned.withColumn("rank", row_number().over(w))
  }

  /** k-means centroid training on a bounded corpus sample (Lloyd
    * iterations, deterministic seeding by id-hash order). Sample-based
    * training is the standard ANN practice at any scale: one distributed
    * pass collects ≤ `maxTrainingRows` vectors (k×dim×rows is megabytes);
    * Lloyd then runs driver-side in tight primitive loops, and only the
    * cell ASSIGNMENT — the part proportional to corpus size — stays
    * distributed. */
  def trainCentroids(corpus: DataFrame, vecCol: String, numCells: Int,
      iterations: Int = 3, idCol: String = "vec_id",
      maxTrainingRows: Int = 20000): Array[Array[Float]] = {
    // Deterministic O(scan) sample: keep rows whose id-hash falls under a
    // threshold sized from the corpus count (~1.5x over-draw), then trim to
    // maxTrainingRows in driver-side hash order. No global sort — the old
    // orderBy(xxhash64).limit shape was a full cluster sort just to sample.
    val n = corpus.count()
    val denom = 1000000L
    val keep = if (n <= maxTrainingRows) denom
      else math.min(denom, (denom * 3L * maxTrainingRows / (2L * n)).max(1L))
    val sample: Array[Array[Float]] = corpus
      .select(col(vecCol), pmod(xxhash64(col(idCol)), lit(denom)).as("_h"))
      .filter(col("_h") < keep)
      .collect()
      .sortBy(_.getLong(1))
      .take(maxTrainingRows)
      .map(_.getSeq[Float](0).toArray)
    require(sample.nonEmpty, "empty corpus")

    var centroids = sample.take(numCells).map(_.clone())
    val dim = sample.head.length
    for (_ <- 1 to iterations) {
      val sums = Array.fill(centroids.length)(new Array[Double](dim))
      val counts = new Array[Int](centroids.length)
      sample.foreach { v =>
        var best = 0; var bestSim = Double.MinValue
        var c = 0
        while (c < centroids.length) {
          val s = graft.functions.HashKernels.cosine(v, centroids(c))
          if (s > bestSim) { bestSim = s; best = c }
          c += 1
        }
        counts(best) += 1
        var d = 0
        while (d < dim) { sums(best)(d) += v(d); d += 1 }
      }
      centroids = centroids.zipWithIndex.map { case (old, c) =>
        if (counts(c) == 0) old
        else Array.tabulate(dim)(d => (sums(c)(d) / counts(c)).toFloat)
      }
    }
    centroids
  }

  /** Fully-distributed Lloyd's k-means — the path for corpora where even a
    * training sample is unacceptable (sampling bias on rare modes, or
    * governance rules that forbid collecting raw vectors). The corpus
    * never moves: each iteration broadcasts the k×dim centroid table
    * (kilobytes) into a map-only nearest-cell assignment, and the new
    * means come from ONE partially-aggregated groupBy over posexploded
    * (cell, dim) — only the k×dim sum/count table (k·dim rows, regardless
    * of corpus size) is ever collected, so iteration cost is one scan +
    * one tiny shuffle at any scale.
    *
    * Deterministic: init is the k vectors of smallest
    * (xxhash64(id) mod 10⁶, id) — a top-k, not a global sort — and
    * nearest-cell ties break to the lowest cell index, the same rule as
    * [[cellAssignment]] / [[trainCentroids]]. Empty cells keep their
    * previous centroid (Lloyd's standard dead-cell rule, matching the
    * driver-side trainer). */
  def kmeansFitDistributed(corpus: DataFrame, vecCol: String, k: Int,
      iterations: Int = 3, idCol: String = "vec_id"): Array[Array[Float]] = {
    require(k >= 1, "k must be >= 1")
    var centroids: Array[Array[Float]] = corpus
      .select(col(vecCol).as("_v"),
        pmod(xxhash64(col(idCol)), lit(1000000L)).as("_h"),
        col(idCol).cast("string").as("_id"))
      .orderBy(col("_h"), col("_id"))
      .limit(k)
      .collect()
      .map(_.getSeq[Float](0).toArray)
    require(centroids.nonEmpty, "empty corpus")
    for (_ <- 1 to iterations) {
      val stats = cellAssignment(corpus.select(col(vecCol)), vecCol, centroids)
        .select(col("cell"), posexplode(col(vecCol)).as(Seq("d", "x")))
        .groupBy("cell", "d")
        .agg(sum(col("x").cast("double")).as("s"), count(lit(1)).as("n"))
        .collect()
      val next = centroids.map(_.clone())
      stats.foreach { r =>
        next(r.getInt(0))(r.getInt(1)) =
          (r.getDouble(2) / r.getLong(3)).toFloat
      }
      centroids = next
    }
    centroids
  }

  /** Cell assignment against trained centroids (nearest by cosine). */
  def cellAssignment(emb: DataFrame, vecCol: String,
      centroids: Array[Array[Float]]): DataFrame = {
    val bc = emb.sparkSession.sparkContext.broadcast(centroids)
    val assignUdf = udf { (v: Seq[Float]) =>
      // one Array conversion per row, not one implicit copy per centroid
      val va = v.toArray
      var best = 0; var bestSim = Double.MinValue
      var c = 0
      while (c < bc.value.length) {
        val s = graft.functions.HashKernels.cosine(va, bc.value(c))
        if (s > bestSim) { bestSim = s; best = c }
        c += 1
      }
      best
    }
    emb.withColumn("cell", assignUdf(col(vecCol)))
  }

  /** The query→probed-cells expansion shared by [[ivfTopK]] and
    * [[batchIvfTopK]] — each query explodes to its `nprobe`
    * nearest-centroid cells (ties keep centroid-index order; stable
    * sort). Public so audits can re-derive the exact probe set an ANN
    * query used and assert the result is the TRUE top-k within it. All
    * the query's columns pass through, plus `cell`. */
  def probeCells(queries: DataFrame, queryVec: String,
      centroids: Array[Array[Float]], nprobe: Int): DataFrame = {
    val bc = queries.sparkSession.sparkContext.broadcast(centroids)
    val probeUdf = udf { (v: Seq[Float]) =>
      val va = v.toArray
      bc.value.indices
        .map(c => c -> graft.functions.HashKernels.cosine(va, bc.value(c)))
        .sortBy(-_._2).take(nprobe).map(_._1)
    }
    queries.withColumn("cell", explode(probeUdf(col(queryVec))))
  }

  /** IVF top-k: probe only each query's `nprobe` nearest centroid cells.
    * At scale the corpus is pre-partitioned by cell (one-time shuffle,
    * amortised over all queries); each query touches nprobe/numCells of
    * data, and recall is controlled by nprobe. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      numCells: Int = 64, nprobe: Int = 8, iterations: Int = 2,
      corpusId: String = "vec_id", corpusVec: String = "embedding",
      queryId: String = "query_id", queryVec: String = "query_vec"): DataFrame = {
    val centroids = trainCentroids(corpus, corpusVec, numCells,
      iterations, corpusId)
    val celled = cellAssignment(corpus, corpusVec, centroids)
    val probes = probeCells(queries, queryVec, centroids, nprobe)
    val scored = celled.join(broadcast(probes), Seq("cell"))
      .select(col(queryId), col(corpusId),
        cosine_sim(col(corpusVec), col(queryVec)).as("cosine"))
    val w = Window.partitionBy(col(queryId))
      .orderBy(col("cosine").desc, col(corpusId).asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Batch×batch IVF top-k: both the corpus AND the query batch are large,
    * so NEITHER side broadcasts — the missing case of [[ivfTopK]] (whose
    * contract is a small probe batch). Queries explode to (cell, probe)
    * rows and meet the cell-assigned corpus in a plain shuffled equi-join
    * on (cell, block): per-cell sub-blocking (corpus rows hash to
    * ⌈cell/maxBlockRows⌉ blocks, probes replicate across them) bounds
    * every scoring task at maxBlockRows corpus rows regardless of cell
    * skew — the two-sided analogue of the dedup family's
    * `boundedSelfPairs` grid. Per-query results then prune through the
    * custom [[graft.plans.TopKPerGroup]] operator (map-side partial top-k,
    * then one shuffle of ≤ k rows per query) instead of a raw window over
    * the full scored set. Only the ≤ numCells-row cell-count table is
    * broadcast. Output and semantics are identical to [[ivfTopK]] for the
    * same parameters (same centroid training, same probes, same
    * tie-break). */
  def batchIvfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      numCells: Int = 64, nprobe: Int = 8, iterations: Int = 2,
      corpusId: String = "vec_id", corpusVec: String = "embedding",
      queryId: String = "query_id", queryVec: String = "query_vec",
      maxBlockRows: Int = 100000): DataFrame = {
    val spark = corpus.sparkSession
    val centroids = trainCentroids(corpus, corpusVec, numCells,
      iterations, corpusId)
    // celled feeds two plan branches (the cell-count aggregate and the
    // scoring join); persist so the per-row centroid-assignment cosines —
    // the most expensive scan in the operator — run once, not twice
    val celled = cellAssignment(corpus, corpusVec, centroids)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cellCounts = celled.groupBy("cell").agg(count(lit(1)).as("_cn"))
    val rCol = ceil(col("_cn").cast("double") / maxBlockRows).cast("int")
    val corpusBlocked = celled.join(broadcast(cellCounts), Seq("cell"))
      .withColumn("_blk",
        pmod(xxhash64(col(corpusId)), rCol.cast("long")).cast("int"))
      .drop("_cn")
    val probes = probeCells(queries, queryVec, centroids, nprobe)
    val probesBlocked = probes.join(broadcast(cellCounts), Seq("cell"))
      .withColumn("_blk", explode(sequence(lit(0), rCol - 1)))
      .drop("_cn")
    val scored = corpusBlocked.join(probesBlocked, Seq("cell", "_blk"))
      .select(col(queryId), col(corpusId),
        cosine_sim(col(corpusVec), col(queryVec)).as("cosine"))
    val pruned = graft.plans.TopKOps.topKPerGroup(scored, Seq(col(queryId)),
      Seq(col("cosine").desc, col(corpusId).asc), k)
    val w = Window.partitionBy(col(queryId))
      .orderBy(col("cosine").desc, col(corpusId).asc)
    pruned.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** The IVF contract's ground truth: the EXACT ranked top-k restricted
    * to each query's probed cells (same deterministic centroid training
    * and probe derivation as [[ivfTopK]]/[[batchIvfTopK]], so the probe
    * set is identical by construction). The SELECTION path is chosen to
    * be independent of the operator under audit: `viaWindow = true`
    * ranks with a raw window (audits [[batchIvfTopK]]'s
    * TopKPerGroup+sub-block pruning), `viaWindow = false` prunes through
    * [[graft.plans.TopKOps.topKPerGroup]] (audits [[ivfTopK]]'s window).
    * A scoring, pruning, blocking, or tie-break bug in the audited
    * operator therefore cannot also hide here. `queries` must be small
    * (broadcast) — audits run on a query slice. */
  def ivfWithinProbesReference(corpus: DataFrame, queries: DataFrame,
      k: Int, numCells: Int = 64, nprobe: Int = 8, iterations: Int = 2,
      corpusId: String = "vec_id", corpusVec: String = "embedding",
      queryId: String = "query_id", queryVec: String = "query_vec",
      viaWindow: Boolean = true): DataFrame = {
    val centroids = trainCentroids(corpus, corpusVec, numCells,
      iterations, corpusId)
    val celled = cellAssignment(corpus, corpusVec, centroids)
    val probes = probeCells(queries, queryVec, centroids, nprobe)
    val scored = celled.join(broadcast(probes), Seq("cell"))
      .select(col(queryId), col(corpusId),
        cosine_sim(col(corpusVec), col(queryVec)).as("cosine"))
    val w = Window.partitionBy(col(queryId))
      .orderBy(col("cosine").desc, col(corpusId).asc)
    if (viaWindow)
      scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
    else
      graft.plans.TopKOps.topKPerGroup(scored, Seq(col(queryId)),
          Seq(col("cosine").desc, col(corpusId).asc), k)
        .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Row-level equality audit of two ranked result sets: per query,
    * (queryIdCol, n_results, exact_match) where exact_match holds iff
    * both sides return the SAME (item, rank) rows. The ANN oracle gate:
    * `a` = the operator under audit, `b` = an independently-derived
    * reference ranking. */
  def rankedResultsMatch(a: DataFrame, b: DataFrame, queryIdCol: String,
      itemIdCol: String): DataFrame = {
    val matched = a.select(col(queryIdCol), col(itemIdCol), col("rank"))
      .join(b.select(col(queryIdCol), col(itemIdCol), col("rank")),
        Seq(queryIdCol, itemIdCol, "rank"))
      .groupBy(queryIdCol).agg(count(lit(1)).as("_n_match"))
    a.groupBy(queryIdCol).agg(count(lit(1)).as("n_results"))
      .join(b.groupBy(queryIdCol).agg(count(lit(1)).as("_n_b")),
        Seq(queryIdCol))
      .join(matched, Seq(queryIdCol), "left")
      .select(col(queryIdCol), col("n_results"),
        (col("n_results") === col("_n_b") &&
          coalesce(col("_n_match"), lit(0L)) === col("n_results"))
          .as("exact_match"))
  }

  /** Per-query recall audit of an ANN result against an exact ranking of
    * the same queries — the round-10 move that turns the ANN family from
    * rows-only into oracle-gated: the approximate result's ids are
    * centroid-dependent (not SQL-replayable), but "the ANN list covers
    * ≥ minRecall of the EXACT top-k" is a boolean any engine replays as
    * TRUE. Output one row per query: (queryIdCol, n_results,
    * recall_ok) — n_results is the ANN row count (deterministic), and a
    * broken index/centroid/scoring path flips recall_ok and fails the
    * hash gate. Both inputs need (queryIdCol, itemIdCol) columns. */
  def annRecallAudit(ann: DataFrame, exact: DataFrame, queryIdCol: String,
      itemIdCol: String, minRecall: Double): DataFrame = {
    val hits = ann.select(col(queryIdCol), col(itemIdCol))
      .join(exact.select(col(queryIdCol), col(itemIdCol)),
        Seq(queryIdCol, itemIdCol))
      .groupBy(queryIdCol).agg(count(lit(1)).as("_hit"))
    val exn = exact.groupBy(queryIdCol).agg(count(lit(1)).as("_exn"))
    ann.groupBy(queryIdCol).agg(count(lit(1)).as("n_results"))
      .join(exn, Seq(queryIdCol))
      .join(hits, Seq(queryIdCol), "left")
      .select(col(queryIdCol), col("n_results"),
        (coalesce(col("_hit"), lit(0L)).cast("double") / col("_exn")
          >= minRecall).as("recall_ok"))
  }

  /** Per-label elementwise mean of an embedding column, in long format
    * (label, pos, mean) — class centroids for classifier probes, cluster
    * summaries, or SemDeDup cell seeds. posexplode → ONE partial-agg
    * shuffle on (label, pos): the map-side combine reduces every partition
    * to ≤ |labels|·dim rows before the exchange, so the shuffle is
    * dimension-sized, not corpus-sized. */
  def labelCentroids(emb: DataFrame, labelCol: String,
      vecCol: String): DataFrame =
    emb.select(col(labelCol), posexplode(col(vecCol)).as(Seq("pos", "x")))
      .groupBy(labelCol, "pos")
      .agg(count(lit(1)).as("n"), round(avg("x"), 4).as("mean"))

  // ── Product quantisation (PQ) ──────────────────────────────────────────
  // Each d-dim vector splits into m contiguous sub-vectors; a per-subspace
  // k-means codebook (k codes) replaces every sub-vector with its nearest
  // code id. A 64-dim float32 vector at m=8 becomes 8 small ints — 32×
  // smaller, so a 100 TB embedding table's codes fit in the page cache of a
  // modest cluster. Queries score candidates via asymmetric distance
  // computation (ADC): per-(subspace, code) partial dot products are
  // precomputed once per query (m·k multiplications), then every corpus row
  // costs m table lookups instead of d multiplications.

  /** Train per-subspace codebooks on a bounded deterministic sample (same
    * O(scan) id-hash sampling as [[trainCentroids]]). Sub-quantisers use
    * L2, the standard PQ formulation. Returns m × k × (d/m) floats. */
  def trainPqCodebooks(corpus: DataFrame, vecCol: String, m: Int, k: Int,
      iterations: Int = 4, idCol: String = "vec_id",
      maxTrainingRows: Int = 20000): Array[Array[Array[Float]]] = {
    val n = corpus.count()
    val denom = 1000000L
    val keep = if (n <= maxTrainingRows) denom
      else math.min(denom, (denom * 3L * maxTrainingRows / (2L * n)).max(1L))
    val sample: Array[Array[Float]] = corpus
      .select(col(vecCol), pmod(xxhash64(col(idCol)), lit(denom)).as("_h"))
      .filter(col("_h") < keep)
      .collect()
      .sortBy(_.getLong(1))
      .take(maxTrainingRows)
      .map(_.getSeq[Float](0).toArray)
    require(sample.nonEmpty, "empty corpus")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val sub = dim / m
    Array.tabulate(m) { mi =>
      val vecs = sample.map(v => java.util.Arrays.copyOfRange(v, mi * sub, (mi + 1) * sub))
      var codes = vecs.distinct.take(k).map(_.clone())
      for (_ <- 1 to iterations) {
        val sums = Array.fill(codes.length)(new Array[Double](sub))
        val counts = new Array[Int](codes.length)
        vecs.foreach { v =>
          val best = nearestL2(v, codes)
          counts(best) += 1
          var d = 0
          while (d < sub) { sums(best)(d) += v(d); d += 1 }
        }
        codes = codes.zipWithIndex.map { case (old, c) =>
          if (counts(c) == 0) old
          else Array.tabulate(sub)(d => (sums(c)(d) / counts(c)).toFloat)
        }
      }
      codes
    }
  }

  private def nearestL2(v: Array[Float], codes: Array[Array[Float]]): Int = {
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < codes.length) {
      var d2 = 0.0; var d = 0
      val cv = codes(c)
      while (d < v.length) {
        val diff = v(d) - cv(d); d2 += diff * diff; d += 1
      }
      if (d2 < bestD) { bestD = d2; best = c }
      c += 1
    }
    best
  }

  /** Encode each vector as its m nearest sub-codebook ids (map-only). */
  def pqEncode(emb: DataFrame, vecCol: String,
      codebooks: Array[Array[Array[Float]]]): DataFrame = {
    val bc = emb.sparkSession.sparkContext.broadcast(codebooks)
    val m = codebooks.length
    val sub = codebooks.head.head.length
    val encodeUdf = udf { (v: Seq[Float]) =>
      val va = v.toArray
      Array.tabulate(m) { mi =>
        nearestL2(java.util.Arrays.copyOfRange(va, mi * sub, (mi + 1) * sub),
          bc.value(mi))
      }
    }
    emb.withColumn("pq_codes", encodeUdf(col(vecCol)))
  }

  /** PQ-approximate cosine top-k via ADC. Per query: one m·k partial-dot
    * table, broadcast with the query; per corpus row: m lookups. The
    * reconstruction norm √Σ|c_code|² is query-independent and shared via
    * one broadcast.
    *
    * ADC alone cannot rank candidates closer together than the
    * quantisation error, so by default the top `k·overfetch` ADC
    * candidates are re-ranked by exact cosine (the FAISS IVFPQ+refine
    * shape). The rerank join touches only candidates — k·overfetch rows
    * per query, never the corpus — so the exact pass stays tiny at any
    * scale. Output: (query_id, id, score, rank); `score` is exact cosine
    * when reranked, the ADC approximation otherwise. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      m: Int = 8, codesPerSub: Int = 32, iterations: Int = 4,
      overfetch: Int = 8, rerank: Boolean = true,
      corpusId: String = "vec_id", corpusVec: String = "embedding",
      queryId: String = "query_id", queryVec: String = "query_vec"): DataFrame = {
    val books = trainPqCodebooks(corpus, corpusVec, m, codesPerSub,
      iterations, corpusId)
    val encoded = pqEncode(corpus, corpusVec, books)
      .select(col(corpusId), col("pq_codes"))
    val sub = books.head.head.length
    val kk = books.head.length
    // query-independent squared norms of every code, flattened m×k
    val codeNorm2 = books.flatMap(_.map(c => c.map(x => x.toDouble * x).sum))
    val spark = corpus.sparkSession
    val bcBooks = spark.sparkContext.broadcast(books)
    val bcNorm2 = spark.sparkContext.broadcast(codeNorm2)
    val tableUdf = udf { (q: Seq[Float]) =>
      val qa = q.toArray
      val table = new Array[Double](m * kk)
      var mi = 0
      while (mi < m) {
        var c = 0
        while (c < kk) {
          var dot = 0.0; var d = 0
          val cv = bcBooks.value(mi)(c)
          while (d < sub) { dot += qa(mi * sub + d) * cv(d); d += 1 }
          table(mi * kk + c) = dot
          c += 1
        }
        mi += 1
      }
      var qn = 0.0; var d = 0
      while (d < qa.length) { qn += qa(d) * qa(d); d += 1 }
      table :+ math.sqrt(qn)
    }
    val scoreUdf = udf { (codes: Seq[Int], table: Seq[Double]) =>
      var dot = 0.0; var n2 = 0.0
      var mi = 0
      while (mi < m) {
        val c = codes(mi)
        dot += table(mi * kk + c)
        n2 += bcNorm2.value(mi * kk + c)
        mi += 1
      }
      val qn = table(m * kk)
      val denom = qn * math.sqrt(n2)
      if (denom == 0.0) 0.0 else dot / denom
    }
    val qTables = queries.select(col(queryId),
      tableUdf(col(queryVec)).as("adc"))
    val scored = encoded.crossJoin(broadcast(qTables))
      .select(col(queryId), col(corpusId),
        scoreUdf(col("pq_codes"), col("adc")).as("pq_cosine"))
    val w = Window.partitionBy(col(queryId))
      .orderBy(col("pq_cosine").desc, col(corpusId).asc)
    if (!rerank) {
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .withColumnRenamed("pq_cosine", "score")
    } else {
      val candidates = scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k * overfetch)
        .select(col(queryId), col(corpusId))
      val exact = candidates
        .join(corpus.select(col(corpusId), col(corpusVec)), corpusId)
        .join(broadcast(queries), queryId)
        .select(col(queryId), col(corpusId),
          cosine_sim(col(corpusVec), col(queryVec)).as("score"))
      val w2 = Window.partitionBy(col(queryId))
        .orderBy(col("score").desc, col(corpusId).asc)
      exact.withColumn("rank", row_number().over(w2))
        .filter(col("rank") <= k)
    }
  }

  /** Hard-negative mining for contrastive training: for each query, the
    * top-k most-COSINE-similar corpus vectors whose label DIFFERS from the
    * query's — the negatives that actually move a metric-learning loss.
    * Same broadcast-queries map-only scan as [[bruteForceTopK]] with the
    * label guard applied before ranking; the per-query heap is the only
    * state, so the scan cost is unchanged at any corpus size.
    *
    * `queries` columns: (query_id, query_vec, query_label); corpus:
    * (corpusId, corpusVec, labelCol). Output: (query_id, vec_id, cosine,
    * rank). */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int,
      corpusId: String = "vec_id", corpusVec: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    val scored = corpus.crossJoin(broadcast(queries))
      .filter(col(labelCol) =!= col("query_label"))
      .select(col("query_id"), col(corpusId),
        cosine_sim(col(corpusVec), col("query_vec")).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col(corpusId).asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Centroid-based silhouette score per label — the O(n·L) embedding
    * quality metric (the classic O(n²) silhouette is unrunnable at corpus
    * scale): a(x) = distance to the OWN label centroid, b(x) = min
    * distance to any OTHER centroid, s(x) = (b−a)/max(a,b), averaged per
    * label. Centroids come from one positional-explode aggregate (an
    * (L×dim)-sized result broadcast to the scoring scan); distances run
    * map-only in index order, so every distance is bit-reproducible.
    * Output: (label, n, silhouette). */
  def centroidSilhouette(emb: DataFrame, idCol: String, vecCol: String,
      labelCol: String): DataFrame = {
    val cents = emb
      .select(col(labelCol).as("_clbl"), posexplode(col(vecCol)).as(Seq("i", "x")))
      .groupBy("_clbl", "i").agg(avg(col("x").cast("double")).as("c"))
      .groupBy("_clbl")
      .agg(transform(array_sort(collect_list(struct(col("i"), col("c")))),
        s => s.getField("c")).as("cvec"))
    val pts = emb.select(col(idCol).as("id"), col(labelCol).as("lbl"),
      col(vecCol).cast("array<double>").as("v"))
    val d = pts.crossJoin(broadcast(cents))
      .select(col("id"), col("lbl"), col("_clbl"),
        l2Distance(col("v"), col("cvec")).as("d"))
    val own = d.filter(col("lbl") === col("_clbl"))
      .select(col("id"), col("lbl"), col("d").as("a"))
    val other = d.filter(col("lbl") =!= col("_clbl"))
      .groupBy("id").agg(min("d").as("b"))
    own.join(other, Seq("id"))
      .select(col("lbl"),
        ((col("b") - col("a")) / greatest(col("a"), col("b"))).as("s"))
      .groupBy(col("lbl").as("label"))
      .agg(count(lit(1)).as("n"), round(avg("s"), 4).as("silhouette"))
  }

  /** Reciprocal best match between two embedding corpora: the pairs
    * (a, b) where b is a's cosine-nearest neighbour in B AND a is b's in
    * A — the high-precision alignment filter used for bitext mining and
    * cross-corpus entity linking (a one-directional top-1 keeps every
    * hub; mutuality kills them). Ties on cosine break to the smaller id
    * so the argmax is total.
    *
    * Built as two [[bruteForceTopK]] k=1 passes (each broadcasts the
    * smaller role), joined on agreement. Contract: at least one side
    * broadcastable per pass — for two huge corpora, produce the two
    * top-1 lists with [[batchIvfTopK]] instead and reuse the same
    * mutual join. Output: (id_a, id_b, cosine). */
  def mutualBestMatch(a: DataFrame, b: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val qa = a.select(col(idCol).as("query_id"), col(vecCol).as("query_vec"))
    val qb = b.select(col(idCol).as("query_id"), col(vecCol).as("query_vec"))
    val bestInB = bruteForceTopK(b, qa, 1, idCol, vecCol)
      .select(col("query_id").as("id_a"), col(idCol).as("id_b"),
        col("cosine"))
    val bestInA = bruteForceTopK(a, qb, 1, idCol, vecCol)
      .select(col(idCol).as("id_a"), col("query_id").as("id_b"))
    bestInB.join(bestInA, Seq("id_a", "id_b"))
  }

  /** Orthogonal Procrustes alignment between two embedding spaces: the
    * rotation R = U·Vᵀ (from SVD(XᵀY) = U·Σ·Vᵀ) minimising ‖X·R − Y‖²
    * over orthogonal matrices — how embeddings from an old model version
    * map into a new model's space so ANN indexes, centroids and
    * thresholds survive a model upgrade (also the classic bilingual
    * word-vector alignment).
    *
    * Distribution shape: the d×d cross-covariance XᵀY accumulates as ONE
    * positional-explode aggregate over the paired corpus (d² cells —
    * model-sized, like the k-means centroid table); the SVD runs on the
    * driver via two Jacobi eigendecompositions (d ≤ 256 enforced), and
    * the rotation applies map-only. Pairs join on `idCol`.
    *
    * Returns (R, alignment table): `alignProcrustes` gives the rotation
    * matrix; callers apply it with [[applyRotation]]. */
  def procrustesRotation(a: DataFrame, b: DataFrame, idCol: String,
      vecCol: String): Array[Array[Double]] = {
    val xa = a.select(col(idCol).as("_id"),
      col(vecCol).cast("array<double>").as("_x"))
    val xb = b.select(col(idCol).as("_id"),
      col(vecCol).cast("array<double>").as("_y"))
    val paired = xa.join(xb, Seq("_id"))
    // d×d cross-covariance cells: posexplode both sides once
    val cells = paired
      .select(posexplode(col("_x")).as(Seq("i", "xi")), col("_y"))
      .select(col("i"), col("xi"), posexplode(col("_y")).as(Seq("j", "yj")))
      .groupBy("i", "j").agg(sum(col("xi") * col("yj")).as("m"))
      .collect()
    val d = cells.map(_.getInt(0)).max + 1
    require(d <= 256, s"procrustes: dim $d > 256 (driver SVD bound)")
    val m = Array.ofDim[Double](d, d)
    cells.foreach(r => m(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
    // SVD via eigendecomposition: MᵀM = V Σ² Vᵀ, U = M V Σ⁻¹; R = U Vᵀ
    val mtm = Array.tabulate(d, d)((i, j) =>
      (0 until d).map(k => m(k)(i) * m(k)(j)).sum)
    val (evals, v) = jacobiEigen(mtm)
    val r = Array.ofDim[Double](d, d)
    // U column k = M v_k / σ_k; R = Σ_k u_k v_kᵀ
    for (k <- 0 until d) {
      val sigma = math.sqrt(math.max(evals(k), 0.0))
      if (sigma > 1e-12) {
        val u = Array.tabulate(d)(i =>
          (0 until d).map(c => m(i)(c) * v(c)(k)).sum / sigma)
        for (i <- 0 until d; j <- 0 until d) r(i)(j) += u(i) * v(j)(k)
      }
    }
    r
  }

  /** Cyclic Jacobi eigendecomposition of a small symmetric matrix:
    * returns (eigenvalues, eigenvector columns). Deterministic sweep
    * order; converges quadratically — 30 sweeps is far past double
    * precision for d ≤ 256. */
  private[operators] def jacobiEigen(sym: Array[Array[Double]])
      : (Array[Double], Array[Array[Double]]) = {
    val d = sym.length
    val a = sym.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < 30 && off > 1e-24) {
      off = 0.0
      for (p <- 0 until d - 1; q <- p + 1 until d) {
        off += a(p)(q) * a(p)(q)
        if (math.abs(a(p)(q)) > 1e-300) {
          val theta = (a(q)(q) - a(p)(p)) / (2 * a(p)(q))
          val t = math.signum(theta) /
            (math.abs(theta) + math.sqrt(theta * theta + 1)) match {
              case 0.0 => 1.0 // theta == 0 -> t = 1
              case x => x
            }
          val c = 1 / math.sqrt(t * t + 1); val s = t * c
          for (i <- 0 until d) {
            val aip = a(i)(p); val aiq = a(i)(q)
            a(i)(p) = c * aip - s * aiq
            a(i)(q) = s * aip + c * aiq
          }
          for (j <- 0 until d) {
            val apj = a(p)(j); val aqj = a(q)(j)
            a(p)(j) = c * apj - s * aqj
            a(q)(j) = s * apj + c * aqj
          }
          for (i <- 0 until d) {
            val vip = v(i)(p); val viq = v(i)(q)
            v(i)(p) = c * vip - s * viq
            v(i)(q) = s * vip + c * viq
          }
        }
      }
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }

  /** Apply a (possibly rectangular, dIn×dOut) linear map as a literal,
    * map-only: out_j = Σ_i in_i · R(i)(j). Square R = rotation;
    * rectangular R = projection (PCA scores). */
  def applyRotation(df: DataFrame, vecCol: String,
      r: Array[Array[Double]], outCol: String): DataFrame = {
    val dIn = r.length
    val dOut = r(0).length
    val rot = array((0 until dOut).map { j =>
      array((0 until dIn).map(i => lit(r(i)(j))): _*)
    }: _*) // rot(j) = column j of R
    df.withColumn(outCol,
      transform(rot, colJ =>
        aggregate(
          zip_with(col(vecCol).cast("array<double>"), colJ, (x, w) => x * w),
          lit(0.0), (acc, x) => acc + x)))
  }

  /** Distributed PCA of an embedding column: the d×d covariance
    * accumulates as ONE posexplode-pair aggregate (model-sized, the
    * k-means/Procrustes discipline — the corpus never moves); the
    * eigendecomposition runs driver-side via cyclic Jacobi (d ≤ 256
    * enforced); components come back sorted by eigenvalue desc with a
    * deterministic sign convention (largest-|loading| coordinate made
    * positive, ties to the lower index). Returns (means, eigenvalues,
    * components) where components(i)(k) = loading of input dim i on
    * component k — feed it straight to [[applyRotation]] for scores. */
  def pcaFit(emb: DataFrame, vecCol: String, k: Int)
      : (Array[Double], Array[Double], Array[Array[Double]]) = {
    val x = emb.select(col(vecCol).cast("array<double>").as("_x"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cells = x
      .select(posexplode(col("_x")).as(Seq("i", "xi")), col("_x"))
      .select(col("i"), col("xi"), posexplode(col("_x")).as(Seq("j", "xj")))
      .filter(col("j") >= col("i"))
      .groupBy("i", "j").agg(sum(col("xi") * col("xj")).as("sxy"),
        count(lit(1)).as("_c"))
      .collect()
    val sums = x.select(posexplode(col("_x")).as(Seq("i", "xi")))
      .groupBy("i").agg(sum("xi").as("s"), count(lit(1)).as("n"))
      .collect()
    x.unpersist()
    val d = sums.map(_.getInt(0)).max + 1
    require(k >= 1 && k <= d && d <= 256,
      s"pcaFit: k=$k, dim=$d outside bounds (d ≤ 256 driver eigen)")
    val n = sums(0).getLong(2).toDouble
    val mean = new Array[Double](d)
    sums.foreach(r => mean(r.getInt(0)) = r.getDouble(1) / n)
    val cov = Array.ofDim[Double](d, d)
    cells.foreach { r =>
      val (i, j, s) = (r.getInt(0), r.getInt(1), r.getDouble(2))
      val c = (s - n * mean(i) * mean(j)) / (n - 1)
      cov(i)(j) = c; cov(j)(i) = c
    }
    val (evals, v) = jacobiEigen(cov)
    val order = evals.indices.sortBy(i => -evals(i)).take(k)
    val comps = Array.ofDim[Double](d, k)
    val outEvals = new Array[Double](k)
    for ((src, dst) <- order.zipWithIndex) {
      outEvals(dst) = evals(src)
      // sign convention: the largest-|loading| coordinate positive
      val colV = Array.tabulate(d)(i => v(i)(src))
      val pivot = colV.indices.maxBy(i =>
        (math.abs(colV(i)), -i)) // ties -> lower index
      val sgn = if (colV(pivot) < 0) -1.0 else 1.0
      for (i <- 0 until d) comps(i)(dst) = sgn * colV(i)
    }
    (mean, outEvals, comps)
  }

  /** Average-linkage hierarchical agglomerative clustering over a
    * MODEL-SIZED point set (k-means centroids, label centroids — never
    * the corpus; `points.length ≤ 4096` enforced): the dendrogram a
    * corpus taxonomy or dedup-threshold sweep reads. Driver-side O(k³)
    * worst case — microseconds at the intended scale. Deterministic:
    * ties on merge distance break to the smaller (minId_a, minId_b).
    *
    * Returns merge steps: (step, cluster_a, cluster_b, distance,
    * merged_size) with cluster ids = the min original index in each
    * cluster, distances = average pairwise Euclidean between members.
    */
  def hacAverageLinkage(points: Array[Array[Double]])
      : Seq[(Int, Int, Int, Double, Int)] = {
    val k = points.length
    require(k >= 2 && k <= 4096, s"hac: $k points outside [2,4096]")
    def dist(a: Array[Double], b: Array[Double]): Double =
      math.sqrt(a.indices.map(i => (a(i) - b(i)) * (a(i) - b(i))).sum)
    // cluster -> member indices; average linkage via mean pairwise dist
    var clusters = points.indices.map(i => Vector(i)).toVector
    val steps = Vector.newBuilder[(Int, Int, Int, Double, Int)]
    var step = 0
    while (clusters.length > 1) {
      var best = (Double.MaxValue, Int.MaxValue, Int.MaxValue, -1, -1)
      for (i <- clusters.indices; j <- (i + 1) until clusters.length) {
        val (ci, cj) = (clusters(i), clusters(j))
        val d = (for (a <- ci; b <- cj) yield dist(points(a), points(b)))
          .sum / (ci.length * cj.length)
        val key = (d, math.min(ci.min, cj.min), math.max(ci.min, cj.min))
        if (key._1 < best._1 || (key._1 == best._1 &&
          (key._2 < best._2 || (key._2 == best._2 && key._3 < best._3))))
          best = (key._1, key._2, key._3, i, j)
      }
      val (d, _, _, i, j) = best
      val merged = clusters(i) ++ clusters(j)
      step += 1
      val (repA, repB) = (clusters(i).min, clusters(j).min)
      steps += ((step, math.min(repA, repB), math.max(repA, repB), d,
        merged.length))
      clusters = clusters.zipWithIndex
        .filter { case (_, idx) => idx != i && idx != j }.map(_._1) :+ merged
    }
    steps.result()
  }

  /** ZCA whitening matrix W = V·diag(1/√(λ+ε))·Vᵀ from [[pcaFit]]'s
    * full eigendecomposition — the symmetric whitener (closest to the
    * identity, so whitened vectors stay recognisable) that makes the
    * feature covariance I: the standard preprocessing before cosine
    * thresholds are compared across corpora. Returns (means, W);
    * apply with the means subtracted then [[applyRotation]] — all
    * map-only. */
  def zcaWhitener(emb: DataFrame, vecCol: String,
      eps: Double = 1e-6): (Array[Double], Array[Array[Double]]) = {
    val probe = emb.select(size(col(vecCol)).as("d")).limit(1).collect()
    require(probe.nonEmpty,
      "zcaWhitener needs at least one embedding row to fit on")
    val d = probe(0).getInt(0)
    val (means, evals, comps) = pcaFit(emb, vecCol, d)
    val w = Array.ofDim[Double](d, d)
    for (k <- 0 until d) {
      val s = 1.0 / math.sqrt(math.max(evals(k), 0.0) + eps)
      for (i <- 0 until d; j <- 0 until d)
        w(i)(j) += comps(i)(k) * s * comps(j)(k)
    }
    (means, w)
  }

  /** Per-dimension statistics of an embedding column — the whitening /
    * normalization table (mean for centering, std for scaling, min/max
    * for clip audits) every embedding pipeline fits before indexing.
    * One positional explode + one dim-keyed aggregate with map-side
    * partials; output is dim-sized (the model, not the corpus). Output:
    * (dim, n, mean, std, min, max), floats computed in double, 6 dp;
    * std is the sample standard deviation. */
  def dimensionStats(emb: DataFrame, vecCol: String): DataFrame =
    emb.select(posexplode(col(vecCol).cast("array<double>"))
        .as(Seq("dim", "x")))
      .groupBy(col("dim").cast("long").as("dim"))
      .agg(count(lit(1)).as("n"),
        round(avg("x"), 6).as("mean"),
        round(stddev("x"), 6).as("std"),
        round(min("x"), 6).as("min"),
        round(max("x"), 6).as("max"))
}
