package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Probabilistic record linkage — the Fellegi–Sunter model (JASA 1969),
  * the statistical backbone of real-world entity resolution (master data
  * dedup, census linkage). Complements the distance-based ER pipeline
  * (q108: blocking → Jaro-Winkler → connected components) with the
  * likelihood-ratio decision theory: each comparison field carries an
  * agreement weight log2(m/u) and a disagreement weight
  * log2((1−m)/(1−u)), where m = P(agree | same entity) and
  * u = P(agree | different entities); a pair's total weight classifies it
  * as match / possible / nonmatch against two thresholds.
  *
  * Shape at 100 TB: candidate pairs come from an equi-join on the blocking
  * key (never a cross join); the per-field agreement tests and the weight
  * sum are pure column algebra inside the join's whole-stage codegen, so
  * the cost is the blocked pair count — the blocking key bounds the
  * quadratic term exactly as in q108 and J8.
  */
object RecordLinkage {

  /** One comparison field: column name plus the Fellegi–Sunter m / u
    * probabilities (0 < u < m < 1 for a discriminating field). */
  final case class FieldParams(name: String, m: Double, u: Double) {
    require(m > 0 && m < 1 && u > 0 && u < 1, s"m,u in (0,1): $name")
    val agreeWeight: Double = math.log(m / u) / math.log(2.0)
    val disagreeWeight: Double =
      math.log((1.0 - m) / (1.0 - u)) / math.log(2.0)
  }

  /** Self-linkage of `df` within `blockCol` blocks. Agreement on a field
    * is exact equality of the trimmed lowercase string form; a null on
    * either side disagrees (conservative — the standard simple treatment).
    * Returns one row per candidate pair (idA < idB) with the total weight
    * and the decision at (`tUpper`, `tLower`]. */
  def fellegiSunter(df: DataFrame, idCol: String, blockCol: String,
      fields: Seq[FieldParams], tUpper: Double, tLower: Double): DataFrame = {
    require(fields.nonEmpty && tUpper >= tLower, "fields + ordered thresholds")
    def side(tag: String) = df.select(
      col(idCol).as(s"id_$tag") +: col(blockCol).as(s"blk_$tag") +:
        fields.map(f => lower(trim(col(f.name).cast("string")))
          .as(s"${f.name}_$tag")): _*)
    val pairs = side("a").join(side("b"),
      col("blk_a") === col("blk_b") && col("id_a") < col("id_b"))
    val weight = fields.map { f =>
      val a = col(s"${f.name}_a"); val b = col(s"${f.name}_b")
      when(a.isNotNull && b.isNotNull && a === b, lit(f.agreeWeight))
        .otherwise(lit(f.disagreeWeight))
    }.reduce(_ + _)
    pairs.select(col("id_a"), col("id_b"), col("blk_a").as("block"),
        round(weight, 4).as("weight"))
      .withColumn("decision",
        when(col("weight") > tUpper, lit("match"))
          .when(col("weight") > tLower, lit("possible"))
          .otherwise(lit("nonmatch")))
  }

  /** Exact agreement-pattern pair counts via COUNT ALGEBRA — the
    * Fellegi–Sunter aggregate without materializing a single pair, the
    * scale-out replacement for the quadratic blocked pair scan when only
    * pattern/decision statistics are needed (m/u estimation, threshold
    * tuning, decision counts — the classic uses of the model).
    *
    * Identity: within a block, the number of pairs agreeing on EVERY
    * field of a subset S is A_S = Σ_g C(n_g, 2) over the value groups g
    * of (block, fields∈S) with all S-values non-null (a null never
    * agrees, matching [[fellegiSunter]]); the number agreeing on EXACTLY
    * pattern P is then the Möbius sum Σ_{S ⊇ P} (−1)^{|S∖P|} A_S. Each
    * A_S is one hash aggregate over the input — 2^k aggregates total
    * (k = |fields| ≤ 8 by contract), all submitted as ONE union job, so
    * the cost is linear in rows × 2^k instead of Σ block². The Möbius
    * inversion runs on the driver over 2^k scalars.
    *
    * Output: one row per agreement pattern — (`pattern` as a k-char
    * '1'/'0' string in field order, `weight` = the same left-fold of
    * agree/disagree doubles the pair scan computes, rounded to 4,
    * `n_pairs`). Σ n_pairs = Σ_blocks C(n_block, 2) exactly.
    */
  def fellegiSunterPatternCounts(df: DataFrame, blockCol: String,
      fields: Seq[FieldParams]): DataFrame = {
    val k = fields.size
    val exact = patternCountsRaw(df, blockCol, fields.map(_.name))
    val spark = df.sparkSession
    import spark.implicits._
    (0 until (1 << k)).map { p =>
      val pattern = (0 until k).map(i =>
        if (((p >> i) & 1) == 1) '1' else '0').mkString
      // the SAME left-fold the pair scan's reduce(_ + _) evaluates, so
      // the rounded doubles are bit-identical between the two paths
      val weight = fields.zipWithIndex.foldLeft(0.0) { case (acc, (f, i)) =>
        acc + (if (((p >> i) & 1) == 1) f.agreeWeight else f.disagreeWeight)
      }
      (pattern, BigDecimal(weight).setScale(4,
        BigDecimal.RoundingMode.HALF_UP).toDouble, exact(p))
    }.toDF("pattern", "weight", "n_pairs")
  }

  /** The count-algebra core shared by [[fellegiSunterPatternCounts]] and
    * [[fellegiSunterEM]]: exact per-pattern pair counts (index = field
    * bitmask, bit i set ⟺ the pair agrees on field i), derived from 2^k
    * subset aggregates + driver Möbius inversion. */
  private def patternCountsRaw(df: DataFrame, blockCol: String,
      fieldNames: Seq[String]): Array[Long] = {
    require(fieldNames.nonEmpty && fieldNames.size <= 8,
      "1..8 comparison fields (2^k aggregates)")
    val k = fieldNames.size
    val nSubsets = 1 << k
    val norm = df.select(col(blockCol).as("_blk") +: fieldNames.map(f =>
        lower(trim(col(f).cast("string"))).as(f)): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val aS: Array[Long] =
      try {
        val perSubset = (0 until nSubsets).map { s =>
          val cs = (0 until k).filter(i => ((s >> i) & 1) == 1)
            .map(fieldNames)
          val filtered =
            if (cs.isEmpty) norm
            else norm.filter(cs.map(c => col(c).isNotNull).reduce(_ && _))
          filtered.groupBy(("_blk" +: cs).map(col): _*)
            .agg(count(lit(1)).as("_n"))
            .agg(coalesce(sum(expr("_n * (_n - 1) DIV 2")), lit(0L))
              .as("_p"))
            .select(lit(s).as("_s"), col("_p").cast("long").as("_p"))
        }
        val rows = perSubset.reduce(_ unionByName _).collect()
        val arr = new Array[Long](nSubsets)
        rows.foreach(r => arr(r.getInt(0)) = r.getLong(1))
        arr
      } finally norm.unpersist(blocking = false)
    // Möbius over the subset lattice: exact(P) = Σ_{S⊇P} (−1)^{|S∖P|} A_S
    Array.tabulate(nSubsets) { p =>
      val rest = ~p & (nSubsets - 1)
      var sub = rest
      var tot = 0L
      var going = true
      while (going) {
        val sign = if (java.lang.Integer.bitCount(sub) % 2 == 0) 1L else -1L
        tot += sign * aS(p | sub)
        if (sub == 0) going = false else sub = (sub - 1) & rest
      }
      tot
    }
  }

  /** Result of unsupervised m/u estimation: match prevalence `p`,
    * per-field fitted [[FieldParams]] (same order as the input names),
    * the final observed-data log-likelihood, and iterations used. */
  final case class EmFit(p: Double, fields: Seq[FieldParams],
      logLikelihood: Double, iterations: Int, converged: Boolean)

  /** UNSUPERVISED Fellegi–Sunter parameter estimation — Winkler's EM
    * over agreement patterns (the method every production linker uses to
    * get m/u without labelled pairs), run on the COUNT-ALGEBRA
    * sufficient statistics: the 2^k exact pattern counts from
    * [[fellegiSunterPatternCounts]]'s core are all EM ever touches, so
    * the distributed work is the same 2^k linear aggregates and the EM
    * loop itself is driver math over 2^k scalars per iteration —
    * unsupervised model fitting at 100 TB without materializing one
    * pair.
    *
    * Model: pairs are a two-class mixture; within a class, field
    * agreements are independent (the standard FS conditional-
    * independence assumption), so P(pattern | class) factorizes over
    * m_f / u_f. E-step: class responsibility per PATTERN (not per
    * pair — patterns are sufficient); M-step: closed-form p, m_f, u_f
    * from responsibility-weighted counts. Parameters are clamped to
    * (ε, 1−ε) so a degenerate field cannot produce ±∞ weights.
    * Observed-data log-likelihood is non-decreasing (spec-pinned); the
    * loop stops when the per-iteration gain falls below
    * `tol · (|loglik| + 1)` — a RELATIVE ftol, because on data with no
    * real duplicate structure EM creeps along a likelihood ridge by
    * ~1e-8 nats/iteration indefinitely and an absolute cutoff never
    * fires — or at `maxIter`. */
  def fellegiSunterEM(df: DataFrame, blockCol: String,
      fieldNames: Seq[String], maxIter: Int = 200, tol: Double = 1e-10,
      initP: Double = 0.1, initM: Double = 0.9,
      initU: Double = 0.1): EmFit = {
    val k = fieldNames.size
    val counts = patternCountsRaw(df, blockCol, fieldNames)
      .map(_.toDouble)
    val total = counts.sum
    require(total > 0, "no pairs in any block — nothing to fit")
    val eps = 1e-6
    def clamp(x: Double) = math.min(1 - eps, math.max(eps, x))
    var p = clamp(initP)
    var m = Array.fill(k)(clamp(initM))
    var u = Array.fill(k)(clamp(initU))
    def patternProb(pat: Int, probs: Array[Double]): Double = {
      var acc = 1.0
      var i = 0
      while (i < k) {
        acc *= (if (((pat >> i) & 1) == 1) probs(i) else 1 - probs(i))
        i += 1
      }
      acc
    }
    def logLik(): Double = {
      var ll = 0.0
      var pat = 0
      while (pat < counts.length) {
        if (counts(pat) > 0)
          ll += counts(pat) * math.log(
            p * patternProb(pat, m) + (1 - p) * patternProb(pat, u))
        pat += 1
      }
      ll
    }
    var ll = logLik()
    var it = 0
    var converged = false
    while (it < maxIter && !converged) {
      it += 1
      // E-step: responsibility per pattern
      val g = Array.tabulate(counts.length) { pat =>
        val pm = p * patternProb(pat, m)
        val pu = (1 - p) * patternProb(pat, u)
        pm / (pm + pu)
      }
      // M-step: closed form from responsibility-weighted pattern counts
      val wMatch = (0 until counts.length)
        .map(pat => g(pat) * counts(pat)).sum
      val wNon = total - wMatch
      p = clamp(wMatch / total)
      m = Array.tabulate(k) { f =>
        clamp((0 until counts.length)
          .filter(pat => ((pat >> f) & 1) == 1)
          .map(pat => g(pat) * counts(pat)).sum / wMatch)
      }
      u = Array.tabulate(k) { f =>
        clamp((0 until counts.length)
          .filter(pat => ((pat >> f) & 1) == 1)
          .map(pat => (1 - g(pat)) * counts(pat)).sum / wNon)
      }
      val next = logLik()
      // EM guarantees monotone observed-data likelihood; clamping can
      // cost at most ~eps — tolerate that numeric edge, nothing more
      require(next >= ll - 1e-6,
        s"EM log-likelihood decreased: $ll -> $next")
      converged = next - ll < tol * (math.abs(next) + 1.0)
      ll = next
    }
    // EM label-switching: the mixture is symmetric under (match ↔
    // nonmatch) swap — canonicalize so the MATCH class is the one whose
    // mean agreement rate is higher, the FS convention (m > u on
    // discriminating fields)
    if (m.sum < u.sum) {
      val t = m; m = u; u = t
      p = 1 - p
    }
    EmFit(p, fieldNames.indices.map(i =>
      FieldParams(fieldNames(i), m(i), u(i))), ll, it, converged)
  }

  /** Decision-level Fellegi–Sunter statistics — (decision, n_pairs,
    * min_w, max_w) — with the [[blockedEditDistancePairs]]-style cost
    * chooser: small largest-blocks keep the exact pair scan (the pairs
    * are cheap and the scan shares the join's codegen), larger blocks
    * switch to [[fellegiSunterPatternCounts]], whose cost is linear in
    * rows instead of Σ block². Both paths are exact and produce
    * identical rows (spec-pinned), so the choice is invisible to
    * callers — the q148 contract at any scale.
    *
    * The cutoff is LOWER than the string-variant operators' (300 vs
    * 2000): their candidate rules pay per-row variant explosion, but
    * the pattern estimator costs a flat 2^k hash aggregates, so it wins
    * as soon as Σ block² ≫ 2^k · rows — measured: 600-row blocks
    * already run 2× faster through the estimator (3.3 s vs 1.6 s warm
    * at sf0.1) while 60-row blocks still favour the scan (0.9 vs
    * 1.7 s). */
  def fellegiSunterDecisionStats(df: DataFrame, idCol: String,
      blockCol: String, fields: Seq[FieldParams], tUpper: Double,
      tLower: Double, maxNaiveBlock: Long = 300L): DataFrame = {
    val decided = (w: Column) =>
      when(w > tUpper, lit("match"))
        .when(w > tLower, lit("possible"))
        .otherwise(lit("nonmatch"))
    val maxBlock = maxBlockPopulation(df, Seq(blockCol))
    if (maxBlock <= maxNaiveBlock)
      fellegiSunter(df, idCol, blockCol, fields, tUpper, tLower)
        .groupBy("decision")
        .agg(count(lit(1)).as("n_pairs"),
          min(col("weight")).as("min_w"), max(col("weight")).as("max_w"))
        .orderBy("decision")
    else
      fellegiSunterPatternCounts(df, blockCol, fields)
        .filter(col("n_pairs") > 0)
        .groupBy(decided(col("weight")).as("decision"))
        .agg(sum(col("n_pairs")).as("n_pairs"),
          min(col("weight")).as("min_w"), max(col("weight")).as("max_w"))
        .orderBy("decision")
  }

  /** All distinct ≤`tau`-deletion variants of `s`, as 64-bit hashes
    * (hash collisions only ADD candidates — the exact verify removes
    * them). Variant count is bounded by Σ_{k≤tau} C(|s|, k) — 172 for an
    * 18-char string at tau = 2. */
  private[operators] def deletionVariantHashes(s: String,
      tau: Int): Array[Long] = {
    val seen = new java.util.HashSet[String]()
    var frontier = List(s)
    seen.add(s)
    for (_ <- 1 to tau) {
      frontier = frontier.flatMap { v =>
        (0 until v.length).iterator.map { i =>
          v.substring(0, i) + v.substring(i + 1)
        }.filter(seen.add).toList
      }
    }
    val it = seen.iterator()
    val out = new Array[Long](seen.size())
    var i = 0
    while (it.hasNext) { out(i) = graft.functions.HashKernels.hash64(it.next()); i += 1 }
    out
  }

  /** Exact edit-distance self-join for small `tau` via SymSpell-style
    * deletion neighborhoods — the LOSSLESS replacement for quadratic
    * within-block scanning when the block key can't be refined:
    * ed(a, b) ≤ τ implies a and b share a common string reachable by ≤ τ
    * deletions from each (delete each side's chars aligned to edits), so
    * candidates are an EQUI-JOIN on (block, variant-hash) over ~C(L, τ)
    * keys per row instead of Σ block² comparisons; every candidate is
    * then verified with the exact banded DP. Output per qualifying pair
    * (idA < idB): (block cols…, id_a, id_b) — row-for-row identical to
    * the naive within-block scan (proved in spec), at O(n · C(L, τ))
    * candidate keys. The 10× rehearsal measured the naive form at 82 s
    * (quadratic in block population); this shape stays linear in rows ×
    * neighborhood size.
    *
    * Reference behaviour anchor: occurrence duplicate detection compares
    * within taxon blocks (`dedup/DuplicationDetection.scala`) — this is
    * the same candidate-bounding move applied to string keys. */
  def editDistanceSelfJoin(df: DataFrame, idCol: String, strCol: String,
      tau: Int, blockCols: Seq[String]): DataFrame = {
    require(tau >= 1 && tau <= 3, s"tau=$tau in [1,3] (C(L,τ) keys per row)")
    val variants = udf((s: String) =>
      if (s == null) Array.empty[Long] else deletionVariantHashes(s, tau))
    val within = udf((a: String, b: String) =>
      graft.functions.HashKernels.levenshteinWithin(a, b, tau))
    repCollapsedPairs(df, idCol, strCol, blockCols, variants,
      (a, b) => within(a, b))
  }

  /** The shared candidate skeleton: rep-collapse (the boundedSelfPairs
    * move — the variant join runs over DISTINCT (block, string), so
    * duplicate-heavy corpora don't square every bucket), candidates from
    * the (block, variant-hash) equi-join, exact `verify` on rep pairs
    * only, then expansion back to id pairs through two string equi-joins;
    * same-string pairs (verify(s,s) must hold for any reflexive
    * predicate) come from the exact self-join.
    *
    * Storage contract: `rows` is persisted (three downstream reads — two
    * expansion joins plus the same-string self-join — would otherwise
    * re-scan the input) and is AUTO-RELEASED on the first action that
    * drives the returned frame
    * ([[CacheScope.releaseOnFirstMaterialization]]) — the plain entry
    * points no longer leak storage into a long-lived JVM. Callers that
    * materialize the result repeatedly should bracket with
    * [[CacheScope.scoped]] to keep the cache warm across actions. */
  private def repCollapsedPairs(df: DataFrame, idCol: String,
      strCol: String, blockCols: Seq[String],
      variants: org.apache.spark.sql.expressions.UserDefinedFunction,
      verify: (Column, Column) => Column): DataFrame = {
    val blk = blockCols.map(col)
    // fanOutSmallScan (round 13, guide §2.5): a single-row-group scan
    // persists as ONE cached partition, serializing every downstream
    // stage that reads `rows` (variant explode, expansion joins) — a
    // no-op at any real scale (scan already ≥cores-way)
    val rows = graft.Tuning.fanOutSmallScan(df)
      .select(blk :+ col(idCol).as("_id") :+ col(strCol).as("_s"): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val reps = rows.select(blk :+ col("_s"): _*).distinct()
      .withColumn("_v", explode(variants(col("_s"))))
    val repPairs = reps
      .select(blk :+ col("_v") :+ col("_s").as("_sa"): _*)
      .join(reps.select(blk :+ col("_v") :+ col("_s").as("_sb"): _*),
        blockCols :+ "_v")
      .filter(col("_sa") < col("_sb"))
      .select(blk ++ Seq(col("_sa"), col("_sb")): _*)
      .distinct() // the same rep pair can meet in many variant buckets
      .filter(verify(col("_sa"), col("_sb")))
    val cross = repPairs
      .join(rows.select(blk :+ col("_s").as("_sa") :+
        col("_id").as("_ia"): _*), blockCols :+ "_sa")
      .join(rows.select(blk :+ col("_s").as("_sb") :+
        col("_id").as("_ib"): _*), blockCols :+ "_sb")
      .select(blk ++ Seq(least(col("_ia"), col("_ib")).as("id_a"),
        greatest(col("_ia"), col("_ib")).as("id_b")): _*)
    val sameString = rows
      .join(rows.withColumnRenamed("_id", "_ib"), blockCols :+ "_s")
      .filter(col("_id") < col("_ib") && verify(col("_s"), col("_s")))
      .select(blk ++ Seq(col("_id").as("id_a"), col("_ib").as("id_b")): _*)
    CacheScope.releaseOnFirstMaterialization(
      cross.unionByName(sameString), Seq(rows))
  }

  /** Exact high-threshold Jaro–Winkler self-join with LOSSLESS
    * candidate generation for uniform-length corpora — the scale path
    * for the q106/q108 family, whose within-block scan is otherwise
    * quadratic in block population.
    *
    * Derivation (each step an upper bound, so candidates can only be a
    * superset): with the standard p = 0.1, ℓ ≤ 4 boost,
    * JW ≥ t ⟹ Jaro J ≥ (t − 0.4)/0.6; for two strings of equal length
    * L, J ≤ (2m/L + 1)/3, so m ≥ ⌈(3J₀ − 1)·L/2⌉ matched characters;
    * Jaro matches are injective over occurrences, so the character
    * MULTISETS share ≥ m occurrences; each side therefore differs from
    * the shared multiset by δ = L − m deletions — i.e. the pairs'
    * SORTED character strings share a common ≤δ-deletion variant.
    * Candidates are the (block, sorted-variant-hash) equi-join; every
    * candidate is verified with the exact Jaro–Winkler at the query's
    * round(·, 6) convention, so the output is row-for-row the
    * within-block scan's (spec-pinned). At t = 0.96, L = 18: δ = 1 (19
    * keys/row); at t = 0.98: δ = 0 (sorted-string equality).
    *
    * Falls back to the plain scan when the largest block is small
    * (≤ maxNaiveBlock — small blocks beat candidate overhead), when
    * lengths are not uniform (the m bound needs one L), or when the
    * threshold is too low for a usable δ (> maxDelta). δ = 0 (t ≥ 0.98
    * at L = 18) never falls back: the candidate rule degenerates to a
    * SORTED-STRING EQUALITY equi-join — one key per row, no variant
    * explosion — which beats the scan at every block size (measured
    * 3.2 s → 1.0 s on sf0.1's 600-row blocks) and needs no
    * largest-block pre-scan at all. The δ ≥ 1 cutoff is 500 (measured:
    * ≤19 keys/row wins from ~600-row blocks up — unlike the
    * edit-distance SymSpell rule's ~172 keys/row, whose cutoff stays
    * 2000). */
  def jaroWinklerPairs(df: DataFrame, idCol: String, strCol: String,
      threshold: Double, blockCols: Seq[String],
      maxNaiveBlock: Long = 500L, maxDelta: Int = 2): DataFrame = {
    require(threshold > 0.7 && threshold <= 1.0, "high-threshold operator")
    val verify = (a: Column, b: Column) =>
      round(graft.plans.GraftFunctions.jaro_winkler(a, b), 6) >= threshold
    val stats = df.agg(min(length(col(strCol))).as("mn"),
      max(length(col(strCol))).as("mx")).head()
    val uniform = !stats.isNullAt(0) && stats.getInt(0) == stats.getInt(1)
    // 1e-6 margin: the verify compares round(jw, 6) ≥ t, which admits
    // true JW down to t − 5e-7 — the bound must cover those pairs too
    val j0 = (threshold - 1e-6 - 0.4) / 0.6
    val delta = if (!uniform) Int.MaxValue else {
      val L = stats.getInt(0)
      L - math.ceil((3.0 * j0 - 1.0) * L / 2.0).toInt
    }
    // δ = 0 skips the largest-block pre-scan: the equality join wins
    // unconditionally, so the extra pass would be pure overhead
    val maxBlock =
      if (delta == 0) 0L else maxBlockPopulation(df, blockCols)
    if (delta != 0 &&
        (maxBlock <= maxNaiveBlock || delta > maxDelta || delta < 0)) {
      withinBlockPairs(df, idCol, strCol, blockCols, verify)
    } else {
      val d = delta
      val variants = udf((s: String) =>
        if (s == null) Array.empty[Long]
        else {
          val sorted = new String(s.toCharArray.sorted)
          if (d == 0)
            Array(graft.functions.HashKernels.hash64(sorted))
          else deletionVariantHashes(sorted, d)
        })
      repCollapsedPairs(df, idCol, strCol, blockCols, variants, verify)
    }
  }

  /** Largest block population, 0 on an empty input (max over zero rows is
    * NULL — a bare getLong would NPE instead of choosing the trivially
    * correct empty-result path). */
  private def maxBlockPopulation(df: DataFrame,
      blockCols: Seq[String]): Long =
    df.groupBy(blockCols.map(col): _*)
      .agg(count(lit(1)).as("_c"))
      .agg(coalesce(max("_c"), lit(0L))).head().getLong(0)

  /** Cost-chosen exact blocked edit-distance pairs — an explicit
    * physical contract: while the LARGEST block population is ≤
    * `maxNaiveBlock`, the plain within-block pair scan wins (Σ block²
    * bounded by blocks · maxNaiveBlock²; variant buckets can be LESS
    * selective than small blocks — measured 15.7 s vs 3.4 s on sf0.1's
    * 600-row blocks); beyond it, [[editDistanceSelfJoin]]'s deletion
    * neighborhoods take over (measured 15.7 s vs 92 s quadratic on the
    * 10× rehearsal's 6000-row blocks). Both paths are exact and
    * identical row-for-row, so the result is scale-stable. */
  def blockedEditDistancePairs(df: DataFrame, idCol: String,
      strCol: String, tau: Int, blockCols: Seq[String],
      maxNaiveBlock: Long = 2000L): DataFrame = {
    val maxBlock = maxBlockPopulation(df, blockCols)
    if (maxBlock <= maxNaiveBlock) {
      val within = udf((a: String, b: String) =>
        graft.functions.HashKernels.levenshteinWithin(a, b, tau))
      withinBlockPairs(df, idCol, strCol, blockCols, within(_, _))
    } else editDistanceSelfJoin(df, idCol, strCol, tau, blockCols)
  }

  /** The plain within-block pair scan: every (id_a < id_b) pair of a
    * block that passes `verify`. The probe side is fanned out: the
    * broadcast-join pair scan inherits the probe's partitioning, so an
    * unsplittable single-row-group scan ran the whole quadratic verify on
    * ONE task (q36 at sf0.1: 4.9 s). */
  private def withinBlockPairs(df: DataFrame, idCol: String,
      strCol: String, blockCols: Seq[String],
      verify: (Column, Column) => Column): DataFrame = {
    val blk = blockCols.map(col)
    val a = graft.Tuning.fanOutSmallScan(df)
      .select(blk :+ col(idCol).as("id_a") :+ col(strCol).as("_sa"): _*)
    val b = df.select(blk :+ col(idCol).as("id_b") :+ col(strCol).as("_sb"): _*)
    a.join(b, blockCols)
      .filter(col("id_a") < col("id_b") && verify(col("_sa"), col("_sb")))
      .select(blk ++ Seq(col("id_a"), col("id_b")): _*)
  }
}
