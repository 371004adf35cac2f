package graft.operators

import graft.functions.TextFunctions._
import graft.plans.GraftFunctions.{containment_long, cosine_sim,
  jaccard_long, minhash_md5}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document-deduplication operator family for training-data pipelines.
  *
  * Parity target: the reference's duplicate-detection tool groups candidates
  * by blocking keys and compares only within blocks
  * (`tool/DuplicationDetection.scala:428-452,811-833` in
  * /root/reference/src/main/scala/au/org/ala/biocache/). Every variant here
  * keeps that shape — candidate generation is always a *blocked* equi-join
  * (hash bucket, LSH band, SimHash prefix) so the candidate-pair count stays
  * near-linear at 100 TB, never an O(n²) cross join.
  */
object Dedup {

  /** All unordered within-bucket value pairs (`<valueCol>_a < <valueCol>_b`)
    * with EVERY task's work bounded, no matter how degenerate the bucket
    * distribution — the same lossless trick as the duplicate-detection
    * operator's sub-block salting
    * ([[graft.operators.DuplicationDetection]], reference
    * `tool/DuplicationDetection.scala` blocking), generalised to any
    * banded self-join.
    *
    * Buckets of at most `maxBucket` rows self-join directly. A bucket of
    * B > maxBucket rows is split into R = ⌈B / maxBucket⌉ deterministic
    * blocks (by within-bucket row number, so blocks are perfectly
    * balanced); each row is replicated R times on each side so that the
    * pair (x, y) with blocks (bx, by) meets in exactly the grid cell
    * (bx, by). One cell holds ≤ maxBucket rows per side, so no task ever
    * does more than maxBucket² comparisons — the output of a hot bucket is
    * still quadratic (that IS the answer), but it is now produced across
    * R² distributed tasks instead of one straggler. Replication cost is
    * R× on bucket rows, i.e. bytes grow as B²/maxBucket — the knob trades
    * wire bytes against per-task bound.
    *
    * Values must be distinct within a bucket and orderable. The same pair
    * may appear once per bucket it co-occurs in (e.g. once per LSH band) —
    * callers dedup across buckets, as they did over the raw band join.
    */
  private[graft] def boundedSelfPairs(rows: DataFrame, bucketCols: Seq[String],
      valueCol: String, maxBucket: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(maxBucket >= 2, s"maxBucket must be at least 2, got $maxBucket")
    val bcols = bucketCols.map(col)
    val w = Window.partitionBy(bcols: _*).orderBy(col(valueCol))
    val sized = rows
      .select(bcols :+ col(valueCol): _*)
      .withColumn("_bn", count(lit(1)).over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("_blk", ((row_number().over(w) - 1)
        % ceil(col("_bn").cast("double") / maxBucket).cast("int")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def side(df: DataFrame, suffix: String) =
      df.withColumnRenamed(valueCol, valueCol + suffix)
    val va = col(valueCol + "_a")
    val vb = col(valueCol + "_b")

    val small = sized.filter(col("_bn") <= maxBucket)
      .drop("_bn", "_blk")
    val smallPairs = side(small, "_a").join(side(small, "_b"), bucketCols)

    val big = sized.filter(col("_bn") > maxBucket)
      .withColumn("_r", ceil(col("_bn").cast("double") / maxBucket).cast("int"))
      .drop("_bn")
    val bigL = side(big, "_a")
      .withColumn("_i", col("_blk"))
      .withColumn("_j", explode(sequence(lit(0), col("_r") - 1)))
      .drop("_blk", "_r")
    val bigR = side(big, "_b")
      .withColumn("_j", col("_blk"))
      .withColumn("_i", explode(sequence(lit(0), col("_r") - 1)))
      .drop("_blk", "_r")
    val bigPairs = bigL.join(bigR, bucketCols ++ Seq("_i", "_j"))
      .drop("_i", "_j")

    smallPairs.unionByName(bigPairs)
      .filter(va < vb)
      .select(va, vb)
  }

  /** Exact duplicates by normalised-content hash: one shuffle (groupBy). */
  def exactDuplicates(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol), fingerprint(col(textCol)).as("fp"))
      .groupBy("fp")
      .agg(count("*").as("n_docs"), min(idCol).as("representative_id"))
      .filter(col("n_docs") > 1)

  /** Exact-duplicate removal keeping the lowest id per content hash. */
  def dropExactDuplicates(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(fingerprint(col(textCol))).orderBy(col(idCol))
    docs.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
  }

  /** SimHash near-duplicate pairs: the [[simhashPortable]] fingerprints
    * through [[hammingPairsOfSignatures]] — block on bit-bands of the
    * fingerprint, verify Hamming distance ≤ maxHamming. Output:
    * (id_a, id_b, hamming).
    *
    * Recall bound (pigeonhole): with `numBands` bands, a pair with at most
    * `numBands - 1` differing bits leaves at least one band untouched, so
    * the banded equi-join is guaranteed to produce the candidate. Bands
    * are `maxHamming + 1` to make the stated threshold lossless —
    * 4 bands for the reference's Hamming ≤ 3 is the classic Manku et al.
    * split; more bands mean shorter band keys and therefore larger buckets,
    * so at very large corpora prefer a smaller maxHamming
    * (bucket size grows as n / 2^(64/numBands)). */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame =
    hammingPairsOfSignatures(simhashPortable(docs, idCol, textCol),
      maxHamming)

  /** Banded Hamming-distance pair join over ANY 64-bit signature table
    * (`id`, `sh`) — the engine behind [[simhashPairs]], reused for image
    * perceptual hashes and any other bit-signature near-dup. Same
    * pigeonhole recall guarantee: numBands > maxHamming is lossless.
    *
    * Degenerate-input safety (the failure mode a plain band self-join
    * has): a corpus of N near-empty docs all hashes to ONE signature, so
    * every band bucket holds N rows and one task computes N² pairs. Here
    * the banding runs over DISTINCT signatures — identical docs collapse
    * to one banded row each — and identical-signature groups are paired
    * directly (they are Hamming-0 pairs by definition) through
    * [[boundedSelfPairs]], which also caps residual hot buckets of
    * distinct signatures. Output is row-for-row identical to the naive
    * band join; no task ever exceeds maxBucket² comparisons.
    */
  def hammingPairsOfSignatures(sigIn: DataFrame, maxHamming: Int,
      numBandsOverride: Option[Int] = None, maxBucket: Int = 4096): DataFrame = {
    // persisted: the signature computation (simhash / image-decode UDF)
    // feeds the distinct pass, both expansion-join sides and the
    // equal-signature pairing
    val sh = sigIn.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val numBands = numBandsOverride.getOrElse(maxHamming + 1)
    require(numBands >= 1 && numBands <= 64, "numBands must be in [1, 64]")
    // Pigeonhole recall guarantee needs more bands than differing bits: with
    // numBands <= maxHamming every band can be hit and true pairs are missed.
    require(numBands > maxHamming,
      s"numBands ($numBands) must exceed maxHamming ($maxHamming); " +
        "fewer bands silently voids the full-recall guarantee")
    val baseLen = 64 / numBands
    val rem = 64 % numBands
    // band i gets baseLen (+1 for the first `rem`) bits; offsets cumulative
    val bandSpecs: Seq[(Int, Int)] = {
      val lens = (0 until numBands).map(i => baseLen + (if (i < rem) 1 else 0))
      lens.scanLeft(0)(_ + _).zip(lens)
    }
    val banded = sh.select(col("sh")).distinct()
      .select(col("sh"),
        posexplode(array(bandSpecs.map { case (offset, len) =>
          val mask = if (len == 64) -1L else (1L << len) - 1L
          shiftright(col("sh"), offset).bitwiseAND(mask)
        }: _*)).as(Seq("band", "bandKey")))
    val hamming = bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("int")
    // candidate pairs of DISTINCT signature values (sh_a < sh_b as longs;
    // a pair recurs once per shared band, hence the distinct)
    val simSig = boundedSelfPairs(banded, Seq("band", "bandKey"), "sh", maxBucket)
      .distinct()
      .select(col("sh_a"), col("sh_b"), hamming.as("hamming"))
      .filter(col("hamming") <= maxHamming)
    // expand verified signature pairs back to id pairs, re-oriented by id
    val cross = simSig
      .join(sh.select(col("id").as("_ia"), col("sh").as("sh_a")), Seq("sh_a"))
      .join(sh.select(col("id").as("_ib"), col("sh").as("sh_b")), Seq("sh_b"))
      .select(least(col("_ia"), col("_ib")).as("id_a"),
        greatest(col("_ia"), col("_ib")).as("id_b"), col("hamming"))
    // identical signatures are Hamming-0 pairs by definition — paired
    // within each signature group under the same per-task bound
    val eq = boundedSelfPairs(sh.select(col("sh"), col("id")), Seq("sh"),
        "id", maxBucket)
      .select(col("id_a"), col("id_b"), lit(0).cast("int").as("hamming"))
    cross.unionByName(eq)
  }

  /** Exact n-gram Jaccard ≥ threshold via the prefix-filter similarity join
    * (SSJoin/PPJoin family): under a global rarest-first shingle order, two
    * sets with J ≥ t MUST share a shingle within their first
    * |A| − ⌈t·|A|⌉ + 1 shingles, so only prefix shingles are exploded for
    * the candidate join. Combined with the length filter
    * (t·|A| ≤ |B| ≤ |A|/t), this prunes the candidate blow-up that a plain
    * shingle equi-join suffers on repetitive corpora (hot shingles land in
    * no prefix). Results are identical to the brute-force join. */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.5): DataFrame = {
    // Shingles carried as 64-bit hashes: equality (all Jaccard needs) is
    // preserved up to hash collisions, and the arrays shuffle at ~¼ the
    // bytes of strings with far cheaper set ops.
    val shingleUdf = udf((text: String) =>
      graft.functions.HashKernels.charShinglesHashed(text, n))
    // The shingle table feeds four consumers (df aggregation, prefix
    // explode, and both sides of the verify join); persist so the
    // shingling kernel runs once, not once per consumer.
    val sh = graft.Tuning.fanOutSmallScan(docs).select(col(idCol).as("id"),
      shingleUdf(col(textCol)).as("shingles"))
      .withColumn("setSize", size(col("shingles")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // Global document frequency per shingle → rarest-first total order,
    // computed fully distributed: agg df over the exploded shingles, join it
    // back, and rank shingles per doc with a window. Nothing touches the
    // driver — at 100 TB the distinct-shingle table is billions of rows and
    // must never be collected/broadcast. The per-doc prefix is the first
    // |A| − ⌈t·|A|⌉ + 1 shingles under the (df asc, shingle asc) order.
    val exploded = sh.select(col("id"), col("setSize"),
      explode(col("shingles")).as("shingle"))
    val dfTable = exploded.groupBy("shingle").agg(count(lit(1)).as("df"))
    val rankW = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("df"), col("shingle"))
    // df = 1 prefix shingles can never produce a candidate (a shingle
    // shared by a qualifying pair appears in both docs, so its df >= 2);
    // dropping them AFTER the rank keeps the prefix positions intact and
    // is therefore lossless while shrinking the self-join input.
    // persisted: both sides of the candidate self-join read the SAME
    // prefix table — without it the whole explode→df-join→rank pipeline
    // (the two heaviest shuffles here) executes twice, once per side
    // round 13 (guide §2.4 share-one-exchange): the prefix table is
    // persisted PARTITIONED BY THE SELF-JOIN KEY — both candidate sides
    // then read co-partitioned cache and the bucket join needs no
    // exchange at all; and the cache can never capture a 1-partition
    // (AQE-coalesced) layout that would serialize the candidate scan
    // (measured on q143/q135: two ~0.9 s single-task cache-read stages).
    val prefixes = exploded.join(dfTable, "shingle")
      .withColumn("_rn", row_number().over(rankW))
      .filter(col("_rn") <= col("setSize") -
        ceil(lit(threshold) * col("setSize")).cast("int") + 1)
      .filter(col("df") >= 2)
      .select(col("id"), col("setSize"), col("shingle"),
        col("_rn").as("pos"))
      .repartition(col("shingle"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val a = prefixes.select(col("shingle"), col("id").as("id_a"),
      col("setSize").as("size_a"), col("pos").as("pos_a"))
    val b = prefixes.select(col("shingle"), col("id").as("id_b"),
      col("setSize").as("size_b"), col("pos").as("pos_b"))
    // PPJoin positional filter (Xiao et al. 2008): J ≥ t needs overlap
    // O ≥ t/(1+t)·(|A|+|B|); at the FIRST common shingle (positions
    // pa, pb under the global order) every other common shingle sits
    // after both, so O ≤ 1 + min(|A|−pa, |B|−pb). A true pair always
    // passes at its first common meeting, and the `distinct` below ORs
    // over meetings, so pruning each meeting by the bound is LOSSLESS —
    // while the candidate blow-up on hot prefix shingles (pairs grow
    // quadratically in shingle df as the corpus scales) collapses to
    // the meetings whose suffixes could still reach the overlap. The
    // 1e-9 slack makes float rounding err toward KEEPING a candidate
    // (the exact-verify join owns precision).
    val overlapNeeded =
      lit(threshold / (1.0 + threshold)) *
        (col("size_a") + col("size_b")) - lit(1e-9)
    val candidates = a.join(b, Seq("shingle"))
      .filter(col("id_a") < col("id_b") &&
        col("size_b") >= lit(threshold) * col("size_a") &&
        col("size_a") >= lit(threshold) * col("size_b") &&
        (lit(1) + least(col("size_a") - col("pos_a"),
          col("size_b") - col("pos_b"))) >= overlapNeeded)
      .select("id_a", "id_b").distinct()

    // verify candidates with the exact set Jaccard
    candidates
      .join(sh.select(col("id").as("id_a"), col("shingles").as("sh_a")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("shingles").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        jaccard_long(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Asymmetric containment pairs: (id_a, id_b, containment) where
    * containment = |grams(A) ∩ grams(B)| / |grams(A)| ≥ threshold. Catches
    * quote-inclusion / partial duplication that symmetric Jaccard misses:
    * a short doc fully quoted inside a long one has high containment but
    * low Jaccard (the big doc's extra grams inflate the union).
    *
    * Same prefix-filter discipline as [[ngramJaccardPairs]], adapted to
    * the asymmetric measure: a qualifying pair shares ≥ ⌈t·|A|⌉ of A's
    * grams, so probing with A's rarest |A| − ⌈t·|A|⌉ + 1 grams (global-df
    * ascending) is lossless — but the B side must stay fully indexed
    * because containment puts no lower bound on |B|'s share. df = 1 probe
    * grams can't produce candidates (a shared gram has df ≥ 2). */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 8, threshold: Double = 0.5): DataFrame = {
    val shingleUdf = udf((text: String) =>
      graft.functions.HashKernels.wordShinglesHashed(text, n))
    val sh = graft.Tuning.fanOutSmallScan(docs).select(col(idCol).as("id"),
      shingleUdf(col(textCol)).as("shingles"))
      .withColumn("setSize", size(col("shingles")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val exploded = sh.select(col("id"), col("setSize"),
      explode(col("shingles")).as("shingle"))
    val dfTable = exploded.groupBy("shingle").agg(count(lit(1)).as("df"))
    val rankW = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("df"), col("shingle"))
    val probes = exploded.join(dfTable, "shingle")
      .withColumn("_rn", row_number().over(rankW))
      .filter(col("_rn") <= col("setSize") -
        ceil(lit(threshold) * col("setSize")).cast("int") + 1)
      .filter(col("df") >= 2)
      .select(col("id").as("id_a"), col("shingle"))

    val candidates = probes
      .join(exploded.select(col("id").as("id_b"), col("shingle")),
        Seq("shingle"))
      .filter(col("id_a") =!= col("id_b"))
      .select("id_a", "id_b").distinct()

    candidates
      .join(sh.select(col("id").as("id_a"), col("shingles").as("sh_a")),
        Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("shingles").as("sh_b")),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        containment_long(col("sh_a"), col("sh_b")).as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023, "SemDeDup:
    * Data-efficient learning at web-scale through semantic deduplication"):
    * k-means-partition the embedding space, compare cosine only within a
    * cell, and keep one representative (min id) per connected component of
    * the ≥-threshold pair graph.
    *
    * Scale shape: centroid training is sample-based (one scan), assignment
    * is map-only, the pair join shuffles by cell, and within-cell work is
    * O(Σ|cell|²) — the published SemDeDup trade-off, tuned by `numCells`
    * (more cells = cheaper + lower recall across cell boundaries).
    *
    * Returns one row per input doc: (id, representative, keep). */
  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
      numCells: Int = 64, threshold: Double = 0.95,
      iterations: Int = 2): DataFrame = {
    val centroids = Similarity.trainCentroids(emb, vecCol, numCells,
      iterations, idCol)
    val celled = Similarity.cellAssignment(emb, vecCol, centroids)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = celled.select(col("cell"), col(idCol).as("id_a"), col(vecCol).as("v_a"))
    val b = celled.select(col("cell"), col(idCol).as("id_b"), col(vecCol).as("v_b"))
    val pairs = a.join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        cosine_sim(col("v_a"), col("v_b")).as("cos"))
      .filter(col("cos") >= threshold)
    val comps = Components.connectedComponents(pairs, "id_a", "id_b")
      .withColumnRenamed("node", "id")
    emb.select(col(idCol).as("id"))
      .join(comps, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("component"), col("id")).as("representative"),
        (coalesce(col("component"), col("id")) === col("id")).as("keep"))
  }

  /** Embedding near-duplicates: cosine ≥ threshold within LSH buckets.
    * `bits` controls bucket granularity (recall/cost trade-off). */
  def embeddingNearDuplicates(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, bits: Int = 8,
      maxBucket: Int = 4096): DataFrame = {
    import graft.functions.VectorFunctions
    val keyed = emb.select(col(idCol).as("id"), col(vecCol).as("v"),
      VectorFunctions.lshSignature(col(vecCol), bits).as("bucket"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // id pairs through the bounded grid (hot sign-buckets — e.g. a corpus
    // of near-identical embeddings — split into sub-blocks, same as the
    // SimHash band join), vectors re-attached by id afterwards so the
    // pairing shuffle moves ids, not embeddings
    val pairs = boundedSelfPairs(keyed.select(col("bucket"), col("id")),
      Seq("bucket"), "id", maxBucket)
    pairs
      .join(keyed.select(col("id").as("id_a"), col("v").as("v_a")), Seq("id_a"))
      .join(keyed.select(col("id").as("id_b"), col("v").as("v_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        cosine_sim(col("v_a"), col("v_b")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  // ───────────────────────── portable (md5) MinHash ─────────────────────────
  // Every MinHash and SimHash hash derives from md5, so the ENTIRE
  // approximate pipeline — signatures, band keys, bucket join, exact-Jaccard
  // verify — is bit-reproducible on any engine with an md5 function. That
  // turns LSH from a "rows-only, trust the spec" operator into a hash-gated
  // one: an external oracle can replay the same bucketing and must land on
  // identical candidate pairs.

  /** Distinct word `n`-gram shingles per document: (id, sh). Documents with
    * fewer than `n` whitespace tokens produce no shingles (mirrored by the
    * oracle). Lowercased, whitespace-tokenized — the portable tokenization.
    *
    * PRECONDITION (ADVICE r12): `idCol` must be unique in `docs`. The
    * pre-r12 exploded form carried a global `(id, sh)` DISTINCT that
    * collapsed duplicate-id inputs; the array form's per-row
    * `array_distinct` does not, so a duplicate id would emit its shingle
    * set once per row. Every declared caller passes a primary-key id
    * (doc_id / o_orderkey projections). */
  def wordShingleSet(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    // explode_OUTER: a plain explode makes InferFiltersFromGenerate add
    // a deterministic `size(shs) > 0` filter that pushdown re-inlines —
    // one extra full shingling pass per row (see wordShingleArrays's
    // gate note). The arrays are never empty (short docs are gated out),
    // so outer + isnotnull produces identical rows with no inferred
    // filter to duplicate.
    wordShingleArrays(docs, idCol, textCol, n)
      .select(col("id"), explode_outer(col("shs")).as("sh"))
      .filter(col("sh").isNotNull)

  /** Per-document DISTINCT word `n`-gram shingle ARRAY: (id, shs) —
    * map-only (round 12). Shingling is doc-local, so the distinct set
    * never needs the global `(id, sh)` DISTINCT exchange the exploded
    * form used to pay (guide §2.4): `array_distinct` inside the row IS
    * that distinct. [[wordShingleSet]] is now explode-of-this (identical
    * rows), and the signature/verify consumers read the array directly —
    * turning the signature pipeline map-only (no groupBy(id) collect
    * shuffle either). */
  def wordShingleArrays(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    val toks = filter(split(lower(trim(col(textCol))), "\\s+"),
      t => length(t) > 0)
    graft.Tuning.fanOutSmallScan(docs)
      .select(col(idCol).as("id"), toks.as("_ts"))
      // nonPushableGate: without it, pushdown inlines `_ts`'s whole
      // split+filter pipeline into a copy of this condition below the
      // scan-side exchange (single task) — the staged `_ts` must be
      // evaluated once, in parallel, above the exchange (guide §4.4)
      .filter(graft.Tuning.nonPushableGate(size(col("_ts")) >= n))
      .select(col("id"), array_distinct(transform(
        sequence(lit(0), size(col("_ts")) - n),
        i => concat_ws(" ", slice(col("_ts"), i + lit(1), lit(n)))))
        .as("shs"))
  }

  /** md5 signature table (id, h, mv) — the per-hash minima every banding
    * below consumes. Computed by the codegen'd `minhash_md5` expression
    * (all k minima in one pass per doc over the collected shingle array)
    * instead of the relational explode-×k → (id, h) groupBy form: same
    * bytes, one shuffle fewer and k× fewer intermediate rows. */
  def signaturesPortable(sh: DataFrame, numHashes: Int): DataFrame = {
    sh.groupBy("id").agg(collect_list(col("sh")).as("_arr"))
      .select(col("id"), posexplode(
        minhash_md5(col("_arr"), lit(numHashes))).as(Seq("h", "mv")))
  }

  /** Signature ARRAYS from per-doc shingle arrays: (id, mvs) with
    * `mvs(h)` = the h-th md5-MinHash minimum — MAP-ONLY (round 12): the
    * shingle set never leaves its row, so the groupBy(id) collect the
    * exploded form needs is gone. Values are bit-identical to
    * [[signaturesPortable]] (same [[graft.plans.MinhashMd5]] kernel; min
    * is duplicate- and order-insensitive). */
  private[graft] def signatureArrays(shArr: DataFrame,
      numHashes: Int): DataFrame = {
    shArr.select(col("id"),
      minhash_md5(col("shs"), lit(numHashes)).as("mvs"))
  }

  /** Per-band LSH bucket keys from a signature array, as an array indexed
    * by band: band b's key is its `rowsPerBand` consecutive minima joined
    * with '_' in hash order — exactly [[candidatesFromSignatures]]'s
    * `concat_ws("_", …array_sort(collect_list(struct(h, mv)))…)` (the
    * array is already in h order), computed without the (id, band)
    * groupBy exchange. */
  private def bandKeyCol(mvs: Column, rowsPerBand: Int,
      numBands: Int): Column =
    transform(sequence(lit(0), lit(numBands - 1)), b =>
      concat_ws("_", transform(
        slice(mvs, b * lit(rowsPerBand) + lit(1), lit(rowsPerBand)),
        v => v.cast("string"))))

  /** Band-bucket candidate pairs from signature ARRAYS — the map-only
    * banding: explode (band, bkey) per doc straight out of the array,
    * pair within each bucket through [[boundedSelfPairs]], distinct.
    * Every task's work is bounded: a bucket of more than 4096 docs (a
    * corpus of near-identical pages sharing a band key) splits into a
    * grid of ≤ 4096² cells instead of one straggler task; the pairs are
    * the plain bucket self-join's. */
  private[graft] def candidatesFromArrays(sigArr: DataFrame,
      rowsPerBand: Int, numHashes: Int): DataFrame = {
    // integer banding drops trailing hashes when rowsPerBand ∤ numHashes;
    // the exploded form it replaced emitted a partial band instead —
    // refuse the silent recall loss (ADVICE r12; every declared caller
    // divides evenly, so this is a no-op at runtime)
    require(numHashes % rowsPerBand == 0,
      s"rowsPerBand=$rowsPerBand must divide numHashes=$numHashes")
    // posexplode_OUTER: a plain posexplode would get an inferred
    // size(...)>0 filter that pushdown re-inlines — one extra run of the
    // md5 MinHash kernel per row. Band arrays are never empty, so outer
    // + isnotnull is row-identical without the duplicated kernel.
    val bands = sigArr.select(col("id"),
      posexplode_outer(bandKeyCol(col("mvs"), rowsPerBand,
        numHashes / rowsPerBand)).as(Seq("band", "bkey")))
      .filter(col("bkey").isNotNull)
    boundedSelfPairs(bands, Seq("band", "bkey"), "id", maxBucket = 4096)
      .distinct()
  }

  /** Exact Jaccard for given candidate pairs over per-doc shingle ARRAYS:
    * each doc's set is hashed map-only (`transform(shs, xxhash64)`), the
    * pairs join picks up two arrays, and the codegen'd `jaccard_long`
    * kernel scores each pair in one pass — no per-shingle explode on the
    * (potentially large) candidate set. Returns (id_a, id_b, jaccard) — an
    * exact rational of integer counts, reproducible on any engine; hashing
    * preserves set equality up to 64-bit collisions (~2⁻⁵⁰ across a
    * billion-shingle corpus — the same contract as [[ngramJaccardPairs]],
    * whose string-side oracle has hash-matched since round 1). */
  private[graft] def exactJaccardOfPairsArr(pairs: DataFrame,
      shArr: DataFrame): DataFrame = {
    val hs = shArr.select(col("id"),
      transform(col("shs"), s => xxhash64(s)).as("hs"))
    pairs
      .join(hs.select(col("id").as("id_a"), col("hs").as("ha")), Seq("id_a"))
      .join(hs.select(col("id").as("id_b"), col("hs").as("hb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        jaccard_long(col("ha"), col("hb")).as("jaccard"))
  }

  /** Ground-truth near-duplicate pairs by EXACT Jaccard ≥ threshold over
    * per-doc word-shingle ARRAYS, with the same LOSSLESS prefix filter as
    * [[ngramJaccardPairs]]: shingles ranked per doc by (global df asc,
    * shingle asc), only the first `|A| − ⌈t·|A|⌉ + 1` can witness a
    * qualifying pair (PPJoin), df = 1 prefix shingles can't witness any,
    * and the size-ratio bound prunes length-incompatible pairs — so hot
    * boilerplate shingles never drive a quadratic pair blow-up while the
    * result set stays EXACTLY the J ≥ t pairs. Set sizes are map-only
    * `size(shs)`; the df table aggregates the exploded grams (a global
    * statistic — that shuffle is fundamental). */
  private[graft] def exactWordJaccardPairsArr(shArr: DataFrame,
      threshold: Double): DataFrame = {
    val exploded = shArr.select(col("id"), size(col("shs")).as("setSize"),
        explode_outer(col("shs")).as("sh")) // outer: see wordShingleSet
      .filter(col("sh").isNotNull)
    val dfT = exploded.groupBy("sh").agg(count(lit(1)).as("df"))
    val rankW = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("df"), col("sh"))
    val prefixes = exploded.join(dfT, "sh")
      .withColumn("_rn", row_number().over(rankW))
      .filter(col("_rn") <= col("setSize") -
        ceil(lit(threshold) * col("setSize")).cast("int") + 1)
      .filter(col("df") >= 2)
      .select(col("id"), col("setSize"), col("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cand = prefixes
      .select(col("sh"), col("id").as("id_a"), col("setSize").as("sa"))
      .join(prefixes.select(col("sh"), col("id").as("id_b"),
        col("setSize").as("sb")), Seq("sh"))
      .filter(col("id_a") < col("id_b") &&
        col("sb") >= lit(threshold) * col("sa") &&
        col("sa") >= lit(threshold) * col("sb"))
      .select("id_a", "id_b").distinct()
    exactJaccardOfPairsArr(cand, shArr).filter(col("jaccard") >= threshold)
  }

  /** Band-bucket candidate pairs from a signature table, for one
    * rows-per-band setting. */
  def candidatesFromSignatures(sig: DataFrame, rowsPerBand: Int): DataFrame = {
    val bands = sig
      .withColumn("band", floor(col("h") / rowsPerBand).cast("int"))
      .groupBy("id", "band")
      .agg(concat_ws("_", transform(
        array_sort(collect_list(struct(col("h"), col("mv")))),
        s => s.getField("mv").cast("string"))).as("bkey"))
    bands.select(col("band"), col("bkey"), col("id").as("id_a"))
      .join(bands.select(col("band"), col("bkey"), col("id").as("id_b")),
        Seq("band", "bkey"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** LSH candidate pairs from md5-derived MinHash signatures.
    *
    * For hash `h` of `numHashes`, the signature value is
    * `min over shingles of uint60(md5(h || ':' || shingle))` (first 15 hex
    * chars — 60 bits, inside a signed long). Signatures are grouped into
    * bands of `rowsPerBand` consecutive hashes; the band key is the values
    * joined with '_' in hash order; candidates are the distinct id pairs
    * sharing any (band, key) bucket — an equi-join on the bucket, never
    * all-pairs. */
  def minhashCandidatesPortable(sh: DataFrame, numHashes: Int,
      rowsPerBand: Int): DataFrame =
    candidatesFromSignatures(signaturesPortable(sh, numHashes), rowsPerBand)

  /** md5-MinHash LSH near-duplicate pairs with exact-Jaccard verify —
    * the fully oracle-replayable LSH dedup. Output: (id_a, id_b, jaccard)
    * for candidate pairs whose TRUE Jaccard ≥ threshold. */
  def minhashLshPortable(docs: DataFrame, idCol: String, textCol: String,
      shingleWords: Int = 3, numHashes: Int = 12, rowsPerBand: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    // round 12: array form — signatures and verify sets are map-only off
    // ONE persisted per-doc shingle-array table; the only exchanges left
    // are the band-bucket pairing + distinct and the verify pair joins
    val shArr = wordShingleArrays(docs, idCol, textCol, shingleWords)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cand = candidatesFromArrays(
      signatureArrays(shArr, numHashes), rowsPerBand, numHashes)
    exactJaccardOfPairsArr(cand, shArr).filter(col("jaccard") >= threshold)
  }

  /** Cross-corpus md5-MinHash LSH with exact-Jaccard verify — the
    * "dedup the new crawl against the existing training set" operation
    * in the ORACLE-REPLAYABLE form: both sides banded from md5
    * signatures, candidates from the cross band-bucket join, every pair
    * verified on true shingle Jaccard.
    * Output: (id_a = corpus doc, id_b = probe doc, jaccard ≥ threshold).
    */
  def minhashCrossPortable(corpus: DataFrame, probe: DataFrame,
      idCol: String, textCol: String, shingleWords: Int = 3,
      numHashes: Int = 12, rowsPerBand: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    require(numHashes % rowsPerBand == 0, // see candidatesFromArrays
      s"rowsPerBand=$rowsPerBand must divide numHashes=$numHashes")
    // round 12: array form — both sides' signatures and band keys are
    // map-only off the persisted per-doc shingle arrays; the bucket join
    // + distinct and the verify joins are the only exchanges left
    val shC = wordShingleArrays(corpus, idCol, textCol, shingleWords)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val shP = wordShingleArrays(probe, idCol, textCol, shingleWords)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def bandsOf(shArr: DataFrame) =
      signatureArrays(shArr, numHashes).select(col("id"),
        posexplode_outer(bandKeyCol(col("mvs"), rowsPerBand,
          numHashes / rowsPerBand)).as(Seq("band", "bkey")))
        .filter(col("bkey").isNotNull) // outer: see candidatesFromArrays
    val cand = bandsOf(shC).select(col("band"), col("bkey"),
        col("id").as("id_a"))
      .join(bandsOf(shP).select(col("band"), col("bkey"),
        col("id").as("id_b")), Seq("band", "bkey"))
      .select("id_a", "id_b").distinct()
    def hsOf(shArr: DataFrame) = shArr.select(col("id"),
      transform(col("shs"), s => xxhash64(s)).as("hs"))
    cand
      .join(hsOf(shC).select(col("id").as("id_a"), col("hs").as("ha")),
        Seq("id_a"))
      .join(hsOf(shP).select(col("id").as("id_b"), col("hs").as("hb")),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        jaccard_long(col("ha"), col("hb")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** 64-bit SimHash from md5 token hashes: (id, sh), bit b of the
    * `bigint` fingerprint `sh` set iff
    * `Σ_tokens (±1 by bit b of uint64(md5(token)))` is positive, with
    * each DISTINCT token weighted by its in-doc count. One pass per doc
    * over the token array; an external oracle replays every bit with
    * `(md5-uint64 >> b) & 1` algebra. */
  def simhashPortable(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val sim = udf { (text: String) =>
      if (text == null) null
      else {
        val toks = text.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)
        val counts = new java.util.HashMap[String, Int]()
        toks.foreach(t => counts.merge(t, 1, Integer.sum _))
        val votes = new Array[Long](64)
        val md = java.security.MessageDigest.getInstance("MD5")
        counts.forEach { (tok, w) =>
          md.reset()
          val d = md.digest(tok.getBytes("UTF-8"))
          var h = 0L
          var i = 0
          while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
          var b = 0
          while (b < 64) {
            if (((h >>> b) & 1L) == 1L) votes(b) += w else votes(b) -= w
            b += 1
          }
        }
        var fp = 0L
        var b = 0
        while (b < 64) { if (votes(b) > 0) fp |= 1L << b; b += 1 }
        java.lang.Long.valueOf(fp)
      }
    }
    docs.select(col(idCol).as("id"), sim(col(textCol)).as("sh"))
  }

  /** Content-defined chunking (the storage-dedup / delta-sync primitive:
    * Muthitacharoen et al. 2001, LBFS): split each document at positions
    * where the hash of the trailing `window`-codepoint span is ≡ 0 mod
    * `modulus` — boundaries move WITH the content, so an insertion only
    * re-chunks its neighbourhood and identical spans chunk identically
    * across documents. The cut rule hashes via md5 (first 8 hex chars as
    * uint32), so an external oracle replays every boundary; production
    * CDC would swap in a Gear/Buzhash rolling hash with min/max chunk
    * bounds — the STATS shape downstream is identical.
    *
    * Returns (id, chunk_idx, chunk, chunk_md5) — map-only per doc. */
  def cdcChunks(docs: DataFrame, idCol: String, textCol: String,
      window: Int = 16, modulus: Int = 64): DataFrame = {
    val chunker = udf { (text: String) =>
      if (text == null) Array.empty[String]
      else {
        val cps = text.codePoints().toArray
        val md = java.security.MessageDigest.getInstance("MD5")
        val cuts = scala.collection.mutable.ArrayBuffer[Int]()
        var i = window
        while (i <= cps.length) {
          val win = new String(cps, i - window, window)
          md.reset()
          val d = md.digest(win.getBytes("UTF-8"))
          val u = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
            ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
          if (u % modulus == 0) cuts += i
          i += 1
        }
        if (cuts.isEmpty || cuts.last != cps.length) cuts += cps.length
        val out = new Array[String](cuts.length)
        var prev = 0
        var c = 0
        while (c < cuts.length) {
          out(c) = new String(cps, prev, cuts(c) - prev)
          prev = cuts(c)
          c += 1
        }
        out
      }
    }
    docs.select(col(idCol).as("id"),
        posexplode(chunker(col(textCol))).as(Seq("chunk_idx", "chunk")))
      .select(col("id"), col("chunk_idx").cast("long").as("chunk_idx"),
        col("chunk"), md5(col("chunk")).as("chunk_md5"))
  }

  /** Banding-parameter sweep: precision/recall of the banded candidates
    * for SEVERAL rows-per-band settings from one signature table and one
    * ground truth — the tuning table that picks an LSH operating point on
    * the S-curve (more rows per band ⇒ fewer, purer candidates). Output:
    * one row per setting (rows_per_band, n_bands, n_cand, tp, fn,
    * precision, recall).
    *
    * **Scale shape (cost-chooser past `maxExactDocs`).** The exact
    * ground-truth side is a PPJoin over the full corpus — fine while the
    * corpus fits the bound, but at 100× (500k docs) it was the round-11
    * sweep's one `weak` plan: 318 GB of spill computing truth nobody
    * needs in full to TUNE a banding. Past `maxExactDocs` documents the
    * sweep evaluates on a deterministic hash sample of the corpus
    * (portable md5 on the id, salted, so the sample is reproducible on
    * any engine and independent of the signature hashes): truth,
    * signatures and candidates are all computed within the sample, so
    * every output column keeps its meaning — precision/recall become
    * sample ESTIMATES of the operating point. Confidence: recall is a
    * binomial proportion over the sampled truth pairs, so its standard
    * error is √(r(1−r)/n_truth) ≤ 1/(2√n_truth) — with the default bound
    * the sample keeps thousands of truth pairs and the 95% CI stays
    * within a few points, which is the resolution a banding decision
    * needs (adjacent S-curve operating points differ by tens of points).
    * Doc-sampling keeps frac² of truth pairs; both engines replaying the
    * same sample agree exactly, so the sf0.1 oracle row is untouched
    * (5k docs ≪ the bound ⇒ full path). */
  def lshBandingSweep(docs: DataFrame, idCol: String, textCol: String,
      shingleWords: Int = 3, numHashes: Int = 12,
      rowsPerBandOptions: Seq[Int] = Seq(2, 3, 4, 6),
      threshold: Double = 0.5, maxExactDocs: Long = 150000L): DataFrame = {
    require(rowsPerBandOptions.nonEmpty &&
      rowsPerBandOptions.forall(r => numHashes % r == 0))
    require(maxExactDocs >= 1, "maxExactDocs must be positive")
    val nDocs = docs.count()
    val evalDocs =
      if (nDocs <= maxExactDocs) docs
      else sweepSample(docs, idCol, maxExactDocs, nDocs)
    // round 12: ONE persisted per-doc shingle-array table feeds map-only
    // signatures, map-only per-band bucket keys for ALL settings at once
    // (one bucket join + one distinct over the union of bands, instead of
    // 2–3 exchanges × |settings|), one persisted truth table, and ONE
    // left join + grouped aggregate replacing |settings| full_outer
    // joins. Counts are the same exact integers: n_cand = |cand_r|,
    // tp = |cand_r ∩ truth|, fn = |truth| − tp.
    val spark = docs.sparkSession
    import spark.implicits._
    val shArr = wordShingleArrays(evalDocs, idCol, textCol, shingleWords)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sig = signatureArrays(shArr, numHashes)
    val bands = rowsPerBandOptions.map { r =>
      sig.select(lit(r).as("r"), col("id"),
        posexplode_outer(bandKeyCol(col("mvs"), r, numHashes / r))
          .as(Seq("band", "bkey"))) // outer: see candidatesFromArrays
        .filter(col("bkey").isNotNull)
    }.reduce(_.unionByName(_))
    val cand = bands
      .select(col("r"), col("band"), col("bkey"), col("id").as("id_a"))
      .join(bands.select(col("r"), col("band"), col("bkey"),
        col("id").as("id_b")), Seq("r", "band", "bkey"))
      .filter(col("id_a") < col("id_b"))
      .select("r", "id_a", "id_b").distinct()
    val truth = exactWordJaccardPairsArr(shArr, threshold)
      .select("id_a", "id_b")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val perR = cand.join(truth.withColumn("t", lit(1)),
        Seq("id_a", "id_b"), "left")
      .groupBy("r")
      .agg(count(lit(1)).as("n_cand"),
        sum(coalesce(col("t"), lit(0))).as("tp"))
    val rTable = rowsPerBandOptions.map(r => (r, numHashes / r))
      .toDF("r", "nb")
    // degenerate-input parity with the historic full_outer-sum form: a
    // setting with no candidates AND no truth reports nulls (sums over
    // an empty join), and no division ever executes against a 0 count
    // (ANSI sessions raise DIVIDE_BY_ZERO where legacy returned NaN —
    // EmptyInputSpec pins the null behaviour)
    val nCand = when(col("n_cand").isNotNull || col("n_truth") > 0,
      coalesce(col("n_cand"), lit(0L)))
    val tp = when(nCand.isNotNull, coalesce(col("tp"), lit(0L)))
    val nTruth = when(col("n_truth") > 0 || col("n_cand").isNotNull,
      col("n_truth"))
    rTable.join(perR, Seq("r"), "left")
      .crossJoin(truth.agg(count(lit(1)).as("n_truth")))
      .select(col("r").cast("long").as("rows_per_band"),
        col("nb").cast("long").as("n_bands"),
        nCand.as("n_cand"), tp.as("tp"),
        (nTruth - tp).as("fn"),
        when(nCand > 0, round(tp.cast("double") / nCand, 6))
          .as("precision"),
        when(nTruth > 0, round(tp.cast("double") / nTruth, 6))
          .as("recall"))
  }

  /** Deterministic stratified doc sample for [[lshBandingSweep]]'s
    * exact-truth side: keep a document iff the salted portable md5 of
    * its id falls under `targetDocs / nDocs` of the 10⁶-bucket hash
    * space. Engine-reproducible (md5 + integer compare, no RNG state),
    * stable across partitionings, and salted so sample membership is
    * independent of the MinHash signature family. */
  private[graft] def sweepSample(docs: DataFrame, idCol: String,
      targetDocs: Long, nDocs: Long): DataFrame = {
    val keep = math.max(1L,
      math.round(targetDocs.toDouble / nDocs * 1000000L))
    docs.filter(pmod(
      conv(substring(md5(concat(lit("sweep:"),
        col(idCol).cast("string"))), 1, 15), 16, 10).cast("long"),
      lit(1000000L)) < lit(keep))
  }

  /** Measured quality of the LSH approximation against exact ground truth:
    * one row (n_truth, n_cand, tp, fp, fn, precision, recall). `tp` =
    * candidate pairs that are true near-duplicates; precision/recall are
    * exact rationals of integer counts, so the WHOLE evaluation —
    * including the sketch's misses — hash-checks against an oracle. */
  def lshEvalConfusion(docs: DataFrame, idCol: String, textCol: String,
      shingleWords: Int = 3, numHashes: Int = 12, rowsPerBand: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    // round 12: array form (see minhashLshPortable) — map-only signatures
    // and set sizes off one persisted shingle-array table
    val shArr = wordShingleArrays(docs, idCol, textCol, shingleWords)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val truth = exactWordJaccardPairsArr(shArr, threshold)
      .select("id_a", "id_b")
    val cand = candidatesFromArrays(
      signatureArrays(shArr, numHashes), rowsPerBand, numHashes)
    val joined = truth.withColumn("t", lit(1))
      .join(cand.withColumn("c", lit(1)), Seq("id_a", "id_b"), "full_outer")
    joined.agg(
        sum(coalesce(col("t"), lit(0))).as("n_truth"),
        sum(coalesce(col("c"), lit(0))).as("n_cand"),
        sum(coalesce(col("t"), lit(0)) * coalesce(col("c"), lit(0))).as("tp"))
      .select(col("n_truth"), col("n_cand"), col("tp"),
        (col("n_cand") - col("tp")).as("fp"),
        (col("n_truth") - col("tp")).as("fn"),
        round(col("tp").cast("double") / col("n_cand"), 6).as("precision"),
        round(col("tp").cast("double") / col("n_truth"), 6).as("recall"))
  }
}
