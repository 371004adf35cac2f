package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-rehearsal data generator: writes a K×-scaled copy of a testdata
  * directory by unioning K key-shifted copies of each table — the round-9
  * answer to "the 100 TB story needs at least one 10× empirical point per
  * operator family" (VERDICT r8 #5). The driver's testdata is read-only
  * and tops out at sf0.1, so the rehearsal set is derived, not
  * regenerated: every key space (orders, parts, suppliers, customers,
  * users, docs, vectors) is shifted per copy exactly like a larger TPC-H
  * scale factor would grow it, so per-key group sizes stay constant and
  * only the key cardinality and row count scale — the shape a real 10×
  * dataset has.
  *
  * Content columns are decorrelated across copies where identity matters:
  *
  *   - document text is Caesar-shifted per copy (`translate` over both
  *     alphabets, copy 0 verbatim). Round 9's word-suffix decorrelation
  *     was enough for WORD-token operators but not CHARACTER-shingle
  *     ones: a word's inner trigrams survive any affix, so cross-copy
  *     twins still shared most char 3-grams and every doc gained ~k
  *     candidate pairs at k× — the verify stage then paid k² per base
  *     doc (the 100× sweep's n-gram-family blow-up). A per-copy char
  *     substitution changes every letter trigram while preserving
  *     within-copy near-dup structure exactly (the map is injective on
  *     letters), so k× data means k× candidates, like real growth.
  *   - customer names are re-derived from the SHIFTED key
  *     (`Customer#%09d`, exactly the TPC-H generator's rule — copy 0 is
  *     byte-identical). Key-shifting alone kept c_name constant across
  *     copies, so at k× every name formed a k-clique and the linkage
  *     family (q36/q106/q108/q148) measured an artificial quadratic
  *     duplicate rate: at 100×, 15k names × C(100,2) pairs each. Real
  *     TPC-H at a larger SF grows the name space with the key space;
  *     near-pairs then come from digit-neighbour structure, which is the
  *     honest edit-distance workload.
  *   - embeddings get a small deterministic per-copy, per-dimension
  *     offset (a pure scalar multiple would leave cosine unchanged).
  *
  * Dimension constants (region, nation) are copied once, like real
  * TPC-H scaling.
  *
  * Usage: runMain graft.ScaleGen <srcDir> <destDir> [K=10]
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val src = args(0); val dest = args(1)
    val k = if (args.length > 2) args(2).toInt else 10
    val cpus = Bench.parseCpus(sys.env.get("SPARK_GRAFT_CPUS"), 16)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    derive(spark, src, dest, k)
    println(s"""{"scalegen":"done","dest":"$dest","k":$k}""")
    spark.stop()
  }

  /** Multipliers coprime to 26 — the valid `a` values of the affine
    * letter cipher x → (a·x + b) mod 26. */
  private val AffineA = Seq(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)

  /** Per-copy injective letter map for the text decorrelation, as the
    * (from, to) argument pair of `translate` over both alphabets. Copy
    * `i` reads through the affine cipher x → (a·x + b) mod 26 with
    * (a, b) = (AffineA(i / 26), i mod 26) — 12 × 26 = 312 pairwise-
    * distinct injective maps (distinct (a, b) mod 26 ⇒ distinct
    * functions), so every pair of copies up to k = 312 sees different
    * ciphertext. The round-11 Caesar family had only 25 distinct shifts:
    * at k ≥ 27 copies i and i+25 got byte-identical text, re-planting
    * the exact cross-copy twins the decorrelation exists to remove.
    * i = 0 maps to (a, b) = (1, 0) = identity, consistent with the
    * copy-0-verbatim contract (the caller skips i = 0 anyway). */
  private[graft] def affineMap(i: Int): (String, String) = {
    require(i >= 0 && i < AffineA.size * 26,
      s"affine cipher family exhausted at copy $i (max ${AffineA.size * 26})")
    val a = AffineA(i / 26)
    val b = i % 26
    val lower = "abcdefghijklmnopqrstuvwxyz"
    val perm = (0 until 26).map(x => (a * x + b) % 26)
    val toLower = perm.map(p => ('a' + p).toChar).mkString
    val toUpper = perm.map(p => ('A' + p).toChar).mkString
    (lower + lower.toUpperCase, toLower + toUpper)
  }

  /** Derivation body, session-agnostic so the fidelity properties are
    * spec-testable (the spec derives a small k into a temp dir on the
    * shared test session). */
  def derive(spark: SparkSession, src: String, dest: String,
      k: Int): Unit = {
    require(k >= 1 && k <= 100)
    new java.io.File(dest).mkdirs()

    def read(t: String) = spark.read.parquet(s"$src/$t.parquet")
    // single-file outputs to mirror the testdata layout Tables.load globs
    def write(df: DataFrame, t: String, parts: Int): Unit =
      df.repartition(parts).write.mode("overwrite")
        .parquet(s"$dest/$t.parquet")

    def span(t: String, c: String): Long =
      read(t).agg(coalesce(max(col(c)), lit(0L))).head().getLong(0) + 1L

    // One span per KEY DOMAIN, always measured on the domain's OWNING
    // table (custkey from customer, orderkey from orders, …): shifting a
    // foreign-key column by its own observed max would break referential
    // integrity whenever the max PK value happens to be unreferenced
    // (e.g. o_custkey's max < customer's max ⇒ copy-1 orders would point
    // below copy-1 customers). PKs and FKs of the same domain must move
    // by the SAME stride.
    val domainSpan: Map[String, Long] = Map(
      "custkey" -> span("customer", "c_custkey"),
      "suppkey" -> span("supplier", "s_suppkey"),
      "partkey" -> span("part", "p_partkey"),
      "orderkey" -> span("orders", "o_orderkey"),
      "event_id" -> span("events", "event_id"),
      "user_id" -> span("events", "user_id"),
      "doc_id" -> span("documents", "doc_id"),
      "vec_id" -> span("embeddings", "vec_id"))
    def domainOf(c: String): String =
      domainSpan.keys.find(c.endsWith(_)).getOrElse(
        sys.error(s"no key domain for column $c"))

    // copy-stamped union: shift listed BIGINT key columns by i*span of
    // their DOMAIN each
    def scaled(t: String, keyCols: Seq[String],
        extra: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame = {
      val base = read(t)
      (0 until k).map { i =>
        val shifted = keyCols.foldLeft(base) { (d, c) =>
          d.withColumn(c, col(c) + lit(i.toLong * domainSpan(domainOf(c))))
        }
        extra(shifted, i)
      }.reduce(_ unionByName _)
    }

    write(read("region"), "region", 1)
    write(read("nation"), "nation", 1)
    // name re-derived from the shifted key (the TPC-H generator's own
    // rule; copy 0 byte-identical) — see the decorrelation note above
    write(scaled("customer", Seq("c_custkey"), (d, _) =>
      d.withColumn("c_name",
        format_string("Customer#%09d", col("c_custkey")))),
      "customer", 4)
    write(scaled("supplier", Seq("s_suppkey")), "supplier", 2)
    write(scaled("part", Seq("p_partkey")), "part", 4)
    write(scaled("orders", Seq("o_orderkey", "o_custkey")), "orders", 8)
    write(scaled("lineitem",
      Seq("l_orderkey", "l_partkey", "l_suppkey")), "lineitem", 16)
    write(scaled("events", Seq("event_id", "user_id")), "events", 8)
    // text decorrelation: per-copy AFFINE letter cipher (copy 0
    // verbatim) — every letter trigram changes across copies while
    // within-copy near-dup structure is preserved exactly (the map is
    // injective on letters); see [[affineMap]] for why the round-11
    // Caesar family (25 distinct shifts) was not enough
    write(scaled("documents", Seq("doc_id"), (d, i) =>
      if (i == 0) d
      else {
        val (from, to) = affineMap(i)
        d.withColumn("text", translate(col("text"), from, to))
      }),
      "documents", 8)
    // embedding decorrelation: deterministic per-copy, per-dimension
    // offset (index-dependent, so the direction changes, not just the
    // norm) — copies land in distinct cosine neighbourhoods
    write(scaled("embeddings", Seq("vec_id"), (d, i) =>
      if (i == 0) d
      else d.withColumn("embedding",
        expr(s"transform(embedding, (x, j) -> x + float(0.01) * " +
          s"float($i) * float(cos(j + $i)))"))), "embeddings", 4)
  }
}
