package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Serving-path latency probe for the S10 keyed-lookup contract
  * (reference `Store.getByUuid` — the interactive "fetch one occurrence
  * by id" path a serving JVM answers thousands of times an hour).
  *
  * The correctness of the keyed lookup is oracle-gated (q24, q203) and
  * pinned in `KeyLookupSpec`; this probe records the NUMBER the contract
  * is really about: per-lookup latency, p50/p99 over `n` point lookups,
  * for the physical layouts the library offers —
  *
  *   - `plain`: unsorted multi-file parquet, every lookup scans all
  *     row groups (the naive baseline);
  *   - `bloom_sorted`: key-sorted parquet with a parquet bloom filter on
  *     the key — row-group pruning via min/max + bloom (S10's
  *     single-file serving layout);
  *   - `bucketed`: a `Store.writeBucketed` table — Spark bucket pruning
  *     reads exactly ONE bucket file per lookup (the layout that also
  *     kills the join exchange, `PlanShapeSpec`);
  *   - `direct`: an index written by `Store.writeIndex` (range
  *     partitioned and sorted by `id`) and read by `Store.getByKey`,
  *     which reads the one candidate row group on the driver and starts
  *     no Spark job.
  *
  * Run by the full [[Bench]] sweep in its own child JVM; results land
  * under `"serving_probe"` in BENCH_FULL.json. The first three rows are
  * one Spark job per lookup each: in local mode, planning, job submit,
  * task launch and the collect cost tens of milliseconds whatever the
  * layout, so those rows barely separate. The `direct` row against them
  * is the cost of that job on the same host. */
object ServingProbe {

  final case class Stats(p50Ms: Double, p99Ms: Double, meanMs: Double)

  private def pct(sorted: Array[Double], p: Double): Double =
    sorted((p * (sorted.length - 1)).round.toInt)

  private def timeLookups(lookup: Long => DataFrame,
      keys: Seq[Long]): Stats = {
    // warm-up: JIT, codegen cache, parquet footer cache
    keys.take(20).foreach(k => lookup(k).collect())
    val times = keys.map { k =>
      val t0 = System.nanoTime()
      lookup(k).collect()
      (System.nanoTime() - t0) / 1e6
    }.toArray.sorted
    Stats(pct(times, 0.50), pct(times, 0.99),
      times.sum / times.length)
  }

  /** Build the four layouts from `sfDir`'s orders table, time `n`
    * point lookups each, return the JSON fragment for BENCH_FULL. */
  def run(spark: SparkSession, sfDir: String, n: Int): String = {
    val orders = Tables.load(spark, sfDir, "orders")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate")
    val tmp = java.nio.file.Files.createTempDirectory("graft_probe_")
      .toString

    // deterministic key sample spread across the key range
    val stats = orders.agg(min("o_orderkey"), max("o_orderkey"),
      count(lit(1))).head()
    val (lo, hi) = (stats.getLong(0), stats.getLong(1))
    val keys = (0 until n).map(i => lo + (hi - lo) * i.toLong / n.max(1))

    // plain: multi-file, unsorted — no pruning possible beyond stats luck
    orders.repartition(8).write.mode("overwrite")
      .parquet(s"$tmp/plain")
    val plain = spark.read.parquet(s"$tmp/plain")

    // bloom_sorted: key-sorted single file + parquet bloom on the key,
    // small row groups so min/max pruning has resolution (q203 layout)
    orders.sort("o_orderkey").coalesce(1).write.mode("overwrite")
      .option("parquet.bloom.filter.enabled#o_orderkey", "true")
      .option("parquet.block.size", (1024 * 1024).toString)
      .parquet(s"$tmp/bloom")
    val bloom = spark.read.parquet(s"$tmp/bloom")

    // bucketed: one bucket file read per lookup (bucket pruning);
    // warehouse.dir is static — the probe child's session builder sets it
    Store.writeBucketed(orders, "probe_orders", "o_orderkey", 16)
    val bucketed = spark.table("probe_orders")

    // direct: the serving index layout, answered on the driver
    Store.writeIndex(orders.withColumn("id", col("o_orderkey").cast("string")),
      s"$tmp/direct")
    val direct = spark.read.parquet(s"$tmp/direct")

    def f2(v: Double) = "%.2f".formatLocal(java.util.Locale.ROOT, v)
    def js(name: String, s: Stats) =
      s""""$name":{"p50_ms":${f2(s.p50Ms)},"p99_ms":${f2(s.p99Ms)},""" +
        s""""mean_ms":${f2(s.meanMs)}}"""

    val rs = Seq(
      js("plain", timeLookups(
        k => plain.filter(col("o_orderkey") === k), keys)),
      js("bloom_sorted", timeLookups(
        k => bloom.filter(col("o_orderkey") === k), keys)),
      js("bucketed", timeLookups(
        k => bucketed.filter(col("o_orderkey") === k), keys)),
      js("direct", timeLookups(
        k => Store.getByKey(direct, k.toString), keys)))
    try spark.sql("DROP TABLE IF EXISTS probe_orders")
    catch { case _: Throwable => () }
    s"""{"n":$n,${rs.mkString(",")}}"""
  }
}
