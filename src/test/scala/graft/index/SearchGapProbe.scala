package graft.index

import java.nio.file.Files

import graft.{SparkTestSession, Store}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Whether direct lookups between them slow searches and downloads down:
  * in one JVM, times the lifebench `serve` request mix at its 2.5 req/s in
  * two settings, alternated over [[Rounds]] rounds each:
  *   - `lookups`: the mix as `serve` runs it, direct lookups in the slots
  *     between the searches and the download;
  *   - `idle`: the same schedule with the lookup slots left idle, so the
  *     timed requests see gaps of the same length with nothing in them.
  *
  *   SPARK_DRIVER_MEM=1g sbt "Test/runMain graft.index.SearchGapProbe"
  *
  * A round is [[Cycles]] cycles of `serve`'s 50-request mix: 40 lookups,
  * 9 searches (facet, distinct values, ids in turn) and 1 download of 1 000
  * keys, each request started at its due time, one at a time. The index is
  * the keyed-lookup fixture's records, 17 times over under distinct ids
  * (5 100 rows, about the `serve` index's 5 000), written by
  * `Store.writeIndex` (range partitioned under the session's shuffle
  * settings: 2 files in the test session, where `serve` has 4). Prints,
  * for each round and setting, the p50 ms of searches, of each search
  * kind, of downloads and of lookups, then each setting's median over its
  * rounds. A run takes ~25 min. */
object SearchGapProbe {
  private val Rounds = 3
  private val Cycles = 12
  private val Rate = 2.5
  private val SearchSlots = Set(2, 7, 13, 18, 24, 30, 35, 41, 46)
  private val DownloadSlot = 25
  private val Kinds = Seq("facet", "distinct", "ids")

  private def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN else xs.sorted.apply(((xs.size - 1) * p).round.toInt)

  private def ms(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
  }

  /** `cycles` cycles of the mix: each timed request's kind and ms. */
  private def round(idx: DataFrame, keys: Array[String], years: Array[Int],
      lookups: Boolean, seed: Long, cycles: Int = Cycles): Seq[(String, Double)] = {
    val spark = idx.sparkSession
    import spark.implicits._
    val rng = new scala.util.Random(seed)
    val start = System.nanoTime() + 50e6
    var searches = 0
    val timed = for (i <- 0 until cycles * 50) yield {
      val wait = (start + i / Rate * 1e9 - System.nanoTime()) / 1e6
      if (wait > 0) Thread.sleep(wait.toLong)
      val slot = i % 50
      if (slot == DownloadSlot) {
        val dl = Seq.fill(1000)(keys(rng.nextInt(keys.length))).distinct
        Some("download" -> ms(assert(Store.download(idx, dl.toDF("rowKey"),
          Seq("id", "occurrence_id", "cl927"), Seq("coordinatesOutOfRange"))
          .collect().length == dl.size)))
      } else if (SearchSlots(slot)) {
        val year = years(rng.nextInt(years.length))
        val kind = Kinds(searches % Kinds.size)
        searches += 1
        Some(kind -> ms(kind match {
          case "facet" => Store.facet(idx, "cl927",
            Some(col("occurrence_year") === year)).collect()
          case "distinct" => Store.distinctValues(idx, "occurrence_id", 50).collect()
          case _ => Store.idsForQuery(idx, col("occurrence_year") === year, 100).collect()
        }))
      } else if (lookups) {
        val k = keys(rng.nextInt(keys.length))
        Some("lookup" -> ms(assert(Store.getByKey(idx, k).collect().length == 1)))
      } else None
    }
    timed.flatten
  }

  private def p50s(timed: Seq[(String, Double)]): Seq[(String, Double)] = {
    def of(kinds: Set[String]) = pct(timed.filter(t => kinds(t._1)).map(_._2), 0.5)
    ("search" -> of(Kinds.toSet)) +: (Kinds :+ "download" :+ "lookup").map(k => k -> of(Set(k)))
  }

  private def show(label: String, p: Seq[(String, Double)]): String =
    f"$label%-18s " + p.map { case (k, v) => f"$k $v%6.1f" }.mkString("  ") + " ms"

  def main(args: Array[String]): Unit = {
    val spark = SparkTestSession.spark
    val tmp = Files.createTempDirectory("graft_search_gap").toString
    val base = KeyLookupFixture.index(spark, s"$tmp/base")
    Store.writeIndex(spark.range(17).withColumnRenamed("id", "copy").crossJoin(base)
      .withColumn("id", concat(col("id"), lit("~"), col("copy").cast("string")))
      .drop("copy"), s"$tmp/index")
    val idx = spark.read.parquet(s"$tmp/index")
    val keys = idx.select("id").collect().map(_.getString(0))
    val years = idx.select("occurrence_year").distinct().collect()
      .filter(!_.isNullAt(0)).map(_.getInt(0))
    println(s"rows=${keys.length} files=${idx.inputFiles.length} rounds=$Rounds " +
      s"cycles=$Cycles rate=$Rate/s")
    // warm both paths, as `serve` does before its window
    round(idx, keys, years, lookups = true, 0, cycles = 2)
    val results = for (r <- 1 to Rounds; lookups <- Seq(true, false)) yield {
      val p = p50s(round(idx, keys, years, lookups, r))
      val label = if (lookups) "lookups" else "idle"
      println(show(s"round $r $label", p))
      label -> p
    }
    for (label <- Seq("lookups", "idle")) {
      val mine = results.filter(_._1 == label).map(_._2)
      println(show(s"median $label", mine.head.indices.map(i =>
        mine.head(i)._1 -> pct(mine.map(_(i)._2).filterNot(_.isNaN), 0.5))))
    }
    spark.stop()
  }
}
