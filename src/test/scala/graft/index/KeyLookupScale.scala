package graft.index

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.{SparkTestSession, Store}
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Where the driver-side keyed read stops paying: times a lookup read on
  * the driver (the cell limit lifted) against the Spark filter job, on
  * the serving index schema written sorted into 4 files, with row groups
  * of growing row counts. The Spark job gets the pushed `id = key`
  * filter, so it prunes pages; the driver read decodes whole row groups.
  * [[KeyLookup.MaxCells]] is set from where the two cross on misses.
  *
  *   SPARK_DRIVER_MEM=3g sbt "Test/runMain graft.index.KeyLookupScale [copies [rows ...]]"
  *
  * Every row is measured in [[Rounds]] rounds of 30 lookups of keys
  * spread over the index (the first five of a round warm up) and prints,
  * for each path, the median and the quartiles of the rounds' p50 ms:
  *   - `miss`: a driver lookup into an empty row-group cache, so it
  *     decodes its row group (and keeps it, if it fits the cache);
  *   - `hit`: the same key looked up again, served from the kept group,
  *     or read from the file again where the group is too large to keep;
  *   - `job`: the Spark filter job.
  * One line per row-group size gives cells per row group and the three
  * paths; a `split` line per size, and one for the fixture index as
  * `Store.writeIndex` writes it (300 rows, one row group), gives the
  * median p50 ms of each step of a miss and a hit: the read (footers,
  * row group or kept rows, key filter), the result build (the rows
  * analysed as a DataFrame) and the collect. */
object KeyLookupScale {
  /** Rounds per row. */
  private val Rounds = 5

  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val v = f; (v, (System.nanoTime() - t0) / 1e6)
  }

  private def ms(f: => Unit): Double = timed(f)._2

  private def pct(xs: Seq[Double], p: Double): Double =
    xs.sorted.apply(((xs.size - 1) * p).round.toInt)

  private def cache() = new KeyLookup.RowGroups(KeyLookup.Groups.budget)

  /** Read, result build and collect ms of one driver lookup. */
  private def steps(idx: DataFrame, k: String, groups: KeyLookup.RowGroups): Seq[Double] = {
    val (hits, read) = timed(KeyLookup.hits(idx, k, Long.MaxValue, groups).get)
    val (df, build) = timed(hits.frame)
    val collect = ms(assert(df.collect().length == 1))
    Seq(read, build, collect, read + build + collect)
  }

  /** One round's p50s: miss read, build, collect, total; the same for
    * hits; then the job. */
  private def round(idx: DataFrame, keys: Seq[String]): Seq[Double] = {
    def job(k: String): Double = ms(assert(idx.filter(col("id") === k).collect().length == 1))
    for (k <- keys.take(5)) { steps(idx, k, cache()); job(k) }
    val kept = cache()
    val timedKeys = keys.drop(5)
    val miss = timedKeys.map(k => steps(idx, k, cache()))
    val hit = timedKeys.map { k => steps(idx, k, kept); steps(idx, k, kept) }
    val jobs = timedKeys.map(job)
    def p50s(xs: Seq[Seq[Double]]) = xs.transpose.map(pct(_, 0.5))
    p50s(miss) ++ p50s(hit) :+ pct(jobs, 0.5)
  }

  /** Each value's median and quartiles over [[Rounds]] rounds. */
  private def rounds(idx: DataFrame, keys: Seq[String]): Seq[(Double, Double, Double)] =
    (1 to Rounds).map(_ => round(idx, keys)).transpose
      .map(xs => (pct(xs, 0.5), pct(xs, 0.25), pct(xs, 0.75)))

  private def show(v: (Double, Double, Double)): String =
    f"${v._1}%7.1f [${v._2}%.1f-${v._3}%.1f]"

  private def splitLine(label: String, r: Seq[(Double, Double, Double)]): String =
    f"$label%-22s miss read ${r(0)._1}%6.1f build ${r(1)._1}%5.1f " +
      f"collect ${r(2)._1}%5.1f  hit read ${r(4)._1}%6.1f build ${r(5)._1}%5.1f " +
      f"collect ${r(6)._1}%5.1f ms"

  def main(args: Array[String]): Unit = {
    val spark = SparkTestSession.spark
    val copies = args.headOption.map(_.toInt).getOrElse(1760)
    val tmp = Files.createTempDirectory("graft_keylookup_scale").toString
    val base = KeyLookupFixture.index(spark, s"$tmp/base")
    // the fixture's 300 records, `copies` times over under distinct ids
    spark.range(copies).withColumnRenamed("id", "copy").crossJoin(base)
      .withColumn("id", concat(col("id"), lit("~"),
        lpad(col("copy").cast("string"), 6, "0")))
      .drop("copy").write.mode("overwrite").parquet(s"$tmp/all")
    val all = spark.read.parquet(s"$tmp/all")
    val n = all.count()
    // leaf columns, as the footer counts them (a map is two)
    val columns = {
      val file = Files.list(java.nio.file.Paths.get(s"$tmp/all")).iterator()
        .asScala.find(_.toString.endsWith(".parquet")).get
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(
        new Path(file.toUri), spark.sparkContext.hadoopConfiguration))
      try r.getFooter.getBlocks.get(0).getColumns.size finally r.close()
    }
    val keys = all.select("id").orderBy(rand(7)).limit(30).collect().map(_.getString(0)).toSeq
    println(s"rows=$n columns=$columns rounds=$Rounds " +
      s"row-group cache budget=${KeyLookup.Groups.budget >> 20} MB")
    val sizes = if (args.length > 1) args.drop(1).toSeq.map(_.toInt)
      else Seq(4096, 32768, 131072)
    val lines = for (groupRows <- sizes) yield {
      val dir = s"$tmp/g$groupRows"
      all.repartitionByRange(4, col("id")).sortWithinPartitions("id")
        .write.mode("overwrite")
        .option("parquet.block.row.count.limit", groupRows.toString)
        .option("parquet.block.size", (1L << 30).toString)
        .parquet(dir)
      val r = rounds(spark.read.parquet(dir), keys)
      println(f"row_group_rows=$groupRows%6d cells=${groupRows.toLong * columns}%9d " +
        s"p50 ms, median [quartiles] of rounds: miss ${show(r(3))}  " +
        s"hit ${show(r(7))}  job ${show(r(8))}")
      splitLine(s"split rows=$groupRows", r)
    }
    val fixture = s"$tmp/fixture"
    Store.writeIndex(base, fixture)
    println(splitLine("split fixture", rounds(spark.read.parquet(fixture),
      base.select("id").orderBy(rand(7)).limit(30).collect().map(_.getString(0)).toSeq)))
    lines.foreach(println)
    spark.stop()
  }
}
