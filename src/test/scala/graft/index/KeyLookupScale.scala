package graft.index

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.SparkTestSession
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
  * [[KeyLookup.MaxCells]] is set from where the two cross.
  *
  *   SPARK_DRIVER_MEM=3g sbt "Test/runMain graft.index.KeyLookupScale [copies [rows ...]]"
  *
  * Prints one line per row-group size: cells per row group and the
  * p50/p90 ms of each path over 30 lookups of keys spread over the index. */
object KeyLookupScale {
  private def ms(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
  }

  private def pct(xs: Seq[Double], p: Double): Double =
    xs.sorted.apply(((xs.size - 1) * p).round.toInt)

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
    val keys = all.select("id").orderBy(rand(7)).limit(35).collect().map(_.getString(0))
    println(s"rows=$n columns=$columns")
    val sizes = if (args.length > 1) args.drop(1).toSeq.map(_.toInt)
      else Seq(4096, 32768, 131072)
    for (groupRows <- sizes) {
      val dir = s"$tmp/g$groupRows"
      all.repartitionByRange(4, col("id")).sortWithinPartitions("id")
        .write.mode("overwrite")
        .option("parquet.block.row.count.limit", groupRows.toString)
        .option("parquet.block.size", (1L << 30).toString)
        .parquet(dir)
      val idx = spark.read.parquet(dir)
      def driver(k: String): DataFrame = KeyLookup.direct(idx, k, Long.MaxValue).get
      def job(k: String): DataFrame = idx.filter(col("id") === k)
      for (k <- keys.take(5)) { driver(k).collect(); job(k).collect() }
      val timed = keys.drop(5).toSeq.map { k =>
        (ms(assert(driver(k).collect().length == 1)),
          ms(assert(job(k).collect().length == 1)))
      }
      val (d, j) = (timed.map(_._1), timed.map(_._2))
      println(f"row_group_rows=$groupRows%6d cells=${groupRows.toLong * columns}%9d " +
        f"driver p50=${pct(d, 0.5)}%7.1f p90=${pct(d, 0.9)}%7.1f ms  " +
        f"job p50=${pct(j, 0.5)}%7.1f p90=${pct(j, 0.9)}%7.1f ms")
    }
    spark.stop()
  }
}
