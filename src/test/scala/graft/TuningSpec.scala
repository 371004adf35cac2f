package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Pins the data-aware shuffle-partition formula (VERDICT r11 item 3):
  * the default must reproduce the hand-tuned values that swept the
  * measured decades clean, floor to one-per-core at the record SF, and
  * never run away on huge inputs. */
class TuningSpec extends AnyFunSuite {

  test("formula: floors to cpus at record scale, tracks data beyond") {
    // sf0.1 is ~17 MB — the record config must stay one per core
    assert(Tuning.partitionsForBytes(17L << 20, 32) == 32)
    assert(Tuning.partitionsForBytes(17L << 20, 16) == 16)
    // 10× is ~174 MB — reproduces the hand-picked 64-neighbourhood
    val p10 = Tuning.partitionsForBytes(174L << 20, 16)
    assert(p10 >= 32 && p10 <= 96, s"10x gave $p10")
    // 100× is ~1.7 GB — same order as the hand-picked 256
    val p100 = Tuning.partitionsForBytes(1737L << 20, 16)
    assert(p100 >= 256 && p100 <= 1024, s"100x gave $p100")
    // monotone in bytes, capped at 4096
    assert(Tuning.partitionsForBytes(1L << 40, 16) == 4096)
    assert(Tuning.partitionsForBytes(0L, 8) == 8)
  }

  test("dirBytes sums nested regular files; absent dir reads as zero") {
    val d = java.nio.file.Files.createTempDirectory("tuning_spec")
    java.nio.file.Files.createDirectory(d.resolve("t.parquet"))
    java.nio.file.Files.write(d.resolve("t.parquet/part-0"),
      new Array[Byte](1000))
    java.nio.file.Files.write(d.resolve("top"), new Array[Byte](500))
    assert(Tuning.dirBytes(d.toString) == 1500L)
    assert(Tuning.dirBytes(d.resolve("nope").toString) == 0L)
  }

  test("the real testdata dirs land where the measured decades did") {
    import SparkTestSession.{sfDir, fixturesPresent}
    assume(fixturesPresent("0.1"), "testdata fixtures absent")
    // record SF: data is small enough that cores win the clamp
    assert(Tuning.partitionsForBytes(
      Tuning.dirBytes(sfDir("0.1")), 32) == 32)
  }

  test("plannedScanSplits equals the partition count of the planned scan") {
    val spark = SparkTestSession.spark
    import org.apache.spark.sql.functions._
    def dir(name: String) = java.nio.file.Files.createTempDirectory(s"tuning_splits_$name").toString
    def write(df: org.apache.spark.sql.DataFrame, name: String): String = {
      val d = dir(name)
      df.write.mode("overwrite").parquet(d)
      d
    }
    def bytes(d: String): Seq[Long] = java.nio.file.Files.list(java.nio.file.Paths.get(d))
      .iterator().asScala.filter(_.toString.endsWith(".parquet"))
      .map(java.nio.file.Files.size(_)).toSeq
    // hex digests barely compress, so file sizes follow row counts
    def rows(n: Long) = spark.range(n).select(sha2(col("id").cast("string"), 256).as("h"))
    val small = write(rows(1000).coalesce(1), "small")
    val tiny = write(spark.range(0, 200, 1, 200).toDF(), "tiny")
    val one = write(rows(40000).coalesce(1), "one")
    val four = write(rows(80000).repartition(4), "four")
    assert(bytes(tiny).size == 200 && bytes(four).size == 4)
    val oneBytes = bytes(one).head
    val maxKey = "spark.sql.files.maxPartitionBytes"
    val openKey = "spark.sql.files.openCostInBytes"
    // each layout under the default settings, and with the one file just
    // over maxPartitionBytes under the default and a small open cost
    val settings = Seq(Map.empty[String, String],
      Map(maxKey -> (oneBytes - 1000).toString),
      Map(maxKey -> (oneBytes - 1000).toString, openKey -> "65536"))
    val cores = spark.sparkContext.defaultParallelism
    for (conf <- settings; d <- Seq(small, tiny, one, four)) {
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        val df = spark.read.parquet(d)
        val planned = df.rdd.getNumPartitions
        assert(Tuning.plannedScanSplits(df, -1) == planned, s"$d under $conf")
        assert(Tuning.plannedScanSplits(df.filter(col(df.columns.head).isNotNull), -1) == planned)
        // a single small file, as enrich reads its input: one split, fanned out
        if (d == small && conf.isEmpty) assert(planned == 1 && planned < cores)
      } finally conf.keys.foreach(spark.conf.unset)
    }
    // a non-narrow plan is not estimated
    val agg = spark.read.parquet(small).groupBy().count()
    assert(Tuning.plannedScanSplits(agg, -1) == -1)
  }
}
