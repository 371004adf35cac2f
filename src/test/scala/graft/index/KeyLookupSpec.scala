package graft.index

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.{SparkTestSession, Store}
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `Store.getByKey` answers on the driver from footer-pruned row groups
  * (`KeyLookup`) and must return exactly what the Spark filter returns:
  * same schema, same rows, on every layout and every fallback shape. */
class KeyLookupSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp(name: String): String =
    Files.createTempDirectory(s"graft_keylookup_$name").toString

  /** A real index: misc properties, assertion arrays and layer columns. */
  private lazy val index: DataFrame = KeyLookupFixture.index(spark, tmp("base"))
  private lazy val keys: Seq[String] =
    index.select("id").as[String].collect().sorted.toSeq

  private def rows(df: DataFrame) = df.collect().toSeq.sortBy(_.toString)

  /** getByKey equals the Spark filter, schema and rows; `direct` says
    * whether the driver-side path must have answered. */
  private def agrees(idx: DataFrame, key: String, direct: Boolean): Seq[_] = {
    assert(KeyLookup.direct(idx, key).isDefined == direct, s"direct path for $key")
    val got = Store.getByKey(idx, key)
    val want = idx.filter(col("id") === key)
    assert(got.schema == want.schema)
    val g = rows(got)
    assert(g == rows(want), s"rows for $key")
    g
  }

  private def rowGroups(dir: String): Seq[Int] =
    Files.list(Paths.get(dir)).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).toSeq.map { p =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(
          new Path(p.toUri), spark.sparkContext.hadoopConfiguration))
        try r.getFooter.getBlocks.size finally r.close()
      }

  /** Sorted write with row groups of ten rows. */
  private def smallGroups(df: DataFrame, dir: String): Unit =
    df.repartitionByRange(2, col("id")).sortWithinPartitions("id")
      .write.mode("overwrite")
      .option("parquet.block.row.count.limit", "10")
      .parquet(dir)

  /** Jobs started while `body` runs, counted by a listener that a sentinel
    * job proves has caught up, and that is removed afterwards. */
  private def jobsIn(body: => Unit): Int = {
    val sc = spark.sparkContext
    val prop = "graft.keylookup.spec"
    val tag = s"t${System.nanoTime()}"
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(prop))).foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(prop, tag)
      try body finally sc.setLocalProperty(prop, null)
      sc.setLocalProperty(prop, s"$tag-end")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(prop, null)
      val deadline = System.nanoTime() + 30e9.toLong
      while (!seen.contains(s"$tag-end") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(seen.contains(s"$tag-end"), "listener never saw the sentinel job")
      seen.asScala.count(_ == tag)
    } finally sc.removeSparkListener(listener)
  }

  test("hit and miss on a writeIndex layout match the Spark filter") {
    val dir = tmp("sorted")
    Store.writeIndex(index, dir)
    val idx = spark.read.parquet(dir)
    val hit = agrees(idx, keys(17), direct = true)
    assert(hit.size == 1)
    val row = Store.getByKey(idx, keys(17)).head()
    assert(row.getAs[Map[String, String]]("miscProperties")("sourceSystem")
      .startsWith("sys"))
    assert(row.getAs[collection.Seq[String]]("assertions") != null)
    assert(row.getAs[String]("cl927") == "New South Wales")
    for (miss <- Seq("", "0", keys.head + "0", "\uffff", keys(3) + "\u0000"))
      assert(agrees(idx, miss, direct = true).isEmpty, miss)
  }

  test("footer ranges compare as unsigned bytes, as Parquet orders them") {
    // one row group spanning ASCII and non-ASCII ids: a signed byte
    // comparison would put "é…" below the ASCII minimum and prune it
    val dir = tmp("unsigned")
    val ids = Seq("a1", "a2", "zz", "\u00e91", "\u00e92", "\u4e2d")
    Store.writeIndex(index.limit(ids.size).withColumn("_i",
      monotonically_increasing_id()).withColumn("id",
      element_at(typedLit(ids), (col("_i") % ids.size + 1).cast("int")))
      .drop("_i").coalesce(1), dir)
    val idx = spark.read.parquet(dir)
    assert(rowGroups(dir) == Seq(1))
    for (k <- ids) assert(agrees(idx, k, direct = true).size == 1, k)
    assert(agrees(idx, "\u00e9", direct = true).isEmpty)
  }

  test("a key present in two files returns both rows") {
    val dir = tmp("two")
    Store.writeIndex(index, dir)
    index.filter(col("id").isin(keys(5), keys(200)))
      .withColumn("occurrence_id", lit("second copy"))
      .write.mode("append").parquet(dir)
    val idx = spark.read.parquet(dir)
    assert(agrees(idx, keys(5), direct = true).size == 2)
    assert(agrees(idx, keys(200), direct = true).size == 2)
  }

  test("null ids are never returned, and all-null row groups are skipped") {
    val dir = tmp("nulls")
    val nulls = index.limit(40).withColumn("id", lit(null).cast("string"))
    smallGroups(index.unionByName(nulls), dir)
    val idx = spark.read.parquet(dir)
    assert(agrees(idx, keys(0), direct = true).size == 1)
    assert(agrees(idx, keys.last, direct = true).size == 1)
    assert(idx.filter(col("id").isNull).count() == 40)
  }

  test("several row groups per file, duplicates across a group boundary") {
    val dir = tmp("groups")
    val dup = keys(150)
    val copies = index.filter(col("id") === dup)
      .crossJoin(spark.range(15).select(col("id").as("copy")))
      .withColumn("occurrence_id", concat(lit("copy"), col("copy").cast("string")))
      .drop("copy")
    smallGroups(index.unionByName(copies), dir)
    assert(rowGroups(dir).forall(_ > 5), "fixture must have many row groups")
    val idx = spark.read.parquet(dir)
    assert(agrees(idx, dup, direct = true).size == 16)
    for (k <- Seq(keys(0), keys(1), keys(149), keys(151), keys.last))
      assert(agrees(idx, k, direct = true).size == 1, k)
  }

  test("an index written unsorted, as before the sorted writeIndex") {
    val dir = tmp("unsorted")
    index.repartition(4).write.mode("overwrite").parquet(dir)
    val idx = spark.read.parquet(dir)
    // four files, one row group each: every one is a candidate, but four
    // do not exceed the default parallelism of local[4]
    for (k <- Seq(keys(0), keys(99), "absent"))
      agrees(idx, k, direct = true)
    // many row groups with overlapping ranges: pruning fails, Spark answers
    val many = tmp("unsorted_many")
    index.repartition(2).write.mode("overwrite")
      .option("parquet.block.row.count.limit", "10")
      .parquet(many)
    assert(agrees(spark.read.parquet(many), keys(42), direct = false).size == 1)
  }

  test("an index overwritten in place between two lookups") {
    val dir = tmp("overwrite")
    val k = keys(33)
    Store.writeIndex(index, dir)
    val before = agrees(spark.read.parquet(dir), k, direct = true)
    Store.writeIndex(index.withColumn("occurrence_id",
      concat(col("occurrence_id"), lit("-v2"))), dir)
    val after = agrees(spark.read.parquet(dir), k, direct = true)
    assert(before != after)
    assert(Store.getByKey(spark.read.parquet(dir), k).head()
      .getAs[String]("occurrence_id").endsWith("-v2"))

    // same file name, new contents: cached footers are keyed by length and
    // modification time as well as path
    val src1 = tmp("ow_a"); val src2 = tmp("ow_b"); val fixed = tmp("ow_fixed")
    Store.writeIndex(index.filter(col("id") < keys(150)).coalesce(1), src1)
    Store.writeIndex(index.filter(col("id") >= keys(150)).coalesce(1), src2)
    def part(d: String) = Files.list(Paths.get(d)).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).toSeq.head
    val target = Paths.get(fixed, "part-00000.parquet")
    Files.copy(part(src1), target, StandardCopyOption.REPLACE_EXISTING)
    assert(agrees(spark.read.parquet(fixed), keys(10), direct = true).size == 1)
    assert(agrees(spark.read.parquet(fixed), keys(250), direct = true).isEmpty)
    Files.copy(part(src2), target, StandardCopyOption.REPLACE_EXISTING)
    Files.setLastModifiedTime(target, java.nio.file.attribute.FileTime
      .fromMillis(System.currentTimeMillis() + 10000))
    assert(agrees(spark.read.parquet(fixed), keys(10), direct = true).isEmpty)
    assert(agrees(spark.read.parquet(fixed), keys(250), direct = true).size == 1)
  }

  test("candidate row groups past MaxCells fall back; writeIndex stays under it") {
    // one file of 70 000 narrow rows: writeIndex cuts it into row groups
    // of at most GroupRows rows
    val dir = tmp("cells")
    Store.writeIndex(spark.range(70000).select(
      format_string("k%06d", col("id")).as("id"), (col("id") % 7).as("v"))
      .coalesce(1), dir)
    val groupRows = Files.list(Paths.get(dir)).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).toSeq.flatMap { p =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(
          new Path(p.toUri), spark.sparkContext.hadoopConfiguration))
        try r.getFooter.getBlocks.asScala.map(_.getRowCount) finally r.close()
      }
    assert(groupRows.sum == 70000 && groupRows.size >= 3)
    assert(groupRows.forall(_ <= KeyLookup.GroupRows), groupRows)
    assert(KeyLookup.GroupRows.toLong * 256 <= KeyLookup.MaxCells)

    // the key's row group has GroupRows rows of two columns
    val idx = spark.read.parquet(dir)
    val cells = KeyLookup.GroupRows.toLong * 2
    assert(KeyLookup.direct(idx, "k000100", cells).get.collect().length == 1)
    assert(KeyLookup.direct(idx, "k000100", cells - 1).isEmpty)
    assert(agrees(idx, "k000100", direct = true).size == 1)
  }

  test("a changed session setting builds a new reader") {
    // the relation asks for VAL; the file holds val, which only a
    // case-insensitive reader matches
    val dir = tmp("case")
    index.select(col("id"), col("occurrence_id").as("val"))
      .write.mode("overwrite").parquet(dir)
    val idx = spark.read.schema("id string, VAL string").parquet(dir)
    val k = keys(12)
    val occ = index.filter(col("id") === k).select("occurrence_id").head().getString(0)
    try {
      spark.conf.set("spark.sql.caseSensitive", "false")
      assert(agrees(idx, k, direct = true).map(_.toString) ==
        Seq(s"[$k,$occ]"))
      spark.conf.set("spark.sql.caseSensitive", "true")
      assert(agrees(idx, k, direct = true).map(_.toString) ==
        Seq(s"[$k,null]"))
    } finally spark.conf.unset("spark.sql.caseSensitive")
  }

  test("every non-bare plan falls back to the Spark filter") {
    val dir = tmp("fallback")
    Store.writeIndex(index, dir)
    val idx = spark.read.parquet(dir)
    val k = keys(77)
    assert(agrees(idx.select("id", "occurrence_id", "miscProperties"), k,
      direct = false).size == 1)
    assert(agrees(idx.filter(col("occurrence_id").isNotNull), k,
      direct = false).size == 1)

    Store.writeBucketed(index, "keylookup_bucketed", "id", 4)
    try assert(agrees(spark.table("keylookup_bucketed"), k, direct = false).size == 1)
    finally spark.sql("DROP TABLE IF EXISTS keylookup_bucketed")

    val csv = tmp("csv")
    index.select("id", "occurrence_id").write.mode("overwrite")
      .option("header", "true").csv(csv)
    val csvIdx = spark.read.option("header", "true").csv(csv)
    assert(agrees(csvIdx, k, direct = false).size == 1)

    val parted = tmp("parted")
    index.write.mode("overwrite").partitionBy("occurrence_year").parquet(parted)
    assert(agrees(spark.read.parquet(parted), k, direct = false).size == 1)

    val longIds = tmp("long")
    spark.range(20).write.mode("overwrite").parquet(longIds)
    assert(agrees(spark.read.parquet(longIds), "7", direct = false).size == 1)
  }

  test("a direct lookup starts no Spark job; the fallback does") {
    val dir = tmp("jobs")
    Store.writeIndex(index, dir)
    val idx = spark.read.parquet(dir)
    Store.getByKey(idx, keys(1)).collect() // warm
    assert(jobsIn(assert(Store.getByKey(idx, keys(2)).collect().length == 1)) == 0)
    assert(jobsIn(assert(Store.getByKey(idx.select("id"), keys(2))
      .collect().length == 1)) >= 1)
  }

  test("writeIndex: same rows, disjoint file id ranges, file count kept") {
    val wide = spark.range(5000).select(
      (sha2(col("id").cast("string"), 256).as("id") +:
        (0 until 120).map(i => substring(sha2(concat(col("id").cast("string"),
          lit(s"-$i")), 256), 1, 16).as(s"s$i"))): _*)
      .repartition(4)
    val plain = tmp("layout_plain"); val sorted = tmp("layout_sorted")
    wide.write.mode("overwrite").parquet(plain)
    Store.writeIndex(spark.read.parquet(plain), sorted)
    val (p, s) = (spark.read.parquet(plain), spark.read.parquet(sorted))
    assert(p.exceptAll(s).isEmpty && s.exceptAll(p).isEmpty)

    val ranges = Files.list(Paths.get(sorted)).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).toSeq.map { f =>
        spark.read.parquet(f.toString).agg(min("id"), max("id")).head()
      }.map(r => (r.getString(0), r.getString(1))).sortBy(_._1)
    ranges.zip(ranges.drop(1)).foreach { case ((_, hi), (lo, _)) =>
      assert(hi < lo, s"overlapping file ranges: $hi >= $lo")
    }
    def files(d: String) = Files.list(Paths.get(d)).iterator().asScala
      .count(_.toString.endsWith(".parquet"))
    assert(math.abs(files(sorted) - files(plain)) <= 1,
      s"${files(sorted)} sorted files against ${files(plain)}")
    // each file is sorted by id
    Files.list(Paths.get(sorted)).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).foreach { f =>
        val ids = spark.read.parquet(f.toString).select("id").as[String].collect()
        assert(ids.toSeq == ids.sorted.toSeq)
      }
  }
}
