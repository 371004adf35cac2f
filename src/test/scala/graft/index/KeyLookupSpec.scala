package graft.index

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.{Callable, CyclicBarrier, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import graft.{SparkTestSession, Store}
import graft.operators.CacheScope
import graft.plans.GraftFunctions
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{InterpretedSafeProjection, InterpretedUnsafeProjection, SafeProjection, UnsafeProjection}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.TestHooks
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.DateType
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
    assert(SparkTestSession.jobsIn(assert(Store.getByKey(idx, keys(2)).collect().length == 1)) == 0)
    assert(SparkTestSession.jobsIn(assert(Store.getByKey(idx.select("id"), keys(2))
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

  /** An index written by `Store.writeIndex`, read back. */
  private def written(name: String): DataFrame = {
    val dir = tmp(name)
    Store.writeIndex(index, dir)
    spark.read.parquet(dir)
  }

  /** Runs `body` with the session setting `key` set, then unsets it. */
  private def withSetting[T](key: String, value: String)(body: => T): T = {
    spark.conf.set(key, value)
    try body finally spark.conf.unset(key)
  }

  test("a direct result's projections are interpreted; the fallback's are generated") {
    val idx = written("interpreted")
    val k = keys(4)
    // the projection factories, under the settings of the result's session
    def projections(df: DataFrame): Seq[AnyRef] =
      SQLConf.withExistingConf(df.sparkSession.sessionState.conf) {
        Seq(UnsafeProjection.create(df.schema), SafeProjection.create(df.schema))
      }
    val direct = Store.getByKey(idx, k)
    val fallback = Store.getByKey(idx.select("*"), k)
    assert(KeyLookup.direct(idx.select("*"), k).isEmpty)
    val Seq(unsafe, safe) = projections(direct)
    assert(unsafe.isInstanceOf[InterpretedUnsafeProjection], unsafe.getClass)
    assert(safe.isInstanceOf[InterpretedSafeProjection], safe.getClass)
    for (p <- projections(fallback)) assert(!p.getClass.getName.contains("Interpreted"),
      s"${p.getClass} on the index session")
    assert(fallback.sparkSession eq idx.sparkSession)
    assert(rows(direct) == rows(fallback))

    // collecting compiles nothing: a schema no other test uses (a trailing
    // decimal(7,3) column) would otherwise need new classes
    val dir = tmp("interpreted_fresh")
    Store.writeIndex(index.withColumn("fresh", lit(1.5).cast("decimal(7,3)")), dir)
    val fresh = spark.read.parquet(dir)
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    assert(Store.getByKey(fresh, k).collect().length == 1)
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiled)
    assert(Store.getByKey(fresh.select("*"), k).collect().length == 1)
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount > compiled)
  }

  test("a direct result joins and unions with DataFrames of the index's session") {
    val idx = written("join")
    val (a, b) = (keys(6), keys(7))
    val got = Store.getByKey(idx, a)
    assert(got.sparkSession ne idx.sparkSession)
    assert(rows(got.unionByName(idx.filter(col("id") === b))) ==
      rows(idx.filter(col("id").isin(a, b))))
    assert(rows(idx.filter(col("id") === b).union(got)) ==
      rows(idx.filter(col("id").isin(a, b))))
    val occ = idx.select(col("id"), col("occurrence_id").as("occ"))
    val left = got.join(occ, "id").select("id", "occurrence_id", "occ").collect()
    assert(left.length == 1 && left(0).getString(1) == left(0).getString(2))
    val right = occ.join(got, "id").select("occ", "occurrence_id").collect()
    assert(right.length == 1 && right(0).getString(0) == right(0).getString(1))
    // a temporary view made from the result is the derived session's
    got.createOrReplaceTempView("keylookup_hit")
    assert(got.sparkSession.catalog.tableExists("keylookup_hit"))
    assert(!spark.catalog.tableExists("keylookup_hit"))
  }

  test("selectExpr on a direct result resolves functions registered on the index's session") {
    // a session of its own, so the registration shows nowhere else; its
    // first lookup derives a session before the function exists
    val own = spark.newSession()
    val dir = tmp("functions")
    Store.writeIndex(index, dir)
    val idx = own.read.parquet(dir)
    val k = keys(8)
    assert(Store.getByKey(idx, k).collect().length == 1)
    GraftFunctions.register(own)
    val got = Store.getByKey(idx, k).selectExpr("char_entropy(occurrence_id) AS e")
    val want = idx.filter(col("id") === k).selectExpr("char_entropy(occurrence_id) AS e")
    assert(rows(got) == rows(want) && rows(got).size == 1)
  }

  test("a setting changed on the index's session reaches the next direct result") {
    val idx = written("java8")
    val k = keys(9)
    assert(idx.schema("occurrence_date").dataType == DateType)
    def date(): AnyRef = {
      val r = Store.getByKey(idx, k).head()
      r.get(r.fieldIndex("occurrence_date")).asInstanceOf[AnyRef]
    }
    val key = "spark.sql.datetime.java8API.enabled"
    assert(withSetting(key, "false")(date()).isInstanceOf[java.sql.Date])
    assert(withSetting(key, "true")(date()).isInstanceOf[java.time.LocalDate])
    assert(withSetting(key, "false")(date()).isInstanceOf[java.sql.Date])
  }

  test("lookups under many settings accumulate no listener and few sessions") {
    val idx = written("settings")
    val start = TestHooks.queryListenerCount(spark)
    // one session per settings: two lookups under the same settings share it
    assert(Store.getByKey(idx, keys(10)).sparkSession eq
      Store.getByKey(idx, keys(11)).sparkSession)
    val sessions = (0 until KeyLookup.MaxBound * 3).map { i =>
      withSetting("graft.keylookup.spec.round", i.toString) {
        val got = Store.getByKey(idx, keys(i))
        assert(got.collect().length == 1)
        assert(KeyLookup.boundSessions.size <= KeyLookup.MaxBound)
        got.sparkSession
      }
    }
    assert(sessions.distinct.size == sessions.size)
    assert(TestHooks.queryListenerCount(spark) == start)
  }

  test("a pending CacheScope listener is not copied into the derived session") {
    val idx = written("pending")
    val start = TestHooks.queryListenerCount(spark)
    val cache = spark.range(10).toDF("x").persist()
    val pending = CacheScope.releaseOnFirstMaterialization(
      spark.range(3).toDF("y"), Seq(cache))
    assert(TestHooks.queryListenerCount(spark) == start + 1)
    // a setting no earlier lookup ran under: the lookup derives a session
    val got = withSetting("graft.keylookup.spec.pending", System.nanoTime().toString) {
      Store.getByKey(idx, keys(12))
    }
    assert(TestHooks.queryListenerCount(got.sparkSession) == 0)
    assert(got.collect().length == 1)
    // the direct collect did not trigger the release; the pending result does
    assert(TestHooks.queryListenerCount(spark) == start + 1)
    assert(pending.collect().length == 3)
    val deadline = System.nanoTime() + 30e9.toLong
    while (TestHooks.queryListenerCount(spark) != start && System.nanoTime() < deadline)
      Thread.sleep(10)
    assert(TestHooks.queryListenerCount(spark) == start)
  }

  /** A row-group cache of its own, with the budget of the shared one. */
  private def ownGroups(budget: Long = KeyLookup.Groups.budget) = new KeyLookup.RowGroups(budget)

  /** The direct result for `key` read through `groups`. */
  private def through(groups: KeyLookup.RowGroups, idx: DataFrame, key: String): DataFrame =
    KeyLookup.hits(idx, key, KeyLookup.MaxCells, groups).get.frame

  /** The rows of `idx` by id, as the Spark filter returns them. */
  private def byId(idx: DataFrame): Map[String, Seq[Row]] =
    idx.collect().toSeq.groupBy(_.getAs[String]("id"))
      .map { case (k, v) => k -> v.sortBy(_.toString) }

  test("a direct result equals the Spark filter on a row-group miss and on a hit") {
    val idx = written("cache_hit")
    val groups = ownGroups()
    def same(key: String): Unit = {
      val got = through(groups, idx, key)
      val want = idx.filter(col("id") === key)
      assert(got.schema == want.schema)
      assert(rows(got) == rows(want), key)
    }
    same(keys(20))
    assert(groups.decodes == 1 && groups.bytes > 0)
    // the same key, another key and an absent key in the kept group
    val kept = groups.held.keySet
    for (k <- Seq(keys(20), keys(3) + "\u0000")) same(k)
    same(keys(21))
    assert(groups.held.keySet.size <= 2)
    val decoded = groups.decodes
    for (k <- Seq(keys(20), keys(21), keys(3) + "\u0000")) same(k)
    assert(groups.decodes == decoded && kept.subsetOf(groups.held.keySet))
    assert(groups.bytes == groups.held.values.sum)
  }

  test("an index rewritten in place never serves kept rows") {
    val src1 = tmp("kept_a"); val src2 = tmp("kept_b"); val src3 = tmp("kept_c")
    val fixed = tmp("kept_fixed")
    val k = keys(40)
    Store.writeIndex(index.coalesce(1), src1)
    Store.writeIndex(index.withColumn("occurrence_id",
      concat(col("occurrence_id"), lit("-v2"))).coalesce(1), src2)
    Store.writeIndex(index.withColumn("occurrence_id",
      concat(col("occurrence_id"), lit("-v3-longer"))).coalesce(1), src3)
    def part(d: String) = Files.list(Paths.get(d)).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).toSeq.head
    val target = Paths.get(fixed, "part-00000.parquet")
    val groups = ownGroups()
    def occ(): String = {
      val got = through(groups, spark.read.parquet(fixed), k).collect()
      assert(got.length == 1)
      got(0).getAs[String]("occurrence_id")
    }
    def files = groups.held.keySet.map(_.file)
    Files.copy(part(src1), target, StandardCopyOption.REPLACE_EXISTING)
    val v1 = occ()
    assert(occ() == v1 && groups.decodes == 1)
    val first = files
    // new contents and a new modification time
    Files.copy(part(src2), target, StandardCopyOption.REPLACE_EXISTING)
    val mtime = Files.getLastModifiedTime(target).toMillis + 10000
    Files.setLastModifiedTime(target, java.nio.file.attribute.FileTime.fromMillis(mtime))
    assert(occ() == v1 + "-v2")
    assert(groups.decodes == 2 && files.intersect(first).isEmpty)
    // new contents and length under the same modification time
    val second = files
    Files.copy(part(src3), target, StandardCopyOption.REPLACE_EXISTING)
    Files.setLastModifiedTime(target, java.nio.file.attribute.FileTime.fromMillis(mtime))
    assert(Files.size(target) != second.head.length)
    assert(occ() == v1 + "-v3-longer")
    assert(groups.decodes == 3 && files.intersect(second).isEmpty)
    assert(groups.bytes == groups.held.values.sum)
  }

  test("lookups over more row groups than the budget holds stay within it") {
    val dir = tmp("budget")
    smallGroups(index, dir)
    val idx = spark.read.parquet(dir)
    val want = byId(idx)
    // each group's bytes, with a budget that keeps every group
    val all = ownGroups()
    val sizes = keys.map { k => through(all, idx, k).collect(); all.bytes }
    val groupBytes = all.held.values.toSeq
    assert(groupBytes.size > 10 && sizes.last == groupBytes.sum)
    // room for about four of the largest groups; each is admitted
    val small = ownGroups(4 * groupBytes.max)
    for (k <- keys ++ keys.reverse) {
      assert(through(small, idx, k).collect().toSeq.sortBy(_.toString) == want(k), k)
      assert(small.bytes <= small.budget)
      assert(small.bytes == small.held.values.sum)
    }
    assert(small.decodes > groupBytes.size)
    assert(small.held.size < groupBytes.size)
  }

  test("clearing the readers releases the bytes of the groups they decoded") {
    val idx = written("release")
    val groups = ownGroups()
    val k = keys(13)
    val first = KeyLookup.hits(idx, k, KeyLookup.MaxCells, groups).get.bound
    assert(groups.held.keys.exists(_.bound eq first) && groups.bytes > 0)
    // enough new settings to clear the readers at least once
    for (i <- 0 to KeyLookup.MaxBound)
      withSetting("graft.keylookup.spec.release", i.toString) {
        assert(through(groups, idx, k).collect().length == 1)
      }
    assert(!groups.held.keys.exists(_.bound eq first))
    assert(groups.held.keySet.map(_.bound.session).subsetOf(KeyLookup.boundSessions))
    assert(groups.bytes == groups.held.values.sum)
  }

  test("a row group too large to keep is read from the file and not kept") {
    val idx = written("too_large")
    val k = keys(14)
    val want = rows(idx.filter(col("id") === k))
    val fits = ownGroups()
    through(fits, idx, k).collect()
    val groupBytes = fits.bytes
    // the decode stops once past the admitted size; nothing is kept and
    // the group is not decoded again
    val over = ownGroups(4 * (groupBytes / 2))
    for (_ <- 1 to 2) assert(rows(through(over, idx, k)) == want)
    assert(over.decodes == 1 && over.bytes == 0)
    // a group whose fixed-width part alone is past it is not decoded at all
    val tiny = ownGroups(4)
    for (_ <- 1 to 2) assert(rows(through(tiny, idx, k)) == want)
    assert(tiny.decodes == 0 && tiny.held.isEmpty)
  }

  test("concurrent lookups into one row group decode it once") {
    val idx = written("concurrent")
    val inFile = idx.select(col("id"), col("occurrence_id"), input_file_name().as("f"))
      .collect().groupBy(_.getString(2)).values.maxBy(_.length)
      .take(8).map(r => r.getString(0) -> r.getString(1))
    assert(inFile.length == 8)
    val groups = ownGroups()
    val start = new CyclicBarrier(inFile.length)
    val pool = Executors.newFixedThreadPool(inFile.length)
    try {
      val got = inFile.toSeq.map { case (k, _) =>
        pool.submit(new Callable[Array[Row]] {
          def call(): Array[Row] = { start.await(); through(groups, idx, k).collect() }
        })
      }.map(_.get(120, TimeUnit.SECONDS))
      for ((r, (k, occ)) <- got.zip(inFile)) {
        assert(r.length == 1, k)
        assert(r(0).getAs[String]("id") == k && r(0).getAs[String]("occurrence_id") == occ)
      }
    } finally pool.shutdown()
    assert(groups.decodes == 1 && groups.held.size == 1)
  }

  test("a setting changed on the index's session reaches a result served from a kept group") {
    val idx = written("java8_kept")
    val k = keys(15)
    def date(): AnyRef = {
      val r = Store.getByKey(idx, k).head()
      r.get(r.fieldIndex("occurrence_date")).asInstanceOf[AnyRef]
    }
    val key = "spark.sql.datetime.java8API.enabled"
    for ((value, cls) <- Seq("false" -> classOf[java.sql.Date],
        "true" -> classOf[java.time.LocalDate], "false" -> classOf[java.sql.Date]))
      withSetting(key, value) {
        assert(cls.isInstance(date()))
        // the second lookup under these settings is served from the kept group
        val decoded = KeyLookup.Groups.decodes
        assert(cls.isInstance(date()))
        assert(KeyLookup.Groups.decodes == decoded)
      }
  }

  test("direct results under one reader share one bound encoder: collect runs no analyzer pass") {
    val idx = written("bound")
    val (a, b) = (Store.getByKey(idx, keys(16)), Store.getByKey(idx, keys(17)))
    assert(a ne b)
    assert(a.collect().length == 1 && b.collect().length == 1)
    val enc = TestHooks.resolvedEncoder(a)
    assert(TestHooks.resolvedEncoder(b) eq enc)
    // the filter path resolves its own; another setting binds another copy
    assert(TestHooks.resolvedEncoder(idx.filter(col("id") === keys(16))) ne enc)
    withSetting("graft.keylookup.spec.bound", "1") {
      val c = Store.getByKey(idx, keys(16))
      assert(rows(c) == rows(a))
      assert(TestHooks.resolvedEncoder(c) ne enc)
    }
  }

  test("a direct result unioned with a widened or an added column matches the filter path") {
    val idx = written("widen")
    val (k, other) = (keys(18), keys(19))
    val got = Store.getByKey(idx, k)
    val want = idx.filter(col("id") === k)
    def same(g: DataFrame, w: DataFrame): Unit = {
      assert(g.schema == w.schema)
      assert(rows(g) == rows(w))
    }
    // occurrence_year int, widened to double by the union
    val wide = idx.filter(col("id") === other)
      .withColumn("occurrence_year", col("occurrence_year").cast("double"))
    assert(idx.schema("occurrence_year").dataType.typeName == "integer")
    val unioned = got.union(wide)
    assert(unioned.schema("occurrence_year").dataType.typeName == "double")
    same(unioned, want.union(wide))
    assert(rows(unioned).size == 2)
    // a column the direct result lacks, added by name
    val extra = idx.filter(col("id") === other).withColumn("extra", lit(7))
    val byName = got.unionByName(extra, allowMissingColumns = true)
    assert(byName.columns.length == idx.columns.length + 1)
    same(byName, want.unionByName(extra, allowMissingColumns = true))
    assert(rows(byName).map(_.getAs[Any]("extra")).toSet == Set(null, 7))
  }

  test("a direct result's encoder serves its bound copy only to its types and nullability") {
    // DataFrame set operators derive a new encoder for their result; the
    // direct result's own meets other attributes through `as`
    val idx = written("encoder")
    val k = keys(21)
    val got = Store.getByKey(idx, k)
    assert(got.collect().length == 1)
    val bound = TestHooks.resolvedEncoder(got)
    val enc = got.encoder.asInstanceOf[ExpressionEncoder[Row]]
    val analyzer = got.sparkSession.sessionState.analyzer
    val attrs = idx.filter(col("id") === k).queryExecution.analyzed.output
    // other names and expression ids, the same types and nullability
    assert(enc.resolveAndBind(attrs.map(_.withName("x").newInstance()), analyzer) eq bound)
    assert(enc.resolveAndBind(attrs.updated(3, attrs(3).withNullability(false)),
      analyzer) ne bound)
    // a frame whose types differ deserializes as with the index's own encoder
    def outcome(df: DataFrame): Either[String, Seq[Row]] =
      scala.util.Try(rows(df)).toEither.left.map(_.getClass.getName)
    val want = idx.filter(col("id") === k)
    val year = want.withColumn("occurrence_year", col("occurrence_year").cast("double"))
    val front = want.select(lit("front").as("front") +: want.columns.toSeq.map(col): _*)
    for (df <- Seq(year, front))
      assert(outcome(df.as(enc)) == outcome(df.as(want.encoder)))
    assert(outcome(year.as(enc)).isLeft)
  }

  test("filter, limit, head and as on a direct result return the filter path's rows") {
    import KeyLookupSpec.Hit
    val idx = written("typed")
    val k = keys(20)
    val got = Store.getByKey(idx, k)
    val want = idx.filter(col("id") === k)
    val pred = col("occurrence_id").isNotNull
    assert(rows(got.filter(pred)) == rows(want.filter(pred)) && rows(got.filter(pred)).size == 1)
    assert(got.filter(col("occurrence_id") === "absent").collect().isEmpty)
    assert(rows(got.limit(1)) == rows(want.limit(1)))
    assert(got.head() == want.head())
    assert(got.head().schema == want.head().schema)
    val hits = got.as[Hit].collect().toSeq
    assert(hits == want.as[Hit].collect().toSeq)
    assert(hits.map(_.id) == Seq(k))
  }
}

object KeyLookupSpec {
  /** A few index columns, read by name. */
  final case class Hit(id: String, occurrence_id: String, occurrence_year: Option[Int])
}
