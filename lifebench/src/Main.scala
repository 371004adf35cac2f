package lifebench

import graft.Store
import graft.index.IndexSupport
import graft.operators.DuplicationDetection.DupResult
import graft.processors.Processors
import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import Json._
import org.json4s.{JArray, JObject, JString}

/** Occurrence-lifecycle benchmark child: one JVM, one Spark session, the
  * named workloads in turn. It drives the program only through `Store`
  * and the module functions `Store` delegates to, and writes one facts
  * file per finished workload (timings, spans, counters, generator
  * truth); `run.py` turns those into metrics.
  *
  * usage: run <workDir> <workloads,comma-separated> <seed> <seconds> <trace 0|1> <outDir>
  *        gen <dir> <seed> <records>     (generator only, for self-tests) */
object Main {

  val BulkRecords = 6000
  val ServeRecords = 5000
  val SetupReps = 3
  /** Open-loop request rate of `serve`, per second. */
  val ServeRate = 2.5
  val WarmLookups = 60
  val DownloadSlot = 25
  val SearchSlots = Set(2, 7, 13, 18, 24, 30, 35, 41, 46)
  val DeltaBatchShare = 0.005
  val DeltaTouchedShare = 0.10
  val DeltaBatchesMax = 20
  val Layers = Seq(Gen.RegionLayer, Gen.EnvLayer)

  def main(args: Array[String]): Unit = args.toList match {
    case "gen" :: dir :: seed :: n :: Nil =>
      val truth = Gen.occurrences(seed.toLong, "b", n.toInt)
      Gen.writeDims(dir, seed.toLong)
      Gen.writeOccurrences(s"$dir/occurrences.csv", truth.recs)
      Gen.writeOccurrences(s"$dir/batch1.csv", Gen.deltaBatch(seed.toLong, 1,
        truth, 40, 10, DeltaTouchedShare)._1)
    case "run" :: work :: names :: seed :: seconds :: trace :: out :: Nil =>
      val t0 = System.nanoTime()
      val spark = session(work)
      val sessionS = (System.nanoTime() - t0) / 1e9
      try names.split(",").foreach { w =>
        val b = new Bench(spark, s"$work/$w", seed.toLong, seconds.toDouble,
          trace == "1", sessionS)
        val facts = w match {
          case "bulk" => b.bulk()
          case "serve" => b.serve()
          case other => sys.error(s"unknown workload $other")
        }
        Files.write(Paths.get(s"$out/facts_$w.json"), render(facts).getBytes("UTF-8"))
      } finally spark.stop()
    case _ =>
      System.err.println("usage: run <workDir> <workloads> <seed> <seconds> <trace> <outDir> | gen <dir> <seed> <n>")
      sys.exit(2)
  }

  def session(work: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("lifebench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // sized to inputs of a few thousand rows: the default 200 turns every
      // shuffle into 200 near-empty tasks
      .config("spark.sql.shuffle.partitions", (2 * cores).toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

/** One workload's run: set-up repetitions, the measured phase (traced or
  * not), the output checks. */
final class Bench(spark: SparkSession, dir: String, seed: Long,
    seconds: Double, traced: Boolean, sessionS: Double) {
  import Main._
  import spark.implicits._

  private val attempted = new AtomicLong(0)
  private val failed = new AtomicLong(0)
  private val failures = new ConcurrentLinkedQueue[String]()
  private val counters = scala.collection.mutable.LinkedHashMap[String, Value]()

  /** One operation: counted as attempted, and as failed if it throws. */
  private def op[T](what: String)(body: => T): Option[T] = {
    attempted.incrementAndGet()
    try Some(body)
    catch {
      case e: Throwable =>
        failed.incrementAndGet()
        if (failures.size < 20) failures.add(s"$what: ${e.toString.take(300)}")
        None
    }
  }
  private def check(what: String)(ok: => Boolean): Unit =
    op(what) { if (!ok) throw new AssertionError("mismatch") }

  private def now(): Double = System.nanoTime() / 1e9
  private def timed(body: => Unit): Double = { val t = now(); body; now() - t }
  private def rm(path: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new File(path))

  // ── program calls, each a span of the traced run ──

  private def read(p: String): DataFrame = spark.read.parquet(p)
  private def write(df: DataFrame, p: String): Unit =
    df.write.mode("overwrite").parquet(p)

  final class Dims(d: String) {
    private def csv(name: String) = spark.read.schema(Gen.DimSchemas(name))
      .option("header", "true").csv(s"$d/$name.csv")
    val names = csv("names"); val sensitivity = csv("sensitivity")
    val groups = csv("groups"); val layers = csv("layers")
    val distributions = csv("distributions")
    def processing(last: Option[DataFrame]) = Processors.Dimensions(
      names = Some(names), sensitivity = Some(sensitivity),
      speciesGroups = Some(groups), lastProcessed = last)
  }

  /** Dedup candidates: the index fields the reference tool reads. */
  private def candidates(records: DataFrame): DataFrame = records.select(
    col("rowKey"), col("processed_taxonConceptID").as("taxonGuid"),
    col("processed_year").cast("string").as("year"),
    col("processed_month").cast("string").as("month"),
    col("processed_day").cast("string").as("day"),
    col("decimalLatitude").as("lat"), col("decimalLongitude").as("lon"),
    col("recordedBy").as("collector"), col("recordNumber"),
    col("catalogNumber").as("catalogueNumber"),
    col("dataResourceUid").as("druid"))

  /** Ingest stages as the Cli verbs run them, parquet between stages. */
  private def ingest(t: Trace, csv: String, out: String, dims: Dims): Unit = {
    t.span("sources.load") {
      write(Store.loadCsv(spark, csv, Gen.Dr, Seq("occurrenceID")), s"$out/raw")
    }
    t.span("processors.enrich") {
      write(Store.processAll(read(s"$out/raw"), dims.processing(None)),
        s"$out/processed")
    }
    t.span("sampling.sample") {
      write(Store.sample(spark, read(s"$out/processed"), dims.layers),
        s"$out/sampled")
    }
    t.span("index.project_write") {
      Store.writeIndex(IndexSupport.project(read(s"$out/sampled"), Layers),
        s"$out/index")
    }
  }

  private def analytics(t: Trace, out: String, dims: Dims): Unit = {
    t.span("dedup.find") {
      write(Store.detectDuplicates(spark, candidates(read(s"$out/sampled"))).toDF(),
        s"$out/dups")
    }
    t.span("outliers.jackknife") {
      val env = read(s"$out/index").select(
        col("taxon_concept_lsid").as("taxonGuid"), lit(Gen.EnvLayer).as("layerId"),
        col("id").as("uuid"), col(Gen.EnvLayer).as("value"))
        .filter(col("taxonGuid").isNotNull && col("value").isNotNull)
      write(Store.jackknifeOutliers(env), s"$out/jackknife")
    }
    t.span("outliers.expert") {
      val recs = read(s"$out/sampled").select(col("rowKey"),
        col("processed_taxonConceptID").as("taxonGuid"),
        col("decimalLatitude"), col("decimalLongitude"))
      write(Store.expertDistributionOutliers(spark, recs, dims.distributions),
        s"$out/expert")
    }
  }

  /** Input generation, `SetupReps` times; the last repetition's files are
    * used. Set-up time = session start + median generation + the
    * workload's prerequisite build, which runs once, cold, as a user's
    * would. */
  private def setup[S](rep: String => S): (S, Seq[Double]) = {
    var state: Option[S] = None
    val times = (1 to SetupReps).map { r =>
      val d = s"$dir/setup$r"
      val t = timed { state = Some(rep(d)) }
      if (r < SetupReps) rm(d)
      t
    }
    (state.get, times)
  }

  private def facts(workload: String, setupTimes: Seq[Double], phase: JObject,
      prereqS: Double, truth: Map[String, Double]): Value = obj(
    "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
    "nproc" -> Runtime.getRuntime.availableProcessors(),
    "session_s" -> sessionS, "setup_reps_s" -> nums(setupTimes),
    "prereq_s" -> prereqS,
    "traced" -> traced, "phase" -> phase,
    "attempted" -> attempted.get(), "failed" -> failed.get(),
    "failures" -> arr(failures.asScala.map(JString(_))),
    "counters" -> JObject(counters.toList),
    "truth" -> JObject(truth.toList.map { case (k, v) => k -> (v: Value) }))

  /** The measured phase, with the tracer on or off; a traced phase
    * carries its spans. */
  private def measure(run: Trace => JObject): JObject = {
    val t = new Trace(spark, traced)
    val v = run(t)
    t.close()
    if (traced) JObject(v.obj :+ ("spans" -> JArray(t.toJson.toList))) else v
  }

  // ── bulk ──

  /** `bulk`: each pass ingests the whole CSV, runs the analytics, then
    * lands one daily delta batch on the fresh store and looks it up.
    * Passes repeat for `seconds`, at least once. The first pass runs in a
    * fresh JVM, as every Cli verb does, so it is measured cold; a traced
    * run makes at least three passes, so per-layer medians and drift have
    * three batches. */
  def bulk(): Value = {
    val batchN = (BulkRecords * DeltaBatchShare).toInt.max(10)
    val inserts = batchN * 8 / 10
    val ((truth, dims, inputs), setupTimes) = setup { d =>
      Gen.writeDims(s"$d/dims", seed)
      val truth = Gen.occurrences(seed, "b", BulkRecords)
      Gen.writeOccurrences(s"$d/bulk.csv", truth.recs)
      for (b <- 1 to DeltaBatchesMax) Gen.writeOccurrences(s"$d/batch$b.csv",
        Gen.deltaBatch(seed, b, truth, inserts, batchN - inserts, DeltaTouchedShare)._1)
      (truth, new Dims(s"$d/dims"), d)
    }
    val out = s"$dir/bulk_out"
    var batch = 0
    val touched = ArrayBuffer[Double]()
    val ph = measure { t =>
      val passes = ArrayBuffer[Value]()
      val heap = ArrayBuffer[Double]()
      val start = now()
      while ((passes.size < (if (traced) 3 else 1) || now() - start < seconds) &&
          batch < DeltaBatchesMax) {
        batch += 1
        val (recs, taxa) = Gen.deltaBatch(seed, batch, truth, inserts,
          batchN - inserts, DeltaTouchedShare)
        var ing = 0.0; var ana = 0.0; var del = 0.0
        val wall = timed {
          t.span("bulk.pass") {
            ing = timed(op("ingest")(ingest(t, s"$inputs/bulk.csv", out, dims)))
            ana = timed(op("analytics")(analytics(t, out, dims)))
            del = timed(t.span("delta.batch") {
              op("delta")(applyBatch(t, out, s"$out/next", s"$inputs/batch$batch.csv", dims))
              val idx = read(s"$out/next/index")
              for (r <- Seq(recs.find(_.cat.startsWith("C")), recs.find(_.cat.startsWith("U"))).flatten) {
                val rows = t.span("serving.lookup")(op("lookup")(
                  Store.getByKey(idx, Gen.rowKey(r.occ)).collect())).getOrElse(Array())
                check("delta visible by key")(rows.length == 1 &&
                  rows(0).getAs[String]("catalogue_number") == r.cat)
              }
            })
          }
        }
        touched += taxa.size.toDouble / Gen.Taxa
        passes += obj("kind" -> "pass", "wall_s" -> wall, "ingest_s" -> ing,
          "analytics_s" -> ana, "delta_s" -> del, "recs" -> truth.recs.length,
          "delta_recs" -> recs.length)
        if (t.enabled) {
          System.gc()
          val rt = Runtime.getRuntime
          heap += (rt.totalMemory - rt.freeMemory) / 1e6
        }
      }
      obj("wall_s" -> (now() - start), "ops" -> arr(passes), "heap_mb" -> nums(heap))
    }
    bulkChecks(out, truth)
    deltaChecks(out, truth, Gen.deltaBatch(seed, batch, truth, inserts,
      batchN - inserts, DeltaTouchedShare)._1)
    if (traced) {
      layerCounters(out, truth.recs.length)
      counters("dedup.touched_taxa_ratio") = touched.sum / touched.size.max(1)
    }
    facts("bulk", setupTimes, ph, 0.0, truth.props ++ Map(
      "delta_batch_records" -> batchN.toDouble, "delta_insert_share" -> 0.8,
      "delta_touched_taxa_share" -> DeltaTouchedShare))
  }

  /** After the last batch: the store holds base + inserts, and every
    * sampled key shows its latest catalogue number. */
  private def deltaChecks(out: String, truth: Gen.Truth, recs: Array[Gen.Rec]): Unit = {
    val latest = truth.recs.map(r => Gen.rowKey(r.occ) -> r.cat).toMap ++
      recs.map(r => Gen.rowKey(r.occ) -> r.cat)
    val idx = read(s"$out/next/index")
    check("delta final count")(idx.count() == latest.size)
    val keys = recs.map(r => Gen.rowKey(r.occ)).toSeq ++ truth.keys.take(50)
    val got = idx.filter(col("id").isin(keys: _*))
      .select("id", "catalogue_number").as[(String, String)].collect().toMap
    check("delta values visible")(keys.forall(k => got.get(k) == latest.get(k)))
  }

  private def bulkChecks(out: String, truth: Gen.Truth): Unit = {
    val index = read(s"$out/index")
    check("index row count")(index.count() == truth.recs.length)
    check("facet counts per region")(facetMap(Store.facet(index,
      Gen.RegionLayer)) == truth.regionCounts)
    val codes = read(s"$out/processed").select(col("assertionCodes"))
    check("out-of-range coordinate assertions")(
      codes.filter(array_contains(col("assertionCodes"), 5)).count() ==
        truth.outOfRange)
    check("invalid date assertions")(
      codes.filter(array_contains(col("assertionCodes"), 30007)).count() ==
        truth.badDates)
    val planted = truth.exactGroups.flatten.toSet
    val cluster = read(s"$out/dups").select("rowKey", "clusterId").as[(String, String)]
      .collect().filter(r => planted(r._1)).toMap
    check("exact duplicate groups in one cluster")(truth.exactGroups.forall(g =>
      g.forall(cluster.contains) && g.map(cluster).distinct.size == 1))
  }

  private def facetMap(df: DataFrame): Map[String, Long] =
    df.collect().filter(!_.isNullAt(0)).map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Per-layer counts read off the last pass's outputs (not timed). */
  private def layerCounters(out: String, records: Long): Unit = {
    val sampled = read(s"$out/sampled")
    val pts = sampled.select(col("decimalLatitude").try_cast("double").as("lat"),
        col("decimalLongitude").try_cast("double").as("lon"),
        (size(coalesce(col("cl"), typedLit(Map.empty[String, String]))) > 0).as("hit"))
      .filter(col("lat").isNotNull && col("lon").isNotNull).distinct()
      .agg(count(lit(1)), sum(col("hit").cast("long"))).head()
    counters("sampling.distinct_points") = pts.getLong(0)
    counters("sampling.points_per_record") = pts.getLong(0).toDouble / records
    counters("sampling.hit_ratio") = pts.getLong(1).toDouble / pts.getLong(0).max(1)
    counters("processors.assertions") = read(s"$out/processed")
      .agg(sum(size(col("assertionCodes")).cast("long"))).head().getLong(0)
    val files = Option(new File(s"$out/index").listFiles).getOrElse(Array())
      .filter(_.getName.endsWith(".parquet"))
    val bytes = files.map(_.length).sum
    counters("index.files") = files.length
    counters("index.mb_written") = bytes / 1e6
    counters("index.bytes_per_record") = bytes.toDouble / records
    if (new File(s"$out/jackknife").exists()) {
      counters("dedup.flagged_ratio") = read(s"$out/dups").count().toDouble / records
      counters("outliers.jackknife.groups") = read(s"$out/jackknife").count()
      counters("outliers.expert.outliers") = read(s"$out/expert").count()
    }
  }

  // ── serve ──

  private def scanStats(df: DataFrame): (Long, Long) = {
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scans = plan.collect { case s: FileSourceScanExec => s }
    (scans.map(_.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum,
      scans.map(_.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum)
  }

  def serve(): Value = {
    val ((truth, inputs), setupTimes) = setup { d =>
      Gen.writeDims(s"$d/dims", seed)
      val truth = Gen.occurrences(seed, "b", ServeRecords)
      Gen.writeOccurrences(s"$d/serve.csv", truth.recs)
      (truth, d)
    }
    // prerequisite: the bulk stages build the index the requests read, then
    // a few requests of each kind warm the serving path, whose first
    // requests run several times slower than later ones
    val index = s"$dir/store/index"
    val keys = truth.keys
    val (served, buildS) = {
      val t0 = now()
      val off = new Trace(spark, false)
      ingest(off, s"$inputs/serve.csv", s"$dir/store", new Dims(s"$inputs/dims"))
      val served = read(index)
      val rng = new Gen.Rng(seed * 131)
      val unused = new ConcurrentLinkedQueue[(Long, Long, Long)]()
      for (_ <- 1 to WarmLookups) lookup(off, served, keys(rng.int(keys.length)), truth, unused)
      for (k <- 0 until 12) search(off, served, truth, truth.recs(rng.int(truth.recs.length)), k % 3)
      download(off, served, keys.take(1000).toSeq, truth)
      (served, now() - t0)
    }
    val hot = new Gen.Rng(seed * 17 + 3).shuffle(keys.indices.toArray)
    val zipf = new Gen.Zipf(keys.length, 1.1)
    val ph = measure(t => openLoop(t, served, truth, keys, hot, zipf))
    if (traced) {
      val files = Option(new File(index).listFiles).getOrElse(Array())
        .filter(_.getName.endsWith(".parquet"))
      counters("index.files") = files.length
      counters("index.mb_written") = files.map(_.length).sum / 1e6
    }
    facts("serve", setupTimes, ph, buildS, truth.props ++ Map(
      "serve_rate_per_s" -> ServeRate, "key_zipf_s" -> 1.1,
      "hot_key_share" -> 1.0 / (1 to keys.length).map(k => 1.0 / math.pow(k, 1.1)).sum))
  }

  /** Open loop: one generator thread releases request i at start + i/rate
    * into a pool of nproc workers; latency counts from the due time. The
    * mix repeats every 50 requests: 40 lookups, 9 searches (facet,
    * distinct values, ids in turn) and 1 download, so every window of the
    * same length carries the same mix. */
  private def openLoop(t: Trace, idx: DataFrame, truth: Gen.Truth,
      keys: Array[String], hot: Array[Int], zipf: Gen.Zipf): JObject = {
    val rng = new Gen.Rng(seed * 101)
    val workers = Executors.newFixedThreadPool(Runtime.getRuntime.availableProcessors())
    val ops = new ConcurrentLinkedQueue[Value]()
    val n = (seconds * ServeRate).toInt.max(1)
    val start = now() + 0.05
    val lookupStats = new ConcurrentLinkedQueue[(Long, Long, Long)]()
    for (i <- 0 until n) {
      val due = start + i / ServeRate
      val slot = i % 50
      val key = keys(hot(zipf.draw(rng)))
      val taxon = truth.recs(rng.int(truth.recs.length))
      val dl = (0 until 1000).map(_ => keys(rng.int(keys.length))).distinct
      val searchKind = (i / 50 * SearchSlots.size + SearchSlots.count(_ < slot)) % 3
      val wait = due - now()
      if (wait > 0) Thread.sleep((wait * 1000).toLong, ((wait * 1e9) % 1e6).toInt)
      val submitted = now()
      workers.submit(new Runnable {
        def run(): Unit = {
          val begin = now()
          val (kind, rows) =
            if (slot == DownloadSlot) ("download", download(t, idx, dl, truth))
            else if (SearchSlots(slot)) ("search", search(t, idx, truth, taxon, searchKind))
            else ("lookup", lookup(t, idx, key, truth, lookupStats))
          val end = now()
          ops.add(obj("kind" -> kind, "due" -> (due - start),
            "late_s" -> (submitted - due), "queue_s" -> (begin - due),
            "service_s" -> (end - begin), "latency_s" -> (end - due),
            "rows" -> rows))
        }
      })
    }
    workers.shutdown()
    workers.awaitTermination(170, TimeUnit.SECONDS)
    val ls = lookupStats.asScala.toSeq
    if (t.enabled && ls.nonEmpty) {
      counters("serving.lookup.files_read") = ls.map(_._1).sum.toDouble / ls.size
      counters("serving.lookup.rows_scanned_per_row") =
        ls.map(_._2).sum.toDouble / ls.map(_._3).sum.max(1)
    }
    obj("wall_s" -> (now() - start), "ops" -> arr(ops.asScala))
  }

  private def lookup(t: Trace, idx: DataFrame, key: String, truth: Gen.Truth,
      stats: ConcurrentLinkedQueue[(Long, Long, Long)]): Long = {
    val df = Store.getByKey(idx, key)
    val rows = t.span("serving.lookup")(op("lookup")(df.collect())).getOrElse(Array())
    if (t.enabled) { val (f, s) = scanStats(df); stats.add((f, s, rows.length)) }
    val want = truth.byKey(key)
    check("lookup returns the planted row")(rows.length == 1 &&
      rows(0).getAs[String]("occurrence_id") == want.occ &&
      rows(0).getAs[String]("catalogue_number") == want.cat)
    rows.length
  }

  private def search(t: Trace, idx: DataFrame, truth: Gen.Truth,
      probe: Gen.Rec, kind: Int): Long = kind match {
    case 0 =>
      val got = t.span("serving.search")(op("facet")(facetMap(Store.facet(idx,
        Gen.RegionLayer, Some(col("taxon_concept_lsid") === Gen.taxonLsid(probe.taxon))))))
      check("facet matches truth")(got.contains(truth.regionCountsFor(probe.taxon)))
      got.map(_.size.toLong).getOrElse(0L)
    case 1 =>
      val got = t.span("serving.search")(op("distinct")(
        Store.distinctValues(idx, "collector", 50).collect().map(_.getString(0)).toSeq))
      val want = truth.recs.map(_.collector).distinct.sorted.take(50).toSeq
      check("distinct values match truth")(got.contains(want))
      got.map(_.size.toLong).getOrElse(0L)
    case _ =>
      val year = probe.date.take(4)
      val pred = col("taxon_concept_lsid") === Gen.taxonLsid(probe.taxon) &&
        col("occurrence_year") === (if (Gen.validDate(probe.date)) year.toInt else -1)
      val got = t.span("serving.search")(op("ids")(
        Store.idsForQuery(idx, pred, 100).collect().map(_.getString(0)).toSeq))
      val want = truth.recs.filter(r => r.taxon == probe.taxon &&
          Gen.validDate(r.date) && Gen.validDate(probe.date) && r.date.take(4) == year)
        .map(r => Gen.rowKey(r.occ)).sorted.take(100).toSeq
      check("ids match truth")(got.contains(want))
      got.map(_.size.toLong).getOrElse(0L)
  }

  private def download(t: Trace, idx: DataFrame, keys: Seq[String],
      truth: Gen.Truth): Long = {
    val got = t.span("serving.download")(op("download")(Store.download(idx,
      keys.toDF("rowKey"), Seq("id", "catalogue_number", "taxon_concept_lsid",
        "decimalLatitude", "decimalLongitude", Gen.RegionLayer),
      Seq("coordinatesOutOfRange")).collect()))
    check("download returns the planted rows")(got.exists(rows =>
      rows.map(_.getString(0)).toSeq == keys.sorted &&
        rows.forall(r => truth.byKey(r.getString(0)).cat == r.getString(1))))
    got.map(_.length.toLong).getOrElse(0L)
  }

  /** One delta batch: load → upsert → process the changed rows against the
    * last snapshot → incremental dedup → index refresh. */
  private def applyBatch(t: Trace, prev: String, next: String, csv: String,
      dims: Dims): Unit = {
    t.span("sources.load") {
      write(Store.loadCsv(spark, csv, Gen.Dr, Seq("occurrenceID")), s"$next/incoming")
    }
    val changed = read(s"$next/incoming").select("rowKey")
    t.span("sources.upsert") {
      write(Store.upsert(Some(read(s"$prev/raw")), read(s"$next/incoming")), s"$next/raw")
    }
    t.span("processors.enrich") {
      val fresh = Store.processAll(read(s"$next/incoming"),
        dims.processing(Some(read(s"$prev/sampled"))))
      write(read(s"$prev/sampled").join(changed, Seq("rowKey"), "left_anti")
        .unionByName(fresh, allowMissingColumns = true), s"$next/sampled")
    }
    t.span("dedup.incremental") {
      write(Store.detectDuplicatesIncremental(spark,
        candidates(read(s"$next/sampled")), changed,
        read(s"$prev/dups").as[DupResult]).toDF(), s"$next/dups")
    }
    t.span("index.project_write") {
      val fresh = IndexSupport.project(
        read(s"$next/sampled").join(changed, Seq("rowKey"), "left_semi"), Layers)
      Store.writeIndex(read(s"$prev/index").join(changed.withColumnRenamed("rowKey", "id"),
        Seq("id"), "left_anti").unionByName(fresh), s"$next/index")
    }
  }
}
