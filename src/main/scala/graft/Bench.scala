package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import scala.jdk.CollectionConverters._

/** Benchmark main: one JSON line of per-query timings on stdout, full
  * detail in `BENCH_FULL.json`.
  *
  * The top-level process never builds a SparkSession. It forks one child
  * JVM per batch of `SPARK_GRAFT_BATCH` (default 16) queries, each child
  * timing its batch in a pristine heap: rounds 7–8 showed that in-JVM
  * fences (GC + settle + median-of-3) do NOT isolate a 254-query sweep —
  * disk and GC debt accumulated across neighbours billed the
  * persist-heavy dedup family 3–9× its isolated cost (BENCH_r08 vs judge
  * re-runs). `SPARK_GRAFT_ONLY=q1,q2` sweeps only the named queries, in
  * that order, and leaves `BENCH_FULL.json` alone; a single query in this
  * JVM is [[Profile]]'s job. A child is the process that has
  * `SPARK_GRAFT_OUT`: it appends each query's row to that file as soon as
  * the query finishes, so a child that dies or overruns
  * `SPARK_GRAFT_BATCH_TIMEOUT_SEC` costs only the query it was running.
  *
  * Failure accounting: a query that throws is recorded with its error
  * string and the harness exits nonzero — a broken query can never
  * masquerade as a fast success (round-8 `catch { _ => -1L }` bug). For a
  * batch that ends without reporting every query, the record keeps why
  * ([[deadReason]]), and the unreported queries re-run once
  * ([[rerunGroups]]); one still unreported after that fails with the
  * re-run's reason. Per-query detail — `{med,min,max}` of
  * `SPARK_GRAFT_RUNS` (default 3) runs, executor GC ms and spill bytes
  * from [[StageMetrics]], and the host's CPU share outside the JVM during
  * those runs — lands in `BENCH_FULL.json`; a row that shared the host
  * ([[contended]]) re-runs once.
  */
object Bench {

  /** The 60 queries visible in round 6's (truncated) bench tail — kept as a
    * frozen, named subset so round-over-round deltas compare like with like
    * instead of needing tail archaeology. Do not edit: comparability is the
    * point.
    */
  val SubsetR06: Set[String] = Set(
    "q103_stream_static_join", "q104_histogram", "q105_equidepth",
    "q106_jaro_winkler", "q109_topk_operator", "q110_paragraph_dedup",
    "q111_bloom_decontaminate", "q113_blocklist", "q114_kmv_sketch",
    "q121_stream_enrich_index", "q122_poisson_bootstrap",
    "q123_permutation_test", "q124_avro_roundtrip", "q125_pmi_collocations",
    "q126_itemset_pairs", "q129_incremental_dedup", "q130_stream_incr_dedup",
    "q131_geohash_facet", "q132_raster_sample", "q134_markup_stats",
    "q135_leakage_safe_split", "q13_union", "q18_coord_round",
    "q20_fingerprint", "q21_token_count", "q24_keyed_lookup",
    "q27_jackknife_full", "q33_embed_neardup", "q39_window_frame",
    "q41_stream_agg", "q49_event_precision", "q50_loc_uncertainty",
    "q52_semantic_dedup", "q55_det_sample", "q57_gopher_quality",
    "q58_decontaminate", "q5_broadcast_join", "q62_salted_join",
    "q63_asof_join", "q64_sessionize", "q68_chunk_text",
    "q71_perplexity_filter", "q73_bigram_stats", "q74_pq_topk",
    "q75_stream_join", "q76_importance_resample", "q78_weighted_sample",
    "q79_profile", "q7_anti_join", "q82_retention", "q84_scd2",
    "q85_transitions", "q87_zscore_outliers", "q88_pivot", "q8_range_join",
    "q90_approx_distinct", "q92_inverted_index", "q97_bpe_merges",
    "q99_rrf_fusion", "q9_window_topk")

  /** One query's measurement. Times in seconds; err is None on success
    * (on error, med/min/max hold the single failing attempt's elapsed).
    * `otherCpu` is the host's CPU share outside the measuring JVM during
    * the runs ([[otherCpuShare]]), None where /proc is unreadable.
    * `contended` marks a row whose first attempt [[contended]] flagged;
    * `attempts` then carries every attempt's (med, otherCpu) reading, the
    * flagging one first (the reported row is the cleanest), so the
    * discarded numbers stay on the record. */
  final case class QResult(name: String, med: Double, min: Double,
      max: Double, gcMs: Long, spillBytes: Long, otherCpu: Option[Double],
      err: Option[String], contended: Boolean = false,
      attempts: Seq[(Double, Option[Double])] = Nil)

  /** Per-child-JVM evidence, emitted as the `batches` array of
    * BENCH_FULL.json: wall, 1-min loadavg at start and end, the child's
    * own process CPU seconds (-1 where it did not report them), and, for
    * a child that ended without reporting everything, why. */
  final case class BatchMeta(tag: String, queries: Seq[String],
      wallSec: Double, cpuSec: Double, load1Start: Double,
      load1End: Double, reason: Option[String])

  private val batchMetas =
    scala.collection.mutable.ListBuffer.empty[BatchMeta]

  /** 1-min loadavg from /proc/loadavg; -1 where unreadable (non-Linux). */
  private def load1(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split("\\s+")(0).toDouble
    catch { case _: Exception => -1.0 }

  /** This JVM's total process CPU seconds (for the child meta report). */
  private def processCpuSec(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean =>
        os.getProcessCpuTime / 1e9
      case _ => -1.0
    }

  /** Local cores of every session the bench builds, and the record's
    * `cpus`: `SPARK_GRAFT_CPUS`, 16 when unset. */
  private lazy val cpus: Int = parseCpus(sys.env.get("SPARK_GRAFT_CPUS"), 16)

  /** `SPARK_GRAFT_CPUS` for every main, `default` when unset. A value
    * that is not a positive integer fails the run: written into the
    * record as it is, it would make the record invalid JSON, and passed
    * to `local[...]` it fails later with a less telling message. */
  private[graft] def parseCpus(value: Option[String], default: Int): Int =
    value.fold(default)(v => v.trim.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'")))

  /** The local session of the Bench child, [[Verify]] and [[Profile]]:
    * `cpus` cores, shuffles sized to the DATA ([[Tuning]]) — derived from
    * sfDir bytes so scale rehearsals need no hand-tuned knob, env override
    * wins — and AQE, which coalesces small stages back down so a high
    * count costs nothing. */
  private[graft] def session(sfDir: String, cpus: Int,
      aqe: Boolean = true): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions",
        Tuning.shufflePartitions(sfDir, cpus))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", aqe.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  // ───────────────────────── the contention rule ─────────────────────────

  /** Host CPU ticks (USER_HZ) from /proc/stat's aggregate `cpu` line —
    * `total` over every column up to steal, `busy` the same without idle
    * and iowait, so steal counts as busy — and this process's own
    * utime + stime from /proc/self/stat, in the same unit. */
  final case class CpuSample(busy: Long, total: Long, self: Long)

  /** Parse the two files' text; None when either is not the Linux
    * format. */
  private[graft] def parseCpu(procStat: String,
      selfStat: String): Option[CpuSample] =
    try {
      val host = procStat.linesIterator.next().split("\\s+")
      require(host(0) == "cpu")
      // user nice system idle iowait irq softirq steal (guest is in user)
      val t = host.slice(1, 9).map(_.toLong)
      require(t.length == 8)
      // fields after "(comm)": state is field 3, utime 14, stime 15
      val own = selfStat.substring(selfStat.lastIndexOf(')') + 2).split(" ")
      Some(CpuSample(t.sum - t(3) - t(4), t.sum, own(11).toLong + own(12).toLong))
    } catch { case _: Exception => None }

  private def readCpu(): Option[CpuSample] =
    try parseCpu(Files.readString(Paths.get("/proc/stat")),
      Files.readString(Paths.get("/proc/self/stat")))
    catch { case _: java.io.IOException => None }

  /** The share of the host's CPU capacity between two samples — wall ×
    * nproc, as the total ticks /proc/stat counted over all its CPUs —
    * that went to anything but this JVM: other processes, the kernel's
    * interrupts and, in a VM, steal by other guests. None when a sample is
    * missing or no tick passed. */
  private[graft] def otherCpuShare(before: Option[CpuSample],
      after: Option[CpuSample]): Option[Double] =
    for (a <- before; b <- after if b.total > a.total) yield
      ((b.busy - a.busy) - (b.self - a.self)).max(0L).toDouble /
        (b.total - a.total)

  /** Above this [[otherCpuShare]] a row is [[contended]]. On a quiet
    * host (4 vCPU VM, `local[4]`, sf0.1, five 8-query subset sweeps) every
    * row read 0.000–0.035, steal included; with one process spinning
    * beside the child, rows read 0.24–0.26, with four 0.60–0.70. 0.10 is
    * three times the highest quiet reading and under half of one spinning
    * process. */
  val ContendedShare = 0.10

  /** The contention rule: a row is contended when the host spent more
    * than [[ContendedShare]] of wall × nproc outside this JVM during its
    * runs. A row without a reading (no /proc) is never flagged. */
  private[graft] def contended(otherCpu: Option[Double]): Boolean =
    otherCpu.exists(_ > ContendedShare)

  // ───────────────────────── main ─────────────────────────────────────────

  private type Query = (SparkSession, String) => DataFrame

  /** The bench surface, plus — under `SPARK_GRAFT_INJECT_FAIL=1` — one
    * synthetic always-throwing query and one that halts its JVM: the
    * harness's own failure accounting (err recorded, nonzero exit, a dead
    * child's rows kept and its reason recorded) must be testable without
    * breaking a real query. */
  private lazy val allQueries: Seq[(String, Query)] =
    SparkEntry.queries.toSeq ++
      (if (sys.env.contains("SPARK_GRAFT_INJECT_FAIL")) Seq[(String, Query)](
        "q_injected_fail" -> ((_, _) =>
          throw new RuntimeException("injected failure for harness test")),
        "q_injected_halt" -> ((_, _) => {
          Runtime.getRuntime.halt(3)
          throw new IllegalStateException("unreachable")
        }))
      else Nil)

  private def sfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  def main(args: Array[String]): Unit = {
    cpus // a malformed SPARK_GRAFT_CPUS fails here, before any work
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    sys.env.get("SPARK_GRAFT_OUT").map(Paths.get(_)) match {
      case Some(out) if sys.env.contains("SPARK_GRAFT_PROBE") => runProbe(out)
      case Some(out) => runChild(only.getOrElse(Nil), out)
      case None =>
        val names = only.getOrElse(allQueries.map(_._1))
        val unknown = names.filterNot(allQueries.map(_._1).toSet)
        require(unknown.isEmpty,
          s"SPARK_GRAFT_ONLY names unknown queries: ${unknown.mkString(",")}")
        val wall0 = System.nanoTime()
        val results = sweep(names, full = only.isEmpty)
        report(results, (System.nanoTime() - wall0) / 1e9, full = only.isEmpty)
        if (results.exists(_.err.isDefined)) sys.exit(1)
    }
  }

  // ───────────────────────── children ─────────────────────────────────────

  /** Probe child: run the serving-latency probe alone and write its JSON
    * to `out` — keeps the parent's isolation contract (the parent never
    * builds a session). */
  private def runProbe(out: Path): Unit = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        Files.createTempDirectory("graft_probe_wh").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val n = sys.env.getOrElse("SPARK_GRAFT_PROBE_N", "1000").toInt
    Files.writeString(out, ServingProbe.run(spark, sfDir, n))
    spark.stop()
  }

  /** Batch child: time `names` in order, appending each row to `out` as
    * the query finishes, then a `#meta` line with this JVM's CPU seconds
    * and the loadavg. */
  private def runChild(names: Seq[String], out: Path): Unit = {
    def append(line: String): Unit =
      Files.writeString(out, line + "\n", StandardOpenOption.CREATE,
        StandardOpenOption.APPEND)
    val spark = session(sfDir, cpus)
    val metrics = new StageMetrics
    spark.sparkContext.addSparkListener(metrics)
    // SPARK_GRAFT_RUNS=1 for scale rehearsals where a single timing
    // per query is enough (sf1 sweeps); default median-of-3
    val nRuns = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt.max(1)
    val fns = allQueries.toMap
    for (name <- names)
      append(encodeRow(measure(spark, metrics, name, fns(name), nRuns)))
    append(s"#meta\t${processCpuSec()}\t${load1()}")
    spark.stop()
  }

  /** Per-query isolation: a GC + settle fence, then the MEDIAN of `nRuns`
    * runs — discards the one cold (JIT/codegen/footer cache) run and any
    * one stray GC pause. NOTE (round 9): this fence is necessary but NOT
    * sufficient across a 254-query sweep; the fresh JVM per batch is what
    * isolates the record run. */
  private def measure(spark: SparkSession, metrics: StageMetrics,
      name: String, fn: Query, nRuns: Int): QResult = {
    def runOnce(): (Double, Option[String]) = {
      val t0 = System.nanoTime()
      val err =
        try { fn(spark, sfDir).count(); None }
        catch { case t: Throwable =>
          Some((t.getClass.getSimpleName + ": " +
            Option(t.getMessage).getOrElse("")).take(200))
        }
      val dt = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      (dt, err)
    }
    spark.catalog.clearCache()
    System.gc()
    Thread.sleep(100)
    metrics.clear()
    val cpu0 = readCpu()
    val first = runOnce()
    val runs =
      if (first._2.isDefined) Seq(first) // broken: don't pay for more
      else first +: (2 to nRuns).map(_ => runOnce())
    val cpu1 = readCpu()
    Thread.sleep(100) // let async task-end events drain
    val stages = metrics.snapshot().map(_._2)
    val times = runs.map(_._1).sorted
    QResult(name, times(times.size / 2), times.head, times.last,
      stages.map(_.gcMs).sum, stages.map(_.spillB).sum,
      otherCpuShare(cpu0, cpu1), runs.flatMap(_._2).headOption)
  }

  /** A child's row as one tab-separated line: exact doubles, empty fields
    * for None, and the error's backslashes, tabs and line breaks
    * escaped. */
  private[graft] def encodeRow(r: QResult): String =
    Seq(r.name, r.med, r.min, r.max, r.gcMs, r.spillBytes,
      r.otherCpu.getOrElse(""),
      r.err.fold("")(_.flatMap {
        case '\\' => "\\\\"
        case '\t' => "\\t"
        case '\n' => "\\n"
        case '\r' => "\\r"
        case c => c.toString
      })).mkString("\t")

  /** Inverse of [[encodeRow]]; None for a line that is not a row (the
    * `#meta` line, a torn last line). */
  private[graft] def decodeRow(line: String): Option[QResult] =
    line.split("\t", -1) match {
      case Array(n, med, mn, mx, gc, sp, cpu, err) =>
        try Some(QResult(n, med.toDouble, mn.toDouble, mx.toDouble,
          gc.toLong, sp.toLong, cpu.toDoubleOption,
          Option(err).filter(_.nonEmpty).map(
            """\\(.)""".r.replaceAllIn(_, m =>
              scala.util.matching.Regex.quoteReplacement(m.group(1) match {
                case "t" => "\t"
                case "n" => "\n"
                case "r" => "\r"
                case c => c
              })))))
        catch { case _: NumberFormatException => None }
      case _ => None
    }

  // ───────────────────────── the sweep (parent) ───────────────────────────

  private val logDir = Paths.get("target", "bench-logs")

  /** Scale-rehearsal guard: a hidden superlinearity must cost minutes, not
    * hours — a child past it is killed. 300 s per batch by default (the
    * r11 clean sweep averaged ~70 s/batch; 300 s is 4× headroom on a
    * 3×-slower sandbox) so the sweep always has an internal deadline and
    * never dies by an external `timeout` with nothing on stdout
    * (BENCH_r12 rc=124). 0 or negative disables the limit. */
  private lazy val timeoutSec: Option[Long] =
    sys.env.get("SPARK_GRAFT_BATCH_TIMEOUT_SEC").map(_.toLong)
      .orElse(Some(300L)).filter(_ > 0)

  /** Why a child ended before reporting everything: its exit code, or the
    * timeout it was killed at, plus the last lines of its log. */
  private[graft] def deadReason(tag: String, exit: Option[Int],
      timeoutSec: Option[Long], logTail: Seq[String]): String =
    exit.fold(s"$tag timed out after ${timeoutSec.getOrElse(0L)} s")(c =>
      s"$tag exited with code $c") + " before reporting" +
      (if (logTail.isEmpty) "" else logTail.mkString("; log tail:\n", "\n", ""))

  /** The child JVMs that re-run what a dead child left unreported: the
    * first unreported query was running when the child died, so it re-runs
    * alone; the rest re-run together. */
  private[graft] def rerunGroups(batch: Seq[String],
      reported: String => Boolean): Seq[Seq[String]] =
    batch.filterNot(reported) match {
      case culprit +: rest => Seq(culprit) +: Seq(rest).filter(_.nonEmpty)
      case _ => Nil
    }

  /** Run `graft.Bench` in a child JVM with this JVM's options and class
    * path plus `env` and a fresh `SPARK_GRAFT_OUT` file; stdout and stderr
    * go to target/bench-logs/<tag>.out, so the parent's final JSON line is
    * the only thing on this process's stdout. A child past the batch
    * timeout is killed. Records the child's `batches` entry — with its
    * [[deadReason]] when `complete` finds its report short — and returns
    * the lines it wrote and that reason. */
  private def fork(tag: String, queries: Seq[String], env: Map[String, String])(
      complete: Seq[String] => Boolean): (Seq[String], Option[String]) = {
    Files.createDirectories(logDir)
    val log = logDir.resolve(s"$tag.out")
    val out = Files.createTempFile(s"bench_$tag", ".out")
    val javaBin = Paths.get(sys.props("java.home"), "bin", "java").toString
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
      .filterNot(a => a.startsWith("-agentlib") || a.startsWith("-javaagent"))
    val pb = new ProcessBuilder((Seq(javaBin) ++ jvmArgs ++
      Seq("-cp", sys.props("java.class.path"), "graft.Bench")).asJava)
    pb.environment().putAll((env + ("SPARK_GRAFT_OUT" -> out.toString)).asJava)
    pb.redirectOutput(log.toFile)
    pb.redirectErrorStream(true)
    val load0 = load1()
    val wall0 = System.nanoTime()
    val proc = pb.start()
    val exited = timeoutSec.fold { proc.waitFor(); true }(t =>
      proc.waitFor(t, java.util.concurrent.TimeUnit.SECONDS))
    if (!exited) { proc.destroyForcibly(); proc.waitFor() }
    val wallSec = (System.nanoTime() - wall0) / 1e9
    val lines =
      try Files.readAllLines(out).asScala.toSeq
      catch { case _: java.io.IOException => Nil }
    Files.deleteIfExists(out)
    val reason = if (complete(lines)) None else Some(deadReason(tag,
      Option.when(exited)(proc.exitValue()), timeoutSec,
      try Files.readAllLines(log).asScala.toSeq.takeRight(20)
      catch { case _: java.io.IOException => Nil }))
    val cpuSec = lines.collectFirst {
      case l if l.startsWith("#meta\t") => l.split("\t")(1).toDouble
    }.getOrElse(-1.0)
    batchMetas.synchronized {
      batchMetas += BatchMeta(tag, queries, wallSec, cpuSec, load0, load1(),
        reason)
    }
    (lines, reason)
  }

  /** Fork one child for `batch`: the rows it reported, and why it ended
    * if it left any unreported. */
  private def forkBatch(batch: Seq[String],
      tag: String): (Map[String, QResult], Option[String]) = {
    def rows(lines: Seq[String]) =
      lines.flatMap(decodeRow).map(r => r.name -> r).toMap
    val (lines, reason) = fork(tag, batch,
      Map("SPARK_GRAFT_ONLY" -> batch.mkString(",")))(
      lines => batch.forall(rows(lines).contains))
    (rows(lines), reason)
  }

  /** Fork one child for `batch`; what it leaves unreported re-runs once
    * ([[rerunGroups]]) and fails with the re-run's reason if it is still
    * missing. */
  private def runBatch(batch: Seq[String], tag: String): Seq[QResult] = {
    val (rows, _) = forkBatch(batch, tag)
    val rerun = rerunGroups(batch, rows.contains).zipWithIndex.flatMap {
      case (group, i) =>
        val (again, reason) = forkBatch(group, s"$tag-rerun$i")
        group.map(n => again.getOrElse(n, QResult(n, 0.0, 0.0, 0.0, 0L, 0L,
          None, reason)))
    }.map(r => r.name -> r).toMap
    batch.map(n => rows.getOrElse(n, rerun(n)))
  }

  /** JSON from the serving-probe child (full sweeps only). */
  private var probeJson: Option[String] = None

  private def sweep(names: Seq[String], full: Boolean): Seq[QResult] = {
    val sweep0 = System.nanoTime()
    val batchSize = sys.env.getOrElse("SPARK_GRAFT_BATCH", "16").toInt.max(1)
    val rows = names.grouped(batchSize).zipWithIndex.flatMap {
      case (batch, i) => runBatch(batch, s"batch$i")
    }.toSeq
    // full sweeps also record the serving-latency probe, in its own child
    // under the same deadline; a probe failure never fails the sweep — it
    // is absent from the record, and its batches entry says why
    if (full && sys.env.getOrElse("SPARK_GRAFT_PROBE_SKIP", "0") != "1") {
      val (lines, _) = fork("probe", Nil, Map("SPARK_GRAFT_PROBE" -> "1"))(
        _.mkString.trim.startsWith("{"))
      probeJson = Some(lines.mkString.trim).filter(_.startsWith("{"))
    }
    rerunContended(rows, 0.25 * (System.nanoTime() - sweep0) / 1e9)
  }

  /** Re-run the rows [[contended]] flagged once, in fresh JVMs of at most
    * four queries (re-running all of them in one child would recreate the
    * in-JVM neighbour pressure the re-run escapes), starting no group once
    * `capSec` — a quarter of the sweep's own wall — is spent. Each flagged
    * row reports its cleanest attempt, flagged `contended`, with every
    * attempt's med. Errors are never re-run: a flaky error should look
    * flaky. */
  private def rerunContended(rows: Seq[QResult],
      capSec: Double): Seq[QResult] = {
    val t0 = System.nanoTime()
    val flagged = rows.filter(r => r.err.isEmpty && contended(r.otherCpu))
      .map(_.name)
    val again = flagged.grouped(4).zipWithIndex
      .takeWhile(_ => (System.nanoTime() - t0) / 1e9 < capSec)
      .flatMap { case (group, i) => forkBatch(group, s"contended$i")._1 }
      .filter(_._2.err.isEmpty).toMap
    rows.map { r =>
      if (!flagged.contains(r.name)) r
      else cleanest(r +: again.get(r.name).toSeq)
    }
  }

  /** A flagged row as reported: its fastest attempt, marked `contended`,
    * carrying every attempt's (med, otherCpu) in the order they ran. */
  private[graft] def cleanest(attempts: Seq[QResult]): QResult =
    attempts.minBy(_.med).copy(contended = true,
      attempts = attempts.map(a => (a.med, a.otherCpu)))

  /** The `attempts` array of a contended row's BENCH_FULL.json entry. */
  private[graft] def attemptsJson(r: QResult): String =
    r.attempts.map { case (med, other) =>
      "{\"med\":" + f3(med) + ",\"other_cpu\":" +
        other.map(f3).getOrElse("null") + "}"
    }.mkString("[", ",", "]")

  // ───────────────────────── reporting ────────────────────────────────────

  private def f3(v: Double): String =
    "%.3f".formatLocal(java.util.Locale.ROOT, v)

  private def jsonEscape(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => " "
      case c => c.toString
    }

  private def report(results: Seq[QResult], wall: Double,
      full: Boolean): Unit = {
    val total = results.filter(_.err.isEmpty).map(_.med).sum
    val subsetTotal =
      results.filter(r => r.err.isEmpty && SubsetR06(r.name)).map(_.med).sum
    val nerr = results.count(_.err.isDefined)
    val qs = results.map(r => "\"" + r.name + "\":" + f3(r.med))
      .mkString("{", ",", "}")
    val detail = results.map { r =>
      val e = r.err.map(m => "\"" + jsonEscape(m) + "\"").getOrElse("null")
      val cont = if (r.contended)
        ",\"contended\":true,\"attempts\":" + attemptsJson(r)
      else ""
      "\"" + r.name + "\":{\"med\":" + f3(r.med) + ",\"min\":" + f3(r.min) +
        ",\"max\":" + f3(r.max) + ",\"gc_ms\":" + r.gcMs +
        ",\"spill_mb\":" + f3(r.spillBytes / 1e6) +
        ",\"other_cpu\":" + r.otherCpu.map(f3).getOrElse("null") +
        ",\"err\":" + e + cont + "}"
    }.mkString("{", ",", "}")
    val head = s""""metric":"total","value":${f3(total)},"unit":"sec""""
    val nContended = results.count(_.contended)
    val tail = s""""nq":${results.size},"errors":$nerr,"fresh_jvm":true,""" +
      s""""contended":$nContended,"load1":${f3(load1())},"cpus":$cpus,""" +
      s""""subset_r06_total":${f3(subsetTotal)},"wall":${f3(wall)},"sf":"$sfDir""""
    // Full per-query detail goes to a file: the driver's log capture keeps
    // only the last ~2000 chars of stdout, and 250+ queries don't fit.
    // SPARK_GRAFT_ONLY subset sweeps are local iteration aids — they must
    // not clobber the full-sweep record, so they write one only where
    // SPARK_GRAFT_BENCH_OUT names it.
    val batchesJson = batchMetas.synchronized {
      batchMetas.map { b =>
        s"""{"tag":"${b.tag}","wall":${f3(b.wallSec)},""" +
          s""""cpu_sec":${f3(b.cpuSec)},""" +
          s""""load1_start":${f3(b.load1Start)},""" +
          s""""load1_end":${f3(b.load1End)},""" +
          b.reason.fold("")(m => s""""reason":"${jsonEscape(m)}",""") +
          b.queries.map("\"" + _ + "\"").mkString("\"queries\":[", ",", "]}")
      }.mkString("[", ",", "]")
    }
    sys.env.get("SPARK_GRAFT_BENCH_OUT")
      .orElse(Option.when(full)("BENCH_FULL.json")).foreach { path =>
      try Files.writeString(Paths.get(path),
        s"""{$head,"queries":$qs,"detail":$detail,""" +
          probeJson.map(p => s""""serving_probe":$p,""").getOrElse("") +
          s""""batches":$batchesJson,$tail}""" + "\n")
      catch { case _: java.io.IOException => () }
    }
    // The final stdout line must survive the 2000-char tail (plus sbt's
    // trailing "[success] ..." line), so cap it: failures first (they must
    // never be invisible), then the slowest queries — the informative ones.
    val budget = 1400
    val sb = new StringBuilder
    val ordered = results.filter(_.err.isDefined) ++
      results.filter(_.err.isEmpty).sortBy(-_.med)
    for (r <- ordered) {
      val frag = r.err match {
        case Some(m) => "\"" + r.name + "\":\"ERR " +
          jsonEscape(m.take(80)) + "\""
        case None => "\"" + r.name + "\":" + f3(r.med)
      }
      if (sb.length + frag.length + 1 < budget) {
        if (sb.nonEmpty) sb.append(',')
        sb.append(frag)
      }
    }
    println(s"""{$head,"queries":{$sb},$tail}""")
  }
}
