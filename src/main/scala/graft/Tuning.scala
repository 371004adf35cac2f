package graft

/** Session-sizing helpers shared by the [[Verify]] and [[Bench]] mains.
  *
  * Shuffle parallelism must track the DATA, not the core count: at the
  * record scale factor one partition per core is right, but the same
  * session config at a 100× rehearsal makes every shuffle partition
  * 100× the intended size and wide-row sorts die acquiring pages (the
  * first 100× sweep's `SparkOutOfMemoryError` class, SURVEY §9.4). The
  * count is derived from the input directory's on-disk size, so no scale
  * point needs hand-tuning (VERDICT r11 item 3):
  *
  *   partitions = clamp(inputBytes / 3 MiB, cpus, 4096)
  *
  * The 3 MiB-of-parquet-per-partition divisor is calibrated from the
  * measured decades — it reproduces the hand-tuned values that swept
  * clean (sf0.1 at 17 MB → floor ⇒ one per core, unchanged record; 10×
  * at 174 MB → 58 ≈ the hand-picked 64; 100× at 1.7 GB → 579, the same
  * order as the hand-picked 256) and parquet's ~10× decompression-plus-
  * derivation expansion puts the resulting shuffle partitions well under
  * executor task memory. Overcounting is cheap: AQE coalesces small
  * stages back down at runtime; undercounting is what OOMs. The 4096
  * ceiling bounds scheduler overhead on a single machine.
  */
object Tuning {

  private val BytesPerPartition: Long = 3L << 20
  private val MaxPartitions: Int = 4096

  /** The shuffle-partition count for a session reading `sfDir`:
    * [[partitionsForBytes]] of the directory's total file size. */
  def shufflePartitions(sfDir: String, cpus: Int): Int =
    partitionsForBytes(dirBytes(sfDir), cpus)

  /** clamp(bytes / 3 MiB, cpus, 4096) — pure, spec-pinned. */
  private[graft] def partitionsForBytes(bytes: Long, cpus: Int): Int =
    math.min(MaxPartitions.toLong,
      math.max(cpus.toLong, bytes / BytesPerPartition)).toInt

  /** Floor a kernel-heavy table's scan parallelism at the session's core
    * count (round-12, guide §2.5 "input skew: one huge unsplittable
    * file" + §6 scan-parallelism floor).
    *
    * The sf0.1 fixtures are ONE parquet file with ONE row group per
    * table, and a row group is unsplittable — so every scan stage runs
    * as exactly one task regardless of `local[N]`, and the text/dedup
    * family executes its expensive per-row kernels (shingling, per-gram
    * md5, minhash) inside that one task while N−1 cores idle (measured:
    * q163's gram+md5 stage = 3.4 s wall / 3.34 s task-sum / 1 task).
    * A round-robin repartition to `defaultParallelism` moves the tiny
    * payload once (0.6 MB at sf0.1) and parallelizes every downstream
    * kernel.
    *
    * Scale-adaptive, not a local[32] hack: the floor only fires when the
    * scan Spark planned has FEWER splits than cores — at production scale
    * a table has thousands of row groups, `parts ≥ cores`, and this is a
    * no-op; and at any scale a sub-cores-parallel scan of a kernel-heavy
    * table is exactly the case where one cheap exchange buys back the
    * idle cores.
    *
    * Applied INSIDE the kernel-heavy operators (shingling, minhash,
    * winnowing, enrichment), never in the table loader: map-only scoring
    * operators are contractually exchange-free (PlanShapeSpec pins q136/
    * q142/q146), and an unconditional loader-level exchange broke those
    * plans while multiplying exchanges into every branch of plans that
    * re-reference the scan subtree (q52's 22 scans). */
  def fanOutSmallScan(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    if (df.isStreaming) return df // callers size stream exchanges explicitly
    val cores = df.sparkSession.sparkContext.defaultParallelism
    // Split count from the LEAF scan relations, not df.rdd (ADVICE r12:
    // .rdd physically plans the whole subtree per call — driver cost
    // grows with plan size, and under AQE would eagerly execute any
    // exchange in it; fanOutSmallScan must stay safe on non-scan-rooted
    // inputs). The count mirrors Spark's own split planning over the
    // listed files; unplannable/unknown leaves fall back to `cores` (no
    // fan-out).
    val parts = try plannedScanSplits(df, cores)
      catch { case scala.util.control.NonFatal(_) => cores }
    if (parts < cores) df.repartition(cores) else df
  }

  /** The partition count Spark plans for `df`'s file scan, without
    * physically planning the subtree: the split size and the packing of
    * `FileSourceScanExec` (`FilePartition.maxSplitBytes`, which weighs
    * `filesOpenCostInBytes` and the bytes per core, then
    * `FilePartition.getFilePartitions`) over the relation's listed files.
    * Only defined for NARROW plans (project/filter/generate over one
    * file scan) — exactly the shape every fanOutSmallScan
    * call site feeds it; anything wider (a join/aggregate/window below)
    * already owns a shuffle whose partitioning is ≥ cores at every
    * config, so it reports `fallback` (= no fan-out), matching what the
    * old `.rdd` probe concluded. */
  private[graft] def plannedScanSplits(df: org.apache.spark.sql.DataFrame,
      fallback: Int): Int = {
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.PartitionedFileUtil
    import org.apache.spark.sql.execution.datasources.{FilePartition, HadoopFsRelation, LogicalRelation}
    def narrowScan(plan: LogicalPlan): Option[HadoopFsRelation] =
      plan match {
        case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) => Some(fs)
        case p: Project => narrowScan(p.child)
        case f: Filter => narrowScan(f.child)
        case g: Generate => narrowScan(g.child)
        case a: SubqueryAlias => narrowScan(a.child)
        case _ => None
      }
    // analyzed, not logical: Spark 4's lazy DataFrameReader leaves an
    // UnresolvedDataSource at the logical level (spec-pinned in
    // Round13OptSpec) — analysis resolves the file relation without any
    // physical planning
    narrowScan(df.queryExecution.analyzed) match {
      case Some(fs) =>
        val spark = df.sparkSession
        val dirs = fs.location.listFiles(Nil, Nil)
        val maxSplit = FilePartition.maxSplitBytes(spark, dirs)
        val splits = dirs.flatMap(d => d.files.flatMap(f =>
          PartitionedFileUtil.splitFiles(f, f.getPath,
            fs.fileFormat.isSplitable(spark, fs.options, f.getPath),
            maxSplit, d.values)))
        if (splits.isEmpty) fallback
        else FilePartition.getFilePartitions(spark,
          splits.sortBy(-_.length), maxSplit).size
      case _ => fallback
    }
  }

  /** Identity gate that predicate pushdown cannot move (guide §4.4
    * applied to Catalyst itself, round 12).
    *
    * `PushPredicateThroughNonJoin` pushes any DETERMINISTIC filter below
    * projections and exchanges by substituting alias definitions into
    * the pushed condition — for a filter over expensive interpreted
    * expressions (HOF shingling, quality-stat aggregates) that
    * duplicates the whole pipeline below the scan-side exchange, where
    * it runs once per row on the unsplit (often single-task) scan
    * (measured: q197's pushed filter re-ran split×4 + transform×2 +
    * array_distinct×2 per row serially — 4 s of the query's 6 s). A
    * non-deterministic predicate is ineligible for pushdown, so wrapping
    * the ALREADY-COMPUTED boolean in this identity UDF pins the filter
    * where it was written: above the exchange, reading the staged
    * columns, evaluated once in parallel. Null maps to null (dropped by
    * Filter), exactly like the bare predicate. */
  def nonPushableGate(pred: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = ndGateUdf(pred)

  private val ndGateUdf = org.apache.spark.sql.functions
    .udf((b: java.lang.Boolean) => b).asNondeterministic()

  /** Total size of all regular files under `dir` (recursive); 0 when the
    * directory is absent or unreadable — the formula then floors to one
    * partition per core, the historic default. */
  private[graft] def dirBytes(dir: String): Long = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.isDirectory(root)) 0L
    else {
      val stream = java.nio.file.Files.walk(root)
      try stream
        .filter(p => java.nio.file.Files.isRegularFile(p))
        .mapToLong(p =>
          try java.nio.file.Files.size(p) catch { case _: Throwable => 0L })
        .sum()
      catch { case _: Throwable => 0L }
      finally stream.close()
    }
  }
}
