package graft.index

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{BoundReference, InterpretedUnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, SubqueryAlias}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.datasources.{FileFormat, HadoopFsRelation, LogicalRelation, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Keyed lookup answered on the driver (reference `Store.getByUuid`).
  *
  * Run as a Spark job, a lookup schedules a task per file and decodes
  * every row of the index to return one. Here the footers of the
  * relation's files are read once and cached, their per-row-group `id`
  * min/max pick the row groups that can hold the key, and only those are
  * read, on the driver, with Spark's own Parquet reader (built once per
  * index schema and session configuration). On an index written by
  * `Store.writeIndex` (range partitioned and sorted by `id`) that is one
  * row group. The matching rows come back as a local relation, so
  * collecting the result starts no job.
  *
  * Decoded row groups are kept ([[RowGroups]]), as the reference's
  * Cassandra keeps hot rows in its row cache: a lookup into a kept group
  * decodes no Parquet, it scans the group's `UnsafeRow`s for the key.
  *
  * The result belongs to a session derived from the index's, made once
  * with the reader and cached with it, whose projections are interpreted.
  * Evaluating a one-row result of ~190 columns interpreted costs far less
  * than generating the source of its row-to-unsafe projection and `Row`
  * deserializer, which `collect` would otherwise do on every lookup (Spark
  * caches compiled classes by their source, not the source itself). The
  * result's `Row` encoder is built, resolved and bound once with the
  * session ([[Bridge.boundRowEncoder]]): every result's `collect` reuses
  * the bound copy and runs no analyzer pass over the ~190-field
  * deserializer. `KeyLookupScale`'s `split fixture` line, warm hit p50 ms,
  * two runs a side on 4 vCPU, before → after: read 0.4–0.6 → 0.3–0.4,
  * build 1.0–1.4 → 1.1–1.3, collect 6.6–9.6 → 2.6. What a hit still pays
  * is the frame construction (the rows analysed as a DataFrame) and the
  * local relation's planning in `collect`.
  */
object KeyLookup {

  /** Most cells (rows × leaf columns) the candidate row groups may hold
    * for the driver to read them. The driver decodes every cell of a row
    * group on one thread; the Spark job decodes only the pages its pushed
    * filter keeps, but pays for planning and a job. `KeyLookupScale`
    * measured both on the serving index schema (187 leaf columns, 4 files,
    * 4 vCPU, 3 GB heap), median of 5 rounds' p50 per lookup, a driver miss
    * (the group decoded, and kept where it fits the row-group cache)
    * against the job: 115 against 170 ms at 0.8 million cells per row
    * group, 76 against 207 ms at 6.1 million (too large to keep, read as
    * without a cache), 194 against 212 ms at 24.5 million. A hit into a
    * kept group took 16 ms. Up to 6.1 million cells a driver miss is 1.5
    * to 2.7 times as fast as the job; at 24.5 million they are within 10%. */
  val MaxCells: Long = 8L << 20

  /** Rows per row group `Store.writeIndex` writes: up to 256 leaf columns
    * a row group stays within [[MaxCells]]. */
  val GroupRows: Int = 1 << 15

  /** A row group that may hold non-null ids: its byte range in the file,
    * its cell count and its footer `id` min/max (None when the footer has
    * no statistics, so it is always a candidate). */
  private final case class Group(start: Long, length: Long, rows: Long,
      cells: Long, range: Option[(Array[Byte], Array[Byte])]) {
    def mayHold(key: Array[Byte]): Boolean = range.forall { case (lo, hi) =>
      // Parquet orders binary statistics as unsigned bytes
      java.util.Arrays.compareUnsigned(lo, key) <= 0 &&
        java.util.Arrays.compareUnsigned(key, hi) <= 0
    }
  }

  /** A file as listed: a rewrite changes its length or modification time,
    * so cached statistics are never served for different contents. */
  private[index] final case class FileKey(path: String, length: Long, modified: Long)

  private val footers = new ConcurrentHashMap[FileKey, Seq[Group]]()
  private val MaxFooters = 4096

  private[index] type Reader = PartitionedFile => Iterator[InternalRow]

  /** A reader of `schema`, the session its results belong to and the
    * results' encoder, which holds its copy resolved and bound under that
    * session. They keep the index session's state as it was when
    * they were made: the reader its settings (case sensitivity,
    * vectorized reading, rebase modes, Hadoop settings made on the
    * session), the derived session its settings, functions and temporary
    * views, the encoder its settings. The cache key covers the settings
    * and the function names, not the temporary views. Compared by
    * identity. */
  private[index] final class Bound(val reader: Reader, val session: SparkSession,
      val schema: StructType, val encoder: ExpressionEncoder[Row])

  /** [[Bound]]s by session, schema, relation options, session settings
    * and registered function names, so a changed setting or a newly
    * registered function makes a new one. */
  private val bound = new ConcurrentHashMap[(SparkSession, StructType,
    Map[String, String], Map[String, String], Set[FunctionIdentifier]), Bound]()
  private[index] val MaxBound = 8

  /** Derived sessions currently cached. */
  private[index] def boundSessions: Set[SparkSession] =
    bound.values.asScala.map(_.session).toSet

  /** Rows of the index read for one key, and the reader that read them. */
  private[index] final case class Hits(bound: Bound, rows: Seq[InternalRow]) {
    /** The rows as a local relation, analysed in the derived session. */
    def frame: DataFrame = Bridge.ofRows(bound.session,
      LocalRelation(DataTypeUtils.toAttributes(bound.schema), rows), bound.encoder)
  }

  /** A row group as one reader decodes it. */
  private[index] final case class GroupKey(bound: Bound, file: FileKey, start: Long)

  /** Decoded row groups as `UnsafeRow` copies, the least recently used
    * dropped first once they hold more than `budget` bytes. A group whose
    * rows take more than a quarter of the budget is not kept; it is read
    * as without a cache, decoded with only its matching rows copied. A
    * group is decoded under a lock of its own, so concurrent lookups of
    * one group decode it once and lookups of other groups do not wait. */
  private[index] final class RowGroups(val budget: Long) {
    /** Most bytes one kept group may take. */
    val admitted: Long = budget / 4

    /** A group's rows once decoded: None while not decoded, or when the
      * group outgrew [[admitted]]. */
    private final class Slot {
      var decoded = false // guarded by this
      var rows: Option[Array[UnsafeRow]] = None // guarded by this
      var bytes = 0L // guarded by slots
    }
    // access order: iteration starts at the least recently used
    private val slots = new java.util.LinkedHashMap[GroupKey, Slot](16, 0.75f, true)
    private var total = 0L // guarded by slots
    private val decoding = new AtomicLong()

    /** Bytes of the groups kept. */
    def bytes: Long = slots.synchronized(total)
    /** Decodes started, since this cache was made. */
    def decodes: Long = decoding.get
    /** The groups kept and their bytes (0 for a group too large to keep,
      * or one not yet decoded). */
    def held: Map[GroupKey, Long] =
      slots.synchronized(slots.asScala.map { case (k, s) => k -> s.bytes }.toMap)

    /** The rows of `key`'s group: kept ones, or decoded now by `decode`,
      * which is given [[admitted]] and returns None past it. None, without
      * decoding, when at least `minBytes` bytes would not be admitted. */
    def apply(key: GroupKey, minBytes: Long)(
        decode: Long => Option[(Array[UnsafeRow], Long)]): Option[Array[UnsafeRow]] =
      if (minBytes > admitted) None
      else {
        val slot = slots.synchronized(slots.computeIfAbsent(key, _ => new Slot))
        slot.synchronized {
          if (!slot.decoded) {
            decoding.incrementAndGet()
            val got = decode(admitted)
            slot.rows = got.map(_._1)
            slot.decoded = true
            got.foreach { case (_, bytes) => hold(key, slot, bytes) }
          }
          slot.rows
        }
      }

    /** Counts a decoded slot, unless it was dropped while it decoded, and
      * drops the least recently used groups while more than [[budget]]
      * bytes are held. */
    private def hold(key: GroupKey, slot: Slot, bytes: Long): Unit = slots.synchronized {
      if (slots.get(key) eq slot) {
        slot.bytes = bytes
        total += bytes
        val it = slots.values.iterator
        while (total > budget && it.hasNext) {
          val s = it.next()
          if (s.bytes > 0) { total -= s.bytes; it.remove() }
        }
      }
    }

    /** Drops the groups whose key fails `keep`. */
    def retain(keep: GroupKey => Boolean): Unit = slots.synchronized {
      val it = slots.entrySet.iterator
      while (it.hasNext) {
        val e = it.next()
        if (!keep(e.getKey)) { total -= e.getValue.bytes; it.remove() }
      }
    }
  }

  /** Heap bytes of an `UnsafeRow` copy beyond its data: the row object
    * and its byte array's header. */
  private val RowOverhead = 64

  /** The row groups of every lookup: a sixteenth of the heap. */
  private[index] val Groups = new RowGroups(Runtime.getRuntime.maxMemory / 16)

  /** The rows of `index` whose `id` is `key`, with the schema of
    * `index.filter(col("id") === key)`; None when `index` is not a bare
    * Parquet file relation with a string `id` (partitioned, bucketed,
    * projected, filtered, another format), or when the footers leave more
    * candidate row groups than the context's default parallelism or more
    * than [[MaxCells]] cells. */
  def direct(index: DataFrame, key: String): Option[DataFrame] =
    direct(index, key, MaxCells)

  private[index] def direct(index: DataFrame, key: String,
      maxCells: Long): Option[DataFrame] =
    hits(index, key, maxCells).map(_.frame)

  /** The read half of [[direct]]: the matching rows, not yet a DataFrame,
    * from the row groups kept in `groups` or decoded into it. */
  private[index] def hits(index: DataFrame, key: String, maxCells: Long,
      groups: RowGroups = Groups): Option[Hits] = {
    val spark = index.sparkSession
    bareParquet(index).flatMap { fs =>
      val files = fs.location.listFiles(Nil, Nil).flatMap(_.files).map(_.fileStatus)
      val found = candidates(spark, fs, files, key.getBytes(UTF_8), groups)
      if (found.size > spark.sparkContext.defaultParallelism ||
          found.map(_._3.cells).sum > maxCells) None
      else {
        val b = boundFor(spark, fs, groups)
        Some(Hits(b, read(b, found, key, groups)))
      }
    }
  }

  private def bareParquet(index: DataFrame): Option[HadoopFsRelation] = {
    def unalias(p: LogicalPlan): LogicalPlan = p match {
      case a: SubqueryAlias => unalias(a.child)
      case other => other
    }
    unalias(index.queryExecution.analyzed) match {
      case LogicalRelation(fs: HadoopFsRelation, _, _, false, _)
          if fs.fileFormat.isInstanceOf[ParquetFileFormat] &&
            fs.partitionSchema.isEmpty && fs.bucketSpec.isEmpty &&
            fs.dataSchema.exists(f => f.name == "id" && f.dataType == StringType) =>
        Some(fs)
      case _ => None
    }
  }

  /** Row groups of the listed `files` whose `id` range can hold `key`.
    * A listing that brings uncached files also drops the cached footers,
    * and the decoded row groups in `groups`, of files no longer listed in
    * their directory. */
  private def candidates(spark: SparkSession, fs: HadoopFsRelation,
      files: Seq[FileStatus], key: Array[Byte],
      groups: RowGroups): Seq[(FileStatus, FileKey, Group)] = {
    val keyed = files.map(f =>
      f -> FileKey(f.getPath.toString, f.getLen, f.getModificationTime))
    if (!keyed.forall(kf => footers.containsKey(kf._2))) {
      // new files listed: drop the footers of the files they replaced
      val listed = keyed.map(_._2).toSet
      val dirs = files.map(_.getPath.getParent).toSet
      if (footers.size > MaxFooters) footers.clear()
      footers.keySet.removeIf(k => !listed(k) && dirs(new Path(k.path).getParent))
      groups.retain(k => footers.containsKey(k.file))
    }
    lazy val conf = spark.sessionState.newHadoopConfWithOptions(fs.options)
    keyed.flatMap { case (f, k) =>
      footers.computeIfAbsent(k, _ => groupsOf(f, conf))
        .filter(_.mayHold(key)).map((f, k, _))
    }
  }

  /** The footer's row groups that may hold a non-null `id`: a row group
    * whose statistics count only nulls is left out. */
  private def groupsOf(f: FileStatus, conf: Configuration): Seq[Group] = {
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(f, conf), ParquetMetadataConverter.NO_FILTER)
    footer.getBlocks.asScala.toSeq.flatMap { b =>
      val stats = b.getColumns.asScala.find(_.getPath.toDotString == "id")
        .flatMap(c => Option(c.getStatistics))
      val allNull = stats.exists(s => !s.hasNonNullValue && s.isNumNullsSet &&
        s.getNumNulls == b.getRowCount)
      if (allNull) None
      else Some(Group(b.getStartingPos, b.getCompressedSize, b.getRowCount,
        b.getRowCount * b.getColumns.size,
        stats.filter(_.hasNonNullValue).map(s => (s.getMinBytes, s.getMaxBytes))))
    }
  }

  /** The rows of the candidate row groups whose `id` is `key`: scanned
    * from the groups kept in `groups`, decoded into it first if need be,
    * or read from the file where a group is too large to keep. */
  private def read(b: Bound, found: Seq[(FileStatus, FileKey, Group)],
      key: String, groups: RowGroups): Seq[InternalRow] = {
    val id = b.schema.fieldIndex("id")
    val want = UTF8String.fromString(key)
    def matching(rows: Iterator[InternalRow]) = rows.filter(r => want == r.getUTF8String(id))
    // an UnsafeRow of the schema takes at least its null bits and a word a field
    val minRow = UnsafeRow.calculateBitSetWidthInBytes(b.schema.length) +
      8L * b.schema.length + RowOverhead
    found.flatMap { case (f, k, g) =>
      groups(GroupKey(b, k, g.start), g.rows * minRow)(decode(b, f, g, _)) match {
        case Some(rows) => matching(rows.iterator).toList
        case None => scan(b, f, g)(matching(_).map(_.copy()).toList)
      }
    }
  }

  /** Every row of the row group as an `UnsafeRow` copy, and their heap
    * bytes; None, the read cut short, once those pass `limit`. */
  private def decode(b: Bound, f: FileStatus, g: Group,
      limit: Long): Option[(Array[UnsafeRow], Long)] = scan(b, f, g) { rows =>
    val toUnsafe = InterpretedUnsafeProjection.createProjection(
      b.schema.fields.toSeq.zipWithIndex.map { case (c, i) =>
        BoundReference(i, c.dataType, c.nullable) })
    val out = Array.newBuilder[UnsafeRow]
    var bytes = 0L
    while (bytes <= limit && rows.hasNext) {
      val row = toUnsafe(rows.next()).copy()
      bytes += row.getSizeInBytes + RowOverhead
      out += row
    }
    if (bytes <= limit) Some((out.result(), bytes)) else None
  }

  /** `use` applied to the rows of one row group, read by `b`'s reader. */
  private def scan[T](b: Bound, f: FileStatus, g: Group)(use: Iterator[InternalRow] => T): T = {
    val rows = b.reader(PartitionedFile(InternalRow.empty,
      SparkPath.fromPath(f.getPath), g.start, g.length, Array.empty,
      f.getModificationTime, f.getLen, Map.empty))
    try use(rows)
    finally rows match {
      case c: AutoCloseable => c.close()
      case _ => ()
    }
  }

  /** Spark's Parquet reader for the relation's schema, returning rows,
    * the interpreted-projection session derived from `spark` and the
    * result encoder, bound under that session. The reader's Hadoop
    * configuration is broadcast once, when it is built. A new one past
    * [[MaxBound]] clears the cache, and with it the row groups its readers
    * decoded. */
  private def boundFor(spark: SparkSession, fs: HadoopFsRelation,
      groups: RowGroups): Bound = {
    val state = spark.sessionState
    val key = (spark, fs.dataSchema, fs.options, state.conf.getAllConfs,
      state.functionRegistry.listFunction().toSet)
    Option(bound.get(key)).getOrElse {
      if (bound.size >= MaxBound) {
        bound.clear()
        groups.retain(k => bound.containsValue(k.bound))
      }
      bound.computeIfAbsent(key, _ => {
        val options = fs.options + (FileFormat.OPTION_RETURNING_BATCH -> "false")
        val session = Bridge.interpretedSession(spark)
        new Bound(fs.fileFormat.buildReaderWithPartitionValues(spark, fs.dataSchema,
          new StructType(), fs.dataSchema, Nil, options,
          state.newHadoopConfWithOptions(options)),
          session, fs.dataSchema, Bridge.boundRowEncoder(session, fs.dataSchema))
      })
    }
  }
}
