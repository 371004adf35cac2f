package graft.index

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
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
  * The result belongs to a session derived from the index's, made once
  * with the reader and cached with it, whose projections are interpreted.
  * Evaluating a one-row result of ~190 columns interpreted costs far less
  * than generating the source of its row-to-unsafe projection and `Row`
  * deserializer, which `collect` would otherwise do on every lookup (Spark
  * caches compiled classes by their source, not the source itself).
  */
object KeyLookup {

  /** Most cells (rows × leaf columns) the candidate row groups may hold
    * for the driver to read them. The driver decodes every cell of a row
    * group on one thread; the Spark job decodes only the pages its pushed
    * filter keeps, but pays for planning and a job. `KeyLookupScale`
    * measured both on the serving index schema (187 leaf columns, 4 files,
    * 4 vCPU), p50 per lookup: 82 against 262 ms at 0.8 million cells per
    * row group, 92 against 288 ms at 6.1 million, 234 against 252 ms at
    * 24.5 million. The limit keeps the driver read about twice as fast. */
  val MaxCells: Long = 8L << 20

  /** Rows per row group `Store.writeIndex` writes: up to 256 leaf columns
    * a row group stays within [[MaxCells]]. */
  val GroupRows: Int = 1 << 15

  /** A row group that may hold non-null ids: its byte range in the file,
    * its cell count and its footer `id` min/max (None when the footer has
    * no statistics, so it is always a candidate). */
  private final case class Group(start: Long, length: Long, cells: Long,
      range: Option[(Array[Byte], Array[Byte])]) {
    def mayHold(key: Array[Byte]): Boolean = range.forall { case (lo, hi) =>
      // Parquet orders binary statistics as unsigned bytes
      java.util.Arrays.compareUnsigned(lo, key) <= 0 &&
        java.util.Arrays.compareUnsigned(key, hi) <= 0
    }
  }

  /** A file as listed: a rewrite changes its length or modification time,
    * so cached statistics are never served for different contents. */
  private final case class FileKey(path: String, length: Long, modified: Long)

  private val footers = new ConcurrentHashMap[FileKey, Seq[Group]]()
  private val MaxFooters = 4096

  private type Reader = PartitionedFile => Iterator[InternalRow]

  /** A reader and the session its results belong to. Both keep the
    * index session's state as it was when they were made: the reader its
    * settings (case sensitivity, vectorized reading, rebase modes, Hadoop
    * settings made on the session), the derived session its settings,
    * functions and temporary views. The cache key covers the settings and
    * the function names, not the temporary views. */
  private final case class Bound(reader: Reader, session: SparkSession)

  /** [[Bound]]s by session, schema, relation options, session settings
    * and registered function names, so a changed setting or a newly
    * registered function makes a new one. */
  private val bound = new ConcurrentHashMap[(SparkSession, StructType,
    Map[String, String], Map[String, String], Set[FunctionIdentifier]), Bound]()
  private[index] val MaxBound = 8

  /** Derived sessions currently cached. */
  private[index] def boundSessions: Set[SparkSession] =
    bound.values.asScala.map(_.session).toSet

  /** Rows of the index read for one key, and the session they go to. */
  private[index] final case class Hits(session: SparkSession,
      schema: StructType, rows: Seq[InternalRow]) {
    /** The rows as a local relation, analysed in the derived session. */
    def frame: DataFrame =
      Bridge.ofRows(session, LocalRelation(DataTypeUtils.toAttributes(schema), rows))
  }

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

  /** The read half of [[direct]]: the matching rows, not yet a DataFrame. */
  private[index] def hits(index: DataFrame, key: String,
      maxCells: Long): Option[Hits] = {
    val spark = index.sparkSession
    bareParquet(index).flatMap { fs =>
      val files = fs.location.listFiles(Nil, Nil).flatMap(_.files).map(_.fileStatus)
      val groups = candidates(spark, fs, files, key.getBytes(UTF_8))
      if (groups.size > spark.sparkContext.defaultParallelism ||
          groups.map(_._2.cells).sum > maxCells) None
      else {
        val b = boundFor(spark, fs)
        Some(Hits(b.session, index.schema, read(b.reader, fs, groups, key)))
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
    * A listing that brings uncached files also drops the cached footers of
    * files no longer listed in their directory. */
  private def candidates(spark: SparkSession, fs: HadoopFsRelation,
      files: Seq[FileStatus], key: Array[Byte]): Seq[(FileStatus, Group)] = {
    val keyed = files.map(f =>
      f -> FileKey(f.getPath.toString, f.getLen, f.getModificationTime))
    if (!keyed.forall(kf => footers.containsKey(kf._2))) {
      // new files listed: drop the footers of the files they replaced
      val listed = keyed.map(_._2).toSet
      val dirs = files.map(_.getPath.getParent).toSet
      if (footers.size > MaxFooters) footers.clear()
      footers.keySet.removeIf(k => !listed(k) && dirs(new Path(k.path).getParent))
    }
    lazy val conf = spark.sessionState.newHadoopConfWithOptions(fs.options)
    keyed.flatMap { case (f, k) =>
      footers.computeIfAbsent(k, _ => groupsOf(f, conf))
        .filter(_.mayHold(key)).map(f -> _)
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
      else Some(Group(b.getStartingPos, b.getCompressedSize,
        b.getRowCount * b.getColumns.size,
        stats.filter(_.hasNonNullValue).map(s => (s.getMinBytes, s.getMaxBytes))))
    }
  }

  /** Read the candidate row groups and keep the rows whose `id` is `key`. */
  private def read(reader: Reader, fs: HadoopFsRelation,
      groups: Seq[(FileStatus, Group)], key: String): Seq[InternalRow] = {
    val id = fs.dataSchema.fieldIndex("id")
    val want = UTF8String.fromString(key)
    groups.flatMap { case (f, g) =>
      val rows = reader(PartitionedFile(InternalRow.empty,
        SparkPath.fromPath(f.getPath), g.start, g.length, Array.empty,
        f.getModificationTime, f.getLen, Map.empty))
      try rows.filter(r => want == r.getUTF8String(id)).map(_.copy()).toList
      finally rows match {
        case c: AutoCloseable => c.close()
        case _ => ()
      }
    }
  }

  /** Spark's Parquet reader for the relation's schema, returning rows,
    * and the interpreted-projection session derived from `spark`. The
    * reader's Hadoop configuration is broadcast once, when it is built. */
  private def boundFor(spark: SparkSession, fs: HadoopFsRelation): Bound = {
    if (bound.size >= MaxBound) bound.clear()
    val state = spark.sessionState
    val key = (spark, fs.dataSchema, fs.options, state.conf.getAllConfs,
      state.functionRegistry.listFunction().toSet)
    bound.computeIfAbsent(key, _ => {
      val options = fs.options + (FileFormat.OPTION_RETURNING_BATCH -> "false")
      Bound(fs.fileFormat.buildReaderWithPartitionValues(spark, fs.dataSchema,
        new StructType(), fs.dataSchema, Nil, options,
        state.newHadoopConfWithOptions(options)),
        Bridge.interpretedSession(spark))
    })
  }
}
