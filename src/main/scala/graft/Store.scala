package graft

import graft.index.{IndexSupport, KeyLookup, Serving}
import graft.operators._
import graft.processors.Processors
import graft.sources.DwcSource
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Public facade — the library's equivalent of the reference's Java-facing
  * `Store` object (`Store.scala:40-771` in
  * /root/reference/src/main/scala/au/org/ala/biocache/): one entry point a
  * reference user can port their calls onto. Methods delegate to the operator
  * modules; everything is a lazy DataFrame until a sink is invoked.
  */
object Store {

  // ── Load (reference Store.loadRecord / loader CLI) ──
  def loadCsv(spark: SparkSession, path: String, dataResourceUid: String,
      uniqueTerms: Seq[String]): DataFrame =
    DwcSource.loadCsv(spark, path, dataResourceUid, uniqueTerms)

  def loadArchive(spark: SparkSession, dir: String, dataResourceUid: String,
      uniqueTerms: Seq[String], extensions: Seq[String] = Nil): DataFrame =
    DwcSource.loadArchive(spark, dir, dataResourceUid, uniqueTerms,
      extensions = extensions)

  def loadRows(spark: SparkSession, rows: Seq[Map[String, String]],
      dataResourceUid: String, uniqueTerms: Seq[String]): DataFrame =
    DwcSource.loadRows(spark, rows, dataResourceUid, uniqueTerms)

  /** Upsert a load into the occurrence store (reference `occ` writes). */
  def upsert(existing: Option[DataFrame], incoming: DataFrame): DataFrame =
    DwcSource.upsert(existing, incoming)

  // ── Process (reference processRecords / process-local-node) ──
  def process(records: DataFrame, namesDim: Option[DataFrame] = None): DataFrame =
    Processors.enrich(records, namesDim)

  /** Full pipeline with every dimension-backed stage. */
  def processAll(records: DataFrame, dims: Processors.Dimensions): DataFrame =
    Processors.enrichAll(records, dims)

  // ── Sample (reference Sampling tool) ──
  def sample(spark: SparkSession, records: DataFrame, layers: DataFrame): DataFrame = {
    val pts = Sampling.distinctCoordinates(records)
    val samples = Sampling.samplePoints(spark, pts, layers)
    Sampling.loadSamplesIntoRecords(records, samples)
  }

  // ── Index (reference index-local-node) ──
  def buildIndex(enriched: DataFrame): DataFrame = IndexSupport.project(enriched)

  /** Index sink, range partitioned and sorted by `id`: every file holds a
    * disjoint `id` range, so a keyed lookup reads one row group
    * ([[getByKey]]). The partition count is AQE's, sized to the data as for
    * any shuffle. Row groups hold at most [[KeyLookup.GroupRows]] rows, so
    * on a wide index the one candidate row group stays small enough to
    * read on the driver. */
  def writeIndex(index: DataFrame, path: String): Unit =
    index.repartitionByRange(col("id")).sortWithinPartitions("id")
      .write.mode("overwrite")
      .option("parquet.block.row.count.limit", KeyLookup.GroupRows.toString)
      .parquet(path)

  /** Bucketed table sink: pre-shuffles rows into `numBuckets` by `key` at
    * WRITE time, so every later equi-join or aggregation on that key reads
    * co-located buckets and plans with NO exchange (PlanShapeSpec proves
    * it). This is the 100 TB answer to repeated joins on the same key —
    * the serving/occurrence tables are written once, joined many times:
    * pay the shuffle once at ingest, never at query. */
  def writeBucketed(df: DataFrame, table: String, key: String,
      numBuckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(numBuckets, key).sortBy(key)
      .format("parquet")
      .saveAsTable(table)

  // ── Query surface (reference Store.occurrenceSearch/facets/…) ──
  def facet(index: DataFrame, field: String, predicate: Option[Column] = None): DataFrame =
    Serving.facet(index, field, predicate)

  def distinctValues(index: DataFrame, field: String, max: Int): DataFrame =
    Serving.distinctValues(index, field, max)

  def idsForQuery(index: DataFrame, predicate: Column, limit: Int): DataFrame =
    Serving.idsForQuery(index, predicate, limit)

  /** Keyed lookup (reference Store.getByUuid). On a bare Parquet index it
    * reads, on the driver, only the row groups whose footer `id` range holds
    * the key ([[KeyLookup]]); any other plan, or footers that prune to more
    * row groups than the default parallelism or to more cells than
    * [[KeyLookup.MaxCells]], runs the Spark filter. */
  def getByKey(index: DataFrame, rowKey: String): DataFrame =
    Option(rowKey).flatMap(KeyLookup.direct(index, _))
      .getOrElse(index.filter(col("id") === rowKey))

  // ── Download sinks (reference Store.writeToStream / DwC-A export) ──
  def download(index: DataFrame, rowKeys: DataFrame, fields: Seq[String],
      qaFields: Seq[String]): DataFrame =
    Serving.download(index, rowKeys, fields, qaFields)

  /** S20 CSV dump. Complex columns (the miscProperties map, assertion
    * arrays) serialise as JSON strings — the reference stores exactly that
    * shape in its flat rows (`Json.toJSON` of the misc map,
    * `dao/OccurrenceDAOImpl` writeToRecordWriter). */
  def writeCsv(df: DataFrame, path: String, sep: String = ","): Unit = {
    val flat = df.schema.fields.foldLeft(df) { (acc, f) =>
      f.dataType match {
        case _: org.apache.spark.sql.types.MapType |
             _: org.apache.spark.sql.types.ArrayType |
             _: org.apache.spark.sql.types.StructType =>
          acc.withColumn(f.name, to_json(col(f.name)))
        case _ => acc
      }
    }
    // standard CSV quote-doubling (escape = quote), matching what the
    // loaders read — Spark's default backslash-escape would corrupt the
    // JSON cells on a write→load roundtrip
    flat.write.mode("overwrite").option("header", "true").option("sep", sep)
      .option("quote", "\"").option("escape", "\"")
      .csv(path)
  }

  // ── Offline analytics (reference duplicate-detection / outlier tools) ──
  def detectDuplicates(spark: SparkSession, candidates: DataFrame) =
    DuplicationDetection.findDuplicates(spark, candidates)

  /** Incremental pass over `detectDuplicates`: splice `previous` results,
    * recomputing only taxa touched by `changedKeys` (one `rowKey` col). */
  def detectDuplicatesIncremental(spark: SparkSession, candidates: DataFrame,
      changedKeys: DataFrame,
      previous: org.apache.spark.sql.Dataset[
        DuplicationDetection.DupResult]) =
    DuplicationDetection.findDuplicatesIncremental(
      spark, candidates, changedKeys, previous)

  def jackknifeOutliers(samples: DataFrame): DataFrame =
    Outliers.jackknifeByTaxonLayer(samples)

  def expertDistributionOutliers(spark: SparkSession, records: DataFrame,
      distributions: DataFrame): DataFrame =
    Outliers.expertDistributionOutliers(spark, records, distributions)

  // ── Delete (reference Store.deleteRecords; Delta DELETE at scale) ──
  def deleteByKeys(records: DataFrame, doomedKeys: DataFrame): DataFrame =
    records.join(doomedKeys, records("rowKey") === doomedKeys("rowKey"),
      "left_anti")

  def deleteByQuery(records: DataFrame, predicate: Column): DataFrame =
    records.filter(!predicate)

  // ── Deletion log (reference `dellog` table,
  //    dao/DeletedRecordDAOImpl.scala + Store.scala:686-687): deletions
  //    append (deletedDate, rowKey) rows to a date-partitioned log so
  //    downstream consumers (index sync, harvesters) can replay them ──

  /** Append deleted keys to the dellog at `logPath` under today's date
    * (or an explicit ISO `date`). */
  def logDeletions(doomedKeys: DataFrame, logPath: String,
      date: Option[String] = None): Unit = {
    val d = date.map(lit).getOrElse(date_format(current_date(), "yyyy-MM-dd"))
    doomedKeys.select(col("rowKey"), d.as("deletedDate"))
      .write.mode("append").partitionBy("deletedDate").parquet(logPath)
  }

  /** Row keys deleted on/after `startDate` (reference
    * `getUuidsForDeletedRecords`); partition pruning keeps the scan to the
    * requested date range. */
  def deletedKeysSince(spark: SparkSession, logPath: String,
      startDate: String): DataFrame =
    spark.read.parquet(logPath)
      .filter(col("deletedDate") >= startDate)
      .select("rowKey").distinct()

  // ── User assertions (reference Store.addUserAssertion /
  //    getUserAssertions / deleteUserAssertion via
  //    dao/OccurrenceDAOImpl.scala + QualityAssertionTests): QA flags
  //    raised by users against individual records, kept as their own
  //    table and merged into the record's assertion codes + kosher flags
  //    at read time. `assertionUuid` is deterministic over
  //    (rowKey, code, userId) so adds are idempotent. ──

  /** Append one user assertion. `problemAsserted` false records a user
    * VERIFICATION (disagreeing with the system assertion). */
  def addUserAssertion(assertions: Option[DataFrame], spark: SparkSession,
      rowKey: String, code: Int, userId: String,
      problemAsserted: Boolean = true, comment: String = ""): DataFrame = {
    import spark.implicits._
    val name = graft.model.AssertionCodes.byCode(code).map(_.name)
      .getOrElse("unknown")
    val row = Seq((rowKey, code, name, userId, problemAsserted, comment))
      .toDF("rowKey", "code", "name", "userId", "problemAsserted", "comment")
      .withColumn("assertionUuid",
        sha2(concat_ws("|", col("rowKey"), col("code"), col("userId")), 256))
    assertions match {
      case Some(existing) =>
        existing.join(row.select("assertionUuid"), Seq("assertionUuid"),
          "left_anti").unionByName(
          row.select(existing.columns.map(col).toIndexedSeq: _*))
      case None => row.select("assertionUuid", "rowKey", "code", "name",
        "userId", "problemAsserted", "comment")
    }
  }

  def getUserAssertions(assertions: DataFrame, rowKey: String): DataFrame =
    assertions.filter(col("rowKey") === rowKey)

  def deleteUserAssertion(assertions: DataFrame, rowKey: String,
      assertionUuid: String): DataFrame =
    assertions.filter(!(col("rowKey") === rowKey &&
      col("assertionUuid") === assertionUuid))

  /** Merge user assertions into enriched records: problem-asserted codes
    * join the record's `assertionCodes` and both kosher flags are
    * recomputed (reference FullRecordMapper kosher semantics — a user
    * assertion flips kosher exactly like a system one). Broadcast-joined:
    * user assertions are curation-scale, not fact-scale. */
  def applyUserAssertions(records: DataFrame,
      userAssertions: DataFrame): DataFrame = {
    val perKey = userAssertions.filter(col("problemAsserted"))
      .groupBy(col("rowKey"))
      .agg(collect_set(col("code")).as("_userCodes"))
    records.join(broadcast(perKey), Seq("rowKey"), "left")
      .withColumn("assertionCodes",
        when(col("_userCodes").isNotNull,
          array_union(col("assertionCodes"), col("_userCodes")))
          .otherwise(col("assertionCodes")))
      .withColumn("_asm",
        graft.model.AssertionCodes.assembleFromCodes(col("assertionCodes")))
      .withColumn("assertions", col("_asm.assertions"))
      .withColumn("geospatiallyKosher", col("_asm.geospatiallyKosher"))
      .withColumn("taxonomicallyKosher", col("_asm.taxonomicallyKosher"))
      .drop("_userCodes", "_asm")
  }
}
