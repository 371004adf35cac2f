package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Darwin Core sources: CSV/TSV (S2), DwC-A star archives (S1), and in-memory
  * row sets (S4), with deterministic UUID identity (J7).
  *
  * Reference: `load/DwcCSVLoader.scala:97-158`, `load/DwCALoader.scala:109-174`,
  * `dao/OccurrenceDAOImpl.scala:142-183` in
  * /root/reference/src/main/scala/au/org/ala/biocache/. The reference mints a
  * random UUID per new uniqueKey via a read-modify-write on an identity
  * table; here identity is the deterministic hash of the unique terms, which
  * removes the per-record round-trip entirely (idempotent reloads for free).
  */
object DwcSource {

  /** `class` is a Scala/Java reserved word: renamed on ingest
    * (reference `model/FullRecord.scala:123-129`). */
  val reservedRenames: Map[String, String] = Map("class" -> "classs")

  /** S2: CSV with DwC-term headers → canonical columns + rowKey. */
  def loadCsv(spark: SparkSession, path: String, dataResourceUid: String,
      uniqueTerms: Seq[String], sep: String = ","): DataFrame = {
    val raw = spark.read
      .option("header", "true").option("sep", sep)
      .option("quote", "\"").option("escape", "\"")
      .csv(path)
    captureMisc(withIdentity(normalizeColumns(raw), dataResourceUid, uniqueTerms))
  }

  /** S1: DwC-A already unzipped to a directory: core.txt + extension files
    * joined on coreid. Extensions become array-of-struct columns. */
  def loadArchive(spark: SparkSession, dir: String, dataResourceUid: String,
      uniqueTerms: Seq[String], coreFile: String = "occurrence.txt",
      extensions: Seq[String] = Nil, sep: String = "\t"): DataFrame = {
    val core = spark.read.option("header", "true").option("sep", sep)
      .csv(s"$dir/$coreFile")
    val withExt = extensions.foldLeft(normalizeColumns(core)) { (acc, extFile) =>
      val extName = extFile.stripSuffix(".txt")
      val ext = spark.read.option("header", "true").option("sep", sep)
        .csv(s"$dir/$extFile")
      val grouped = ext.groupBy(col("coreid"))
        .agg(collect_list(struct(ext.columns.filter(_ != "coreid")
          .map(col).toIndexedSeq: _*)).as(extName))
      acc.join(grouped, acc("id") === grouped("coreid"), "left")
        .drop("coreid")
    }
    captureMisc(withIdentity(withExt, dataResourceUid, uniqueTerms),
      keep = extensions.map(_.stripSuffix(".txt")).toSet)
  }

  /** Shared loader tail (S2/S4/S5): canonicalise headers, mint
    * deterministic identity, THEN fold unmapped columns into
    * `miscProperties`. Identity-before-misc matters: a uniqueTerm may name
    * an unmapped input column (it must still resolve when the key is
    * hashed), and the no-uniqueTerms fallback must hash the original cells,
    * not a map rendering of them. */
  def fromRaw(df: DataFrame, dataResourceUid: String,
      uniqueTerms: Seq[String]): DataFrame =
    captureMisc(withIdentity(normalizeColumns(df), dataResourceUid, uniqueTerms))

  /** S4: records supplied as maps (sandbox uploads). */
  def loadRows(spark: SparkSession, rows: Seq[Map[String, String]],
      dataResourceUid: String, uniqueTerms: Seq[String]): DataFrame = {
    import spark.implicits._
    val cols = rows.flatMap(_.keys).distinct.sorted
    val df = rows.map(m => cols.map(c => m.getOrElse(c, null)))
      .map(vs => org.apache.spark.sql.Row.fromSeq(vs))
    val schema = org.apache.spark.sql.types.StructType(cols.map(c =>
      org.apache.spark.sql.types.StructField(c,
        org.apache.spark.sql.types.StringType)))
    captureMisc(withIdentity(
      normalizeColumns(spark.createDataFrame(
        spark.sparkContext.parallelize(df), schema)),
      dataResourceUid, uniqueTerms))
  }

  /** The Darwin Core model term universe (reference model POSO properties:
    * `model/{Occurrence,Classification,Location,Event,Attribution,
    * Identification,Measurement}.scala` — extracted verbatim as data to
    * `/graft/dwcTerms.txt`, the same contract as the vocab tables). Input
    * columns OUTSIDE this set are "unrecognised" and ride along in the
    * `miscProperties` catch-all (`model/FullRecord.scala:28-32`). */
  lazy val dwcTerms: Set[String] = {
    val in = getClass.getResourceAsStream("/graft/dwcTerms.txt")
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .map(_.trim).filter(_.nonEmpty).toSet
    finally in.close()
  }

  /** lowercase → canonical Darwin Core term, from the model term universe +
    * the index field scheme (reference `load/FullRecordMapper` maps supplied
    * headers onto model properties case-insensitively —
    * FullRecordMapperTest "Test wrong case": SCIENTIFICNAME →
    * scientificName). */
  private lazy val canonicalTerms: Map[String, String] =
    (graft.index.IndexSupport.indexFields.map(_._1) ++ dwcTerms)
      .map(t => t.toLowerCase -> t).toMap +
      ("class" -> "class") // case-fixed first, then reservedRenames → classs

  /** Columns that are part of the record contract and never land in misc. */
  private lazy val knownColumns: Set[String] =
    dwcTerms ++ graft.index.IndexSupport.indexFields.map(_._1) ++
      reservedRenames.values + "id" + "rowKey" + "dataResourceUid"

  /** Unrecognised input columns → one `miscProperties` map<string,string>
    * column, originals dropped (reference `model/FullRecord.scala:28-32`;
    * real aggregator data always carries unmapped columns). Null values
    * are absent from the map, matching the reference's sparse row maps.
    * Runs after [[normalizeColumns]], so case-variant DwC headers have
    * already been folded into their canonical columns.
    *
    * Re-ingest roundtrip: an input that ALREADY carries `miscProperties`
    * keeps it — as-is when it is a map, parsed back with `from_json` when
    * it is the JSON-string cell our own CSV/DwC-A sinks write. Fresh
    * unknowns merge in via `map_concat` (a key collision with an existing
    * misc key fails loudly under Spark's default dedup policy rather than
    * silently picking a side). Runs AFTER [[withIdentity]] so the rowKey
    * hash sees the raw columns; `keep` names columns a caller built itself
    * (DwC-A extension arrays) that must stay columns. */
  private def captureMisc(df: DataFrame,
      keep: Set[String] = Set.empty): DataFrame = {
    val unknown = df.columns
      .filterNot(knownColumns.contains).filterNot(keep.contains)
      .filterNot(_ == "miscProperties").toSeq
    val freshMap =
      if (unknown.isEmpty) map().cast("map<string,string>")
      else map_filter(
        map(unknown.flatMap(c => Seq(lit(c), col(c).cast("string"))): _*),
        (_, v) => v.isNotNull)
    val baseMap = df.schema.fields.find(_.name == "miscProperties") match {
      case Some(f) if f.dataType.isInstanceOf[
        org.apache.spark.sql.types.MapType] => Some(col("miscProperties"))
      case Some(_) => // our sinks' JSON cell form
        Some(coalesce(
          from_json(col("miscProperties").cast("string"),
            org.apache.spark.sql.types.MapType(
              org.apache.spark.sql.types.StringType,
              org.apache.spark.sql.types.StringType)),
          map().cast("map<string,string>")))
      case None => None
    }
    val merged = baseMap match {
      case Some(b) if unknown.isEmpty => b
      case Some(b) => map_concat(b, freshMap)
      case None => freshMap
    }
    df.withColumn("miscProperties", merged).drop(unknown: _*)
  }

  /** Canonical column names in one projection: case fixes first (skipped
    * when the canonical name is already taken, also by an earlier fix),
    * then the reserved renames, worked out on the names up front. */
  private def normalizeColumns(df: DataFrame): DataFrame = {
    val caseFixed = df.columns.foldLeft(df.columns.toSeq) { (names, c) =>
      canonicalTerms.get(c.toLowerCase) match {
        case Some(canonical) if canonical != c && !names.contains(canonical) =>
          names.map(n => if (n == c) canonical else n)
        case _ => names
      }
    }
    val renamed = caseFixed.map(n => reservedRenames.getOrElse(n, n))
    df.withColumnsRenamed(df.columns.toSeq.zip(renamed)
      .filter { case (from, to) => from != to }.toMap)
  }

  /** J7: rowKey = dataResourceUid | sha256(dataResourceUid + unique terms).
    * Falls back to a whole-row hash when no unique terms configured. */
  def withIdentity(df: DataFrame, dataResourceUid: String,
      uniqueTerms: Seq[String]): DataFrame = {
    val keyCols =
      if (uniqueTerms.nonEmpty) uniqueTerms.map(t =>
        coalesce(col(t).cast("string"), lit("")))
      else df.columns.toSeq.map(c => coalesce(col(c).cast("string"), lit("")))
    df.withColumn("dataResourceUid", lit(dataResourceUid))
      .withColumn("rowKey",
        concat(lit(dataResourceUid), lit("|"),
          sha2(concat_ws("|", lit(dataResourceUid) +: keyCols: _*), 256)))
  }

  /** S14-style batch upsert into a Parquet-backed table: latest version of
    * each rowKey wins (window dedup replaces MERGE; with a Delta-style sink
    * this becomes `MERGE INTO ... ON rowKey`). */
  def upsert(existing: Option[DataFrame], incoming: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stamped = incoming.withColumn("_v", lit(1L))
    val base = existing.map(_.withColumn("_v", lit(0L)))
    val unioned = base.map(b =>
      b.unionByName(stamped, allowMissingColumns = true)).getOrElse(stamped)
    val w = Window.partitionBy("rowKey").orderBy(col("_v").desc)
    unioned.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn", "_v")
  }
}
