package graft.processors

import graft.functions.{CoordinateParsers, DateParser}
import graft.model.AssertionCodes._
import graft.vocab._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._
import scala.collection.immutable.ListMap

/** The record-enrichment pipeline: raw Darwin Core strings → typed processed
  * fields + quality assertions.
  *
  * Re-expression of the reference's 12-stage per-record processor chain
  * (`processor/Processors.scala:16-29`, orchestrated
  * `processor/RecordProcessor.scala:71-165` in
  * /root/reference/src/main/scala/au/org/ala/biocache/) as one deterministic
  * column-level transformation: every stage contributes processed columns and
  * an array-of-assertion-codes column in ONE projection (`withColumns` over an
  * insertion-ordered map, so column order is the stage's listing order); a
  * stage whose later columns read its own first results (the kernel structs
  * `_ev`, `_lr`, `_nm`; the parsed misc fields) takes a second. Stage order
  * = expression dependency order; each dimension is one broadcast join (the
  * names dimension one block-key join, shuffled only when it is too large
  * to broadcast; the previous snapshot one rowKey join), so the pipeline
  * stays narrow and scales linearly with partitions.
  */
object Processors {

  // ── UDFs over the pure parsers (date bank is far beyond built-in to_date) ──

  private def vocabUdf(v: Vocab) = udf((s: String) => v.matchTerm(s))

  private val licenseUdf = udf((s: String) =>
    Option(s).filter(_.trim.nonEmpty).flatMap(License.matchRegex))
  // establishmentMeans is ";"-delimited in the wild; each part vocab-mapped
  // and UNMATCHED PARTS DROPPED (reference
  // MiscellaneousProcessor.processEstablishmentMeans:96-110 — "not
  // cultivated; missing from vocab" → "not cultivated"); all-unmatched
  // leaves the field null
  private val establishmentMeansUdf = udf { (s: String) =>
    Option(s).filter(_.trim.nonEmpty).map { v =>
      v.split(";").toSeq.map(_.trim).filter(_.nonEmpty)
        .flatMap(p => EstablishmentMeans.matchTerm(p))
        .distinct.mkString("; ")
    }.filter(_.nonEmpty)
  }

  /** The reference's cultivated/escapee establishmentMeans values
    * (MiscellaneousProcessor.scala:112, "FIXME extract to a vocabulary"). */
  private val cultivatedMeans = Seq("cultivated", "assumed to be cultivated",
    "formerly cultivated (extinct)", "possibly cultivated",
    "presumably cultivated")

  // interaction prefix of associatedTaxa ("infects:Tax on" → "Infects");
  // reference MiscellaneousProcessor.processInteractions:151-169
  private val interactionUdf = udf { (s: String) =>
    val pat = """([A-Za-z]*):([\x00-\x7F\s]*)""".r
    Option(s).filter(_.nonEmpty).flatMap {
      case pat(interaction, _) => Interactions.matchTerm(interaction)
      case _ => None
    }.map(Array(_))
  }

  // reference processCollectors: parseForList, "|"-joined canonical forms;
  // unparsable non-blank input asserts RECORDED_BY_UNPARSABLE
  private val collectorsUdf = udf((s: String) =>
    graft.functions.CollectorNameParser.parseForList(s)
      .map(_.filter(_ != null).mkString("|")))

  private def colOrNull(df: DataFrame, name: String): Column =
    if (df.columns.contains(name)) col(name).cast("string") else lit(null).cast("string")

  /** Null-guarded UDF application. Every parser/vocab UDF in this pipeline
    * maps null → null, so the guard is semantics-preserving; what it buys:
    * Catalyst never constant-folds a ScalaUDF, so an unguarded call whose
    * input is an absent column's null literal runs once per row (and the
    * wrapped conversion machinery with it) — the guard folds the whole call
    * out of the plan at optimize time, and skips invocation for null values
    * of present columns at run time. */
  private def ng(u: UserDefinedFunction)(c: Column): Column =
    when(c.isNotNull, u(c))

  /** EVENT stage (reference `processor/EventProcessor.scala:48-654`): one
    * kernel UDF per row running the reference's full control flow — y/m/d
    * triage + transposition repair, year pivot/validation (First Fleet,
    * out-of-range, future), eventDate/eventDateEnd/verbatim resolution,
    * other-date checks, first-of flags, and datePrecision reformatting.
    * See [[graft.functions.EventKernel]] for the port notes. */
  // Memo over the full input tuple: dates (and discrete y/m/d fields)
  // repeat heavily in occurrence data — an aggregator's worth of records
  // shares a few thousand distinct collection dates — so the kernel's
  // parse/validate control flow runs once per distinct input combination
  // per executor. Bounded so high-cardinality input degrades to the
  // uncached path instead of growing the heap. The kernel is pure
  // (modulo the once-per-JVM "today" constant), so caching is exact.
  private val eventMemo = new java.util.concurrent.ConcurrentHashMap[
    java.util.List[String], graft.functions.EventResult]()
  private val eventUdf = udf(
    (ed: String, edEnd: String, y: String, m: String, d: String,
        verb: String, dp: String, mod: String, di: String, gd: String) => {
      val key = java.util.Arrays.asList(ed, edEnd, y, m, d, verb, dp, mod, di, gd)
      if (eventMemo.size > 65536)
        graft.functions.EventKernel.process(ed, edEnd, y, m, d, verb, dp, mod, di, gd)
      else eventMemo.computeIfAbsent(key, _ =>
        graft.functions.EventKernel.process(ed, edEnd, y, m, d, verb, dp, mod, di, gd))
    })

  /** Kernel result for an all-null row — what absent-column datasets fold
    * to at plan time (the guarded UDF below never runs for them). */
  private lazy val eventAllNull: graft.functions.EventResult =
    graft.functions.EventKernel.process(null, null, null, null, null, null,
      null, null, null, null)

  def processEvent(df0: DataFrame): DataFrame = {
    val ins = Seq("eventDate", "eventDateEnd", "year", "month", "day",
      "verbatimEventDate", "datePrecision", "modified", "dateIdentified",
      "georeferencedDate").map(colOrNull(df0, _))
    // guard like ng(): when every input column is absent the whole call
    // folds to the all-null constants below instead of running per row
    val anyInput = coalesce(ins: _*).isNotNull
    val df = df0.withColumn("_ev", when(anyInput, eventUdf(ins: _*)))
    def epochToDate(c: Column): Column =
      when(c.isNotNull,
        date_add(lit("1970-01-01"), coalesce(c, lit(0))).cast("date"))
    df.withColumns(ListMap(
      "processed_eventDate" -> epochToDate(col("_ev.startEpochDay")),
      "processed_eventDateEnd" -> epochToDate(col("_ev.endEpochDay")),
      "processed_year" -> col("_ev.year"),
      "processed_month" -> col("_ev.month"),
      "processed_day" -> col("_ev.day"),
      "processed_datePrecision" ->
        coalesce(col("_ev.datePrecision"), lit(eventAllNull.datePrecision)),
      "processed_modified" -> epochToDate(col("_ev.modifiedEpochDay")),
      "processed_dateIdentified" ->
        epochToDate(col("_ev.dateIdentifiedEpochDay")),
      "processed_georeferencedDate" ->
        epochToDate(col("_ev.georeferencedEpochDay")),
      "assertions_event" ->
        coalesce(col("_ev.codes"), typedlit(eventAllNull.codes.toSeq))))
      .drop("_ev")
  }

  /** LOC stage (reference `processor/LocationProcessor.scala:30-943` core):
    * one kernel UDF per row running the reference's full coordinate path —
    * decimal/verbatim/easting-northing/grid resolution, datum handling and
    * reprojection, inverted/negated/zero/range validation with the country
    * bounding-box repair, and uncertainty/precision checks. See
    * [[graft.functions.LocationKernel]] for the port notes. Georeference
    * completeness checks stay column-side. */
  // 13 inputs exceed the 10-arg scala UDF limit; one array argument instead.
  // Memoized like eventUdf: coordinates repeat per collection site, so the
  // parse/reproject/validate path runs once per distinct site per executor.
  private val locationMemo = new java.util.concurrent.ConcurrentHashMap[
    Seq[String], graft.functions.LocationResult]()
  private val locationUdf = udf { (a: Seq[String]) =>
    def compute = graft.functions.LocationKernel.process(a(0), a(1), a(2),
      a(3), a(4), a(5), a(6), a(7), a(8), a(9), a(10), a(11), a(12))
    if (locationMemo.size > 65536) compute
    else locationMemo.computeIfAbsent(a, _ => compute)
  }

  /** Kernel result for an all-null row (plan-time constant for absent
    * columns, like eventAllNull). */
  private lazy val locationAllNull: graft.functions.LocationResult =
    graft.functions.LocationKernel.process(null, null, null, null, null,
      null, null, null, null, null, null, null, null)

  def processLocation(df0: DataFrame): DataFrame = {
    val ins = Seq("decimalLatitude", "decimalLongitude", "geodeticDatum",
      "verbatimLatitude", "verbatimLongitude", "verbatimSRS", "easting",
      "northing", "zone", "gridReference", "coordinateUncertaintyInMeters",
      "coordinatePrecision", "country").map(colOrNull(df0, _))
    val anyInput = coalesce(ins: _*).isNotNull
    val df = df0.withColumn("_lr",
      when(anyInput, locationUdf(array(ins: _*))))

    // validateGeoreferenceValues (:756-790) + checkLocationSupplied
    // (:117-128): completeness checks + raw passthroughs
    val georefBy = colOrNull(df0, "georeferencedBy")
    val georefProtocol = colOrNull(df0, "georeferenceProtocol")
    val georefSources = colOrNull(df0, "georeferenceSources")
    val georefStatus = colOrNull(df0, "georeferenceVerificationStatus")
    val georefRemarks = colOrNull(df0, "georeferenceRemarks")
    val georefDate = colOrNull(df0, "georeferencedDate")
    val rawDatum = colOrNull(df0, "geodeticDatum")
    val noLocationContext = colOrNull(df0, "footprintWKT").isNull &&
      colOrNull(df0, "locality").isNull && colOrNull(df0, "locationID").isNull

    df.withColumns(ListMap(
      "processed_decimalLatitude" -> col("_lr.lat"),
      "processed_decimalLongitude" -> col("_lr.lon"),
      "processed_geodeticDatum" -> col("_lr.datum"),
      "processed_coordinateUncertaintyInMeters" -> col("_lr.uncertainty"),
      "processed_georeferencedBy" -> georefBy,
      "processed_georeferenceProtocol" -> georefProtocol,
      "processed_georeferenceSources" -> georefSources,
      "processed_georeferenceVerificationStatus" -> georefStatus,
      "processed_georeferenceRemarks" -> georefRemarks,
      "assertions_loc" -> concat(
        coalesce(col("_lr.codes"), typedlit(locationAllNull.codes.toSeq)),
        array_compact(array(
          assertCodeIf(rawDatum.isNull && col("_lr.datum").isNull,
            MISSING_GEODETICDATUM),
          assertCodeIf(georefBy.isNull, MISSING_GEOREFERENCEDBY),
          assertCodeIf(georefProtocol.isNull, MISSING_GEOREFERENCEPROTOCOL),
          assertCodeIf(georefSources.isNull, MISSING_GEOREFERENCESOURCES),
          assertCodeIf(georefStatus.isNull,
            MISSING_GEOREFERENCEVERIFICATIONSTATUS),
          assertCodeIf(georefDate.isNull, MISSING_GEOREFERENCE_DATE),
          assertCodeIf((col("_lr.lat").isNull || col("_lr.lon").isNull) &&
            noLocationContext, LOCATION_NOT_SUPPLIED))))))
      .drop("_lr")
  }

  /** Altitude/depth checks (reference
    * `processor/LocationProcessor.scala:217-310`): verbatim elevation/depth
    * parsed through the distance parser (feet converted + flagged),
    * range-checked, and reversed min/max pairs repaired. */
  def processAltitudeAndDepth(df0: DataFrame): DataFrame = {
    val distUnitUdf = udf((s: String) =>
      CoordinateParsers.parseDistanceWithUnit(s))
    val velev = colOrNull(df0, "verbatimElevation")
    val vdepth = colOrNull(df0, "verbatimDepth")
    val df = df0.withColumns(ListMap(
      "_velevP" -> ng(distUnitUdf)(velev),
      "_vdepthP" -> ng(distUnitUdf)(vdepth)))
    def metres(name: String): Column = colOrNull(df0, name).try_cast("float")
    val (minD, maxD) = (metres("minimumDepthInMeters"), metres("maximumDepthInMeters"))
    val (minE, maxE) = (metres("minimumElevationInMeters"),
      metres("maximumElevationInMeters"))
    val elev = col("_velevP._1")
    val depth = col("_vdepthP._1")
    val depthReversed = minD.isNotNull && maxD.isNotNull && minD > maxD
    val elevReversed = minE.isNotNull && maxE.isNotNull && minE > maxE
    df.withColumns(ListMap(
      "processed_verbatimElevation" -> elev.cast("double"),
      "processed_verbatimDepth" -> depth.cast("double"),
      "processed_minimumDepthInMeters" ->
        when(depthReversed, maxD).otherwise(minD).cast("double"),
      "processed_maximumDepthInMeters" ->
        when(depthReversed, minD).otherwise(maxD).cast("double"),
      "processed_minimumElevationInMeters" ->
        when(elevReversed, maxE).otherwise(minE).cast("double"),
      "processed_maximumElevationInMeters" ->
        when(elevReversed, minE).otherwise(maxE).cast("double"),
      "assertions_altdepth" -> array_compact(array(
        assertCodeIf(velev.isNotNull && col("_velevP").isNull,
          ALTITUDE_NON_NUMERIC),
        assertCodeIf(elev > 10000 || elev < -100, ALTITUDE_OUT_OF_RANGE),
        assertCodeIf(col("_velevP._2") === true, ALTITUDE_IN_FEET),
        assertCodeIf(vdepth.isNotNull && col("_vdepthP").isNull,
          DEPTH_NON_NUMERIC),
        assertCodeIf(depth > 10000, DEPTH_OUT_OF_RANGE),
        assertCodeIf(col("_vdepthP._2") === true, DEPTH_IN_FEET),
        assertCodeIf(depthReversed, MIN_MAX_DEPTH_REVERSED),
        assertCodeIf(elevReversed, MIN_MAX_ALTITUDE_REVERSED)))))
      .drop("_velevP", "_vdepthP")
  }

  /** BOR stage (reference `processor/BasisOfRecordProcessor.scala:22-54`). */
  def processBasisOfRecord(df0: DataFrame): DataFrame = {
    val raw = colOrNull(df0, "basisOfRecord")
    val matched = ng(vocabUdf(BasisOfRecord))(raw)
    df0.withColumns(ListMap(
      "processed_basisOfRecord" -> matched,
      "assertions_bor" -> array_compact(array(
        assertCodeIf(raw.isNull, MISSING_BASIS_OF_RECORD),
        assertCodeIf(raw.isNotNull && matched.isNull,
          BADLY_FORMED_BASIS_OF_RECORD)))))
  }

  /** IMAGE/misc stage (reference `processor/MiscellaneousProcessor.scala` +
    * `processor/TypeStatusProcessor.scala`): occurrenceStatus, typeStatus,
    * sex vocab normalisation, collector-name parsing, establishment-means
    * mapping with the cultivated/escapee check, interactions from
    * associatedTaxa, identification/catalogue completeness checks, and the
    * generalised-data flag. */
  def processMiscellaneous(df0: DataFrame): DataFrame = {
    val status = colOrNull(df0, "occurrenceStatus")
    val statusM = ng(vocabUdf(OccurrenceStatus))(status)
    val ts = colOrNull(df0, "typeStatus")
    val tsM = ng(vocabUdf(TypeStatus))(ts)
    val sexRaw = colOrNull(df0, "sex")
    val recordedBy = colOrNull(df0, "recordedBy")
    val em = colOrNull(df0, "establishmentMeans")
    // two projections: the assertions read the parsed establishmentMeans
    // and collectors, so each UDF runs once per row
    val staged = df0.withColumns(ListMap(
      // reference MiscellaneousProcessor.processOccurrenceStatus: blank →
      // assumed "present"; supplied but unrecognised → "unknown"
      "processed_occurrenceStatus" -> when(status.isNull, lit("present"))
        .otherwise(coalesce(statusM, lit("unknown"))),
      "processed_typeStatus" -> tsM,
      "processed_sex" -> ng(vocabUdf(Sex))(sexRaw),
      "processed_lifeStage" -> ng(vocabUdf(LifeStage))(colOrNull(df0, "lifeStage")),
      "processed_establishmentMeans" -> ng(establishmentMeansUdf)(em),
      "processed_license" -> ng(licenseUdf)(colOrNull(df0, "license")),
      "processed_recordedBy" -> ng(collectorsUdf)(recordedBy),
      "processed_interactions" ->
        ng(interactionUdf)(colOrNull(df0, "associatedTaxa")),
      // media identifiers pass through (processImages:175-179)
      "processed_images" -> colOrNull(df0, "images"),
      "processed_sounds" -> colOrNull(df0, "sounds"),
      "processed_videos" -> colOrNull(df0, "videos")))
    val cultivated = cultivatedMeans.map(m =>
      array_contains(split(col("processed_establishmentMeans"), "; "), m))
      .reduce(_ || _)
    staged.withColumn("assertions_misc", array_compact(array(
      assertCodeIf(status.isNotNull && statusM.isNull, UNRECOGNISED_OCCURRENCE_STATUS),
      assertCodeIf(status.isNull, ASSUMED_PRESENT_OCCURRENCE_STATUS),
      assertCodeIf(ts.isNotNull && tsM.isNull, UNRECOGNISED_TYPESTATUS),
      // processMiscOccurrence (:63-77)
      assertCodeIf(colOrNull(df0, "catalogNumber").isNull, MISSING_CATALOGUENUMBER),
      assertCodeIf(colOrNull(df0, "dataGeneralizations").isNotNull,
        DATA_ARE_GENERALISED),
      // processEstablishmentMeans (:112-118): only checked when supplied
      assertCodeIf(em.isNotNull &&
        col("processed_establishmentMeans").isNotNull && cultivated,
        OCCURRENCE_IS_CULTIVATED_OR_ESCAPEE),
      // processCollectors (:82-93)
      assertCodeIf(recordedBy.isNotNull &&
        col("processed_recordedBy").isNull, RECORDED_BY_UNPARSABLE),
      // processIdentification (:121-140)
      assertCodeIf(colOrNull(df0, "identificationQualifier").isNull,
        MISSING_IDENTIFICATIONQUALIFIER),
      assertCodeIf(colOrNull(df0, "identifiedBy").isNull, MISSING_IDENTIFIEDBY),
      assertCodeIf(colOrNull(df0, "identificationReferences").isNull,
        MISSING_IDENTIFICATIONREFERENCES),
      assertCodeIf(colOrNull(df0, "dateIdentified").isNull,
        MISSING_DATEIDENTIFIED))))
  }

  /** CLASS stage (reference `processor/ClassificationProcessor.scala:152-322`
    * / `caches/ClassificationDAO.scala:42-206`): exact → kingdom-resolved
    * homonym → blocked fuzzy matching ([[NameMatcher.attachHits]]) against
    * the names dimension (schema: nameLower, taxonConceptID, acceptedName,
    * taxonRank, kingdom, family, genus, lft, rgt; phylum and classs
    * optional). The match metric ("exactMatch" / "fuzzyMatch") lands in
    * processed_nameMatchMetric, mirroring the reference's
    * name_match_metric index field. */
  def processClassification(df0: DataFrame, namesDim: DataFrame): DataFrame = {
    val nameRaw = colOrNull(df0, "scientificName")
    val kingdomRaw = colOrNull(df0, "kingdom")
    // reference getExactSciName (:898-913): fall back to subspecies /
    // species / a genus(+specificEpithet) constructed name
    val nameForMatch = coalesce(nameRaw,
      colOrNull(df0, "subspecies"), colOrNull(df0, "species"),
      when(colOrNull(df0, "genus").isNotNull,
        nullif(concat_ws(" ", colOrNull(df0, "genus"),
          colOrNull(df0, "specificEpithet")), lit(""))))
    val withNm = NameMatcher.attachHits(df0, nameForMatch, kingdomRaw, namesDim)
    withNm.withColumns(ListMap(
      "processed_taxonConceptID" -> col("_nm.taxonConceptID"),
      "processed_scientificName" -> col("_nm.acceptedName"),
      "processed_taxonRank" -> col("_nm.taxonRank"),
      "processed_kingdom" -> col("_nm.kingdom"),
      "processed_phylum" -> col("_nm.phylum"),
      "processed_classs" -> col("_nm.classs"),
      "processed_family" -> col("_nm.family"),
      "processed_genus" -> col("_nm.genus"),
      "processed_lft" -> col("_nm.lft"),
      "processed_rgt" -> col("_nm.rgt"),
      "processed_nameMatchMetric" ->
        when(col("_nm.taxonConceptID").isNull, lit(null))
          .when(col("_nm.fuzzy"), lit("fuzzyMatch"))
          .otherwise(lit("exactMatch")),
      "assertions_class" -> array_compact(array(
        // doQualityTests (ClassificationProcessor.scala:120-146)
        assertCodeIf(colOrNull(df0, "taxonRank").isNull, MISSING_TAXONRANK),
        assertCodeIf(nameRaw.isNull &&
          colOrNull(df0, "vernacularName").isNull, NAME_NOT_SUPPLIED),
        assertCodeIf(kingdomRaw.isNotNull &&
          ng(vocabUdf(Kingdoms))(kingdomRaw).isNull, UNKNOWN_KINGDOM),
        // placeholder/no-name detection (reference checks the GBIF parser's
        // NameType.PLACEHOLDER/NO_NAME, :106-110)
        assertCodeIf(nameRaw.isNotNull && upper(trim(nameRaw)).isin(
          "UNKNOWN", "UNIDENTIFIED", "NOT IDENTIFIED", "UNDETERMINED",
          "NONE", "NULL", "?", "NO NAME"), INVALID_SCIENTIFIC_NAME),
        assertCodeIf(nameForMatch.isNotNull &&
          col("_nm.taxonConceptID").isNull, NAME_NOT_RECOGNISED),
        assertCodeIf(col("_nm.homonym") === true, HOMONYM_ISSUE)))))
      .drop("_nm")
  }

  /** Dimension tables consumed by the pipeline's broadcast-join stages —
    * snapshot builds of what the reference fetched per record over HTTP
    * (SURVEY.md §8 "no hidden service calls"). All optional; absent dims
    * skip their stage. */
  case class Dimensions(
      names: Option[DataFrame] = None,
      defaults: Option[DataFrame] = None,
      attribution: Option[DataFrame] = None,
      sensitivity: Option[DataFrame] = None,
      speciesGroups: Option[DataFrame] = None,
      countryCentres: Option[DataFrame] = None,
      /** State/province centres (stateProvince, centreLat, centreLon);
        * checked after state inference. */
      stateCentres: Option[DataFrame] = None,
      /** GIS layers (layerId, value, wkt) for J3/J4 sampling-driven
        * state/country/biome inference. */
      layers: Option[DataFrame] = None,
      layerConfig: LocationInference.LayerConfig =
        LocationInference.LayerConfig(),
      /** J5 taxon profiles (taxonConceptID, habitats, commonName,
        * conservation). */
      taxonProfiles: Option[DataFrame] = None,
      /** J12 species lists (taxonConceptID, listUid). */
      speciesLists: Option[DataFrame] = None,
      /** Per-resource taxonomic scope hints (dataResourceUid, rank, name);
        * out-of-scope matches are voided +
        * RESOURCE_TAXONOMIC_SCOPE_MISMATCH. */
      taxonomicHints: Option[DataFrame] = None,
      /** Previous enrichment snapshot for incremental reprocessing:
        * OFFLINE carry-forward + el/cl sample reuse (rowKey join). */
      lastProcessed: Option[DataFrame] = None)

  /** Full pipeline: stage order per reference `processor/Processors.scala:14`
    * (defaults first, attribution, classification before location, sensitive
    * generalisation after location). Produces processed_* columns, an
    * `assertions` array, and the two kosher flags. One narrow projection
    * per stage; the records shuffle only for a names dimension too large
    * to broadcast. */
  def enrich(df: DataFrame, namesDim: Option[DataFrame] = None): DataFrame =
    enrichAll(df, Dimensions(names = namesDim))

  def enrichAll(df0raw: DataFrame, dims: Dimensions): DataFrame = {
    // round 12 (guide §2.5): the 12-stage pipeline is deliberately
    // shuffle-free, which also means a single-row-group input runs EVERY
    // per-row stage (date bank, vocab, coordinate parsing) on one task;
    // floor the parallelism once at the head — a no-op whenever the
    // input is already ≥cores-way (any real scale), and for streams
    // (callers size stream exchanges explicitly)
    val df0 = if (df0raw.isStreaming) df0raw
      else graft.Tuning.fanOutSmallScan(df0raw)
    // a dimension that is absent skips its stage, and with it the stage's
    // assertions_* column: the codes are concatenated from the stages that ran
    def stage(d: Option[DataFrame], in: DataFrame)(
        f: (DataFrame, DataFrame) => DataFrame): DataFrame =
      d.fold(in)(f(in, _))
    val df = stage(dims.defaults, df0)(DimensionStages.applyDefaultValues)
    val afterAttr = stage(dims.attribution, df)(DimensionStages.processAttribution)
    val afterMisc = processMiscellaneous(processBasisOfRecord(afterAttr))
    val afterClass = stage(dims.names, afterMisc)(processClassification)
    val afterHints = stage(dims.taxonomicHints, afterClass)(
      DimensionStages.checkTaxonomicHints)
    val afterLoc = LocationInference.processIdentificationQualifier(
      processAltitudeAndDepth(processLocation(processEvent(afterHints))))
    val afterCentre = stage(dims.countryCentres, afterLoc)(
      DimensionStages.checkCentrePoints)
    // OFFLINE carry-forward + REPROCESSING sample reuse against the
    // previous snapshot (reference OfflineTestProcessor /
    // ReprocessingProcessor): one rowKey join, only taken when a snapshot
    // is supplied
    val afterOffline =
      if (afterCentre.columns.contains("rowKey"))
        stage(dims.lastProcessed, afterCentre)(DimensionStages.carryForward)
      else afterCentre
    // layer-sampling-driven inference (J3/J4 → state/country/biome +
    // mismatch/centre assertions); without layers the stage still runs so
    // the raw-value vocab fallbacks and centre checks apply
    val sampled = stage(dims.layers, afterOffline)((d, layers) =>
      LocationInference.attachLayerSamples(d.sparkSession, d, layers))
    val afterInfer0 = LocationInference.inferStateCountry(sampled, dims.layerConfig)
    // state-centre check after inference so the layer-derived state is used
    // (reference checks processed.location.stateProvince)
    val afterInfer = stage(dims.stateCentres, afterInfer0)(
      DimensionStages.checkStateCentrePoints)
    val afterProfiles = stage(dims.taxonProfiles, afterInfer)(
      LocationInference.applyTaxonProfiles)
    val afterLists = stage(dims.speciesLists, afterProfiles)(
      LocationInference.applySpeciesLists)
    val afterSens = stage(dims.sensitivity, afterLists)(
      DimensionStages.processSensitivity)
    val afterGroups =
      if (afterSens.columns.contains("processed_lft"))
        stage(dims.speciesGroups, afterSens)(DimensionStages.speciesGroups)
      else afterSens
    val assertionCols = Seq("assertions_attr", "assertions_bor",
      "assertions_misc", "assertions_class", "assertions_hints",
      "assertions_event",
      "assertions_loc", "assertions_altdepth", "assertions_centre",
      "assertions_statecentre", "assertions_offline", "assertions_inference",
      "assertions_profile", "assertions_sensitive")
      .filter(afterGroups.columns.contains)
    val codes = concat(assertionCols.map(col): _*)
    val finished = afterGroups
      .withColumns(ListMap("assertionCodes" -> codes,
        "_asm" -> assembleFromCodes(codes)))
      .withColumns(ListMap(
        "assertions" -> col("_asm.assertions"),
        "geospatiallyKosher" -> col("_asm.geospatiallyKosher"),
        "taxonomicallyKosher" -> col("_asm.taxonomicallyKosher")))
      .drop("_asm" +: assertionCols: _*)
    // A9 processing metrics (reference RecordProcessor nanosecond
    // accumulators → Spark observed metrics; read via a
    // QueryExecutionListener or the Observation API)
    finished.observe(s"graft_enrich_${obsCounter.incrementAndGet()}",
      count(lit(1)).as("records"),
      sum(when(col("geospatiallyKosher"), 0L).otherwise(1L)).as("geoUnkosher"),
      sum(size(col("assertionCodes")).cast("long")).as("assertionsEmitted"))
  }

  private val obsCounter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Consensus record version (reference `model/Version.scala:9-21`; fields
    * suffixed `.c` via `load/FullRecordMapper.scala:247-256`): the reference
    * persists Raw / Processed / Consensus as three parallel column families
    * but no pipeline derives consensus beyond filling from the other two.
    * The Spark rendering is therefore a projection, not state: for each
    * field, `consensus_<f>` takes the processed value when processing
    * produced one and falls back to the raw value otherwise. Map-only —
    * one `coalesce` per field, stays inside whole-stage codegen. */
  def consensusVersion(enriched: DataFrame, fields: Seq[String]): DataFrame = {
    fields.foreach(f => require(enriched.columns.contains(f) &&
      enriched.columns.contains(s"processed_$f"),
      s"consensusVersion needs both '$f' and 'processed_$f' columns"))
    enriched.withColumns(ListMap(fields.distinct.map(f =>
      s"consensus_$f" -> coalesce(col(s"processed_$f").cast("string"), col(f))): _*))
  }
}
