package graft.index

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Index projection + serving surface.
  *
  * The reference projects each occ row into a ~200-field denormalised SOLR
  * document (`index/IndexDAO.scala:212-470` mapping table, row path
  * `getOccIndexModel:516-899`) and serves facets/distinct/stream/download
  * from it (`index/IndexDAO.scala:24-57`, `index/SolrIndexDAO.scala:299-330`).
  * Here the index is simply a derived DataFrame: the projection is one wide
  * `select` with per-field processed-else-raw `coalesce` (the pattern at
  * `index/IndexDAO.scala:146-153`), "commit/optimise" is Parquet compaction,
  * and every serving query is a filter/groupBy/sort over it.
  */
object IndexSupport {

  /** Processed-over-raw choice for one field. */
  def p(df: DataFrame, field: String): Column = {
    val processedName = s"processed_$field"
    if (df.columns.contains(processedName) && df.columns.contains(field))
      coalesce(col(processedName), col(field))
    else if (df.columns.contains(processedName)) col(processedName)
    else if (df.columns.contains(field)) col(field)
    else lit(null)
  }

  /** P3 shouldIndex filter (reference `SolrIndexDAO.scala:580-607` +
    * IndexTest "Tests Index Date Ranges"): drop deleted records, and with
    * an incremental `modifiedSince` cutoff keep a record only when its
    * latest modification stamp (raw `lastModifiedTime` or processed
    * `lastModifiedTime_p`, whichever is later) reaches the cutoff. */
  def shouldIndex(df: DataFrame, modifiedSince: Option[String] = None): DataFrame = {
    val deleted =
      if (df.columns.contains("deleted")) col("deleted") === true
      else lit(false)
    val cutoffOk = modifiedSince match {
      case None => lit(true)
      case Some(cutoff) =>
        def ts(name: String): Column =
          if (df.columns.contains(name)) col(name).try_cast("timestamp")
          else lit(null).cast("timestamp")
        val latest = greatest(ts("lastModifiedTime"), ts("lastModifiedTime_p"))
        latest.isNotNull && latest >= lit(cutoff).cast("timestamp")
    }
    df.filter(!deleted && cutoffOk)
  }

  /** Raw scientific name for the index, constructed when not supplied
    * (reference `SolrIndexDAO.getRawScientificName`, IndexTest cases):
    * scientificName, else genus + (species|specificEpithet) +
    * (subspecies|infraspecificEpithet), else family. */
  def rawScientificName(df: DataFrame): Column = {
    def c(f: String): Column =
      if (df.columns.contains(f)) col(f) else lit(null).cast("string")
    coalesce(
      c("scientificName"),
      when(c("genus").isNotNull, concat_ws(" ",
        array_compact(array(c("genus"),
          coalesce(c("species"), c("specificEpithet")),
          coalesce(c("subspecies"), c("infraspecificEpithet")))))),
      c("family"))
  }

  /** Field-mapping modes, mirroring the reference's RAW / PARSED /
    * RAW_AND_PARSED scheme (`index/IndexDAO.scala:199-209`). */
  sealed trait Mode
  case object RawOnly extends Mode        // raw value under the index name
  case object ParsedOnly extends Mode     // processed value under the index name
  case object RawAndParsed extends Mode   // both: raw_<name> and <name>
  case object Best extends Mode           // processed-else-raw coalesce

  /** The index field table (DwC term → index column(s)): the table-driven
    * core of the ~200-column projection, following the reference's
    * `headerAttributes` + `headerAttributesFix` schemes
    * (`index/IndexDAO.scala:212-433`). Fields absent from the input
    * project as nulls, so the index schema is fixed regardless of which
    * columns a resource supplied. SOLR's hyphenated point fields keep
    * their Parquet-friendly names (point1 … point00001), built in
    * [[project]] alongside the other derived columns. */
  val indexFields: Seq[(String, String, Mode)] = Seq(
    // dates (headerAttributes date block)
    ("dateIdentified", "identified_date", ParsedOnly),
    ("dateIdentified", "raw_identified_date", RawOnly),
    ("firstLoaded", "first_loaded_date", RawOnly),
    ("lastModifiedTime", "last_load_date", RawOnly),
    ("lastModifiedTime", "last_processed_date", ParsedOnly),
    ("eventDate", "occurrence_date", ParsedOnly),
    ("eventDate", "raw_occurrence_date", RawOnly),
    ("eventDateEnd", "occurrence_date_end_dt", ParsedOnly),
    ("eventDateEnd", "raw_occurrence_date_end_dt", RawOnly),
    ("loanDate", "loan_date", RawOnly),
    ("loanReturnDate", "loan_return_date", RawOnly),
    ("modified", "modified_date", ParsedOnly),
    ("modified", "raw_modified_date", RawOnly),
    // multi-value blocks
    ("dataHubUid", "data_hub_uid", RawAndParsed),
    ("speciesGroups", "species_group", ParsedOnly),
    ("interactions", "interaction", ParsedOnly),
    ("taxonomicIssue", "taxonomic_issue", ParsedOnly),
    ("speciesHabitats", "species_habitats", ParsedOnly),
    ("duplicationType", "duplicate_type", ParsedOnly),
    ("establishmentMeans", "establishment_means", ParsedOnly),
    ("establishmentMeans", "raw_establishment_means", RawOnly),
    // attribution
    ("dataProviderName", "data_provider", RawAndParsed),
    ("dataProviderUid", "data_provider_uid", RawAndParsed),
    ("dataResourceName", "data_resource", RawAndParsed),
    ("dataResourceUid", "data_resource_uid", RawAndParsed),
    // raw-only identifiers and verbatim values
    ("catalogNumber", "catalogue_number", RawOnly),
    ("collectionCode", "collection_code", RawOnly),
    ("countryCode", "country_code", RawOnly),
    ("datasetName", "dataset_name", RawOnly),
    ("datePrecision", "date_precision", RawOnly),
    ("decimalLatitude", "raw_latitude", RawOnly),
    ("decimalLongitude", "raw_longitude", RawOnly),
    ("duplicates", "duplicate_inst", RawOnly),
    ("eventID", "event_id", RawOnly),
    ("geodeticDatum", "raw_datum", RawOnly),
    ("geodeticDatum", "datum", ParsedOnly),
    ("samplingProtocol", "raw_sampling_protocol", RawOnly),
    ("samplingProtocol", "sampling_protocol", ParsedOnly),
    ("georeferenceVerificationStatus", "raw_geo_validation_status", RawOnly),
    ("georeferenceVerificationStatus", "georeference_verification_status", ParsedOnly),
    ("identificationQualifier", "raw_identification_qualifier", RawOnly),
    ("identificationQualifier", "identification_qualifier", ParsedOnly),
    ("identificationVerificationStatus", "identification_verification_status", ParsedOnly),
    ("identifiedBy", "identified_by", RawOnly),
    ("individualCount", "individual_count", RawOnly),
    ("institutionCode", "institution_code", RawOnly),
    ("loanDestination", "loan_destination", RawOnly),
    ("loanForBotanist", "loan_botanist", RawOnly),
    ("loanIdentifier", "loan_identifier", RawOnly),
    ("loanSequenceNumber", "loan_number", RawOnly),
    ("locality", "raw_locality", RawOnly),
    ("locationID", "location_id", RawOnly),
    ("locationRemarks", "location_remarks", RawOnly),
    ("occurrenceDetails", "occurrence_details", RawOnly),
    ("occurrenceID", "occurrence_id", RawOnly),
    ("occurrenceRemarks", "occurrence_remarks", RawOnly),
    ("occurrenceStatus", "raw_occurrence_status", RawOnly),
    ("occurrenceStatus", "occurrence_status", ParsedOnly),
    ("originalNameUsage", "original_name_usage", RawOnly),
    ("phenology", "life_stage_phenology", RawOnly),
    ("lifeStage", "life_stage", Best),
    ("photographer", "photographer", RawOnly),
    ("recordedBy", "collector", RawOnly),
    ("recordedBy", "collectors", ParsedOnly),
    ("recordNumber", "record_number", RawOnly),
    ("reproductiveCondition", "reproductive_condition", RawOnly),
    ("rights", "rights", RawOnly),
    ("sex", "raw_sex", RawOnly),
    ("sex", "sex", ParsedOnly),
    ("taxonConceptID", "taxon_concept_lsid", ParsedOnly),
    ("typeStatus", "raw_type_status", RawOnly),
    ("typeStatus", "type_status", ParsedOnly),
    ("userId", "user_id", RawOnly),
    ("userId", "alau_user_id", RawOnly),
    ("vernacularName", "raw_common_name", RawOnly),
    ("vernacularName", "common_name", ParsedOnly),
    // parsed classification / location / measurement block
    ("distanceOutsideExpertRange", "distance_outside_expert_range", ParsedOnly),
    ("associatedOccurrences", "duplicate_record", ParsedOnly),
    ("associatedOccurrences", "raw_duplicate_record", RawOnly),
    ("basisOfRecord", "basis_of_record", ParsedOnly),
    ("basisOfRecord", "raw_basis_of_record", RawOnly),
    ("classs", "class", ParsedOnly),
    ("classs", "raw_class", RawOnly),
    ("collectionName", "collection_name", ParsedOnly),
    ("collectionUid", "collection_uid", ParsedOnly),
    ("coordinateUncertaintyInMeters", "coordinate_uncertainty", ParsedOnly),
    ("coordinateUncertaintyInMeters", "raw_coordinate_uncertainty", RawOnly),
    ("coordinatePrecision", "coordinate_precision", RawOnly),
    ("country", "country", ParsedOnly),
    ("country", "raw_country", RawOnly),
    ("countryConservation", "country_conservation", ParsedOnly),
    ("stateConservation", "state_conservation", ParsedOnly),
    ("globalConservation", "global_conservation", ParsedOnly),
    ("dataHub", "data_hub", ParsedOnly),
    ("dataGeneralizations", "data_generalizations", ParsedOnly),
    ("decimalLatitude", "latitude", ParsedOnly),
    ("decimalLongitude", "longitude", ParsedOnly),
    ("duplicationStatus", "duplicate_status", ParsedOnly),
    ("family", "family", ParsedOnly),
    ("family", "raw_family", RawOnly),
    ("genus", "genus", ParsedOnly),
    ("genus", "raw_genus", RawOnly),
    ("genusID", "genus_guid", ParsedOnly),
    ("gridReference", "grid_reference", RawOnly),
    ("habitat", "raw_habitat", RawOnly),
    ("biome", "biome", ParsedOnly),
    ("institutionName", "institution_name", ParsedOnly),
    ("institutionUid", "institution_uid", ParsedOnly),
    ("infraspecificEpithet", "infraspecific_epithet", RawOnly),
    ("kingdom", "kingdom", ParsedOnly),
    ("kingdom", "raw_kingdom", RawOnly),
    ("lft", "lft", ParsedOnly),
    ("lga", "places", ParsedOnly),
    ("license", "license", ParsedOnly),
    ("license", "raw_license", RawOnly),
    ("maximumDepthInMeters", "max_depth_d", ParsedOnly),
    ("maximumDepthInMeters", "raw_max_depth", RawOnly),
    ("maximumElevationInMeters", "max_elevation_d", ParsedOnly),
    ("maximumElevationInMeters", "raw_max_elevation", RawOnly),
    ("minimumDepthInMeters", "min_depth_d", ParsedOnly),
    ("minimumDepthInMeters", "raw_min_depth", RawOnly),
    ("minimumElevationInMeters", "min_elevation_d", ParsedOnly),
    ("minimumElevationInMeters", "raw_min_elevation", RawOnly),
    ("month", "month", ParsedOnly),
    ("month", "raw_month", RawOnly),
    ("day", "day", ParsedOnly),
    ("nameMatchMetric", "name_match_metric", ParsedOnly),
    ("nameParseType", "name_parse_type", ParsedOnly),
    ("order", "order", ParsedOnly),
    ("order", "raw_order", RawOnly),
    ("phylum", "phylum", ParsedOnly),
    ("phylum", "raw_phylum", RawOnly),
    ("provenance", "provenance", ParsedOnly),
    ("rgt", "rgt", ParsedOnly),
    ("scientificName", "taxon_name", ParsedOnly),
    ("scientificName", "raw_taxon_name", RawOnly),
    ("species", "species", ParsedOnly),
    ("speciesID", "species_guid", ParsedOnly),
    ("specificEpithet", "specific_epithet", RawOnly),
    ("stateProvince", "state", ParsedOnly),
    ("stateProvince", "raw_state", RawOnly),
    ("taxonRank", "rank", ParsedOnly),
    ("taxonRank", "raw_rank", RawOnly),
    ("taxonRankID", "rank_id", ParsedOnly),
    ("verbatimDepth", "depth", ParsedOnly),
    ("verbatimDepth", "raw_verbatim_depth", RawOnly),
    ("verbatimElevation", "elevation", ParsedOnly),
    ("verbatimElevation", "raw_verbatim_elevation", RawOnly),
    ("verbatimEventDate", "verbatim_event_date", RawOnly),
    ("verbatimLatitude", "verbatim_latitude", RawOnly),
    ("verbatimLongitude", "verbatim_longitude", RawOnly),
    ("associatedMedia", "multimedia_url", RawOnly),
    ("speciesListUids", "species_list_uid", ParsedOnly),
    ("year", "year", ParsedOnly),
    ("year", "raw_occurrence_year", RawOnly))

  /** Misc key → typed dynamic index column, reference suffix convention
    * (`Store.scala:695-719`: user fields keep an explicit `_i`/`_d` suffix,
    * anything else becomes a `_s` string field;
    * `index/SolrIndexDAO.scala:173-181` matches them as dynamic fields). */
  private[index] def dynamicMiscColumn(miscMap: Column, key: String): Column = {
    val v = element_at(miscMap, key)
    if (key.endsWith("_i")) v.try_cast("int").as(key)
    else if (key.endsWith("_d")) v.try_cast("double").as(key)
    else if (key.endsWith("_s")) v.as(key)
    else v.as(s"${key}_s")
  }

  /** P2 projection: enriched record → flat search schema. Table-driven from
    * `indexFields`; derived fields (point rounding grid, latLong string,
    * occurrence year/decade, name+lsid concatenations, assertion buckets,
    * kosher flags, sensitive columns) are built once at the end.
    * `layerIds` adds the reference's dynamic el/cl layer columns
    * (`index/SolrIndexDAO.scala:173-181`): one column per sampled layer id,
    * numeric (double) for `el*`, string for `cl*`, sourced from the
    * record's `cl` sample map. */
  def project(enriched: DataFrame, layerIds: Seq[String] = Nil,
      miscKeys: Seq[String] = Nil): DataFrame = {
    val base = shouldIndex(enriched)
    // try_cast at the source: the processed coords are doubles out of the
    // enrichment pipeline, but project() also accepts re-read tables where
    // they may be strings — a garbage value must not ANSI-crash the
    // roundings / concat below (Spark 4 runs ANSI mode by default)
    val lat = col("processed_decimalLatitude").try_cast("double")
    val lon = col("processed_decimalLongitude").try_cast("double")
    def rawOf(f: String): Column =
      if (base.columns.contains(f)) col(f) else lit(null)
    def parsedOf(f: String): Column = {
      val name = s"processed_$f"
      if (base.columns.contains(name)) col(name) else lit(null)
    }
    val mapped: Seq[Column] = indexFields.flatMap { case (dwc, idx, mode) =>
      mode match {
        // raw name falls back to a constructed genus/epithet/family name
        // (reference getRawScientificName, IndexTest cases)
        case RawOnly if idx == "raw_taxon_name" =>
          Seq(rawScientificName(base).as(idx))
        case RawOnly => Seq(rawOf(dwc).as(idx))
        case ParsedOnly => Seq(parsedOf(dwc).as(idx))
        case Best => Seq(p(base, dwc).as(idx))
        case RawAndParsed =>
          Seq(rawOf(dwc).as(s"raw_$idx"), parsedOf(dwc).as(idx))
      }
    }
    val yearCol = parsedOf("year").try_cast("int")
    val assertionNames = col("assertions").getField("name")
    val allAssertionNames = array(
      graft.model.AssertionCodes.all.map(ec => lit(ec.name)): _*)
    val clMap =
      if (base.columns.contains("cl")) col("cl")
      else lit(null).cast("map<string,string>")
    // dynamic layer columns: el* numeric, cl* string (reference
    // `SolrIndexDAO.addFieldsToDocument` dynamic fields)
    val layerCols: Seq[Column] = layerIds.map { id =>
      val v = element_at(clMap, id)
      if (id.startsWith("el")) v.try_cast("double").as(id) else v.as(id)
    }
    // miscProperties catch-all: the map rides through the index (download
    // passthrough reads it), and requested keys surface as typed dynamic
    // columns (reference `Store.scala:695-719` suffix typing)
    val miscMap =
      if (base.columns.contains("miscProperties")) col("miscProperties")
      else lit(null).cast("map<string,string>")
    val miscCols: Seq[Column] =
      miscMap.as("miscProperties") +: miscKeys.map(dynamicMiscColumn(miscMap, _))
    val sensitiveFlag =
      if (base.columns.contains("isSensitive")) col("isSensitive")
      else lit(false)
    val origSens =
      if (base.columns.contains("originalSensitiveValues"))
        col("originalSensitiveValues")
      else lit(null).cast("map<string,string>")
    val cols: Seq[Column] =
      col("rowKey").as("id") +: mapped ++: layerCols ++: miscCols ++: Seq(
        lat.as("decimalLatitude"),
        lon.as("decimalLongitude"),
        concat_ws(",", lat.cast("string"), lon.cast("string")).as("latLong"),
        // point-rounding grid (reference `IndexDAO.scala:170-198`;
        // SOLR's hyphenated point-0.1 names made Parquet-friendly)
        concat_ws(",", round(lat, 0), round(lon, 0)).as("point1"),
        concat_ws(",", round(lat, 1), round(lon, 1)).as("point01"),
        concat_ws(",", round(lat, 2), round(lon, 2)).as("point001"),
        concat_ws(",", round(lat, 3), round(lon, 3)).as("point0001"),
        concat_ws(",", round(lat, 4), round(lon, 4)).as("point00001"),
        // derived date facets (reference addField occurrence_year /
        // occurrence_decade_i)
        yearCol.as("occurrence_year"),
        (floor(yearCol / 10) * 10).try_cast("int").as("occurrence_decade_i"),
        // name + lsid concatenations (reference addField names_and_lsid /
        // common_name_and_lsid)
        concat_ws("|", parsedOf("scientificName"),
          parsedOf("taxonConceptID"), parsedOf("vernacularName"),
          parsedOf("kingdom"), parsedOf("family")).as("names_and_lsid"),
        concat_ws("|", parsedOf("vernacularName"),
          parsedOf("scientificName"), parsedOf("taxonConceptID"),
          parsedOf("vernacularName"), parsedOf("kingdom"),
          parsedOf("family")).as("common_name_and_lsid"),
        // assertion buckets (reference system_assertions / assertions_*)
        assertionNames.as("assertions"),
        array_except(allAssertionNames, assertionNames).as("assertions_unchecked"),
        // sensitive handling (reference sensitive_* fields)
        sensitiveFlag.as("sensitive"),
        element_at(origSens, "decimalLatitude").try_cast("double")
          .as("sensitive_latitude"),
        element_at(origSens, "decimalLongitude").try_cast("double")
          .as("sensitive_longitude"),
        col("geospatiallyKosher"), col("taxonomicallyKosher"),
        col("geospatiallyKosher").as("geospatial_kosher"),
        col("taxonomicallyKosher").as("taxonomic_kosher"))
    base.select(cols: _*)
  }
}

/** Query surface over the index DataFrame — the `Store`-facade equivalents
  * of A1–A3, W3, S12/S13, S17 (reference `Store.scala:40-771`,
  * `index/SolrIndexDAO.scala:299-330,1439-1532`). */
object Serving {

  /** A1 facet count. */
  def facet(index: DataFrame, field: String,
      predicate: Option[Column] = None): DataFrame =
    predicate.fold(index)(index.filter)
      .groupBy(field).agg(count(lit(1)).as("count"))
      .orderBy(col("count").desc, col(field).asc)

  /** A3 distinct values, capped. */
  def distinctValues(index: DataFrame, field: String, max: Int,
      predicate: Option[Column] = None): DataFrame =
    predicate.fold(index)(index.filter)
      .select(field).distinct().orderBy(field).limit(max)

  /** W3 first-N ids matching a predicate. */
  def idsForQuery(index: DataFrame, predicate: Column, limit: Int): DataFrame =
    index.filter(predicate).select("id").orderBy("id").limit(limit)

  /** S12/S13 filtered (optionally sorted) field scan / streaming export. */
  def scan(index: DataFrame, fields: Seq[String], predicate: Column,
      sortFields: Seq[String] = Nil): DataFrame = {
    val filtered = index.filter(predicate).select(fields.map(col): _*)
    if (sortFields.nonEmpty) filtered.orderBy(sortFields.map(col): _*)
    else filtered
  }

  /** S17 keyed download: selected fields + assertion presence columns for a
    * key set (reference `writeToStream`, `OccurrenceDAOImpl.scala:304-360`).
    * Write the result with `.write.option("sep", d).csv(path)`. */
  def download(index: DataFrame, rowKeys: DataFrame, fields: Seq[String],
      qaFields: Seq[String]): DataFrame =
    download(index, rowKeys, fields, qaFields, includeMisc = false, Nil)

  /** S17/S18 with `miscProperties` passthrough (reference
    * `dao/OccurrenceDAOImpl.scala:185-303` `includeMisc`/`miscFields`):
    * requested misc fields append in the given order as `misc_<key>`
    * columns; with `includeMisc` and no explicit list, the key universe is
    * discovered from the data (one distinct-keys aggregate — bounded by
    * key cardinality, not row count — sorted for a deterministic schema,
    * where the reference's streaming writer appends keys in encounter
    * order). */
  def download(index: DataFrame, rowKeys: DataFrame, fields: Seq[String],
      qaFields: Seq[String], includeMisc: Boolean,
      miscFields: Seq[String]): DataFrame = {
    val keyed = index.join(rowKeys, index("id") === rowKeys("rowKey"), "left_semi")
    val qaCols = qaFields.map(qa =>
      array_contains(col("assertions"), qa).as(s"qa_$qa"))
    // indexes built before the misc column existed read as misc-less
    val miscMap =
      if (index.columns.contains("miscProperties")) col("miscProperties")
      else lit(null).cast("map<string,string>")
    val miscKeys: Seq[String] =
      if (!includeMisc) miscFields
      else if (miscFields.nonEmpty) miscFields
      else if (!index.columns.contains("miscProperties")) Nil
      else keyed.select(explode(map_keys(miscMap)).as("k"))
        .distinct().orderBy("k")
        .collect().map(_.getString(0)).toSeq
    val miscCols = miscKeys.map(k =>
      element_at(miscMap, k).as(s"misc_$k"))
    keyed.select(fields.map(col) ++ qaCols ++ miscCols: _*).orderBy("id")
  }
}
