package graft.processors

import graft.model.AssertionCodes
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Dimension-backed enrichment stages: per-resource defaults, attribution,
  * sensitive-species generalisation, species groups, validation rules.
  *
  * Each replaces a per-record HTTP/cache lookup in the reference with a
  * broadcast join (`caches/AttributionDAO.scala:55-222`,
  * `processor/SensitivityProcessor.scala:37-356`,
  * `vocab/SpeciesGroups.scala:207-220`, `qa/ValidationRuleRunner.scala` in
  * /root/reference/src/main/scala/au/org/ala/biocache/).
  */
object DimensionStages {

  /** DEFAULT stage: inject per-resource default DwC values for null fields.
    * `defaultsDim`: (dataResourceUid, field, value) long format, pivoted to
    * one field→value map per resource so the whole stage is a SINGLE
    * broadcast join regardless of how many fields carry defaults (a
    * join-per-field shape multiplies plan size and broadcast exchanges).
    * The field list itself is a driver-side distinct over the dim —
    * defaults are configuration-scale. */
  def applyDefaultValues(df: DataFrame, defaultsDim: DataFrame): DataFrame = {
    val fields = defaultsDim.select("field").distinct()
      .collect().map(_.getString(0))
    if (fields.isEmpty) return df
    val perResource = defaultsDim
      .groupBy("dataResourceUid")
      .agg(map_from_entries(collect_list(struct(col("field"), col("value"))))
        .as("_defaults"))
    val joined = df.join(broadcast(perResource), Seq("dataResourceUid"), "left")
    fields.foldLeft(joined) { (acc, field) =>
      val default = element_at(col("_defaults"), field)
      if (acc.columns.contains(field))
        acc.withColumn(field, coalesce(col(field), default))
      else acc.withColumn(field, default)
    }.drop("_defaults")
  }

  /** ATTR stage (J2): (institutionCode, collectionCode) → attribution
    * metadata + unrecognised-code assertions. `attributionDim`:
    * (institutionCode, collectionCode, institutionName, collectionName). */
  def processAttribution(df: DataFrame, attributionDim: DataFrame): DataFrame = {
    val hasCodes = df.columns.contains("institutionCode") &&
      df.columns.contains("collectionCode")
    val base =
      if (hasCodes) df
      else df.withColumn("institutionCode", lit(null).cast("string"))
        .withColumn("collectionCode", lit(null).cast("string"))
    val dim = attributionDim.select(
      upper(col("institutionCode")).as("_ic"),
      upper(col("collectionCode")).as("_cc"),
      col("institutionName").as("processed_institutionName"),
      col("collectionName").as("processed_collectionName"))
    base
      .withColumn("_ic", upper(col("institutionCode")))
      .withColumn("_cc", upper(col("collectionCode")))
      .join(broadcast(dim), Seq("_ic", "_cc"), "left")
      .withColumn("assertions_attr", array_compact(array(
        AssertionCodes.assertCodeIf(
          col("institutionCode").isNotNull &&
            col("processed_institutionName").isNull,
          AssertionCodes.UNRECOGNISED_INSTITUTION_CODE),
        AssertionCodes.assertCodeIf(
          col("collectionCode").isNotNull &&
            col("processed_collectionName").isNull,
          AssertionCodes.UNRECOGNISED_COLLECTION_CODE))))
      .drop("_ic", "_cc")
  }

  /** Taxonomic-hints scope check (reference
    * `processor/ClassificationProcessor.parseHints`/`isMatchValid` +
    * `TaxonomicHintsTest`): each data resource may declare rank→allowed-name
    * hints; a matched classification whose value at a hinted rank is not in
    * that rank's set is out of the resource's scope — the match is voided
    * and RESOURCE_TAXONOMIC_SCOPE_MISMATCH asserted. `hintsDim`:
    * (dataResourceUid, rank, name) with rank ∈ kingdom/phylum/classs/....
    * Broadcast-joined per rank; a record with no value at a hinted rank
    * passes that rank (reference isMatchValid iterates supplied values). */
  def checkTaxonomicHints(df: DataFrame, hintsDim: DataFrame): DataFrame = {
    if (!df.columns.contains("dataResourceUid")) return df.withColumn(
      "assertions_hints", array().cast("array<int>"))
    val ranks = Seq("kingdom", "phylum", "classs", "family", "genus")
    val perRank = hintsDim
      .groupBy(col("dataResourceUid"), lower(col("rank")).as("rank"))
      .agg(collect_set(lower(col("name"))).as("allowed"))
    val joined = ranks.foldLeft(df) { (acc, r) =>
      val dim = perRank.filter(col("rank") === r)
        .select(col("dataResourceUid"), col("allowed").as(s"_hint_$r"))
      acc.join(broadcast(dim), Seq("dataResourceUid"), "left")
    }
    // stage the verdict BEFORE voiding: the Column DSL is lazy, so an
    // inline expression would re-evaluate over the already-nulled fields
    val mismatch0 = ranks.map { r =>
      val processedVal =
        if (df.columns.contains(s"processed_$r")) lower(col(s"processed_$r"))
        else lit(null).cast("string")
      col(s"_hint_$r").isNotNull && processedVal.isNotNull &&
        !array_contains(col(s"_hint_$r"), processedVal)
    }.reduce(_ || _)
    val staged = joined.withColumn("_scopeMismatch", mismatch0)
    val mismatch = col("_scopeMismatch") === true
    val voided = Seq("processed_taxonConceptID", "processed_scientificName",
      "processed_taxonRank", "processed_kingdom", "processed_phylum",
      "processed_classs", "processed_family", "processed_genus",
      "processed_lft", "processed_rgt")
      .filter(df.columns.contains)
      .foldLeft(staged) { (acc, c) =>
        acc.withColumn(c, when(mismatch, lit(null)).otherwise(col(c)))
      }
    voided
      .withColumn("assertions_hints", array_compact(array(
        AssertionCodes.assertCodeIf(mismatch,
          AssertionCodes.RESOURCE_TAXONOMIC_SCOPE_MISMATCH))))
      .drop(ranks.map(r => s"_hint_$r") :+ "_scopeMismatch": _*)
  }

  /** SENSITIVE stage (J6/P5): match against the sensitivity rule table,
    * generalise coordinates to the rule's precision, stash the precise
    * originals (the reference keeps them in `originalSensitiveValues` for
    * authorised download; `processor/SensitivityProcessor.scala:37-280`
    * via the SDS rule engine).
    *
    * `sensitivityDim` minimally carries (nameLower, generalisationMetres);
    * the full SDS rule model adds optional columns:
    *  - `zone`: rule applies only where the record's (inferred)
    *    state/province matches; null = everywhere. The reference resolves
    *    the zone by layer intersect before consulting the rules
    *    (`SensitivityProcessor.scala:97-118`), which is why this stage runs
    *    after location inference.
    *  - `category`: e.g. conservation vs biosecurity; echoed in the
    *    dataGeneralizations text.
    *  - `fromDate`/`toDate` (ISO strings): date-bounded rules (plant-
    *    biosecurity outbreak windows); compared against the processed
    *    event date (`SensitivityProcessor.scala:126-131` feeds
    *    day/month/year to the rule engine).
    *  - `withholdEvent` (boolean): additionally blank the day/event-date
    *    detail and set informationWithheld
    *    (`SensitivityProcessor.scala:228-257`).
    *
    * Multiple applicable rules resolve to the most restrictive (largest
    * generalisation radius). The rule table is dimension-sized: it is
    * aggregated to one row per name and broadcast, so the fact side never
    * shuffles and row count is preserved regardless of rule multiplicity. */
  def processSensitivity(df: DataFrame, sensitivityDim: DataFrame): DataFrame = {
    def dimCol(name: String, tpe: String): Column =
      if (sensitivityDim.columns.contains(name)) col(name).cast(tpe)
      else lit(null).cast(tpe)
    val rules = sensitivityDim.select(
      lower(col("nameLower")).as("_sensName"),
      struct(
        col("generalisationMetres").cast("int").as("metres"),
        dimCol("zone", "string").as("zone"),
        dimCol("category", "string").as("category"),
        dimCol("fromDate", "date").as("fromDate"),
        dimCol("toDate", "date").as("toDate"),
        coalesce(dimCol("withholdEvent", "boolean"), lit(false))
          .as("withholdEvent")).as("_rule"))
      .groupBy("_sensName").agg(collect_list("_rule").as("_sensRules"))
    def colOr(name: String): Column =
      if (df.columns.contains(name)) col(name) else lit(null).cast("string")
    val nameKey = lower(coalesce(
      colOr("processed_scientificName"), colOr("scientificName")))
    val zoneKey = coalesce(
      colOr("processed_stateProvince"), colOr("stateProvince"))
    val evtDate = coalesce(
      colOr("processed_eventDate").cast("date"),
      colOr("eventDate").try_cast("date"))
    // rule applicability: zone match (null zone = anywhere) + event date
    // inside the rule window (null bound = open). HOFs are interpreted, so
    // the applicable-rule selection is staged once in `_sensRule` and only
    // scalar fields of it are referenced afterwards.
    val applicable = filter(col("_sensRules"), r =>
      (r.getField("zone").isNull || (zoneKey.isNotNull &&
        lower(r.getField("zone")) === lower(zoneKey))) &&
      (r.getField("fromDate").isNull ||
        (evtDate.isNotNull && evtDate >= r.getField("fromDate"))) &&
      (r.getField("toDate").isNull ||
        (evtDate.isNotNull && evtDate <= r.getField("toDate"))))
    val mostRestrictive = try_element_at(array_sort(applicable, (l, r) =>
      when(l.getField("metres") > r.getField("metres"), -1)
        .when(l.getField("metres") < r.getField("metres"), 1)
        .otherwise(0)), lit(1))
    // metres → decimal places: 100m→3, 1km→2, 10km→1, 100km→0.
    // round()'s scale must be foldable, so generalise via scale-factor
    // arithmetic instead of a per-row scale.
    val metres = col("_sensRule.metres")
    val decimals = when(metres <= 100, 3)
      .when(metres <= 1000, 2)
      .when(metres <= 10000, 1)
      .otherwise(0)
    val factor = pow(lit(10.0), decimals)
    def generalise(c: Column): Column = round(c * factor, 0) / factor
    val lat = col("processed_decimalLatitude")
    val lon = col("processed_decimalLongitude")
    val sensitive = metres.isNotNull && lat.isNotNull
    val withhold = sensitive && col("_sensRule.withholdEvent")
    val stashEntries: Seq[(String, Column)] = Seq(
      "decimalLatitude" -> lat.cast("string"),
      "decimalLongitude" -> lon.cast("string"),
      "coordinateUncertaintyInMeters" ->
        colOr("processed_coordinateUncertaintyInMeters").cast("string"),
      "eventDate" -> when(withhold, colOr("processed_eventDate").cast("string")),
      "day" -> when(withhold, colOr("processed_day").cast("string")))
    val stash = map_filter(
      map(stashEntries.flatMap { case (k, v) => Seq(lit(k), v) }: _*),
      (_, v) => v.isNotNull)
    val withRule = df.withColumn("_sensName", nameKey)
      .join(broadcast(rules), Seq("_sensName"), "left")
      .withColumn("_sensRule", mostRestrictive)
    val out = withRule
      .withColumn("originalSensitiveValues",
        when(sensitive, stash).otherwise(lit(null)))
      // reference adds the generalisation radius to the existing
      // uncertainty (`SensitivityProcessor.scala:185-196`); always double
      .withColumn("processed_coordinateUncertaintyInMeters",
        when(sensitive,
          coalesce(colOr("processed_coordinateUncertaintyInMeters")
            .try_cast("double"), lit(0.0)) + metres)
          .otherwise(colOr("processed_coordinateUncertaintyInMeters")
            .try_cast("double")))
      .withColumn("processed_decimalLatitude",
        when(sensitive, generalise(lat)).otherwise(lat))
      .withColumn("processed_decimalLongitude",
        when(sensitive, generalise(lon)).otherwise(lon))
      .withColumn("processed_dataGeneralizations",
        when(sensitive, concat(
          lit("Coordinates generalised to "), metres.cast("string"),
          lit(" metres"),
          when(col("_sensRule.category").isNotNull,
            concat(lit(" ["), col("_sensRule.category"), lit("]")))
            .otherwise(lit("")))).otherwise(lit(null)))
      .withColumn("processed_informationWithheld",
        when(withhold, lit("Event date withheld under a sensitivity rule"))
          .otherwise(lit(null).cast("string")))
      .withColumn("isSensitive", sensitive)
      .withColumn("assertions_sensitive", array_compact(array(
        AssertionCodes.assertCodeIf(sensitive,
          AssertionCodes.DATA_ARE_GENERALISED))))
    val blanked = Seq("processed_eventDate", "processed_day")
      .foldLeft(out) { (acc, c) =>
        if (acc.columns.contains(c))
          acc.withColumn(c, when(withhold, lit(null)).otherwise(col(c)))
        else acc
      }
    blanked.drop("_sensName", "_sensRules", "_sensRule")
  }

  /** P5: masked projection for un-authorised consumers vs full for
    * authorised (reference `Store.scala:107` sensitive-field handling). */
  def maskSensitive(df: DataFrame, includeSensitive: Boolean): DataFrame =
    if (includeSensitive && df.columns.contains("originalSensitiveValues"))
      df.withColumn("processed_decimalLatitude",
          coalesce(element_at(col("originalSensitiveValues"),
            "decimalLatitude").cast("double"),
            col("processed_decimalLatitude")))
        .withColumn("processed_decimalLongitude",
          coalesce(element_at(col("originalSensitiveValues"),
            "decimalLongitude").cast("double"),
            col("processed_decimalLongitude")))
    else df.drop("originalSensitiveValues")

  /** J13: lft/rgt containment join — species-group labels from taxon lft.
    * `groupsDim`: (speciesGroup, lft, rgt); tiny → broadcast theta join.
    * Aggregated by `idCol` then joined back, so arbitrary (incl. map-typed)
    * record columns survive. */
  def speciesGroups(df: DataFrame, groupsDim: DataFrame,
      idCol: String = "rowKey"): DataFrame = {
    val groups = df.select(col(idCol), col("processed_lft"))
      .join(broadcast(groupsDim.select(col("speciesGroup"),
        col("lft").as("_glft"), col("rgt").as("_grgt"))),
        col("processed_lft") >= col("_glft") &&
          col("processed_lft") < col("_grgt"))
      .groupBy(idCol)
      .agg(collect_set("speciesGroup").as("processed_speciesGroups"))
    df.join(groups, Seq(idCol), "left")
      .withColumn("processed_speciesGroups",
        coalesce(col("processed_speciesGroups"),
          array().cast("array<string>")))
  }

  /** F11: coordinates-are-country-centre check (reference
    * `vocab/CountryCentrePoints.scala` + `processor/LocationProcessor
    * .scala:652-790`): a record whose coordinates equal its country's centre
    * point (at 2-dp tolerance, the common data-entry artefact) is flagged.
    * `centresDim`: (country, centreLat, centreLon). */
  /** Centre-point comparison at the precision of the supplied coordinates
    * (reference `vocab/CentrePoints.coordinatesMatchCentre`: the region
    * centre is rounded to the record's decimal places before comparing, so
    * a 1-dp record matches a 1-dp-rounded centre). `rawLat`/`rawLon` are
    * the verbatim coordinate strings the decimal-place count comes from. */
  private def matchesCentre(rawLat: Column, rawLon: Column,
      lat: Column, lon: Column, cLat: Column, cLon: Column): Column = {
    def dp(s: Column): Column = least(
      when(s.contains("."), length(substring_index(s, ".", -1)))
        .otherwise(0), lit(7))
    // round()'s scale must be foldable: round via a per-row power-of-ten
    // factor instead
    val fLat = pow(lit(10.0), dp(rawLat))
    val fLon = pow(lit(10.0), dp(rawLon))
    cLat.isNotNull && lat.isNotNull && lon.isNotNull &&
      round(cLat * fLat, 0) / fLat === lat &&
      round(cLon * fLon, 0) / fLon === lon
  }

  private def centreCheckStage(df: DataFrame, centresDim: DataFrame,
      dimRegionCol: String, recordRegionCols: Seq[String],
      code: graft.model.ErrorCode, outCol: String): DataFrame = {
    val key = s"_centre_$dimRegionCol"
    val dim = centresDim.select(lower(col(dimRegionCol)).as(key),
      col("centreLat").as(s"${key}Lat"), col("centreLon").as(s"${key}Lon"))
    def colOr(name: String): Column =
      if (df.columns.contains(name)) col(name) else lit(null).cast("string")
    val lat = col("processed_decimalLatitude")
    val lon = col("processed_decimalLongitude")
    val isCentre = matchesCentre(
      coalesce(colOr("decimalLatitude"), lat.cast("string")),
      coalesce(colOr("decimalLongitude"), lon.cast("string")),
      lat, lon, col(s"${key}Lat"), col(s"${key}Lon"))
    df.withColumn(key,
        lower(coalesce(recordRegionCols.map(colOr): _*)))
      .join(broadcast(dim), Seq(key), "left")
      .withColumn(outCol, array_compact(array(
        AssertionCodes.assertCodeIf(isCentre, code))))
      .drop(key, s"${key}Lat", s"${key}Lon")
  }

  /** Country-centre check (F11). `centresDim`: (country, centreLat,
    * centreLon); reference `LocationProcessor.scala:206-208` +
    * `vocab/CountryCentrePoints`. */
  def checkCentrePoints(df: DataFrame, centresDim: DataFrame): DataFrame =
    centreCheckStage(df, centresDim, "country",
      Seq("processed_country", "country"),
      AssertionCodes.COORDINATES_CENTRE_OF_COUNTRY, "assertions_centre")

  /** State/province-centre check (reference `LocationProcessor.scala:199-201`
    * + `vocab/StateProvinceCentrePoints`); runs after state inference so the
    * layer-derived state is used. `centresDim`: (stateProvince, centreLat,
    * centreLon). */
  def checkStateCentrePoints(df: DataFrame, centresDim: DataFrame): DataFrame =
    centreCheckStage(df, centresDim, "stateProvince",
      Seq("processed_stateProvince", "stateProvince"),
      AssertionCodes.COORDINATES_CENTRE_OF_STATEPROVINCE,
      "assertions_statecentre")

  /** OFFLINE stage (reference `processor/OfflineTestProcessor.scala:11-36`):
    * carry the offline-analytics results — outlier layers, duplication
    * status/type, associated occurrences, expert-range distance — and the
    * offline assertion codes forward from the previous processed snapshot.
    * This is a fact-to-fact join on rowKey (NOT broadcast: the snapshot is
    * fact-scale); at cluster scale both sides should be bucketed by rowKey
    * so the join is co-located. */
  def carryForwardOffline(df: DataFrame, lastProcessed: DataFrame): DataFrame = {
    val offline = array(AssertionCodes.offlineAssertionCodes.map(lit): _*)
    def prevCol(name: String): Column =
      if (lastProcessed.columns.contains(name)) col(name)
      else lit(null).cast("string")
    val prev = lastProcessed.select(
      col("rowKey"),
      prevCol("processed_outlierForLayers").as("processed_outlierForLayers"),
      prevCol("processed_duplicationStatus").as("processed_duplicationStatus"),
      prevCol("processed_duplicationType").as("processed_duplicationType"),
      prevCol("processed_associatedOccurrences").as("processed_associatedOccurrences"),
      prevCol("processed_distanceOutsideExpertRange")
        .as("processed_distanceOutsideExpertRange"),
      (if (lastProcessed.columns.contains("assertionCodes"))
        array_intersect(col("assertionCodes"), offline)
      else array().cast("array<int>")).as("assertions_offline"))
    df.join(prev, Seq("rowKey"), "left")
      .withColumn("assertions_offline",
        coalesce(col("assertions_offline"), array().cast("array<int>")))
  }

  /** REPROCESSING stage (reference `ReprocessingProcessor.scala:18-36`):
    * when the processed coordinates are unchanged from the previous
    * snapshot, reuse its el/cl layer-sample maps instead of re-sampling.
    * Same rowKey-join contract as [[carryForwardOffline]]. */
  def reuseSamplesWhenUnchanged(df: DataFrame,
      lastProcessed: DataFrame): DataFrame = {
    if (!lastProcessed.columns.contains("cl")) return df
    val prev = lastProcessed.select(col("rowKey"),
      col("processed_decimalLatitude").as("_prevLat"),
      col("processed_decimalLongitude").as("_prevLon"),
      col("cl").as("_prevCl"))
    val unchanged = col("_prevLat") <=> col("processed_decimalLatitude") &&
      col("_prevLon") <=> col("processed_decimalLongitude") &&
      col("_prevCl").isNotNull
    val existing =
      if (df.columns.contains("cl")) col("cl")
      else lit(null).cast("map<string,string>")
    df.join(prev, Seq("rowKey"), "left")
      .withColumn("cl", when(unchanged, col("_prevCl")).otherwise(existing))
      .drop("_prevLat", "_prevLon", "_prevCl")
  }

  /** Validation-rule application (reference `qa/ValidationRuleRunner`):
    * records matching `predicate` gain a query assertion. */
  def applyValidationRule(df: DataFrame, predicate: Column,
      ruleId: String, comment: String): DataFrame = {
    val qa = struct(lit(ruleId).as("name"), lit(20019).as("code"),
      lit(0).as("qaStatus"), lit(comment).as("comment"))
    df.withColumn("assertions",
      when(predicate, array_union(col("assertions"), array(qa)))
        .otherwise(col("assertions")))
  }
}
