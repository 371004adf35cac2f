package graft.processors

import graft.model.AssertionCodes
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import scala.collection.immutable.ListMap

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
    joined.withColumns(ListMap(fields.toSeq.map { field =>
      val default = element_at(col("_defaults"), field)
      field -> (if (joined.columns.contains(field)) coalesce(col(field), default)
        else default)
    }: _*)).drop("_defaults")
  }

  /** ATTR stage (J2): (institutionCode, collectionCode) → attribution
    * metadata + unrecognised-code assertions. `attributionDim`:
    * (institutionCode, collectionCode, institutionName, collectionName). */
  def processAttribution(df: DataFrame, attributionDim: DataFrame): DataFrame = {
    val hasCodes = df.columns.contains("institutionCode") &&
      df.columns.contains("collectionCode")
    val base =
      if (hasCodes) df
      else df.withColumns(ListMap(
        "institutionCode" -> lit(null).cast("string"),
        "collectionCode" -> lit(null).cast("string")))
    val dim = attributionDim.select(
      upper(col("institutionCode")).as("_ic"),
      upper(col("collectionCode")).as("_cc"),
      col("institutionName").as("processed_institutionName"),
      col("collectionName").as("processed_collectionName"))
    base.join(broadcast(dim), upper(col("institutionCode")) === col("_ic") &&
        upper(col("collectionCode")) === col("_cc"), "left")
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
    * One broadcast join of a rank → allowed-names map per resource; a
    * record with no value at a hinted rank passes that rank (reference
    * isMatchValid iterates supplied values). */
  def checkTaxonomicHints(df: DataFrame, hintsDim: DataFrame): DataFrame = {
    if (!df.columns.contains("dataResourceUid")) return df
    val ranks = Seq("kingdom", "phylum", "classs", "family", "genus")
    // one row per resource: rank → allowed names
    val perResource = hintsDim.filter(col("rank").isNotNull)
      .groupBy(col("dataResourceUid"), lower(col("rank")).as("rank"))
      .agg(collect_set(lower(col("name"))).as("allowed"))
      .groupBy("dataResourceUid")
      .agg(map_from_entries(collect_list(struct(col("rank"), col("allowed"))))
        .as("_hints"))
    val joined = df.join(broadcast(perResource), Seq("dataResourceUid"), "left")
    // staged once, then read by every voided field and the assertion
    val staged = joined.withColumn("_scopeMismatch", ranks.map { r =>
      val allowed = element_at(col("_hints"), r)
      val processedVal =
        if (df.columns.contains(s"processed_$r")) lower(col(s"processed_$r"))
        else lit(null).cast("string")
      allowed.isNotNull && processedVal.isNotNull &&
        !array_contains(allowed, processedVal)
    }.reduce(_ || _))
    val mismatch = col("_scopeMismatch") === true
    val voided = Seq("processed_taxonConceptID", "processed_scientificName",
      "processed_taxonRank", "processed_kingdom", "processed_phylum",
      "processed_classs", "processed_family", "processed_genus",
      "processed_lft", "processed_rgt")
      .filter(df.columns.contains)
      .map(c => c -> when(mismatch, lit(null)).otherwise(col(c)))
    staged.withColumns(ListMap(voided :+ ("assertions_hints" -> array_compact(
        array(AssertionCodes.assertCodeIf(mismatch,
          AssertionCodes.RESOURCE_TAXONOMIC_SCOPE_MISMATCH)))): _*))
      .drop("_hints", "_scopeMismatch")
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
    val withRule = df.join(broadcast(rules), nameKey === col("_sensName"), "left")
      .withColumn("_sensRule", mostRestrictive)
    // one projection: every value below reads the stage's input columns
    val blanked = Seq("processed_eventDate", "processed_day")
      .filter(df.columns.contains)
      .map(c => c -> when(withhold, lit(null)).otherwise(col(c)))
    withRule.withColumns(ListMap(Seq(
      "originalSensitiveValues" -> when(sensitive, stash).otherwise(lit(null)),
      // reference adds the generalisation radius to the existing
      // uncertainty (`SensitivityProcessor.scala:185-196`); always double
      "processed_coordinateUncertaintyInMeters" ->
        when(sensitive,
          coalesce(colOr("processed_coordinateUncertaintyInMeters")
            .try_cast("double"), lit(0.0)) + metres)
          .otherwise(colOr("processed_coordinateUncertaintyInMeters")
            .try_cast("double")),
      "processed_decimalLatitude" -> when(sensitive, generalise(lat)).otherwise(lat),
      "processed_decimalLongitude" -> when(sensitive, generalise(lon)).otherwise(lon),
      "processed_dataGeneralizations" ->
        when(sensitive, concat(
          lit("Coordinates generalised to "), metres.cast("string"),
          lit(" metres"),
          when(col("_sensRule.category").isNotNull,
            concat(lit(" ["), col("_sensRule.category"), lit("]")))
            .otherwise(lit("")))).otherwise(lit(null)),
      "processed_informationWithheld" ->
        when(withhold, lit("Event date withheld under a sensitivity rule"))
          .otherwise(lit(null).cast("string")),
      "isSensitive" -> sensitive,
      "assertions_sensitive" -> array_compact(array(
        AssertionCodes.assertCodeIf(sensitive,
          AssertionCodes.DATA_ARE_GENERALISED)))) ++ blanked: _*))
      .drop("_sensName", "_sensRules", "_sensRule")
  }

  /** P5: masked projection for un-authorised consumers vs full for
    * authorised (reference `Store.scala:107` sensitive-field handling). */
  def maskSensitive(df: DataFrame, includeSensitive: Boolean): DataFrame =
    if (includeSensitive && df.columns.contains("originalSensitiveValues"))
      df.withColumns(ListMap(Seq("Latitude", "Longitude").map { c =>
        s"processed_decimal$c" -> coalesce(element_at(
          col("originalSensitiveValues"), s"decimal$c").cast("double"),
          col(s"processed_decimal$c"))
      }: _*))
    else df.drop("originalSensitiveValues")

  /** J13: lft/rgt containment — species-group labels from taxon lft.
    * `groupsDim`: (speciesGroup, lft, rgt), tiny: aggregated to ONE row
    * holding every group sorted by lft, then rgt descending, then name, and
    * broadcast, so each record picks its labels with `filter`/`transform` —
    * no key, no shuffle, and the records' plan runs once. A record in
    * several groups lists them outermost first (of two groups starting at
    * the same lft, the wider one); in none, an empty array. rowKey, when
    * present, leads the output (the order stored snapshots carry). */
  def speciesGroups(df: DataFrame, groupsDim: DataFrame): DataFrame = {
    val groups = groupsDim.filter(col("speciesGroup").isNotNull)
      .agg(sort_array(collect_list(struct(col("lft"),
        (-col("rgt")).as("negRgt"), col("speciesGroup")))).as("_groups"))
    val lft = col("processed_lft")
    val labels = transform(filter(col("_groups"), g =>
      lft >= g.getField("lft") && lft < -g.getField("negRgt")),
      _.getField("speciesGroup"))
    val out = df.crossJoin(broadcast(groups))
      .withColumn("processed_speciesGroups", array_distinct(labels))
    val lead = df.columns.filter(_ == "rowKey").toSeq
    out.select((lead ++ out.columns.filterNot(c => c == "_groups" ||
      lead.contains(c))).map(c => out.col(s"`${c.replace("`", "``")}`")): _*)
  }

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
    df.join(broadcast(dim),
        lower(coalesce(recordRegionCols.map(colOr): _*)) === col(key), "left")
      .withColumn(outCol, array_compact(array(
        AssertionCodes.assertCodeIf(isCentre, code))))
      .drop(key, s"${key}Lat", s"${key}Lon")
  }

  /** F11: coordinates-are-country-centre check (reference
    * `vocab/CountryCentrePoints.scala` + `processor/LocationProcessor
    * .scala:652-790`): a record whose coordinates equal its country's centre
    * point (at 2-dp tolerance, the common data-entry artefact) is flagged.
    * `centresDim`: (country, centreLat, centreLon); see also
    * `LocationProcessor.scala:206-208`. */
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

  /** OFFLINE + REPROCESSING stages against the previous processed snapshot,
    * as ONE rowKey join:
    *  - OFFLINE (reference `processor/OfflineTestProcessor.scala:11-36`):
    *    carry the offline-analytics results — outlier layers, duplication
    *    status/type, associated occurrences, expert-range distance — and the
    *    offline assertion codes forward;
    *  - REPROCESSING (reference `ReprocessingProcessor.scala:18-36`): when
    *    the processed coordinates are unchanged, reuse the snapshot's `cl`
    *    layer-sample map instead of re-sampling (only when it has `cl`).
    * A fact-to-fact join (NOT broadcast: the snapshot is fact-scale); at
    * cluster scale both sides should be bucketed by rowKey so the join is
    * co-located. */
  def carryForward(df: DataFrame, lastProcessed: DataFrame): DataFrame = {
    val has = lastProcessed.columns.toSet
    val offline = array(AssertionCodes.offlineAssertionCodes.map(lit): _*)
    val carried = Seq("processed_outlierForLayers",
      "processed_duplicationStatus", "processed_duplicationType",
      "processed_associatedOccurrences", "processed_distanceOutsideExpertRange")
      .map(c => (if (has(c)) col(c) else lit(null).cast("string")).as(c))
    val codes =
      if (has("assertionCodes")) array_intersect(col("assertionCodes"), offline)
      else array().cast("array<int>")
    val samples =
      if (!has("cl")) Nil
      else Seq(col("processed_decimalLatitude").as("_prevLat"),
        col("processed_decimalLongitude").as("_prevLon"), col("cl").as("_prevCl"))
    val prev = lastProcessed.select(
      (col("rowKey") +: carried) ++ (codes.as("assertions_offline") +: samples): _*)
    val unchanged = col("_prevLat") <=> col("processed_decimalLatitude") &&
      col("_prevLon") <=> col("processed_decimalLongitude") &&
      col("_prevCl").isNotNull
    val existing =
      if (df.columns.contains("cl")) col("cl")
      else lit(null).cast("map<string,string>")
    val reused =
      if (has("cl")) Seq("cl" -> when(unchanged, col("_prevCl")).otherwise(existing))
      else Nil
    df.join(prev, Seq("rowKey"), "left")
      .withColumns(ListMap(("assertions_offline" ->
        coalesce(col("assertions_offline"), array().cast("array<int>"))) +: reused: _*))
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
