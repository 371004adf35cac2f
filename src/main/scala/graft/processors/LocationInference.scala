package graft.processors

import graft.model.AssertionCodes._
import graft.operators.Sampling
import graft.vocab._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.immutable.ListMap

/** Location inference from GIS layers + taxon-profile checks — the part of
  * the reference's LocationProcessor that CONSUMES the layer-sampling
  * output (`processor/LocationProcessor.scala:52-106,135-165,652-790` in
  * /root/reference/src/main/scala/au/org/ala/biocache/):
  *
  *  - state/country/biome from the sampled contextual layers (J3/J4),
  *  - fallback state/country from the supplied values via the vocab tables
  *    when no coordinates exist,
  *  - STATE_COORDINATE_MISMATCH / COUNTRY_INFERRED_FROM_COORDINATES /
  *    UNKNOWN_COUNTRY_NAME assertions,
  *  - centre-of-state / centre-of-country checks at supplied precision,
  *  - habitat (biome) mismatch against the taxon profile (J5) and
  *    conservation-status resolution,
  *  - species-list membership (J12).
  *
  * Spark shape: distinct-coordinate sampling (one shuffle over the distinct
  * coords, never the fact table) + broadcast joins; all assertion logic is
  * narrow column work.
  */
object LocationInference {

  /** Which sampled layer ids carry which semantic (reference Config
    * stateProvinceLayerID / countriesLayerID / terrestrialLayerID /
    * marineLayerID + defaultCountry). */
  case class LayerConfig(
      stateLayerId: String = "cl927", countryLayerId: String = "cl932",
      terrestrialLayerId: String = "cl1048", marineLayerId: String = "cl21",
      defaultCountry: Option[String] = None)

  private val stateVocabUdf = udf((s: String) => StateProvinces.matchTerm(s))
  private val countryVocabUdf = udf((s: String) => Countries.matchTerm(s))
  private val stateToCountryUdf = udf((s: String) =>
    Option(s).flatMap(StateProvinceToCountry.map.get))
  private val stateCentreUdf = udf((state: String, lat: String, lon: String) =>
    state != null && lat != null && lon != null &&
      StateProvinceCentrePoints.coordinatesMatchCentre(state, lat, lon))
  private val countryCentreUdf = udf((country: String, lat: String, lon: String) =>
    country != null && lat != null && lon != null &&
      CountryCentrePoints.coordinatesMatchCentre(country, lat, lon))
  // biome vs taxon-profile habitats: mismatch only when every recognised
  // habitat is incompatible (reference HabitatMap.areTermsCompatible)
  private val biomeMismatchUdf = udf { (biome: String, habitats: Seq[String]) =>
    if (biome == null || habitats == null || habitats.isEmpty) false
    else {
      val verdicts = habitats.flatMap(h => Habitat.isCompatible(h, biome))
      verdicts.nonEmpty && !verdicts.exists(identity)
    }
  }

  private def colOr(df: DataFrame, name: String, default: Column): Column =
    if (df.columns.contains(name)) col(name) else default

  /** Null-guarded UDF application (see Processors.ng): every UDF here maps
    * null input → null/false, so guarding is semantics-preserving and lets
    * Catalyst fold the call away when the input is an absent column. */
  private def ng(u: org.apache.spark.sql.expressions.UserDefinedFunction)(
      c: Column): Column = when(c.isNotNull, u(c))

  /** Sample the distinct processed coordinates against the layer table and
    * attach the `cl` map (J3 + J4). `layers`: (layerId, value, wkt). A
    * pre-existing `cl` column (REPROCESSING carry-over, see
    * `DimensionStages.carryForward`) is preserved: only rows
    * still lacking samples contribute distinct points, so unchanged
    * records cost nothing to re-sample. */
  def attachLayerSamples(spark: SparkSession, df: DataFrame,
      layers: DataFrame): DataFrame = {
    val lat = col("processed_decimalLatitude")
    val lon = col("processed_decimalLongitude")
    val hasPrev = df.columns.contains("cl")
    val base = if (hasPrev) df.withColumnRenamed("cl", "_prevCl") else df
    val needs = if (hasPrev) col("_prevCl").isNull else lit(true)
    val pts = base.filter(needs)
      .select(lat.as("lat"), lon.as("lon"))
      .filter(col("lat").isNotNull && col("lon").isNotNull).distinct()
    val samples = Sampling.samplePoints(spark, pts, layers)
      .select(col("latLonKey").as("_latLonKey"), col("cl"))
    val joined = base.join(broadcast(samples),
      Sampling.latLonKey(lat, lon) === col("_latLonKey"), "left")
    (if (hasPrev) joined.withColumn("cl", coalesce(col("_prevCl"), col("cl")))
      else joined).drop("_latLonKey", "_prevCl")
  }

  /** Inference + assertion stage; expects the `cl` column from
    * [[attachLayerSamples]] (tolerates its absence: all-null layers). */
  def inferStateCountry(df: DataFrame, cfg: LayerConfig): DataFrame = {
    val cl = colOr(df, "cl", lit(null).cast("map<string,string>"))
    val rawState = colOr(df, "stateProvince", lit(null).cast("string"))
    val rawCountry = colOr(df, "country", lit(null).cast("string"))
    val rawCountryCode = colOr(df, "countryCode", lit(null).cast("string"))
    val rawLat = colOr(df, "decimalLatitude", lit(null)).cast("string")
    val rawLon = colOr(df, "decimalLongitude", lit(null)).cast("string")
    val noCoords = col("processed_decimalLatitude").isNull &&
      col("processed_decimalLongitude").isNull

    val stateFromLayers = element_at(cl, cfg.stateLayerId)
    val stateFromRaw = when(noCoords && rawState.isNotNull,
      stateVocabUdf(rawState))
    val state = coalesce(stateFromLayers, stateFromRaw)
    // reference: state layer beats country layer; defaultCountry overrides
    // when the state layer hit (LocationProcessor.scala:63-67)
    val countryFromLayers = cfg.defaultCountry match {
      case Some(dc) => when(stateFromLayers.isNotNull, lit(dc))
        .otherwise(element_at(cl, cfg.countryLayerId))
      case None => element_at(cl, cfg.countryLayerId)
    }
    val country = coalesce(countryFromLayers,
      ng(stateToCountryUdf)(stateFromRaw),
      when(noCoords && rawCountry.isNotNull, countryVocabUdf(rawCountry)),
      ng(countryVocabUdf)(rawCountryCode))
    val biome = when(element_at(cl, cfg.terrestrialLayerId).isNotNull,
        lit("Terrestrial"))
      .when(element_at(cl, cfg.marineLayerId).isNotNull, lit("Marine"))
      .otherwise(lit(null).cast("string"))

    val stateSupplied = ng(stateVocabUdf)(rawState)
    val mismatch = rawState.isNotNull && stateFromLayers.isNotNull &&
      stateSupplied.isNotNull && !(stateSupplied <=> stateFromLayers)

    df.withColumns(ListMap(
      "processed_stateProvince" -> state,
      "processed_country" -> country,
      "processed_biome" -> biome,
      "assertions_inference" -> array_compact(array(
        assertCodeIf(rawCountry.isNotNull &&
          ng(countryVocabUdf)(rawCountry).isNull, UNKNOWN_COUNTRY_NAME),
        assertCodeIf(countryFromLayers.isNotNull && rawCountry.isNull,
          COUNTRY_INFERRED_FROM_COORDINATES),
        assertCodeIf(mismatch, STATE_COORDINATE_MISMATCH),
        // centre UDFs return false on any null input, so the guard is exact
        assertCodeIf(state.isNotNull && rawLat.isNotNull && rawLon.isNotNull &&
          stateCentreUdf(state, rawLat, rawLon),
          COORDINATES_CENTRE_OF_STATEPROVINCE),
        assertCodeIf(coalesce(country, rawCountry).isNotNull &&
          rawLat.isNotNull && rawLon.isNotNull &&
          countryCentreUdf(coalesce(country, rawCountry), rawLat, rawLon),
          COORDINATES_CENTRE_OF_COUNTRY)))))
  }

  /** J5 taxon-profile join + biome-mismatch + conservation statuses.
    * `profiles`: (taxonConceptID, habitats array<string>, commonName,
    * conservation map<string,string> keyed by region name or "global"). */
  def applyTaxonProfiles(df: DataFrame, profiles: DataFrame): DataFrame = {
    val dim = broadcast(profiles.select(
      col("taxonConceptID").as("_profileId"),
      col("habitats").as("processed_speciesHabitats"),
      col("commonName").as("processed_vernacularName"),
      col("conservation").as("_conservation")))
    val joined = df.join(dim,
      colOr(df, "processed_taxonConceptID", lit(null).cast("string")) ===
        col("_profileId"), "left")
    val conservation = col("_conservation")
    val biome = colOr(df, "processed_biome", lit(null).cast("string"))
    joined.withColumns(ListMap(
      "processed_countryConservation" -> element_at(conservation,
        colOr(df, "processed_country", lit(null).cast("string"))),
      "processed_stateConservation" -> element_at(conservation,
        colOr(df, "processed_stateProvince", lit(null).cast("string"))),
      "processed_globalConservation" -> element_at(conservation, lit("global")),
      "assertions_profile" -> array_compact(array(
        assertCodeIf(biome.isNotNull &&
          col("processed_speciesHabitats").isNotNull &&
          biomeMismatchUdf(biome, col("processed_speciesHabitats")),
          HABITAT_MISMATCH)))))
      .drop("_profileId", "_conservation")
  }

  /** J12 species-list membership join. `speciesLists`: (taxonConceptID,
    * listUid) long format → array of list uids per record. */
  def applySpeciesLists(df: DataFrame, speciesLists: DataFrame): DataFrame = {
    val dim = broadcast(speciesLists
      .groupBy(col("taxonConceptID").as("_listTaxonId"))
      .agg(sort_array(collect_set("listUid")).as("processed_speciesListUids")))
    df.join(dim, colOr(df, "processed_taxonConceptID",
        lit(null).cast("string")) === col("_listTaxonId"), "left")
      .drop("_listTaxonId")
  }

  /** IQ stage (reference IdentificationQualifierProcessor): free-text
    * identificationQualifier → Certain / Uncertain / Not recognised /
    * Not provided. */
  def processIdentificationQualifier(df: DataFrame): DataFrame = {
    val iqUdf = udf((s: String) => IdentificationQualifier.classify(s))
    val raw = colOr(df, "identificationQualifier", lit(null).cast("string"))
    // classify(null) == "Not provided": keep that in the otherwise branch so
    // the UDF still folds away when the column is absent
    df.withColumn("processed_identificationQualifier",
      when(raw.isNotNull, iqUdf(raw))
        .otherwise(lit(IdentificationQualifier.NotProvided)))
  }
}
