package graft.processors

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The full dimension-backed pipeline end-to-end (every stage active). */
class EnrichAllSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Two records with every dimension of [[Processors.Dimensions]] set. */
  private lazy val fixture = {
    val raw = Seq(
      ("dr1|r1", "dr1", "2012-03-05", "-35.26781", "149.26189",
        "Macropus rufus", "CSIRO", "ANIC", null: String),
      ("dr1|r2", "dr1", "2013-04-01", "-25.0", "135.0",
        "Plainus speciesus", "XX", "YY", "PreservedSpecimen"))
      .toDF("rowKey", "dataResourceUid", "eventDate", "decimalLatitude",
        "decimalLongitude", "scientificName", "institutionCode",
        "collectionCode", "basisOfRecord")
      .withColumn("country", lit("Australia"))
    val dims = Processors.Dimensions(
      names = Some(Seq(
        ("macropus rufus", "lsid:1", "Macropus rufus", "species", "Animalia",
          "Macropodidae", "Macropus", 150, 151),
        ("plainus speciesus", "lsid:2", "Plainus speciesus", "species",
          "Animalia", "Plainidae", "Plainus", 400, 401))
        .toDF("nameLower", "taxonConceptID", "acceptedName", "taxonRank",
          "kingdom", "family", "genus", "lft", "rgt")),
      defaults = Some(Seq(("dr1", "basisOfRecord", "HumanObservation"))
        .toDF("dataResourceUid", "field", "value")),
      attribution = Some(Seq(("CSIRO", "ANIC", "CSIRO", "ANIC collection"))
        .toDF("institutionCode", "collectionCode", "institutionName",
          "collectionName")),
      sensitivity = Some(Seq(("macropus rufus", 10000))
        .toDF("nameLower", "generalisationMetres")),
      speciesGroups = Some(Seq(("Mammals", 100, 200))
        .toDF("speciesGroup", "lft", "rgt")),
      countryCentres = Some(Seq(("Australia", -25.0, 135.0))
        .toDF("country", "centreLat", "centreLon")),
      stateCentres = Some(Seq(("Australian Capital Territory", -35.3, 149.1))
        .toDF("stateProvince", "centreLat", "centreLon")),
      layers = Some(Seq(("cl927", "Australian Capital Territory",
        "POLYGON((148 -36, 150 -36, 150 -35, 148 -35, 148 -36))"))
        .toDF("layerId", "value", "wkt")),
      taxonProfiles = Some(Seq(("lsid:1", Seq("Terrestrial"), "Red Kangaroo",
        Map("global" -> "LC"))).toDF("taxonConceptID", "habitats",
        "commonName", "conservation")),
      speciesLists = Some(Seq(("lsid:1", "dr9")).toDF("taxonConceptID", "listUid")),
      taxonomicHints = Some(Seq(("dr1", "kingdom", "Animalia"))
        .toDF("dataResourceUid", "rank", "name")),
      lastProcessed = Some(Seq(("dr1|r2", -25.0, 135.0,
        Map("cl927" -> "Prev"), Seq(20014, 4), "D1"))
        .toDF("rowKey", "processed_decimalLatitude",
          "processed_decimalLongitude", "cl", "assertionCodes",
          "processed_duplicationStatus")))
    (raw, dims)
  }

  private def schemaOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.schema.fields.toSeq.map(f => s"${f.name} ${f.dataType.simpleString}")

  test("enrichAll composes all stages; every dim participates") {
    val (raw, all) = fixture
    val dims = Processors.Dimensions(names = all.names,
      defaults = all.defaults, attribution = all.attribution,
      sensitivity = all.sensitivity, speciesGroups = all.speciesGroups,
      countryCentres = all.countryCentres)
    val out = Processors.enrichAll(raw, dims).cache()

    // default fills only the null basisOfRecord
    val bors = out.select($"rowKey", $"processed_basisOfRecord")
      .as[(String, String)].collect().toMap
    assert(bors("dr1|r1") == "HumanObservation")
    assert(bors("dr1|r2") == "PreservedSpecimen")

    // attribution resolved for r1, flagged unknown for r2
    val attrNames = out.select($"rowKey", $"processed_collectionName")
      .as[(String, String)].collect().toMap
    assert(attrNames("dr1|r1") == "ANIC collection")
    assert(attrNames("dr1|r2") == null)

    // sensitivity generalised r1's coordinates (10 km -> 1 dp)
    val lat1 = out.filter($"rowKey" === "dr1|r1")
      .select("processed_decimalLatitude").head().getDouble(0)
    assert(lat1 == -35.3)

    // species group from lft containment
    val groups = out.select($"rowKey", $"processed_speciesGroups")
      .as[(String, Seq[String])].collect().toMap
    assert(groups("dr1|r1") == Seq("Mammals"))
    assert(groups("dr1|r2").isEmpty)

    // centre-point assertion fires for r2 (exact country centre), fatal
    val codes = out.select($"rowKey", $"assertionCodes")
      .as[(String, Seq[Int])].collect().toMap
    assert(codes("dr1|r2").contains(28))
    assert(codes("dr1|r1").contains(20009)) // dataAreGeneralised
    val kosher = out.select($"rowKey", $"geospatiallyKosher")
      .as[(String, Boolean)].collect().toMap
    assert(!kosher("dr1|r2") && kosher("dr1|r1"))
  }

  /** `name type` per column, in order, from a `"; "`-separated listing. */
  private def listing(s: String): Seq[String] =
    s.stripMargin.replace("\n", " ").split(";").map(_.trim).toSeq

  test("output schema with no dimensions: names, types and order") {
    val (raw, _) = fixture
    assert(schemaOf(Processors.enrichAll(raw, Processors.Dimensions())) ==
      listing("""
      |rowKey string; dataResourceUid string; eventDate string;
      |decimalLatitude string; decimalLongitude string; scientificName string;
      |institutionCode string; collectionCode string; basisOfRecord string;
      |country string; processed_basisOfRecord string;
      |processed_occurrenceStatus string; processed_typeStatus string;
      |processed_sex string; processed_lifeStage string;
      |processed_establishmentMeans string; processed_license string;
      |processed_recordedBy string; processed_interactions array<string>;
      |processed_images string; processed_sounds string;
      |processed_videos string; processed_eventDate date;
      |processed_eventDateEnd date; processed_year int; processed_month int;
      |processed_day int; processed_datePrecision string;
      |processed_modified date; processed_dateIdentified date;
      |processed_georeferencedDate date; processed_decimalLatitude double;
      |processed_decimalLongitude double; processed_geodeticDatum string;
      |processed_coordinateUncertaintyInMeters double;
      |processed_georeferencedBy string;
      |processed_georeferenceProtocol string;
      |processed_georeferenceSources string;
      |processed_georeferenceVerificationStatus string;
      |processed_georeferenceRemarks string;
      |processed_verbatimElevation double; processed_verbatimDepth double;
      |processed_minimumDepthInMeters double;
      |processed_maximumDepthInMeters double;
      |processed_minimumElevationInMeters double;
      |processed_maximumElevationInMeters double;
      |processed_identificationQualifier string;
      |processed_stateProvince string; processed_country string;
      |processed_biome string; assertionCodes array<int>;
      |assertions array<struct<name:string,code:int,qaStatus:int,comment:string>>;
      |geospatiallyKosher boolean; taxonomicallyKosher boolean"""))
  }

  test("output schema with every dimension: names, types and order") {
    val (raw, dims) = fixture
    assert(schemaOf(Processors.enrichAll(raw, dims)) == listing("""
      |rowKey string; dataResourceUid string; eventDate string;
      |decimalLatitude string; decimalLongitude string; scientificName string;
      |institutionCode string; collectionCode string; basisOfRecord string;
      |country string; processed_institutionName string;
      |processed_collectionName string; processed_basisOfRecord string;
      |processed_occurrenceStatus string; processed_typeStatus string;
      |processed_sex string; processed_lifeStage string;
      |processed_establishmentMeans string; processed_license string;
      |processed_recordedBy string; processed_interactions array<string>;
      |processed_images string; processed_sounds string;
      |processed_videos string; processed_taxonConceptID string;
      |processed_scientificName string; processed_taxonRank string;
      |processed_kingdom string; processed_phylum string;
      |processed_classs string; processed_family string;
      |processed_genus string; processed_lft bigint; processed_rgt bigint;
      |processed_nameMatchMetric string; processed_eventDate date;
      |processed_eventDateEnd date; processed_year int; processed_month int;
      |processed_day int; processed_datePrecision string;
      |processed_modified date; processed_dateIdentified date;
      |processed_georeferencedDate date; processed_decimalLatitude double;
      |processed_decimalLongitude double; processed_geodeticDatum string;
      |processed_coordinateUncertaintyInMeters double;
      |processed_georeferencedBy string;
      |processed_georeferenceProtocol string;
      |processed_georeferenceSources string;
      |processed_georeferenceVerificationStatus string;
      |processed_georeferenceRemarks string;
      |processed_verbatimElevation double; processed_verbatimDepth double;
      |processed_minimumDepthInMeters double;
      |processed_maximumDepthInMeters double;
      |processed_minimumElevationInMeters double;
      |processed_maximumElevationInMeters double;
      |processed_identificationQualifier string;
      |processed_outlierForLayers string; processed_duplicationStatus string;
      |processed_duplicationType string;
      |processed_associatedOccurrences string;
      |processed_distanceOutsideExpertRange string; cl map<string,string>;
      |processed_stateProvince string; processed_country string;
      |processed_biome string; processed_speciesHabitats array<string>;
      |processed_vernacularName string; processed_countryConservation string;
      |processed_stateConservation string;
      |processed_globalConservation string;
      |processed_speciesListUids array<string>;
      |originalSensitiveValues map<string,string>;
      |processed_dataGeneralizations string;
      |processed_informationWithheld string; isSensitive boolean;
      |processed_speciesGroups array<string>; assertionCodes array<int>;
      |assertions array<struct<name:string,code:int,qaStatus:int,comment:string>>;
      |geospatiallyKosher boolean; taxonomicallyKosher boolean"""))
  }

  test("species groups need no rowKey: records without one still get labels") {
    val (raw, dims) = fixture
    val out = Processors.enrichAll(raw.drop("rowKey"),
      Processors.Dimensions(names = dims.names,
        speciesGroups = Some(Seq(("Mammals", 100, 200), ("Vertebrates", 1, 300),
          ("Animals", 1, 500), ("Mammals", 140, 160))
          .toDF("speciesGroup", "lft", "rgt"))))
    assert(!out.columns.contains("rowKey"))
    val groups = out.select($"scientificName", $"processed_speciesGroups")
      .as[(String, Seq[String])].collect().toMap
    // outermost first (at a shared lft the wider group), each label once
    assert(groups("Macropus rufus") == Seq("Animals", "Vertebrates", "Mammals"))
    assert(groups("Plainus speciesus") == Seq("Animals"))
  }

  test("species groups without a snapshot: rowKey leads, as before") {
    val (raw, dims) = fixture
    val out = Processors.enrichAll(raw.select("scientificName", "rowKey"),
      Processors.Dimensions(names = dims.names,
        speciesGroups = dims.speciesGroups))
    assert(out.columns.take(2).toSeq == Seq("rowKey", "scientificName"))
    assert(out.filter($"rowKey" === "dr1|r1").select("processed_speciesGroups")
      .as[Seq[String]].head() == Seq("Mammals"))
  }
}
