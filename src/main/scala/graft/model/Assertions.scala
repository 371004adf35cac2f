package graft.model

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Quality-assertion vocabulary.
  *
  * Codes, names, and fatality flags reproduce the reference's assertion code
  * table (`vocab/AssertionCodes.scala:15-171` in
  * /root/reference/src/main/scala/au/org/ala/biocache/): geospatial codes in
  * [0, 10000), taxonomic [10000, 20000), miscellaneous [20000, 30000),
  * temporal [30000, 40000). `fatal` codes flip the record's
  * geospatially/taxonomically-kosher flag.
  */
case class ErrorCode(name: String, code: Int, fatal: Boolean, description: String)

object AssertionCodes {
  // geospatial
  val GEOSPATIAL_ISSUE = ErrorCode("geospatialIssue", 0, true, "Geospatial issue")
  val NEGATED_LATITUDE = ErrorCode("negatedLatitude", 1, false, "Latitude is negated")
  val NEGATED_LONGITUDE = ErrorCode("negatedLongitude", 2, false, "Longitude is negated")
  val INVERTED_COORDINATES = ErrorCode("invertedCoordinates", 3, false, "Coordinates are transposed")
  val ZERO_COORDINATES = ErrorCode("zeroCoordinates", 4, true, "Supplied coordinates are zero")
  val COORDINATES_OUT_OF_RANGE = ErrorCode("coordinatesOutOfRange", 5, true, "Coordinates are out of range")
  val UNKNOWN_COUNTRY_NAME = ErrorCode("unknownCountry", 6, false, "Supplied country not recognised")
  val ALTITUDE_OUT_OF_RANGE = ErrorCode("altitudeOutOfRange", 7, false, "Altitude out of range")
  val BADLY_FORMED_ALTITUDE = ErrorCode("erroneousAltitude", 8, false, "Badly formed altitude")
  val MIN_MAX_ALTITUDE_REVERSED = ErrorCode("minMaxAltitudeReversed", 9, false, "Min and max altitude reversed")
  val DEPTH_IN_FEET = ErrorCode("depthInFeet", 10, false, "Depth value supplied in feet")
  val DEPTH_OUT_OF_RANGE = ErrorCode("depthOutOfRange", 11, false, "Depth out of range")
  val MIN_MAX_DEPTH_REVERSED = ErrorCode("minMaxDepthReversed", 12, false, "Min and max depth reversed")
  val ALTITUDE_IN_FEET = ErrorCode("altitudeInFeet", 13, false, "Altitude value supplied in feet")
  val ALTITUDE_NON_NUMERIC = ErrorCode("altitudeNonNumeric", 14, false, "Altitude value non-numeric")
  val DEPTH_NON_NUMERIC = ErrorCode("depthNonNumeric", 15, false, "Depth value non-numeric")
  val COUNTRY_COORDINATE_MISMATCH = ErrorCode("countryCoordinateMismatch", 16, false, "Coordinates dont match supplied country")
  val PRECISION_RANGE_MISMATCH = ErrorCode("precisionRangeMismatch", 17, false, "The precision value should be between 0 and 1.")
  val STATE_COORDINATE_MISMATCH = ErrorCode("stateCoordinateMismatch", 18, false, "Coordinates dont match supplied state")
  val COORDINATES_CENTRE_OF_STATEPROVINCE = ErrorCode("coordinatesCentreOfStateProvince", 22, true, "Supplied coordinates centre of state")
  val COORDINATE_PRECISION_MISMATCH = ErrorCode("coordinatePrecisionMismatch", 23, false, "Coordinate precision not valid")
  val MISSING_COORDINATEPRECISION = ErrorCode("missingCoordinatePrecision", 29, false, "coordinatePrecision not supplied with the record")
  val MISSING_GEOREFERENCEDBY = ErrorCode("missingGeorefencedBy", 31, false, "GeoreferencedBy not supplied with the record")
  val MISSING_GEOREFERENCEPROTOCOL = ErrorCode("missingGeoreferenceProtocol", 32, false, "GeoreferenceProtocol not supplied with the record")
  val MISSING_GEOREFERENCESOURCES = ErrorCode("missingGeoreferenceSources", 33, false, "GeoreferenceSources not supplied with the record")
  val MISSING_GEOREFERENCEVERIFICATIONSTATUS = ErrorCode("missingGeoreferenceVerificationStatus", 34, false, "GeoreferenceVerificationStatus not supplied with the record")
  val INVALID_GEODETICDATUM = ErrorCode("invalidGeodeticDatum", 35, false, "The geodetic datum is not valid")
  val MISSING_GEOREFERENCE_DATE = ErrorCode("missingGeoreferenceDate", 42, false, "GeoreferenceDate not supplied with the record")
  val DECIMAL_LAT_LONG_CONVERTED = ErrorCode("decimalLatLongConverted", 45, false, "Decimal latitude and longitude were converted to WGS84")
  val DECIMAL_LAT_LONG_CONVERSION_FAILED = ErrorCode("decimalLatLongConversionFailed", 46, true, "Conversion of decimal latitude and longitude to WGS84 failed")
  val DECIMAL_LAT_LONG_CALCULATION_FROM_VERBATIM_FAILED = ErrorCode("decimalLatLongCalculationFromVerbatimFailed", 48, true, "Failed to calculate decimal latitude and longitude from verbatimLatitude, verbatimLongitude and verbatimSRS")
  val DECIMAL_LAT_LONG_CALCULATED_FROM_EASTING_NORTHING = ErrorCode("decimalLatLongCalculatedFromEastingNorthing", 49, false, "Decimal latitude and longitude were calculated using easting, nothing and zone")
  val DECIMAL_LAT_LONG_CALCULATION_FROM_EASTING_NORTHING_FAILED = ErrorCode("decimalLatLongCalculationFromEastingNorthingFailed", 50, true, "Failed to calculate decimal latitude and longitude using easting, northing and zone")
  val GEODETIC_DATUM_ASSUMED_WGS84 = ErrorCode("geodeticDatumAssumedWgs84", 51, false, "Geodetic datum assumed to be WGS84 (EPSG:4326)")
  val UNRECOGNIZED_GEODETIC_DATUM = ErrorCode("unrecognizedGeodeticDatum", 52, false, "Geodetic datum not recognized")
  val COORDINATES_CENTRE_OF_COUNTRY = ErrorCode("coordinatesCentreOfCountry", 28, true, "Supplied coordinates centre of country")
  val DECIMAL_LAT_LONG_CALCULATED_FROM_GRID_REF = ErrorCode("decimalLatLongCalculatedFromGridReference", 55, false, "Decimal latitude and longitude were calculated using grid reference")
  val HABITAT_MISMATCH = ErrorCode("habitatMismatch", 19, true, "Habitat incorrect for species")
  val DETECTED_OUTLIER = ErrorCode("detectedOutlier", 20, true, "Suspected outlier")
  val COUNTRY_INFERRED_FROM_COORDINATES = ErrorCode("countryInferredByCoordinates", 21, false, "Country inferred from coordinates")
  val UNCERTAINTY_RANGE_MISMATCH = ErrorCode("uncertaintyRangeMismatch", 24, false, "Coordinate accuracy not valid")
  val UNCERTAINTY_IN_PRECISION = ErrorCode("uncertaintyInPrecision", 25, false, "Coordinate precision and accuracy transposed")
  val SPECIES_OUTSIDE_EXPERT_RANGE = ErrorCode("speciesOutsideExpertRange", 26, true, "Geographic coordinates are outside the range as defined by expert/s for the taxa")
  val UNCERTAINTY_NOT_SPECIFIED = ErrorCode("uncertaintyNotSpecified", 27, false, "Coordinate uncertainty was not supplied")
  val MISSING_GEODETICDATUM = ErrorCode("missingGeodeticDatum", 30, false, "geodeticDatum not supplied for coordinates")
  val LOCATION_NOT_SUPPLIED = ErrorCode("locationNotSupplied", 43, false, "No location information has been provided with the record")
  val DECIMAL_COORDINATES_NOT_SUPPLIED = ErrorCode("decimalCoordinatesNotSupplied", 44, false, "No decimal longitude and latitude provided")
  val DECIMAL_LAT_LONG_CALCULATED_FROM_VERBATIM = ErrorCode("decimalLatLongCalculatedFromVerbatim", 47, false, "Decimal latitude and longitude were calculated using verbatimLatitude, verbatimLongitude and verbatimSRS")
  val ZERO_LATITUDE_COORDINATES = ErrorCode("zeroLatitude", 53, true, "Supplied latitude is zero")
  val ZERO_LONGITUDE_COORDINATES = ErrorCode("zeroLongitude", 54, true, "Supplied longitude are zero")
  // taxonomic
  val TAXONOMIC_ISSUE = ErrorCode("taxonomicIssue", 10000, false, "Taxonomic issue")
  val INVALID_SCIENTIFIC_NAME = ErrorCode("invalidScientificName", 10001, false, "Invalid scientific name")
  val UNKNOWN_KINGDOM = ErrorCode("unknownKingdom", 10002, false, "Kingdom not recognised")
  val AMBIGUOUS_NAME = ErrorCode("ambiguousName", 10003, false, "Higher taxonomy missing")
  val NAME_NOT_RECOGNISED = ErrorCode("nameNotRecognised", 10004, false, "Name not recognised")
  val NAME_NOT_IN_NATIONAL_CHECKLISTS = ErrorCode("nameNotInNationalChecklists", 10005, false, "Name not in national checklists")
  val HOMONYM_ISSUE = ErrorCode("homonymIssue", 10006, false, "Homonym issues with supplied name")
  val IDENTIFICATION_INCORRECT = ErrorCode("identificationIncorrect", 10007, false, "Taxon misidentified")
  val MISSING_TAXONRANK = ErrorCode("missingTaxonRank", 10008, false, "taxonRank not supplied with the record")
  val MISSING_IDENTIFICATIONQUALIFIER = ErrorCode("missingIdentificationQualifier", 10009, false, "identificationQualifier not supplied with the record")
  val MISSING_IDENTIFIEDBY = ErrorCode("missingIdentifiedBy", 10010, false, "identifiedBy not supplied with the record")
  val MISSING_IDENTIFICATIONREFERENCES = ErrorCode("missingIdentificationReferences", 10011, false, "identificationReferences not supplied with the record")
  val MISSING_DATEIDENTIFIED = ErrorCode("missingDateIdentified", 10012, false, "identificationDate not supplied with the record")
  val NAME_NOT_SUPPLIED = ErrorCode("nameNotSupplied", 10015, false, "No scientific name or vernacular name was supplied")
  // miscellaneous
  val MISSING_BASIS_OF_RECORD = ErrorCode("missingBasisOfRecord", 20001, true, "Basis of record not supplied")
  val BADLY_FORMED_BASIS_OF_RECORD = ErrorCode("badlyFormedBasisOfRecord", 20002, true, "Basis of record badly formed")
  val UNRECOGNISED_TYPESTATUS = ErrorCode("unrecognisedTypeStatus", 20004, false, "Type status not recognised")
  val UNRECOGNISED_COLLECTION_CODE = ErrorCode("unrecognisedCollectionCode", 20005, false, "Collection code not recognised")
  val UNRECOGNISED_INSTITUTION_CODE = ErrorCode("unrecognisedInstitutionCode", 20006, false, "Institution code not recognised")
  val INVALID_IMAGE_URL = ErrorCode("invalidImageUrl", 20007, false, "Image URL invalid")
  val RESOURCE_TAXONOMIC_SCOPE_MISMATCH = ErrorCode("resourceTaxonomicScopeMismatch", 20008, false, "Taxonomic scope mismatch between record and resource")
  val DATA_ARE_GENERALISED = ErrorCode("dataAreGeneralised", 20009, false, "The data has been supplied generalised")
  val OCCURRENCE_IS_CULTIVATED_OR_ESCAPEE = ErrorCode("occCultivatedEscapee", 20010, false, "The occurrence is cultivated or escaped.")
  val INFERRED_DUPLICATE_RECORD = ErrorCode("inferredDuplicateRecord", 20014, false, "The occurrence appears to be a duplicate")
  val MISSING_CATALOGUENUMBER = ErrorCode("missingCatalogueNumber", 20015, false, "No catalogue number has been supplied")
  val RECORDED_BY_UNPARSABLE = ErrorCode("recordedByUnparsable", 20016, false, "RecordedBy value unparseable")
  val UNRECOGNISED_OCCURRENCE_STATUS = ErrorCode("unrecognisedOccurrenceStatus", 20017, false, "Occurrence status not recognised")
  val ASSUMED_PRESENT_OCCURRENCE_STATUS = ErrorCode("assumedPresentOccurrenceStatus", 20018, false, "Occurrence status assumed to be present")
  val USER_ASSERTION_OTHER = ErrorCode("userAssertionOther", 20019, false, "Other error")
  val USER_DUPLICATE_RECORD = ErrorCode("userDuplicateRecord", 20020, false, "The occurrence appears to be a duplicate")
  // temporal
  val TEMPORAL_ISSUE = ErrorCode("temporalIssue", 30000, false, "Temporal issue")
  val ID_PRE_OCCURRENCE = ErrorCode("idPreOccurrence", 30001, false, "Identification date before occurrence date")
  val FIRST_OF_MONTH = ErrorCode("firstOfMonth", 30003, false, "First of the month")
  val FIRST_OF_YEAR = ErrorCode("firstOfYear", 30004, false, "First of the year")
  val FIRST_OF_CENTURY = ErrorCode("firstOfCentury", 30005, false, "First of the century")
  val INVALID_COLLECTION_DATE = ErrorCode("invalidCollectionDate", 30007, false, "Invalid collection date")
  val MISSING_COLLECTION_DATE = ErrorCode("missingCollectionDate", 30008, false, "Missing collection date")
  val DAY_MONTH_TRANSPOSED = ErrorCode("dayMonthTransposed", 30009, false, "Day and month transposed")
  val INCOMPLETE_COLLECTION_DATE = ErrorCode("incompleteCollectionDate", 30010, false, "The date supplied was incomplete, missing the day and/or month component")
  val GEOREFERENCE_POST_OCCURRENCE = ErrorCode("georefPostDate", 30002, false, "Georeferenced after occurrence date")
  val DATE_PRECISION_MISMATCH = ErrorCode("datePrecisionMismatch", 30006, false, "Date precision invalid")
  // verified / system
  val VERIFIED = ErrorCode("userVerified", 50000, true, "Record Verified by collection manager")
  val PROCESSING_ERROR = ErrorCode("processingError", 60000, true, "The system has incorrectly processed a record")
  val MEDIA_REPRESENTATIVE = ErrorCode("mediaRepresentative", 70000, false, "Media representative of taxon")
  val MEDIA_UNREPRESENTATIVE = ErrorCode("mediaUnrepresentative", 70001, false, "Media not representative of taxon")

  val all: Seq[ErrorCode] = Seq(
    GEOSPATIAL_ISSUE, NEGATED_LATITUDE, NEGATED_LONGITUDE,
    INVERTED_COORDINATES, ZERO_COORDINATES, COORDINATES_OUT_OF_RANGE,
    UNKNOWN_COUNTRY_NAME, ALTITUDE_OUT_OF_RANGE, BADLY_FORMED_ALTITUDE,
    MIN_MAX_ALTITUDE_REVERSED, DEPTH_IN_FEET, DEPTH_OUT_OF_RANGE,
    MIN_MAX_DEPTH_REVERSED, ALTITUDE_IN_FEET, ALTITUDE_NON_NUMERIC,
    DEPTH_NON_NUMERIC, COUNTRY_COORDINATE_MISMATCH, PRECISION_RANGE_MISMATCH,
    STATE_COORDINATE_MISMATCH, COORDINATES_CENTRE_OF_STATEPROVINCE,
    COORDINATE_PRECISION_MISMATCH, COORDINATES_CENTRE_OF_COUNTRY,
    MISSING_COORDINATEPRECISION, MISSING_GEOREFERENCEDBY,
    MISSING_GEOREFERENCEPROTOCOL, MISSING_GEOREFERENCESOURCES,
    MISSING_GEOREFERENCEVERIFICATIONSTATUS, INVALID_GEODETICDATUM,
    MISSING_GEOREFERENCE_DATE, DECIMAL_LAT_LONG_CONVERTED,
    DECIMAL_LAT_LONG_CONVERSION_FAILED,
    DECIMAL_LAT_LONG_CALCULATION_FROM_VERBATIM_FAILED,
    DECIMAL_LAT_LONG_CALCULATED_FROM_EASTING_NORTHING,
    DECIMAL_LAT_LONG_CALCULATION_FROM_EASTING_NORTHING_FAILED,
    GEODETIC_DATUM_ASSUMED_WGS84, UNRECOGNIZED_GEODETIC_DATUM,
    DECIMAL_LAT_LONG_CALCULATED_FROM_GRID_REF,
    UNRECOGNISED_COLLECTION_CODE, UNRECOGNISED_INSTITUTION_CODE,
    DATA_ARE_GENERALISED, USER_ASSERTION_OTHER,
    HABITAT_MISMATCH, DETECTED_OUTLIER,
    COUNTRY_INFERRED_FROM_COORDINATES, UNCERTAINTY_RANGE_MISMATCH,
    UNCERTAINTY_IN_PRECISION, SPECIES_OUTSIDE_EXPERT_RANGE,
    UNCERTAINTY_NOT_SPECIFIED, MISSING_GEODETICDATUM, LOCATION_NOT_SUPPLIED,
    DECIMAL_COORDINATES_NOT_SUPPLIED,
    DECIMAL_LAT_LONG_CALCULATED_FROM_VERBATIM, ZERO_LATITUDE_COORDINATES,
    ZERO_LONGITUDE_COORDINATES, TAXONOMIC_ISSUE, INVALID_SCIENTIFIC_NAME,
    UNKNOWN_KINGDOM, AMBIGUOUS_NAME, NAME_NOT_RECOGNISED,
    NAME_NOT_IN_NATIONAL_CHECKLISTS, HOMONYM_ISSUE, IDENTIFICATION_INCORRECT,
    MISSING_TAXONRANK, MISSING_IDENTIFICATIONQUALIFIER, MISSING_IDENTIFIEDBY,
    MISSING_IDENTIFICATIONREFERENCES, MISSING_DATEIDENTIFIED,
    NAME_NOT_SUPPLIED,
    MISSING_BASIS_OF_RECORD, BADLY_FORMED_BASIS_OF_RECORD,
    UNRECOGNISED_TYPESTATUS, INVALID_IMAGE_URL,
    RESOURCE_TAXONOMIC_SCOPE_MISMATCH, OCCURRENCE_IS_CULTIVATED_OR_ESCAPEE,
    INFERRED_DUPLICATE_RECORD, MISSING_CATALOGUENUMBER,
    RECORDED_BY_UNPARSABLE,
    UNRECOGNISED_OCCURRENCE_STATUS, ASSUMED_PRESENT_OCCURRENCE_STATUS,
    USER_DUPLICATE_RECORD,
    TEMPORAL_ISSUE, ID_PRE_OCCURRENCE, GEOREFERENCE_POST_OCCURRENCE,
    FIRST_OF_MONTH, FIRST_OF_YEAR,
    FIRST_OF_CENTURY, DATE_PRECISION_MISMATCH, INVALID_COLLECTION_DATE,
    MISSING_COLLECTION_DATE,
    DAY_MONTH_TRANSPOSED, INCOMPLETE_COLLECTION_DATE,
    VERIFIED, PROCESSING_ERROR, MEDIA_REPRESENTATIVE, MEDIA_UNREPRESENTATIVE)

  def byCode(code: Int): Option[ErrorCode] = all.find(_.code == code)

  /** Assertions produced by the offline analytics passes, carried forward
    * on reprocess (reference `AssertionCodes.offlineAssertionCodes`). */
  val offlineAssertionCodes: Seq[Int] =
    Seq(INFERRED_DUPLICATE_RECORD, SPECIES_OUTSIDE_EXPERT_RANGE,
      DETECTED_OUTLIER).map(_.code)

  def isGeospatial(code: Int): Boolean = code >= 0 && code < 10000
  def isTaxonomic(code: Int): Boolean = code >= 10000 && code < 20000

  /** Column helper for one assertion, in compact form: pipeline stages
    * carry assertion CODES (array<int>) and the struct array (schema: name,
    * code, qaStatus, comment; reference `model/QualityAssertion.scala:20-57`)
    * is materialised once at the end by [[assembleFromCodes]] — per-stage
    * struct construction is interpreted (no codegen for array-of-struct
    * building) and dominated enrichment cost when done eight times per
    * row. */
  def assertCodeIf(cond: Column, ec: ErrorCode): Column =
    when(cond, lit(ec.code)).otherwise(lit(null))

  /** The public assertion record shape (reference
    * `model/QualityAssertion.scala:20-53`). */
  case class QualityAssertion(name: String, code: Int, qaStatus: Int,
      comment: String)

  private val nameByCode: Map[Int, String] = all.map(ec => ec.code -> ec.name).toMap

  /** Everything derived from the code array — the struct column and both
    * kosher flags (no fatal geospatial / taxonomic assertion present;
    * reference `load/FullRecordMapper.scala` kosher computation). */
  case class AssembledAssertions(assertions: Seq[QualityAssertion],
      geospatiallyKosher: Boolean, taxonomicallyKosher: Boolean)

  private val fatalGeoSet =
    all.filter(c => c.fatal && isGeospatial(c.code)).map(_.code).toSet
  private val fatalTaxonSet =
    all.filter(c => c.fatal && isTaxonomic(c.code)).map(_.code).toSet
  private val assembleMemo = new java.util.concurrent.ConcurrentHashMap[
    Seq[Int], AssembledAssertions]()

  /** Fused final assembly: one kernel pass per row computes the struct
    * array AND both kosher flags (separately they cost three passes —
    * one interpreted UDF plus two arrays_overlap scans). Assertion-code
    * combinations are categorical, so the result is memoised per distinct
    * code array per executor (bounded; overflow degrades to computing). */
  private def buildAssembled(codes: Seq[Int]): AssembledAssertions =
    AssembledAssertions(
      codes.map(c => QualityAssertion(nameByCode.getOrElse(c, "unknown"), c, 0, "")),
      !codes.exists(fatalGeoSet), !codes.exists(fatalTaxonSet))

  val assembleFromCodes: Column => Column = {
    val u = udf { (codes: Seq[Int]) =>
      if (AssertionCodes.assembleMemo.size > 65536)
        AssertionCodes.buildAssembled(codes)
      else AssertionCodes.assembleMemo.computeIfAbsent(codes,
        AssertionCodes.buildAssembled(_))
    }
    (codes: Column) => u(codes)
  }
}
