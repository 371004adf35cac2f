package graft.sources

import graft.SparkTestSession
import graft.index.{IndexSupport, Serving}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** miscProperties catch-all (reference `model/FullRecord.scala:28-32`,
  * `dao/OccurrenceDAOImpl.scala:185-303`, `Store.scala:695-719`): unmapped
  * input columns fold into one map column on load, ride through the index
  * projection, surface as typed dynamic columns, and pass through downloads.
  */
class MiscPropertiesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def load() = DwcSource.loadRows(spark, Seq(
    Map("occurrenceID" -> "o1", "scientificName" -> "Macropus rufus",
      "sourceSystem" -> "legacy", "count_i" -> "12", "weight_d" -> "3.5"),
    Map("occurrenceID" -> "o2", "scientificName" -> "Macropus rufus",
      "sourceSystem" -> "modern"),
    Map("occurrenceID" -> "o3", "scientificName" -> "Aves")),
    "dr1", Seq("occurrenceID"))

  test("unmapped columns fold into miscProperties; DwC terms do not") {
    val df = load()
    assert(df.columns.contains("miscProperties"))
    assert(!df.columns.contains("sourceSystem") && !df.columns.contains("count_i"))
    assert(df.columns.contains("scientificName")) // model term stays a column
    val m = df.filter(col("occurrenceID") === "o1")
      .select("miscProperties").as[Map[String, String]].head()
    assert(m == Map("sourceSystem" -> "legacy", "count_i" -> "12",
      "weight_d" -> "3.5"))
    // null values are absent, not null-valued keys
    val m2 = df.filter(col("occurrenceID") === "o2")
      .select("miscProperties").as[Map[String, String]].head()
    assert(m2 == Map("sourceSystem" -> "modern"))
    // terms the ENRICHMENT consumes but the index does not must stay columns
    val withVerbatim = DwcSource.loadRows(spark, Seq(
      Map("occurrenceID" -> "o1", "verbatimSRS" -> "EPSG:4326",
        "easting" -> "310000", "georeferencedBy" -> "someone",
        "associatedTaxa" -> "eats:Grass")), "dr1", Seq("occurrenceID"))
    Seq("verbatimSRS", "easting", "georeferencedBy", "associatedTaxa")
      .foreach(t => assert(withVerbatim.columns.contains(t), t))
  }

  test("re-ingest roundtrip: an exported miscProperties JSON cell parses back") {
    // our CSV/DwC-A sinks serialise the map as a JSON string; loading that
    // export must restore the SAME map, not a map nested inside a string
    val loaded = load()
    val dir = java.nio.file.Files.createTempDirectory("graft_misc_rt").toString
    graft.Store.writeCsv(loaded, dir)
    val back = DwcSource.loadCsv(spark, dir, "dr1", Seq("occurrenceID"))
    val m = back.filter(col("occurrenceID") === "o1")
      .select("miscProperties").as[Map[String, String]].head()
    assert(m == Map("sourceSystem" -> "legacy", "count_i" -> "12",
      "weight_d" -> "3.5"))
    // rowKeys identical across the roundtrip (same unique terms)
    assert(back.select("rowKey").as[String].collect().sorted.toSeq ==
      loaded.select("rowKey").as[String].collect().sorted.toSeq)
    // a frame that already holds a MAP miscProperties keeps it untouched
    val again = DwcSource.fromRaw(
      loaded.select("occurrenceID", "scientificName", "miscProperties"),
      "dr1", Seq("occurrenceID"))
    val m2 = again.filter(col("occurrenceID") === "o1")
      .select("miscProperties").as[Map[String, String]].head()
    assert(m2 == m)
  }

  test("identity minted before the misc fold: unmapped unique terms work") {
    // a uniqueTerm naming an UNMAPPED column must resolve for the key hash
    // (identity runs on the raw columns) and still fold into misc after
    val df = DwcSource.loadRows(spark, Seq(
      Map("myLocalId" -> "L1", "scientificName" -> "Aus bus"),
      Map("myLocalId" -> "L2", "scientificName" -> "Cus dus")),
      "dr2", Seq("myLocalId"))
    assert(df.select("rowKey").distinct().count() == 2)
    assert(!df.columns.contains("myLocalId"))
    val miscs = df.select("miscProperties").as[Map[String, String]]
      .collect().toSet
    assert(miscs == Set(Map("myLocalId" -> "L1"), Map("myLocalId" -> "L2")))
    // no-uniqueTerms fallback hashes the original cells: deterministic
    // across re-ingest of the same rows
    def nilKeys() = DwcSource.loadRows(spark, Seq(
      Map("myLocalId" -> "L1", "scientificName" -> "Aus bus"),
      Map("myLocalId" -> "L2", "scientificName" -> "Aus bus")),
      "dr2", Nil).select("rowKey").as[String].collect().sorted.toSeq
    val k1 = nilKeys()
    assert(k1 == nilKeys() && k1.distinct.size == 2)
  }

  test("misc keys surface as typed dynamic index columns (suffix scheme)") {
    val enriched = graft.processors.Processors.enrich(load())
    val index = IndexSupport.project(enriched,
      miscKeys = Seq("sourceSystem", "count_i", "weight_d"))
    // reference Store.storeCustomIndexFields: explicit _i/_d keep the
    // suffix and type; anything else becomes a _s string field
    assert(index.columns.contains("sourceSystem_s"))
    val r = index.filter(col("occurrence_id") === "o1")
      .select("sourceSystem_s", "count_i", "weight_d").head()
    assert(r.getString(0) == "legacy")
    assert(r.getInt(1) == 12)
    assert(r.getDouble(2) == 3.5)
    // garbage never ANSI-crashes the typed cast
    val bad = DwcSource.loadRows(spark, Seq(
      Map("occurrenceID" -> "o9", "count_i" -> "not-a-number")),
      "dr1", Seq("occurrenceID"))
    val badIdx = IndexSupport.project(
      graft.processors.Processors.enrich(bad), miscKeys = Seq("count_i"))
    assert(badIdx.select("count_i").head().isNullAt(0))
  }

  test("download passthrough: explicit order first, discovery sorted") {
    val enriched = graft.processors.Processors.enrich(load())
    val index = IndexSupport.project(enriched)
    val keys = load().select("rowKey")
    // explicit miscFields: requested order, missing keys → null
    val dl = Serving.download(index, keys, Seq("id"), Nil,
      includeMisc = true, miscFields = Seq("weight_d", "sourceSystem"))
    assert(dl.columns.toSeq == Seq("id", "misc_weight_d", "misc_sourceSystem"))
    val bySrc = dl.collect().map(r =>
      r.getAs[String]("misc_sourceSystem")).toSet
    assert(bySrc == Set("legacy", "modern", null))
    // discovery: all keys in the data, sorted for a deterministic schema
    val dl2 = Serving.download(index, keys, Seq("id"), Nil,
      includeMisc = true, miscFields = Nil)
    assert(dl2.columns.toSeq ==
      Seq("id", "misc_count_i", "misc_sourceSystem", "misc_weight_d"))
    // includeMisc=false stays byte-compatible with the old surface
    val dl3 = Serving.download(index, keys, Seq("id"), Nil)
    assert(dl3.columns.toSeq == Seq("id"))
  }

  test("header case fixes skip a canonical name already taken; class → classs") {
    spark.conf.set("spark.sql.caseSensitive", "true")
    try {
      val df = Seq(("a", "b", "c", "d", "e", "f")).toDF("decimallatitude",
        "decimalLatitude", "SCIENTIFICNAME", "Class", "Eventdate", "EVENTDATE")
      val out = DwcSource.fromRaw(df, "dr1", Seq("decimalLatitude"))
      // decimallatitude: its canonical name is an input column; EVENTDATE:
      // an earlier fix took eventDate — both stay as they are, in misc
      assert(out.columns.toSeq == Seq("decimalLatitude", "scientificName",
        "classs", "eventDate", "dataResourceUid", "rowKey", "miscProperties"))
      assert(out.select("decimalLatitude", "scientificName", "classs",
        "eventDate", "miscProperties")
        .as[(String, String, String, String, Map[String, String])].head() ==
        (("b", "c", "d", "e", Map("decimallatitude" -> "a", "EVENTDATE" -> "f"))))
    } finally spark.conf.unset("spark.sql.caseSensitive")
  }
}
