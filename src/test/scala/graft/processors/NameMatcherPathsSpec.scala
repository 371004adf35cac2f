package graft.processors

import graft.SparkTestSession
import graft.model.AssertionCodes._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The one classification lookup path — the names dimension aggregated by
  * block key, joined once — over the full case matrix: exact (also with
  * tab/newline padding on either side, and with a fuzzy neighbour in the
  * block), kingdom-resolved homonym, unresolved homonym, blocked fuzzy (1
  * and 2 edits, with the smallest-entry tie-break), fuzzy out of block, no
  * match, null/blank names. */
class NameMatcherPathsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val dimRows = Seq(
    // exact unique
    ("macropus rufus", "lsid:1", "Macropus rufus", "species", "Animalia",
      "Macropodidae", "Macropus", 100L, 101L),
    // homonym pair across kingdoms
    ("drosera", "lsid:p1", "Drosera", "genus", "Plantae",
      "Droseraceae", "Drosera", 200L, 220L),
    ("drosera", "lsid:a1", "Drosera", "genus", "Animalia",
      "Droseridae", "Drosera", 300L, 320L),
    // fuzzy family: two names one edit apart from the probe, the smaller
    // must win; one name two edits; one name in ANOTHER block
    ("acacia dealbata", "lsid:f1", "Acacia dealbata", "species", "Plantae",
      "Fabaceae", "Acacia", 400L, 401L),
    ("acacia dealbatb", "lsid:f2", "Acacia dealbatb", "species", "Plantae",
      "Fabaceae", "Acacia", 402L, 403L),
    ("acacia dealbaxx", "lsid:f3", "Acacia dealbaxx", "species", "Plantae",
      "Fabaceae", "Acacia", 404L, 405L),
    ("acacia mearnsii", "lsid:f4", "Acacia mearnsii", "species", "Plantae",
      "Fabaceae", "Acacia", 406L, 407L),
    // a dimension name padded with a tab and a newline
    ("\tBanksia serrata\n", "lsid:b1", "Banksia serrata", "species",
      "Plantae", "Proteaceae", "Banksia", 500L, 501L),
    // two entries under one name that only a fuzzy probe reaches
    ("eucalyptus regnans", "lsid:t2", "Eucalyptus regnans", "species",
      "Plantae", "Myrtaceae", "Eucalyptus", 602L, 603L),
    ("eucalyptus regnans", "lsid:t1", "Eucalyptus regnans", "species",
      "Plantae", "Myrtaceae", "Eucalyptus", 600L, 601L))
  lazy val dim = dimRows.toDF("nameLower", "taxonConceptID", "acceptedName",
    "taxonRank", "kingdom", "family", "genus", "lft", "rgt")

  lazy val facts = Seq(
    ("e1", "Macropus rufus", null), // exact
    ("e2", "\tMacropus rufus\n", null), // exact, record side padded
    ("e3", "Banksia serrata", null), // exact, dimension side padded
    ("e4", "Acacia dealbatb", null), // exact, though dealbata is 1 edit
    ("h1", "Drosera", "Plantae"),   // homonym resolved by kingdom
    ("h2", "Drosera", "Fungi"),     // homonym, wrong hint → flag
    ("h3", "Drosera", null),        // homonym, no hint → flag
    ("f1", "Acacia dealbatc", null), // 1 edit from f1 AND f2 → smaller name
    ("f2", "Acacia dealbzxy", null), // exactly 2 edits from f3 only
    ("f3", "Bcacia dealbata", null), // blockKey differs → NO fuzzy match
    ("f4", "Eucalyptus regnanz", null), // tied name → smaller entry
    ("n1", "Totally unknown", null),
    ("n2", null, "Animalia"),
    ("n3", "   ", null))
    .toDF("id", "scientificName", "kingdom")

  /** The `_nm` struct, as a string, that hits the dim entry `lsid`. */
  private def hit(lsid: String, fuzzy: Boolean = false) = {
    val (_, id, name, rank, kingdom, family, genus, lft, rgt) =
      dimRows.find(_._2 == lsid).get
    s"[$id,$name,$rank,$kingdom,null,null,$family,$genus,$lft,$rgt,false,$fuzzy]"
  }
  private val homonym =
    "[null,null,null,null,null,null,null,null,null,null,true,false]"

  private val expected: Map[String, Option[String]] = Map(
    "e1" -> Some(hit("lsid:1")), "e2" -> Some(hit("lsid:1")),
    "e3" -> Some(hit("lsid:b1")), "e4" -> Some(hit("lsid:f2")),
    "h1" -> Some(hit("lsid:p1")), "h2" -> Some(homonym),
    "h3" -> Some(homonym),
    "f1" -> Some(hit("lsid:f1", fuzzy = true)),
    "f2" -> Some(hit("lsid:f3", fuzzy = true)),
    "f3" -> None,
    "f4" -> Some(hit("lsid:t1", fuzzy = true)),
    "n1" -> None, "n2" -> None, "n3" -> None)

  private def hits(df: DataFrame) =
    df.select(col("id"), col("_nm")).collect()
      .map(r => r.getString(0) -> Option(r.getStruct(1)).map(_.toString))
      .toMap

  private def attach(names: DataFrame) = NameMatcher.attachHits(
    facts, col("scientificName"), col("kingdom"), names)

  test("every row of the case matrix gets its full expected hit") {
    val got = hits(attach(dim))
    assert(got.keySet == expected.keySet)
    expected.foreach { case (k, v) => assert(got(k) == v, s"row $k") }
  }

  test("the record columns pass through unchanged, `_nm` appended last") {
    val out = attach(dim)
    assert(out.columns.toSeq == facts.columns.toSeq :+ "_nm")
    assert(out.count() == facts.count())
  }

  test("a tied fuzzy name picks the same entry whatever the dim's order") {
    for (names <- Seq(dim, dim.orderBy(col("taxonConceptID").desc),
        dim.repartition(4), dim.orderBy(col("lft")).coalesce(1)))
      assert(hits(attach(names))("f4") == expected("f4"))
  }

  test("the plan has no cartesian/nested-loop join") {
    val plan = attach(dim).queryExecution.optimizedPlan.toString
    assert(!plan.contains("Cartesian") && !plan.contains("NestedLoop"), plan)
  }

  test("processClassification output is pinned on the matrix") {
    type Out = (String, String, String, Option[Long], String, Set[Int])
    val classified = Processors.processClassification(
      facts.withColumnRenamed("id", "occurrenceID")
        .withColumn("taxonRank", lit("species")), dim)
    val got = classified.select(col("occurrenceID"),
      col("processed_taxonConceptID"), col("processed_scientificName"),
      col("processed_kingdom"), col("processed_lft"),
      col("processed_nameMatchMetric"), col("assertions_class"))
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getString(2),
        r.getString(3), Option(r.get(4)).map(_.asInstanceOf[Long]),
        r.getString(5), r.getSeq[Int](6).toSet): (String, Out)).toMap
    def matched(lsid: String, metric: String): Out = {
      val (_, _, name, _, kingdom, _, _, lft, _) =
        dimRows.find(_._2 == lsid).get
      (lsid, name, kingdom, Some(lft), metric, Set.empty)
    }
    val none: Out = (null, null, null, None, null, Set(NAME_NOT_RECOGNISED.code))
    val homonym = none.copy(_6 = none._6 + HOMONYM_ISSUE.code)
    val want = Map(
      "e1" -> matched("lsid:1", "exactMatch"),
      "e2" -> matched("lsid:1", "exactMatch"),
      "e3" -> matched("lsid:b1", "exactMatch"),
      "e4" -> matched("lsid:f2", "exactMatch"),
      "h1" -> matched("lsid:p1", "exactMatch"),
      "h2" -> homonym, "h3" -> homonym,
      "f1" -> matched("lsid:f1", "fuzzyMatch"),
      "f2" -> matched("lsid:f3", "fuzzyMatch"),
      "f3" -> none,
      "f4" -> matched("lsid:t1", "fuzzyMatch"),
      "n1" -> none,
      "n2" -> none.copy(_6 = Set(NAME_NOT_SUPPLIED.code)),
      "n3" -> none)
    assert(got.keySet == want.keySet)
    want.foreach { case (k, v) => assert(got(k) == v, s"row $k") }
  }

  test("building processClassification starts no Spark job") {
    // file-backed inputs: a local relation could answer a count or a
    // collect on the driver without a job, hiding one
    val dir = java.nio.file.Files.createTempDirectory("names_jobs").toString
    dim.write.parquet(s"$dir/names")
    facts.write.parquet(s"$dir/records")
    val names = spark.read.parquet(s"$dir/names")
    val records = spark.read.parquet(s"$dir/records")
    var out: DataFrame = null
    assert(SparkTestSession.jobsIn {
      out = Processors.processClassification(records, names)
    } == 0)
    assert(out.filter(col("processed_taxonConceptID").isNotNull).count() == 8)
  }
}
