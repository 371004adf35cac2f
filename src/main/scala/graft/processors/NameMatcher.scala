package graft.processors

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Taxon-name matching: exact → kingdom-resolved homonym → blocked fuzzy
  * (Levenshtein ≤ 2 within a genus-prefix block).
  *
  * Re-expresses the reference's name-matching path
  * (`caches/ClassificationDAO.scala:42-206`): exact match first; homonyms
  * resolved with the supplied kingdom hint (unresolved → HOMONYM_ISSUE, no
  * match); a fuzzy fallback catches single- and double-edit misspellings
  * the way the ALA taxamatch layer does.
  *
  * One join at every scale: the names dimension aggregates to one row per
  * [[blockKey]] holding every entry of the block, and the records
  * left-join it once on their own block key — AQE broadcasts the
  * aggregate when it is small (the reference shipping its name index to
  * every processing node) and shuffles it when it is large. Equal names
  * share a block, so all three tiers resolve from that one array, and
  * building the stage starts no Spark job.
  */
object NameMatcher {

  /** The entry struct a block holds: `nameLower` first, so the smallest
    * struct is the smallest name (the fuzzy tie-break), then the hit
    * fields. phylum/classs are optional dim columns (the taxonomic-hints
    * scope check reads them); absent ones read as null. */
  private val EntryFields = Seq("nameLower" -> "string",
    "taxonConceptID" -> "string", "acceptedName" -> "string",
    "taxonRank" -> "string", "kingdom" -> "string", "phylum" -> "string",
    "classs" -> "string", "family" -> "string", "genus" -> "string",
    "lft" -> "bigint", "rgt" -> "bigint")
  private val OptionalFields = Set("phylum", "classs")
  private val EntryType =
    EntryFields.map { case (f, t) => s"$f:$t" }.mkString("struct<", ",", ">")

  /** `String.trim`'s set, U+0000–U+0020: Spark's one-argument `trim`
    * strips spaces only, which would leave tab- or newline-padded names
    * unmatched. */
  private val Blank = (0 to 0x20).map(_.toChar).mkString

  private def normalise(c: Column): Column =
    lower(trim(c.cast("string"), Blank))

  /** Blocking key: first 4 chars of the genus word + initial of the
    * epithet — a single edit rarely crosses it, keeping blocks tiny while
    * catching the misspellings the reference's fuzzy layer targets. */
  private def blockKey(n: Column): Column = {
    val sp = instr(n, " ") // 1-based position of the first space; 0 if none
    when(sp === 0, substring(n, 1, 4))
      .otherwise(concat(
        n.substr(lit(1), least(lit(4), sp - 1)),
        lit(" "),
        when(length(n) > sp, n.substr(sp + 1, lit(1))).otherwise(lit(" "))))
  }

  /** A hit struct from an entry struct (null entry → null fields). */
  private def hit(e: Column, homonym: Boolean, fuzzy: Boolean): Column =
    struct(EntryFields.tail.map { case (f, _) => e.getField(f).as(f) } :+
      lit(homonym).as("homonym") :+ lit(fuzzy).as("fuzzy"): _*)

  /** Appends `_nm`, the resolved hit struct (null = no match; null ids
    * with homonym = true = an unresolvable homonym), to `df`: a blank or
    * null `name` never matches; several exact entries resolve only when
    * exactly one carries `kingdomHint`'s kingdom; with no exact entry the
    * smallest entry within Levenshtein 2 of the name wins. */
  def attachHits(df: DataFrame, name: Column, kingdomHint: Column,
      dim: DataFrame): DataFrame = {
    val entry = struct(EntryFields.map { case (f, t) =>
      val c =
        if (f == "nameLower") normalise(col(f))
        else if (OptionalFields(f) && !dim.columns.contains(f)) lit(null)
        else col(f)
      c.cast(t).as(f)
    }: _*)
    val blocks = dim.groupBy(blockKey(normalise(col("nameLower"))).as("_bk"))
      .agg(collect_list(entry).as("_block"))
    val key = col("_nmKey")
    val block = col("_block")
    val isKey = (e: Column) => e.getField("nameLower") === key
    val staged = df.withColumn("_nmKey", nullif(normalise(name), lit("")))
      .join(blocks, blockKey(key) === col("_bk"), "left")
      .withColumns(Map(
        "_exact" -> filter(block, isKey),
        // levenshtein's threshold form returns -1 past the bound
        "_fuzzy" -> when(!exists(block, isKey), array_min(filter(block, e =>
          levenshtein(key, e.getField("nameLower"), 2) >= 0)))))
    val exact = col("_exact")
    val kh = coalesce(normalise(kingdomHint), lit(""))
    val byKingdom = filter(exact, e => lower(e.getField("kingdom")) === kh)
    val nm = when(size(exact) === 1, hit(exact(0), false, false))
      .when(size(exact) > 1, when(size(byKingdom) === 1,
        hit(byKingdom(0), false, false))
        .otherwise(hit(lit(null).cast(EntryType), true, false)))
      .when(col("_fuzzy").isNotNull, hit(col("_fuzzy"), false, true))
    staged.select(df.columns.toSeq.map(df.col) :+ nm.as("_nm"): _*)
  }
}
