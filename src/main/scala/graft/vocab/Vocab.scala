package graft.vocab

import java.util.Locale
import java.util.regex.Pattern

/** Vocabulary normalisation: variant term → canonical term, driven by the
  * reference's public vocabulary data tables (the `.txt` tables under
  * /root/reference/src/main/resources, copied verbatim — data, the
  * matching contract).
  *
  * Matching mirrors `vocab/Vocab.scala:50-66` in
  * /root/reference/src/main/scala/au/org/ala/biocache/: the lookup string is
  * lower-cased and stripped to alphanumerics, then matched against (a) the
  * canonical form, (b) the variant table, (c) the Porter-stemmed lookup
  * against the variant table. Beyond the reference we ALSO stem the variant
  * table itself at build time, so plural canonical entries match
  * ("Paratypes" → paratype — the reference's own test expectation, which its
  * unstemmed variant table cannot actually satisfy).
  *
  * Earlier terms win ties, preserving the reference's first-match-in-file
  * iteration order.
  */
trait Vocab extends Serializable {

  /** (canonical, raw variant strings) in file order. */
  def terms: IndexedSeq[(String, Seq[String])]

  protected def norm(s: String): String =
    Vocab.NormPattern.matcher(s.toLowerCase(Locale.ROOT)).replaceAll("")

  /** term-index-tracking maps: first term wins on key collision. */
  @transient private lazy val (exactMap, stemmedMap) = {
    val exact = collection.mutable.LinkedHashMap[String, (Int, String)]()
    val stemmed = collection.mutable.LinkedHashMap[String, (Int, String)]()
    terms.zipWithIndex.foreach { case ((canonical, variants), i) =>
      (norm(canonical) +: variants.map(norm)).filter(_.nonEmpty).foreach { v =>
        if (!exact.contains(v)) exact(v) = (i, canonical)
        val sv = Stemmer.stem(v)
        if (!stemmed.contains(sv)) stemmed(sv) = (i, canonical)
      }
    }
    (exact.toMap, stemmed.toMap)
  }

  /** Memo over raw lookup strings: vocab inputs are categorical — a
    * handful of distinct values repeated millions of times per partition —
    * so the normalise+stem+rank work runs once per distinct string per
    * executor, not once per row. Bounded so adversarial high-cardinality
    * input degrades to the uncached path instead of growing the heap. */
  @transient private lazy val memo =
    new java.util.concurrent.ConcurrentHashMap[String, Option[String]]()

  def matchTerm(raw: String): Option[String] = {
    if (raw == null) return None
    if (memo.size > 65536) return matchTermUncached(raw)
    memo.computeIfAbsent(raw, matchTermUncached(_))
  }

  private def matchTermUncached(raw: String): Option[String] = {
    val n = norm(raw)
    if (n.isEmpty) return None
    val s = Stemmer.stem(n)
    // reference precedence: term order first, then match kind within a term
    Seq(exactMap.get(n), exactMap.get(s), stemmedMap.get(s))
      .flatten.sortBy(_._1).headOption.map(_._2)
  }
}

object Vocab {
  /** Precompiled: String.replaceAll recompiles its pattern on every call,
    * which showed up as a top cost in the enrichment battery profile. */
  private[vocab] val NormPattern = Pattern.compile("[^a-z0-9]")
}

/** Classpath data-table loaders (formats per reference `vocab/Vocab
  * .scala:103-127`: horizontal = canonical + variants per line; vertical =
  * variant TAB canonical per line, grouped). Reference files use bare-\r
  * line endings; split on any of \r\n, \r, \n. */
object VocabData {

  def lines(resource: String): Seq[String] = {
    val in = getClass.getResourceAsStream(resource)
    require(in != null, s"missing vocab resource $resource")
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      .split("\r\n|\r|\n").toSeq.map(_.trim).filter(_.nonEmpty)
    finally in.close()
  }

  /** Each line: canonical TAB variant TAB variant ... */
  def horizontal(resource: String): IndexedSeq[(String, Seq[String])] =
    lines(resource).map { row =>
      val values = row.split("\t").toSeq
      values.head -> values
    }.toIndexedSeq

  /** Each line: variant TAB ... TAB canonical; grouped by canonical in
    * first-seen order. */
  def vertical(resource: String): IndexedSeq[(String, Seq[String])] = {
    val pairs = lines(resource).map { row =>
      val values = row.split("\t")
      values.last -> values.head
    }
    val order = pairs.map(_._1).distinct
    val grouped = pairs.groupBy(_._1)
    order.map(c => c -> grouped(c).map(_._2)).toIndexedSeq
  }

  /** Each line: canonical TAB regex [TAB regex ...]. */
  def regexes(resource: String): IndexedSeq[(String, Seq[String])] =
    lines(resource).map { row =>
      val values = row.split("\t").toSeq
      values.head -> values.tail
    }.toIndexedSeq

  /** KEY=VALUE lines (crsEpsgCodes.txt / zoneEpsgCodes.txt). */
  def keyValues(resource: String): Map[String, String] =
    lines(resource).filter(_.contains("=")).map { row =>
      val i = row.indexOf('=')
      row.substring(0, i).trim -> row.substring(i + 1).trim
    }.toMap
}

/** Regex-matching vocabulary (reference `loadRegexFromFile` +
  * `Vocab.matchRegex`): first term whose pattern finds in the input wins. */
trait RegexVocab extends Serializable {
  def terms: IndexedSeq[(String, Seq[String])]

  @transient private lazy val compiled: IndexedSeq[(String, Seq[Pattern])] =
    terms.map { case (c, rs) =>
      c -> rs.map(r => Pattern.compile(r, Pattern.CASE_INSENSITIVE))
    }

  def matchRegex(raw: String): Option[String] = {
    if (raw == null) return None
    compiled.collectFirst {
      case (canonical, ps) if ps.exists(_.matcher(raw).find()) => canonical
    }
  }
}

/** Darwin Core basisOfRecord (reference `basisOfRecord.txt`, vertical). */
object BasisOfRecord extends Vocab {
  val terms = VocabData.vertical("/graft/vocab/basisOfRecord.txt")
}

/** occurrenceStatus (reference `occurrenceStatus.txt`). */
object OccurrenceStatus extends Vocab {
  val terms = VocabData.horizontal("/graft/vocab/occurrenceStatus.txt")
}

/** typeStatus (reference `typeStatus.txt`). */
object TypeStatus extends Vocab {
  val terms = VocabData.horizontal("/graft/vocab/typeStatus.txt")
}

/** sex (reference `sex.txt`). */
object Sex extends Vocab {
  val terms = VocabData.horizontal("/graft/vocab/sex.txt")
}

/** lifeStage (reference `lifeStage.txt`). */
object LifeStage extends Vocab {
  val terms = VocabData.horizontal("/graft/vocab/lifeStage.txt")
}

/** establishmentMeans (reference `establishmentMeans.txt`). */
object EstablishmentMeans extends Vocab {
  val terms = VocabData.horizontal("/graft/vocab/establishmentMeans.txt")
}

/** taxon ranks (reference `taxonRanks.txt`). */
object TaxonRanks extends Vocab {
  val terms = VocabData.horizontal("/graft/vocab/taxonRanks.txt")
}

/** kingdoms (reference `kingdoms.txt`). */
object Kingdoms extends Vocab {
  val terms = VocabData.horizontal("/graft/vocab/kingdoms.txt")
}

/** species interactions (reference `interactions.txt`). */
object Interactions extends Vocab {
  val terms = VocabData.horizontal("/graft/vocab/interactions.txt")
}

/** datePrecision terms → precision codes (reference `datePrecision.txt`). */
object DatePrecision extends Vocab {
  val terms = VocabData.horizontal("/graft/vocab/datePrecision.txt")
}

/** ISO countries with alpha-2/alpha-3/numeric variants (reference
  * `countries.txt`). */
object Countries extends Vocab {
  val terms = VocabData.horizontal("/graft/vocab/countries.txt")
}

/** State/province names + abbreviations (reference `stateProvinces.txt`). */
object StateProvinces extends Vocab {
  val terms = VocabData.horizontal("/graft/vocab/stateProvinces.txt")
}

/** stateProvince → country (reference `stateProvince2Countries.txt`). */
object StateProvinceToCountry extends Serializable {
  lazy val map: Map[String, String] =
    VocabData.lines("/graft/vocab/stateProvince2Countries.txt").map { row =>
      val values = row.split("\t")
      values.head -> values.last
    }.toMap

  def countryFor(stateProvince: String): Option[String] =
    StateProvinces.matchTerm(stateProvince).flatMap(map.get)
}

/** Geodetic datums (reference `datums.txt` + `GeodeticDatum.scala`):
  * canonical is the EPSG code where known; the matcher strips brackets/dots
  * and falls back to splitting on "/", " " and "-" (datums commonly arrive
  * as "WGS84/GDA94"). */
object GeodeticDatum extends Vocab {
  val terms = VocabData.horizontal("/graft/vocab/datums.txt")

  /** canonical datum name → EPSG code (reference `crsEpsgCodes.txt`). */
  lazy val epsgCodes: Map[String, String] =
    VocabData.keyValues("/graft/vocab/crsEpsgCodes.txt")

  override def matchTerm(raw: String): Option[String] = {
    if (raw == null) return None
    val cleaned = raw.replaceAll("[(|)\\.]", "")
    super.matchTerm(cleaned)
      .orElse(findBySplitting(cleaned, "/"))
      .orElse(findBySplitting(cleaned, " "))
      .orElse(findBySplitting(cleaned, "-"))
  }

  private def findBySplitting(s: String, sep: String): Option[String] = {
    val parts = s.split(Pattern.quote(sep))
    if (parts.length > 1) parts.iterator.flatMap(super.matchTerm).nextOption()
    else None
  }

  /** EPSG identifier for a raw datum string: canonical's EPSG code, the
    * canonical itself when it is already an EPSG code, else None. */
  def epsg(raw: String): Option[String] = matchTerm(raw).map { canonical =>
    epsgCodes.getOrElse(canonical,
      if (canonical.toUpperCase(Locale.ROOT).startsWith("EPSG:")) canonical
      else canonical)
  }
}

/** License normalisation (reference `license.txt`, regex table; the final
  * `.*` row maps anything unrecognised to "Custom"). */
object License extends RegexVocab {
  val terms = VocabData.regexes("/graft/vocab/license.txt")
}

/** Media MIME types (reference `mime-types.txt`). */
object MimeType extends Vocab {
  val terms = VocabData.horizontal("/graft/vocab/mime-types.txt")
}

/** identificationQualifier classification (reference
  * `processor/IdentificationQualifierProcessor.scala:26-139` +
  * `identificationQualifiers.txt`): keyword-regex sections map free text to
  * Certain / Uncertain; Uncertain wins ("not confirmed" is uncertain even
  * though it contains the certain keyword "confirm(ed)"). */
object IdentificationQualifier extends Serializable {
  val Certain = "Certain"
  val Uncertain = "Uncertain"
  val NotRecognised = "Not recognised"
  val NotProvided = "Not provided"

  private def keywordRegex(keyword: String): String =
    if (keyword == "?") "\\?"
    else if (keyword.contains("."))
      "\\b" + keyword.replace(".", "\\b[.]").replace("(ed)", "(?:ed)?")
        .replaceAll("\\s+", " ")
    else
      "\\b" + keyword.replace("(ed)", "(?:ed)?").replaceAll("\\s+", " ") + "\\b"

  @transient private lazy val (certainPattern, uncertainPattern) = {
    val certain = collection.mutable.ArrayBuffer[String]()
    val uncertain = collection.mutable.ArrayBuffer[String]()
    var section = ""
    VocabData.lines("/graft/vocab/identificationQualifiers.txt").foreach { l =>
      l.toLowerCase(Locale.ROOT) match {
        case "[certain]" => section = "certain"
        case "[uncertain]" => section = "uncertain"
        case kw if section == "certain" => certain += keywordRegex(kw)
        case kw if section == "uncertain" => uncertain += keywordRegex(kw)
        case _ =>
      }
    }
    (Pattern.compile("(?:.*?)?(?:" + certain.mkString("|") + ")(?:.*)?"),
      Pattern.compile("(?:.*?)?(?:" + uncertain.mkString("|") + ")(?:.*)?"))
  }

  def classify(raw: String): String = {
    if (raw == null || raw.trim.isEmpty) NotProvided
    else {
      val s = raw.trim.replaceAll("\\s+", " ").toLowerCase(Locale.ROOT)
      if (uncertainPattern.matcher(s).matches) Uncertain
      else if (certainPattern.matcher(s).matches) Certain
      else NotRecognised
    }
  }
}

/** Habitat → biome grouping (reference `vocab/HabitatMap.scala`): habitat
  * vocab plus the taxon-vs-location biome compatibility map. */
object Habitat extends Vocab {
  val terms: IndexedSeq[(String, Seq[String])] = IndexedSeq(
    "MARINE" -> Seq("marine", "sea", "ocean", "coastal", "estuarine"),
    "NON-MARINE" -> Seq("non-marine", "nonmarine"),
    "TERRESTRIAL" -> Seq("terrestrial", "land", "terrestre"),
    "LIMNETIC" -> Seq("limnetic", "freshwater", "fresh water", "aquatic"),
    "MARINE AND NON-MARINE" -> Seq("marine and non-marine"))

  /** taxon habitat → compatible location biomes (`HabitatMap.termMap`). */
  private val compatible: Map[String, Set[String]] = Map(
    "MARINE" -> Set("MARINE", "MARINE AND NON-MARINE"),
    "NON-MARINE" -> Set("NON-MARINE", "TERRESTRIAL", "LIMNETIC", "MARINE AND NON-MARINE"),
    "TERRESTRIAL" -> Set("NON-MARINE", "TERRESTRIAL", "LIMNETIC", "MARINE AND NON-MARINE"),
    "LIMNETIC" -> Set("NON-MARINE", "TERRESTRIAL", "LIMNETIC", "MARINE AND NON-MARINE"))

  /** Is a taxon of habitat `taxonHabitat` compatible with a location whose
    * biome is `locationHabitat`? None when either is unrecognised. */
  def isCompatible(taxonHabitat: String, locationHabitat: String): Option[Boolean] =
    for {
      t <- matchTerm(taxonHabitat)
      l <- matchTerm(locationHabitat)
    } yield compatible.getOrElse(t, Set(t)).contains(l)
}
