package graft.functions

import scala.util.Try

/** Coordinate & distance string parsers.
  *
  * Behaviour mirrors the reference's verbatim-coordinate and distance-range
  * parsers (`parser/VerbatimLatLongParser.scala:20-100`,
  * `parser/DistanceRangeParser.scala:28-57` in
  * /root/reference/src/main/scala/au/org/ala/biocache/), re-expressed as pure
  * functions suitable for Spark UDF registration.
  */
object CoordinateParsers {

  private val dms =
    """(?i)(\d{1,3})\s*(?:d|deg|degrees?|°|º)\s*(\d{1,2})?\s*(?:m|min|minutes?|')?\s*(\d{1,2}(?:\.\d+)?)?\s*(?:"|'')?\s*(s|south|n|north|w|west|e|east)""".r
  private val dmsBare =
    """(?i)(\d{1,3})\s+(\d{1,2})?\s*(\d{1,2}(?:\.\d+)?)?\s*"?\s*(s|south|n|north|w|west|e|east)""".r
  private val negDir = Set("s", "south", "w", "west")

  /** DMS string ("30° 01' S", "145° 44' 55.85\" E") → signed decimal degrees. */
  def parseVerbatimLatLong(raw: String): Option[Float] = {
    if (raw == null) return None
    val s = raw.trim.replace("''", "\"")
    val m = dms.findFirstMatchIn(s).orElse(dmsBare.findFirstMatchIn(s))
    m.flatMap { g =>
      Try {
        // integer-scaled arithmetic (×1e7) to match reference rounding
        var v: Long = g.group(1).toInt * 10000000L
        if (g.group(2) != null) v += g.group(2).toInt * 10000000L / 60
        if (g.group(3) != null) v += (g.group(3).toFloat * 10000000L).toLong / 3600
        val sign = if (negDir(g.group(4).toLowerCase)) -1 else 1
        sign * v.toFloat / 10000000f
      }.toOption
    }
  }

  private val rangePat =
    """(-?[\d.]+)\s*(km|kilometres|kilometers|m|metres|meters|ft|feet|f)?\s*-\s*([\d.]+)\s*(km|kilometres|kilometers|m|metres|meters|ft|feet|f)?""".r
  private val gtltPat =
    """[><]\s*(-?[\d.]+)\s*(km|kilometres|kilometers|m|metres|meters|ft|feet|f)?""".r
  private val singlePat =
    """(-?[\d.]+)\s*(km|kilometres|kilometers|m|metres|meters|ft|feet|f)?""".r

  private def toMetres(value: String, unit: String): Option[Float] =
    Try(value.toFloat).toOption.map { v =>
      unit match {
        case null | "" => v
        case u if u.startsWith("k") => v * 1000f
        case u if u.startsWith("f") => v * 0.3048f
        case _ => v
      }
    }

  /** "100-1000 m", ">10km", "5 ft", "444" → metres. Range takes the upper
    * bound; </> take the stated bound (reference semantics). */
  def parseDistanceMetres(raw: String): Option[Float] =
    parseDistanceWithUnit(raw).map(_._1)

  /** As [[parseDistanceMetres]] but also reports whether the source unit
    * was feet (the reference DistanceRangeParser returns the source unit so
    * ALTITUDE_IN_FEET / DEPTH_IN_FEET can be asserted). */
  def parseDistanceWithUnit(raw: String): Option[(Float, Boolean)] = {
    if (raw == null) return None
    val s = raw.replaceAll("[ ,]", "").toLowerCase.trim
    def feet(u: String) = u != null && u.startsWith("f")
    s match {
      case rangePat(_, _, v2, u2) => toMetres(v2, u2).map((_, feet(u2)))
      case gtltPat(v, u) => toMetres(v, u).map((_, feet(u)))
      case singlePat(v, u) => toMetres(v, u).map((_, feet(u)))
      case _ => None
    }
  }

  /** Normalise collector-name variants for comparison: strip punctuation,
    * reorder "Surname, Initials" to "Initials Surname", collapse spaces.
    * Subset of the reference collector parser
    * (`parser/CollectorNameParser.scala:41-162`). */
  def normalizeCollector(raw: String): String = {
    if (raw == null) return null
    val trimmed = raw.trim
    if (trimmed.isEmpty) return null
    val reordered =
      if (trimmed.contains(",")) {
        val parts = trimmed.split(",", 2).map(_.trim)
        if (parts.length == 2 && parts(1).nonEmpty) s"${parts(1)} ${parts(0)}"
        else parts(0)
      } else trimmed
    reordered.replaceAll("""[^\p{L}\p{N} ]""", "")
      .replaceAll("\\s+", " ").trim.toLowerCase
  }
}
