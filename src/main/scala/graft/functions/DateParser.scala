package graft.functions

import java.time.{LocalDate, YearMonth}
import java.util.Locale
import scala.util.Try

/** Parsed Darwin Core event date: start/end components + single-date flag.
  *
  * Behavioural parity target: the reference's multi-format date parser
  * (`parser/DateParser.scala:264-447` in
  * /root/reference/src/main/scala/au/org/ala/biocache/), covering ISO dates,
  * ISO datetimes (zone/millis), `yyyy`, `yyyy-MM`, trailing-hyphen variants,
  * month names, `yyyy-MM-dd HH:mm:ss.S`, and `/`-separated ranges including
  * same-century abbreviations (`1978/91`).
  */
case class EventDate(
    startDate: Option[LocalDate], endDate: Option[LocalDate],
    startYear: String, startMonth: String, startDay: String,
    endYear: String, endMonth: String, endDay: String,
    singleDate: Boolean)

object DateParser {

  private val months = Map(
    "jan" -> 1, "feb" -> 2, "mar" -> 3, "apr" -> 4, "may" -> 5, "jun" -> 6,
    "jul" -> 7, "aug" -> 8, "sep" -> 9, "oct" -> 10, "nov" -> 11, "dec" -> 12)

  private def monthByName(name: String): Option[Int] =
    months.get(name.toLowerCase(Locale.ROOT).take(3))

  /** Two-digit-year pivot (reference `newTwoDigitYearDateFormat`
    * twoDigitYearCutoff = 1920): yy resolves into [1920, 2019], so "94" →
    * 1994 but "15" → 2015 — the reference's ambiguity guard for museum
    * labels like "Jan-94". */
  private def expandYear(yy: Int): Int =
    if (1900 + yy >= 1920) 1900 + yy else 2000 + yy

  private val isoDateTime =
    """(\d{4})-(\d{2})-(\d{2})[T ](\d{2}):(\d{2})(?::(\d{2}))?(?:[.,]\d+)?(?:Z|[+-]\d{2}(?::?\d{2})?)?""".r
  private val isoDate = """(\d{4})-(\d{1,2})-(\d{1,2})(?:-|Z)?""".r
  private val yearMonthZeroDay = """(\d{4})-(\d{1,2})-00""".r
  private val yearMonth = """(\d{4})-(\d{1,2})-?""".r
  private val yearOnly = """(\d{4})""".r
  private val monthName = """(\d{4})-([A-Za-z]{3,})-(\d{1,2})""".r
  private val monthNameNoDay = """(\d{4})-([A-Za-z]{3,})""".r
  private val dmy = """(\d{1,2})-(\d{1,2})-(\d{4})""".r
  private val dmySlash = """(\d{1,2})/(\d{1,2})/(\d{4})""".r
  // reference NonISOSingleDate: dd-MMM-uuuu / dd/MMM/uuuu / dd MMM uuuu
  private val dmyMonthName = """(\d{1,2})[-/ ]([A-Za-z]{3,})[-/ ](\d{4})""".r
  // reference ISOMonthDate: MMM-uuuu / MMMM uuuu / MM uuuu
  private val monthNameYear = """([A-Za-z]{3,})[-/ ](\d{4})""".r
  private val mmSpaceYear = """(\d{1,2}) (\d{4})""".r
  // reference NonISOTruncatedYearDate: STRICT dd-MM-yy / dd/MM/yy — the
  // reference's DateTimeFormatter patterns require two-digit day and month,
  // so "24-5-26" stays unparseable (ambiguous; ProcessEventTest:734)
  private val dmTruncYear = """(\d{2})[-/](\d{2})[-/](\d{2})""".r
  private val dmyMonthNameTrunc = """(\d{1,2})[-/ ]([A-Za-z]{3,})[-/ ](\d{2})""".r
  private val monthNameTruncYear = """([A-Za-z]{3,})[-/ ](\d{2})""".r
  // reference ISOVerboseDateTime: EEE MMM dd HH:mm:ss zzz uuuu
  private val verboseDateTime =
    """[A-Za-z]{3} ([A-Za-z]{3}) (\d{1,2}) \d{2}:\d{2}:\d{2} \S+ (\d{4})""".r

  private def mm(m: Int) = f"$m%02d"
  private def dd(d: Int) = f"$d%02d"

  /** One side of a (possibly ranged) date; None on garbage. Pattern order
    * follows the reference: ISO families first, then non-ISO month-name
    * forms, then the two-digit-year bank (an ISO-parseable string never
    * reaches the ambiguous formats). */
  private[functions] def parseSingle(raw: String): Option[EventDate] = {
    val s = raw.trim
    s match {
      case isoDateTime(y, m, d, _, _, _) => ymd(y.toInt, m.toInt, d.toInt)
      case yearMonthZeroDay(y, m) => ym(y.toInt, m.toInt)
      case isoDate(y, m, d) => ymd(y.toInt, m.toInt, d.toInt)
      case monthName(y, mname, d) =>
        monthByName(mname).flatMap(m => ymd(y.toInt, m, d.toInt))
      case monthNameNoDay(y, mname) =>
        monthByName(mname).flatMap(m => ym(y.toInt, m))
      case yearMonth(y, m) => ym(y.toInt, m.toInt)
      case yearOnly(y) => Some(year(y.toInt))
      case dmy(d, m, y) if m.toInt <= 12 => ymd(y.toInt, m.toInt, d.toInt)
      case dmySlash(d, m, y) if m.toInt <= 12 => ymd(y.toInt, m.toInt, d.toInt)
      case dmyMonthName(d, mname, y) =>
        monthByName(mname).flatMap(m => ymd(y.toInt, m, d.toInt))
      case monthNameYear(mname, y) =>
        monthByName(mname).flatMap(m => ym(y.toInt, m))
      case mmSpaceYear(m, y) if m.toInt >= 1 && m.toInt <= 12 =>
        ym(y.toInt, m.toInt)
      case verboseDateTime(mname, d, y) =>
        monthByName(mname).flatMap(m => ymd(y.toInt, m, d.toInt))
      case dmTruncYear(d, m, yy) if m.toInt <= 12 =>
        ymd(expandYear(yy.toInt), m.toInt, d.toInt)
      case dmyMonthNameTrunc(d, mname, yy) =>
        monthByName(mname).flatMap(m => ymd(expandYear(yy.toInt), m, d.toInt))
      case monthNameTruncYear(mname, yy) =>
        monthByName(mname).flatMap(m => ym(expandYear(yy.toInt), m))
      case _ => None
    }
  }

  private def ymd(y: Int, m: Int, d: Int): Option[EventDate] =
    Try(LocalDate.of(y, m, d)).toOption.map { ld =>
      EventDate(Some(ld), Some(ld), y.toString, mm(m), dd(d),
        y.toString, mm(m), dd(d), singleDate = true)
    }

  private def ym(y: Int, m: Int): Option[EventDate] =
    Try(YearMonth.of(y, m)).toOption.map { yM =>
      val first = yM.atDay(1)
      // day components stay EMPTY: a year-month date has no known day (the
      // range-completion logic above also keys granularity off this)
      EventDate(Some(first), Some(yM.atEndOfMonth()), y.toString, mm(m), "",
        y.toString, mm(m), "", singleDate = true)
    }

  private def year(y: Int): EventDate =
    EventDate(Some(LocalDate.of(y, 1, 1)), Some(LocalDate.of(y, 12, 31)),
      y.toString, "", "", y.toString, "", "", singleDate = false)

  /** Full parse incl. `/` ranges. Returns None for unparseable input.
    *
    * Memoised: occurrence datasets repeat the same eventDate string across
    * thousands of rows, and the format battery below is regex-heavy. The
    * map is shared across task threads and cleared when it outgrows the
    * cap, so unbounded-cardinality (garbage) input cannot leak memory; at
    * the cap the cost degrades to the uncached parse, never worse. */
  private val memoCap = 1 << 16
  private val memo =
    new java.util.concurrent.ConcurrentHashMap[String, Option[EventDate]]()

  def parseDate(raw: String): Option[EventDate] = {
    if (raw == null) return None
    val hit = memo.get(raw)
    if (hit != null) return hit
    val res = parseDateUncached(raw)
    if (memo.size >= memoCap) memo.clear()
    memo.put(raw, res)
    res
  }

  private def parseDateUncached(raw: String): Option[EventDate] = {
    if (raw == null) return None
    // reference parseDate normalisation: a leading "/" or "-" is shed
    val s0 = raw.trim
    val s = if (s0.startsWith("/") || s0.startsWith("-")) s0.substring(1) else s0
    if (s.isEmpty) return None
    // range separators: "/", " & ", " to " (reference DateRange variants);
    // a slash only separates a range when the whole string is not itself a
    // slash-delimited single date (dd/MM/uuuu, dd/MM/yy, dd/MMM/uuuu)
    val slashIsRange = s.contains("/") &&
      !s.matches("""\d{1,2}/\d{1,2}/\d{4}""") &&
      !s.matches("""\d{1,2}/\d{1,2}/\d{2}""") &&
      !s.matches("""\d{1,2}/[A-Za-z]{3,}/\d{2,4}""")
    val sep =
      if (s.contains(" to ")) Some(" to ")
      else if (s.contains(" & ")) Some(" & ")
      else if (slashIsRange) Some("/")
      else None
    if (sep.isDefined) {
      val parts = s.split(java.util.regex.Pattern.quote(sep.get), 2)
      val start = parseSingle(parts(0))
      // Abbreviated end side, completed from the start's granularity
      // (reference ISODayDateRange / ISODayMonthRange / ISOMonthDateRange /
      // same-century year ranges): a bare 1-2 digit end is a DAY when the
      // start parsed to a full date (2007-11-13/15 → 13–15 Nov 2007), an
      // MM-dd end completes with the start's year (1998-9-30/10-7), a bare
      // end is a MONTH when the start parsed to year-month (1906-06/07),
      // and a same-century YEAR abbreviation when the start is year-only
      // (1978/91).
      val endRaw = (start, parts(1).trim) match {
        case (Some(st), e) if e.matches("""\d{1,2}""") && st.startDay.nonEmpty =>
          s"${st.startYear}-${st.startMonth}-$e"
        case (Some(st), e) if e.matches("""\d{1,2}-\d{1,2}""") && st.startDay.nonEmpty =>
          s"${st.startYear}-$e"
        case (Some(st), e) if e.matches("""\d{1,2}""") && st.startMonth.nonEmpty =>
          s"${st.startYear}-$e"
        case (Some(st), e) if e.matches("""\d{2}""") && st.startYear.length == 4 =>
          st.startYear.take(2) + e
        case (_, e) => e
      }
      val end = parseSingle(endRaw)
      (start, end) match {
        case (Some(st), Some(en)) =>
          val single = st.startYear == en.endYear &&
            st.startMonth == en.endMonth && st.startDay == en.endDay &&
            st.startMonth.nonEmpty && st.startDay.nonEmpty
          Some(EventDate(st.startDate, en.endDate.orElse(en.startDate),
            st.startYear, st.startMonth, st.startDay,
            en.endYear, en.endMonth, en.endDay, single))
        case _ => None
      }
    } else {
      parseSingle(s)
    }
  }
}
