package lifebench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom
import scala.collection.mutable

/** Seeded Darwin Core input generator with planted ground truth.
  *
  * Everything the program sees comes from files written here: one
  * occurrence CSV per workload input, the dimension CSVs (names,
  * sensitivity, species groups, GIS layers as WKT, expert distributions)
  * and the delta batch CSVs. The same seed gives byte-identical files.
  *
  * Planted properties (recorded in [[Truth]]):
  *  - taxa drawn Zipf(`ZipfS`) over `Taxa` species;
  *  - coordinates drawn from a pool of `CoordRatio` × n distinct points;
  *  - `MalformedShare` of the records carry a malformed coordinate or date;
  *  - exact-duplicate groups (all fields equal but the occurrenceID) and
  *    near-duplicate groups (coordinates at lower precision, one collector
  *    letter changed), each in a block of its own: a reserved 1° latitude
  *    band and a date no other record uses.
  *
  * Valid coordinates use decimal digits 1-9 only, so no point sits on a
  * layer boundary (boundaries are whole degrees or carry a fifth decimal)
  * and the dedup precision ladder never collapses a coordinate. */
object Gen {

  val Dr = "dr-bench"
  val Taxa = 400
  val HotTaxa = 10
  val ZipfS = 1.1
  val CoordRatio = 0.25
  val MalformedShare = 0.05
  val ExactDupShare = 0.02
  val NearDupShare = 0.01
  val Regions = 6
  val RegionLayer = "cl1048"
  val EnvLayer = "el882"
  val Groups = 8
  val Sensitive = 5
  val Distributions = 40

  val Columns: Seq[String] = Seq("occurrenceID", "catalogNumber",
    "recordNumber", "recordedBy", "scientificName", "kingdom", "taxonRank",
    "eventDate", "decimalLatitude", "decimalLongitude", "basisOfRecord",
    "institutionCode", "collectionCode", "country",
    "coordinateUncertaintyInMeters", "benchBatch")

  final case class Rec(occ: String, cat: String, recNo: String,
      collector: String, taxon: Int, date: String, lat: String, lon: String,
      bor: String, uncertainty: String, batch: String) {
    def row: Seq[String] = Seq(occ, cat, recNo, collector, taxonName(taxon),
      kingdomOf(taxon), "species", date, lat, lon, bor, "BENCH", "OCC",
      "Australia", uncertainty, batch)
  }

  /** What the checks compare against. Per-record facts are kept for the
    * keys a workload looks up; counts are kept for the whole input. */
  final class Truth(val recs: Array[Rec]) {
    val byKey: Map[String, Rec] = recs.iterator.map(r => rowKey(r.occ) -> r).toMap
    def keys: Array[String] = recs.map(r => rowKey(r.occ))
    /** Region layer value → records sampled inside it. */
    lazy val regionCounts: Map[String, Long] = countBy(recs.iterator)(regionOf)
    def regionCountsFor(taxon: Int): Map[String, Long] =
      countBy(recs.iterator.filter(_.taxon == taxon))(regionOf)
    lazy val outOfRange: Int = recs.count(r => coordKind(r) == "range")
    lazy val badDates: Int = recs.count(r => !validDate(r.date))
    var exactGroups: Seq[Seq[String]] = Nil
    var nearGroups: Seq[Seq[String]] = Nil
    def props: Map[String, Double] = {
      val valid = recs.filter(r => coordKind(r) == "ok")
      val distinct = valid.iterator.map(r => (r.lat, r.lon)).toSet.size
      val taxonFreq = recs.groupBy(_.taxon).values.map(_.length).toSeq
        .sorted.reverse
      val blocks = recs.iterator.filter(r => coordKind(r) == "ok" &&
          validDate(r.date))
        .map(r => (r.taxon, r.date, cell0(r.lat), cell0(r.lon)))
        .toSeq.groupBy(identity).values.map(_.size)
      Map("records" -> recs.length.toDouble,
        "distinct_coord_ratio" -> distinct.toDouble / recs.length,
        "taxon_zipf_s" -> ZipfS,
        "top_taxon_share" -> taxonFreq.head.toDouble / recs.length,
        "max_block_rows" -> (if (blocks.isEmpty) 0.0 else blocks.max.toDouble),
        "malformed_share" -> recs.count(r =>
          coordKind(r) != "ok" || !validDate(r.date)).toDouble / recs.length,
        "exact_dup_share" ->
          exactGroups.map(_.size).sum.toDouble / recs.length,
        "near_dup_share" -> nearGroups.map(_.size).sum.toDouble / recs.length)
    }
  }

  // ── taxonomy ──
  private val genera = Array("Acacia", "Eucalyptus", "Macropus", "Varanus",
    "Banksia", "Pteropus", "Litoria", "Grevillea", "Ctenotus", "Melaleuca")
  def taxonName(t: Int): String = s"${genera(t % genera.length)} bench${t}a"
  def taxonLsid(t: Int): String = s"urn:lsid:bench:taxon:$t"
  def kingdomOf(t: Int): String =
    if (groupOf(t) < Groups / 2) "Animalia" else "Plantae"
  def groupOf(t: Int): Int = t * Groups / Taxa
  def lft(t: Int): Long = 1000L + 2L * t

  // ── keys: the program's identity is dr | sha256(dr | occurrenceID) ──
  def rowKey(occ: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val h = md.digest(s"$Dr|$occ".getBytes(UTF_8))
    Dr + "|" + java.util.HexFormat.of().formatHex(h)
  }

  // ── geometry: regions are longitude strips, env cells are 2° squares ──
  val LatMin = -45; val LatMax = -5; val LonMin = 112; val LonMax = 156
  private def regionEdge(k: Int): Double =
    LonMin + (LonMax - LonMin).toDouble * k / Regions + 0.00005
  def regionName(k: Int): String = s"Region-$k"
  def coordKind(r: Rec): String =
    if (r.lat.toDoubleOption.isEmpty || r.lon.toDoubleOption.isEmpty) "parse"
    else if (r.lat.toDouble.abs > 90 || r.lon.toDouble.abs > 180) "range"
    else "ok"
  /** Region layer value the sampler must give this record, if any. */
  def regionOf(r: Rec): Option[String] =
    if (coordKind(r) != "ok") None
    else {
      val (lat, lon) = (r.lat.toDouble, r.lon.toDouble)
      if (lat < LatMin || lat > LatMax) None
      else (0 until Regions).find(k =>
        lon > regionEdge(k) && lon < regionEdge(k + 1)).map(regionName)
    }
  private def cell0(s: String): String =
    BigDecimal(s).setScale(0, BigDecimal.RoundingMode.HALF_UP).toString
  def validDate(d: String): Boolean =
    try { java.time.LocalDate.parse(d); true }
    catch { case _: Exception => false }

  private def countBy(it: Iterator[Rec])(f: Rec => Option[String]) =
    it.flatMap(f).toSeq.groupBy(identity).map { case (k, v) => k -> v.size.toLong }

  // ── random helpers ──
  final class Rng(seed: Long) {
    private val r = new SplittableRandom(seed)
    def int(n: Int): Int = r.nextInt(n)
    def dbl(): Double = r.nextDouble()
    /** A number in (lo, hi) with `dp` decimals, every decimal 1-9. */
    def coord(lo: Int, hi: Int, dp: Int): String = {
      val whole = lo + int(hi - lo)
      val frac = (0 until dp).map(_ => ('1' + int(9)).toChar).mkString
      if (whole < 0) s"-${-whole - 1}.$frac" else s"$whole.$frac"
    }
    def letters(n: Int): String =
      (0 until n).map(_ => ('a' + int(26)).toChar).mkString
    def shuffle[A](a: Array[A]): Array[A] = {
      val c = a.clone()
      for (i <- c.indices.reverse if i > 0) {
        val j = int(i + 1); val t = c(i); c(i) = c(j); c(j) = t
      }
      c
    }
  }

  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = (1 to n).map(k => 1.0 / math.pow(k, s))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    }
    def draw(rng: Rng): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rng.dbl())
      (if (i >= 0) i else -i - 1).min(n - 1)
    }
  }

  private val bors = Array("HumanObservation", "PreservedSpecimen",
    "MachineObservation")

  private def collectors(rng: Rng): Array[String] =
    Array.fill(300)(s"${rng.letters(7).capitalize}, ${('A' + rng.int(26)).toChar}.")

  private def date(rng: Rng): String =
    f"${1990 + rng.int(30)}%d-${1 + rng.int(12)}%02d-${1 + rng.int(28)}%02d"

  /** `n` occurrence records for input `tag`. Planted groups take dates
    * counting down from 1989-12-31, before every random date, in the
    * latitude band (-11, -10), north of every random point. */
  def occurrences(seed: Long, tag: String, n: Int): Truth = {
    val rng = new Rng(seed * 1000003L + tag.hashCode)
    val zipf = new Zipf(Taxa, ZipfS)
    val coll = collectors(rng)
    val pool = Array.fill((n * CoordRatio).toInt.max(1))(
      (rng.coord(-40, -12, 4), rng.coord(113, 153, 4)))
    val out = new mutable.ArrayBuffer[Rec](n)
    var nextReserved = 0
    def reservedDate(): String = {
      nextReserved += 1
      java.time.LocalDate.of(1989, 12, 31).minusDays(nextReserved).toString
    }
    def fresh(i: Int): Rec = {
      val (lat, lon) = pool(rng.int(pool.length))
      Rec(s"$tag-$i", s"C$tag-$i", s"R${rng.int(100000)}",
        coll(rng.int(coll.length)), zipf.draw(rng), date(rng), lat, lon,
        bors(rng.int(bors.length)), (10 * (1 + rng.int(100))).toString, tag)
    }
    val exact = mutable.ArrayBuffer[Seq[String]]()
    val near = mutable.ArrayBuffer[Seq[String]]()
    var i = 0
    while (i < n) {
      val u = rng.dbl()
      if (u < ExactDupShare / 2.5 && n - i >= 3) {
        // exact group of 2-3: same taxon, date, place, collector, numbers
        val size = 2 + rng.int(2)
        val base = fresh(i).copy(date = reservedDate(),
          lat = rng.coord(-11, -10, 4), lon = rng.coord(113, 153, 4),
          taxon = rng.int(Taxa))
        val members = (0 until size).map(j => base.copy(occ = s"$tag-${i + j}"))
        out ++= members; exact += members.map(r => rowKey(r.occ)); i += size
      } else if (u < (ExactDupShare + NearDupShare) / 2.5 && n - i >= 2) {
        // near pair: coordinates at 2 dp, one collector letter changed
        val base = fresh(i).copy(date = reservedDate(),
          lat = rng.coord(-11, -10, 4), lon = rng.coord(113, 153, 4),
          taxon = rng.int(Taxa))
        val twin = base.copy(occ = s"$tag-${i + 1}", cat = s"C$tag-${i + 1}",
          lat = base.lat.take(base.lat.indexOf('.') + 3),
          lon = base.lon.take(base.lon.indexOf('.') + 3),
          collector = base.collector.updated(1, 'z'))
        out += base; out += twin; near += Seq(base, twin).map(r => rowKey(r.occ))
        i += 2
      } else {
        val r0 = fresh(i)
        val m = rng.dbl()
        out += (
          if (m < MalformedShare / 4) r0.copy(lat = r0.lat + "S", lon = "E" + r0.lon)
          else if (m < MalformedShare / 2) r0.copy(lat = "95.5", lon = "200.5")
          else if (m < MalformedShare * 3 / 4) r0.copy(date = "2015-13-45")
          else if (m < MalformedShare) r0.copy(date = "not a date")
          else r0)
        i += 1
      }
    }
    val t = new Truth(out.toArray)
    t.exactGroups = exact.toSeq; t.nearGroups = near.toSeq
    t
  }

  /** A delta batch against `base`: `inserts` new records of the touched
    * taxa and `updates` new catalogue numbers on existing keys of those
    * taxa (planted duplicate groups are left alone). */
  def deltaBatch(seed: Long, batch: Int, base: Truth, inserts: Int,
      updates: Int, touchedShare: Double): (Array[Rec], Set[Int]) = {
    val rng = new Rng(seed * 7919L + batch)
    // touched taxa come from below the ten hottest, so the share of
    // records a batch touches does not swing with whether the seed hits
    // one of the few taxa that hold a fifth of the records
    val touched = rng.shuffle((HotTaxa until Taxa).toArray)
      .take((Taxa * touchedShare).toInt.max(1)).sorted
    val ins = occurrences(seed + 31L * batch, s"d$batch", inserts).recs
      .filter(r => !r.date.startsWith("198")) // planted groups stay in bulk
      .map(r => r.copy(taxon = touched(rng.int(touched.length))))
    val planted = (base.exactGroups ++ base.nearGroups).flatten.toSet
    val candidates = base.recs.filter(r =>
      touched.contains(r.taxon) && !planted(rowKey(r.occ)))
    val ups = rng.shuffle(candidates).take(updates)
      .map(r => r.copy(cat = s"U$batch-${r.occ}", batch = s"d$batch"))
    (ins ++ ups, touched.toSet)
  }

  // ── file writers ──
  private def csvCell(s: String): String =
    if (s == null) ""
    else if (s.exists(c => c == ',' || c == '"' || c == '\n'))
      "\"" + s.replace("\"", "\"\"") + "\""
    else s

  def writeCsv(path: String, header: Seq[String],
      rows: Iterator[Seq[String]]): Unit = {
    val f = new File(path); f.getParentFile.mkdirs()
    val w = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(f), UTF_8), 1 << 16)
    try {
      w.write(header.mkString(",")); w.write('\n')
      rows.foreach { r => w.write(r.map(csvCell).mkString(",")); w.write('\n') }
    } finally w.close()
  }

  def writeOccurrences(path: String, recs: Array[Rec]): Unit =
    writeCsv(path, Columns, recs.iterator.map(_.row))

  private def box(lat0: Double, lon0: Double, lat1: Double, lon1: Double) =
    s"POLYGON(($lon0 $lat0, $lon1 $lat0, $lon1 $lat1, $lon0 $lat1, $lon0 $lat0))"

  /** Dimension files under `dir`, read back with [[DimSchemas]]. */
  def writeDims(dir: String, seed: Long): Unit = {
    val rng = new Rng(seed * 31L + 7)
    writeCsv(s"$dir/names.csv", Seq("nameLower", "taxonConceptID",
        "acceptedName", "taxonRank", "kingdom", "family", "genus", "lft", "rgt"),
      (0 until Taxa).iterator.map(t => Seq(taxonName(t).toLowerCase,
        taxonLsid(t), taxonName(t), "species", kingdomOf(t),
        s"Family${groupOf(t)}", genera(t % genera.length), lft(t).toString,
        (lft(t) + 1).toString)))
    writeCsv(s"$dir/sensitivity.csv", Seq("nameLower", "generalisationMetres"),
      (0 until Sensitive).iterator.map(k =>
        Seq(taxonName(k * 7 + 3).toLowerCase, "10000")))
    writeCsv(s"$dir/groups.csv", Seq("speciesGroup", "lft", "rgt"),
      (0 until Groups).iterator.map { g =>
        val first = g * Taxa / Groups; val last = (g + 1) * Taxa / Groups
        Seq(s"Group-$g", lft(first).toString, lft(last).toString)
      })
    val regions = (0 until Regions).map(k => Seq(RegionLayer, regionName(k),
      box(LatMin, regionEdge(k), LatMax, regionEdge(k + 1))))
    val cells = for (la <- LatMin until LatMax by 2; lo <- LonMin until LonMax by 2)
      yield Seq(EnvLayer, f"${10 + 0.4 * (la - LatMin) + rng.int(20) / 10.0}%.1f",
        box(la, lo, la + 2, lo + 2))
    writeCsv(s"$dir/layers.csv", Seq("layerId", "value", "wkt"),
      (regions ++ cells).iterator)
    writeCsv(s"$dir/distributions.csv", Seq("taxonGuid", "wkt"),
      (0 until Distributions).iterator.map(t =>
        Seq(taxonLsid(t), box(-40, 113, -12, 125 + rng.int(25)))))
  }

  val DimSchemas: Map[String, String] = Map(
    "names" -> ("nameLower STRING, taxonConceptID STRING, acceptedName STRING, " +
      "taxonRank STRING, kingdom STRING, family STRING, genus STRING, " +
      "lft BIGINT, rgt BIGINT"),
    "sensitivity" -> "nameLower STRING, generalisationMetres INT",
    "groups" -> "speciesGroup STRING, lft BIGINT, rgt BIGINT",
    "layers" -> "layerId STRING, value STRING, wkt STRING",
    "distributions" -> "taxonGuid STRING, wkt STRING")
}
