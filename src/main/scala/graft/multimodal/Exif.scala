package graft.multimodal

/** UDF return shape for EXIF extraction — boxed nullable fields (Janino
  * codegen requirement, like ParsedDate). */
case class ExifData(latitude: java.lang.Double, longitude: java.lang.Double,
    dateTimeOriginal: String)

/** Pure-JVM EXIF reader: JPEG APP1 segment → TIFF structure → GPS IFD
  * (DMS rationals + hemisphere refs) and Exif sub-IFD (DateTimeOriginal).
  *
  * Parity target: reference `util/EXIF.scala:34-67` (extractCoordinates
  * via the metadata-extractor library) and `load/MediaStore` feeding
  * occurrence lat/lon from image metadata. Decimal degrees use the
  * reference's formula `(deg + (min*60 + sec)/3600) * ref`. One deliberate
  * divergence: the reference signs LONGITUDE by the LATITUDE ref (a
  * comparison that can never be "W", so western longitudes come out
  * positive); here the longitude ref signs the longitude, which is what
  * the EXIF spec means and what the reference plainly intended.
  *
  * Both byte orders (II/MM), inline and offset-stored values, and absent
  * IFDs/tags are handled; any structural problem returns an all-null
  * result rather than throwing — media metadata is untrusted input.
  */
object Exif {

  private val Empty = ExifData(null, null, null)

  def extract(bytes: Array[Byte]): ExifData = {
    try extractOrThrow(bytes)
    catch { case _: Exception => Empty }
  }

  private def u8(b: Byte): Int = b & 0xff

  private def extractOrThrow(bytes: Array[Byte]): ExifData = {
    if (bytes == null || bytes.length < 4) return Empty
    if (u8(bytes(0)) != 0xff || u8(bytes(1)) != 0xd8) return Empty // not JPEG
    // walk JPEG segments for APP1/"Exif\0\0"
    var i = 2
    while (i + 4 <= bytes.length) {
      if (u8(bytes(i)) != 0xff) return Empty
      val marker = u8(bytes(i + 1))
      if (marker == 0xd9 || marker == 0xda) return Empty // EOI / image data
      val len = (u8(bytes(i + 2)) << 8) | u8(bytes(i + 3)) // includes itself
      if (marker == 0xe1 && len >= 8 &&
        i + 4 + 6 <= bytes.length &&
        bytes(i + 4) == 'E' && bytes(i + 5) == 'x' && bytes(i + 6) == 'i' &&
        bytes(i + 7) == 'f' && bytes(i + 8) == 0 && bytes(i + 9) == 0) {
        return parseTiff(bytes, i + 10, i + 2 + len)
      }
      i += 2 + len
    }
    Empty
  }

  /** TIFF/IFD walk; `base` is the TIFF header offset all pointers are
    * relative to, `end` the APP1 segment end (bounds every read). */
  private def parseTiff(bytes: Array[Byte], base: Int, end: Int): ExifData = {
    if (base + 8 > end) return Empty
    val little = bytes(base) == 'I' && bytes(base + 1) == 'I'
    val big = bytes(base) == 'M' && bytes(base + 1) == 'M'
    if (!little && !big) return Empty
    def u16(o: Int): Int = {
      if (o + 2 > end) throw new IndexOutOfBoundsException
      if (little) u8(bytes(o)) | (u8(bytes(o + 1)) << 8)
      else (u8(bytes(o)) << 8) | u8(bytes(o + 1))
    }
    def u32(o: Int): Long = {
      if (o + 4 > end) throw new IndexOutOfBoundsException
      if (little)
        u8(bytes(o)).toLong | (u8(bytes(o + 1)).toLong << 8) |
          (u8(bytes(o + 2)).toLong << 16) | (u8(bytes(o + 3)).toLong << 24)
      else
        (u8(bytes(o)).toLong << 24) | (u8(bytes(o + 1)).toLong << 16) |
          (u8(bytes(o + 2)).toLong << 8) | u8(bytes(o + 3)).toLong
    }
    if (u16(base + 2) != 42) return Empty

    // one IFD → map(tag → (type, count, valueFieldOffset))
    def readIfd(ifdOff: Int): Map[Int, (Int, Long, Int)] = {
      val n = u16(base + ifdOff)
      (0 until n).map { k =>
        val e = base + ifdOff + 2 + 12 * k
        u16(e) -> ((u16(e + 2), u32(e + 4), e + 8))
      }.toMap
    }
    // value bytes live inline when they fit in the 4-byte field, else at
    // the stored offset
    def valueOffset(typ: Int, count: Long, fieldOff: Int): Int = {
      val sz = typ match {
        case 1 | 2 | 7 => 1L // BYTE / ASCII / UNDEFINED
        case 3 => 2L         // SHORT
        case 4 | 9 => 4L     // LONG / SLONG
        case 5 | 10 => 8L    // RATIONAL / SRATIONAL
        case _ => 1L
      }
      if (sz * count <= 4) fieldOff else base + u32(fieldOff).toInt
    }
    def ascii(entry: (Int, Long, Int)): String = {
      val (typ, count, fo) = entry
      val off = valueOffset(typ, count, fo)
      val n = count.toInt
      if (off + n > end) throw new IndexOutOfBoundsException
      new String(bytes, off, n, "US-ASCII").takeWhile(_ != 0.toChar)
    }
    def rationals(entry: (Int, Long, Int)): Array[Double] = {
      val (typ, count, fo) = entry
      val off = valueOffset(typ, count, fo)
      // bounds-check with Long arithmetic BEFORE allocating: the count
      // field is untrusted, and a crafted header declaring 512M rationals
      // must fail as a caught IndexOutOfBounds, never as an uncatchable
      // multi-GB OutOfMemoryError
      if (count < 0 || off < 0 || off + 8L * count > end)
        throw new IndexOutOfBoundsException
      Array.tabulate(count.toInt) { k =>
        val num = u32(off + 8 * k); val den = u32(off + 8 * k + 4)
        if (den == 0) 0.0 else num.toDouble / den.toDouble
      }
    }

    val ifd0 = readIfd(u32(base + 4).toInt)
    val gps = ifd0.get(0x8825)
      .map(e => readIfd(u32(e._3).toInt)).getOrElse(Map.empty)
    val exifIfd = ifd0.get(0x8769)
      .map(e => readIfd(u32(e._3).toInt)).getOrElse(Map.empty)

    // reference formula: (deg + (min*60 + sec)/3600) * ref
    def dms(vals: Array[Double], negative: Boolean): java.lang.Double =
      if (vals.length < 3) null
      else Double.box((vals(0).abs + (vals(1).abs * 60 + vals(2).abs) / 3600.0) *
        (if (negative) -1.0 else 1.0))
    val lat = (gps.get(0x0002), gps.get(0x0001)) match {
      case (Some(v), ref) =>
        dms(rationals(v), ref.exists(r => ascii(r) == "S"))
      case _ => null
    }
    val lon = (gps.get(0x0004), gps.get(0x0003)) match {
      case (Some(v), ref) =>
        dms(rationals(v), ref.exists(r => ascii(r) == "W"))
      case _ => null
    }
    val dt = exifIfd.get(0x9003).map(ascii).orNull
    ExifData(lat, lon, dt)
  }

  // ───────────────────────── synthetic writer ─────────────────────────

  /** Minimal EXIF JPEG: SOI + APP1(TIFF big-endian: IFD0 → {Exif IFD:
    * DateTimeOriginal; GPS IFD: lat/lon refs + DMS rationals}) + EOI.
    * Deterministic bytes for a given input — the spec/query fixture
    * generator (this container ships no camera files). Seconds carry a
    * /100 denominator so fractional-second precision round-trips. */
  def syntheticExifJpeg(lat: Double, lon: Double, dateTime: String): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def w8(v: Int): Unit = out.write(v & 0xff)
    def w16(v: Int): Unit = { w8(v >> 8); w8(v) }

    def toDms(x: Double): (Long, Long, Long) = {
      val a = x.abs
      val deg = a.toLong
      val minF = (a - deg) * 60.0
      val min = minF.toLong
      val secCenti = math.round((minF - min) * 60.0 * 100.0)
      (deg, min, secCenti)
    }
    val (latD, latM, latS) = toDms(lat)
    val (lonD, lonM, lonS) = toDms(lon)
    val dtBytes = (dateTime + "\u0000").getBytes("US-ASCII")

    // TIFF layout (offsets relative to TIFF header):
    // 0: header(8) | 8: IFD0 (2 + 2*12 + 4 = 30) | 38: ExifIFD (2+12+4=18)
    // 56: GPS IFD (2 + 4*12 + 4 = 54) | 110: dt | 110+len: latRats | +24: lonRats
    val dtOff = 110
    val latOff = dtOff + dtBytes.length
    val lonOff = latOff + 24
    val tiff = new java.io.ByteArrayOutputStream()
    def t8(v: Int): Unit = tiff.write(v & 0xff)
    def t16(v: Int): Unit = { t8(v >> 8); t8(v) }
    def t32(v: Long): Unit = { t8((v >> 24).toInt); t8((v >> 16).toInt); t8((v >> 8).toInt); t8(v.toInt) }
    def entry(tag: Int, typ: Int, count: Long, value: Long): Unit = {
      t16(tag); t16(typ); t32(count); t32(value)
    }
    def inlineAscii2(s: String): Long = // "N\0" left-justified in 4 bytes
      ((s.charAt(0).toLong & 0xff) << 24)
    // header
    t8('M'); t8('M'); t16(42); t32(8)
    // IFD0
    t16(2)
    entry(0x8769, 4, 1, 38) // Exif IFD pointer
    entry(0x8825, 4, 1, 56) // GPS IFD pointer
    t32(0)
    // Exif IFD
    t16(1)
    entry(0x9003, 2, dtBytes.length.toLong, dtOff)
    t32(0)
    // GPS IFD
    t16(4)
    entry(0x0001, 2, 2, inlineAscii2(if (lat < 0) "S" else "N"))
    entry(0x0002, 5, 3, latOff)
    entry(0x0003, 2, 2, inlineAscii2(if (lon < 0) "W" else "E"))
    entry(0x0004, 5, 3, lonOff)
    t32(0)
    // data blocks
    tiff.write(dtBytes)
    for ((n, d) <- Seq((latD, 1L), (latM, 1L), (latS, 100L),
      (lonD, 1L), (lonM, 1L), (lonS, 100L))) { t32(n); t32(d) }

    val tiffBytes = tiff.toByteArray
    // JPEG wrapper
    w16(0xffd8) // SOI
    w16(0xffe1) // APP1
    w16(2 + 6 + tiffBytes.length) // segment length includes itself
    out.write("Exif".getBytes("US-ASCII")); w8(0); w8(0)
    out.write(tiffBytes)
    w16(0xffd9) // EOI
    out.toByteArray
  }
}
