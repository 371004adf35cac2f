package graft.plans

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}

/** Native Catalyst expressions + session-extension registration.
  *
  * Tier (b) of the extension ladder (compose built-ins → custom Expression →
  * custom plan/strategy): scalar kernels that sit in 100 TB hot paths get a
  * codegen'd Expression so they stay inside whole-stage codegen with no UDF
  * serialization boundary. The `GraftFunctions` Column forms build their
  * expressions directly; SQL text needs the names registered, via
  * `SparkSessionExtensions` (config
  * `spark.sql.extensions=graft.plans.GraftExtensions`) or post-hoc with
  * `GraftFunctions.register(spark)`.
  */
object CosineSimilarity {
  /** Static entry point shared by interpreted eval and generated code. */
  def compute(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble; val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dot / denom
  }
}

/** cosine_sim(array<float>, array<float>) → double, codegen'd. */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"cosine_sim expects two array<float> arguments, got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
  }
  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any =
    CosineSimilarity.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.plans.CosineSimilarity.compute($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** hamming64(bigint, bigint) → int — SimHash distance, codegen'd inline. */
case class Hamming64(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (left.dataType == LongType && right.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      "hamming64 expects two bigint arguments")
  override def dataType: DataType = IntegerType
  override def nullSafeEval(a: Any, b: Any): Any =
    java.lang.Long.bitCount(a.asInstanceOf[Long] ^ b.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = java.lang.Long.bitCount($a ^ $b);")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Hamming64 =
    copy(left = newLeft, right = newRight)
}

object NfcNormalize {
  def compute(s: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.unsafe.types.UTF8String =
    org.apache.spark.unsafe.types.UTF8String.fromString(
      java.text.Normalizer.normalize(s.toString,
        java.text.Normalizer.Form.NFC))
}

/** nfc_normalize(string) → string: Unicode NFC canonical composition
  * (composed é instead of e + combining acute). The canonicalisation step
  * text dedup needs BEFORE hashing — visually identical strings with
  * different codepoint sequences must fingerprint identically. Matches
  * DuckDB's `nfc_normalize`. */
case class NfcNormalize(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      "nfc_normalize expects a string argument")
  override def dataType: DataType = StringType
  override def nullSafeEval(s: Any): Any =
    NfcNormalize.compute(s.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.plans.NfcNormalize.compute($s)")
  override protected def withNewChildInternal(c: Expression): NfcNormalize =
    copy(child = c)
}

object StripAccents {
  private val marks = java.util.regex.Pattern.compile("\\p{Mn}+")
  def compute(s: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.unsafe.types.UTF8String = {
    val nfd = java.text.Normalizer.normalize(s.toString,
      java.text.Normalizer.Form.NFD)
    org.apache.spark.unsafe.types.UTF8String.fromString(
      java.text.Normalizer.normalize(marks.matcher(nfd).replaceAll(""),
        java.text.Normalizer.Form.NFC))
  }
}

/** strip_accents(string) → string: NFD decomposition, drop combining
  * marks, re-compose — "café" → "cafe". The accent-folding step of
  * language-agnostic matching (the reference lowercase/trims but cannot
  * fold accents; DuckDB ships the same op as `strip_accents`). */
case class StripAccents(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      "strip_accents expects a string argument")
  override def dataType: DataType = StringType
  override def nullSafeEval(s: Any): Any =
    StripAccents.compute(s.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.plans.StripAccents.compute($s)")
  override protected def withNewChildInternal(c: Expression): StripAccents =
    copy(child = c)
}

object JaroWinkler {
  /** Standard Jaro–Winkler similarity, matched to DuckDB's
    * `jaro_winkler_similarity` conventions: either-empty → 0.0, match
    * window ⌊max(|a|,|b|)/2⌋−1, half-transposition count, Winkler boost
    * (scale 0.1, prefix capped at 4) applied only when jaro ≥ 0.7. */
  def compute(u1: org.apache.spark.unsafe.types.UTF8String,
      u2: org.apache.spark.unsafe.types.UTF8String): Double = {
    val a = u1.toString; val b = u2.toString
    val la = a.length; val lb = b.length
    if (la == 0 || lb == 0) return 0.0
    val window = math.max(math.max(la, lb) / 2 - 1, 0)
    val aMatch = new Array[Boolean](la)
    val bMatch = new Array[Boolean](lb)
    var m = 0
    var i = 0
    while (i < la) {
      val hi = math.min(lb - 1, i + window)
      var j = math.max(0, i - window)
      var found = false
      while (j <= hi && !found) {
        if (!bMatch(j) && a.charAt(i) == b.charAt(j)) {
          aMatch(i) = true; bMatch(j) = true; m += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var t = 0; var k = 0
    i = 0
    while (i < la) {
      if (aMatch(i)) {
        while (!bMatch(k)) k += 1
        if (a.charAt(i) != b.charAt(k)) t += 1
        k += 1
      }
      i += 1
    }
    val md = m.toDouble
    val jaro = (md / la + md / lb + (m - t / 2).toDouble / md) / 3.0
    if (jaro < 0.7) return jaro
    var p = 0
    val pMax = math.min(4, math.min(la, lb))
    while (p < pMax && a.charAt(p) == b.charAt(p)) p += 1
    jaro + p * 0.1 * (1.0 - jaro)
  }
}

/** jaro_winkler(string, string) → double — the name-matching similarity
  * behind fuzzy entity resolution (blocked candidate scoring). Codegen'd
  * so blocked pair scans stay inside whole-stage codegen. */
case class JaroWinklerSim(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      "jaro_winkler expects two string arguments")
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    JaroWinkler.compute(
      a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      b.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.plans.JaroWinkler.compute($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaroWinklerSim =
    copy(left = newLeft, right = newRight)
}

object Geohash {
  private val alphabet = "0123456789bcdefghjkmnpqrstuvwxyz"

  /** Standard geohash (Niemeyer): quantise each axis to its bit budget
    * with one floor-multiply (mathematically the bisection loop, minus
    * per-step float drift — and restatable as integer algebra in SQL,
    * which the bisection form is not), then interleave lon-first and
    * base32-encode. */
  def compute(lat: Double, lon: Double, precision: Int): org.apache.spark.unsafe.types.UTF8String = {
    val p = math.max(1, math.min(12, precision))
    val bits = p * 5
    val lonBits = (bits + 1) / 2 // lon owns the first (even) bit positions
    val latBits = bits / 2
    def quant(v: Double, lo: Double, hi: Double, nb: Int): Long = {
      val cells = 1L << nb
      val i = ((v - lo) / (hi - lo) * cells).toLong
      math.max(0L, math.min(cells - 1, i))
    }
    val ilon = quant(lon, -180.0, 180.0, lonBits)
    val ilat = quant(lat, -90.0, 90.0, latBits)
    val sb = new java.lang.StringBuilder(p)
    var acc = 0; var nAcc = 0
    var b = 0
    while (b < bits) {
      val bit =
        if ((b & 1) == 0) ((ilon >> (lonBits - 1 - b / 2)) & 1L).toInt
        else ((ilat >> (latBits - 1 - b / 2)) & 1L).toInt
      acc = (acc << 1) | bit; nAcc += 1
      if (nAcc == 5) { sb.append(alphabet.charAt(acc)); acc = 0; nAcc = 0 }
      b += 1
    }
    org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString)
  }
}

/** geohash(double, double, int) → string — base32 spatial cell key, the
  * industry form of the reference's point_0_1/point_0_01 grid facets
  * (`index/IndexDAO.scala` lat_long rounding columns). Codegen'd so index
  * projections stay inside whole-stage codegen. */
case class GeohashExpr(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (first.dataType == DoubleType && second.dataType == DoubleType &&
        third.dataType == IntegerType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      "geohash expects (double, double, int)")
  override def dataType: DataType = StringType
  override def nullSafeEval(lat: Any, lon: Any, p: Any): Any =
    Geohash.compute(lat.asInstanceOf[Double], lon.asInstanceOf[Double],
      p.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) =>
      s"graft.plans.Geohash.compute($a, $b, $c)")
  override protected def withNewChildrenInternal(f: Expression,
      s: Expression, t: Expression): GeohashExpr =
    copy(first = f, second = s, third = t)
}

object CharEntropy {
  /** Shannon entropy (bits/char) over Unicode code points. A document
    * quality signal from the C4/Gopher filter family: near-zero entropy
    * flags repeated-character boilerplate, unusually high entropy flags
    * encoded blobs / random noise — both are pre-training removal
    * candidates. One pass for counts, one over the (≤ alphabet-size)
    * frequency table; empty/null-free by nullSafeEval, empty string → 0. */
  def compute(s: org.apache.spark.unsafe.types.UTF8String): Double = {
    val str = s.toString
    if (str.isEmpty) return 0.0
    val counts = new java.util.HashMap[Integer, Integer]()
    var i = 0
    var n = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      counts.merge(cp, 1, (a, b) => a + b)
      i += Character.charCount(cp)
      n += 1
    }
    val ln2 = math.log(2.0)
    var h = 0.0
    val it = counts.values().iterator()
    while (it.hasNext) {
      val p = it.next().toDouble / n
      h -= p * (math.log(p) / ln2)
    }
    h
  }
}

/** char_entropy(string) → double — per-document Shannon entropy in
  * bits/character. Codegen'd so corpus-wide quality scans stay inside
  * whole-stage codegen (map-only; no shuffle, unlike the explode→groupBy
  * restatement, which ships one row per character). */
case class CharEntropyExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      "char_entropy expects a string argument")
  override def dataType: DataType = DoubleType
  override def nullSafeEval(s: Any): Any =
    CharEntropy.compute(s.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.plans.CharEntropy.compute($s)")
  override protected def withNewChildInternal(c: Expression): CharEntropyExpr =
    copy(child = c)
}

object FixMojibake {
  import java.nio.charset.{CharacterCodingException, CodingErrorAction,
    StandardCharsets}
  private val Cp1252 = java.nio.charset.Charset.forName("windows-1252")

  private def tryRepair(s: String,
      cs: java.nio.charset.Charset): Option[String] = {
    val enc = cs.newEncoder()
    if (!enc.canEncode(s)) return None
    val bytes = s.getBytes(cs)
    val dec = StandardCharsets.UTF_8.newDecoder()
      .onMalformedInput(CodingErrorAction.REPORT)
      .onUnmappableCharacter(CodingErrorAction.REPORT)
    try {
      val out = dec.decode(java.nio.ByteBuffer.wrap(bytes)).toString
      // genuine mojibake SHRINKS on repair (multi-byte sequences collapse
      // to one char); equal length means the text was never corrupted
      if (out.length < s.length) Some(out) else None
    } catch { case _: CharacterCodingException => None }
  }

  /** One round of UTF-8-as-legacy repair: re-encode through cp1252 (the
    * usual web culprit — covers €/™-style sequences), falling back to
    * Latin-1 (covers the control-range bytes cp1252 leaves undefined);
    * keep the original unless the bytes decode as STRICT UTF-8 and the
    * repair shrinks the text. ASCII passes through untouched at the cost
    * of one encodability scan. */
  def compute(u: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.unsafe.types.UTF8String = {
    val s = u.toString
    if (s.isEmpty) return u
    tryRepair(s, Cp1252).orElse(tryRepair(s, StandardCharsets.ISO_8859_1))
      .map(org.apache.spark.unsafe.types.UTF8String.fromString)
      .getOrElse(u)
  }
}

/** fix_mojibake(string) → string: repair UTF-8 text that was mis-decoded
  * through a legacy single-byte charset ("cafÃ©" → "café", "â€™" → "’") —
  * the ftfy-style scrub a web corpus runs before fingerprinting (mojibake
  * splits exact-dup clusters and poisons language ID). Strict-decode
  * guarded: anything that isn't a clean reversal passes through
  * unchanged, so the op is idempotent on clean text. Codegen'd map-only. */
case class FixMojibakeExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      "fix_mojibake expects a string argument")
  override def dataType: DataType = StringType
  override def nullSafeEval(s: Any): Any =
    FixMojibake.compute(s.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.plans.FixMojibake.compute($s)")
  override protected def withNewChildInternal(c: Expression): FixMojibakeExpr =
    copy(child = c)
}

/** word_shingles(string, int) → rows of `sh: string` — a NATIVE Generator
  * (the Catalyst UDTF tier, completing the UDF/UDAF/UDTF triple next to
  * the codegen'd scalars and the typed Aggregators): one input row fans
  * out to its word n-grams without materialising an intermediate array
  * column. Lowercased whitespace tokens, the same portable tokenization
  * the dedup operators use; fewer tokens than `n` yields no rows.
  * Generators run interpreted by design (CodegenFallback) — the fan-out
  * dominates, not the per-row eval. */
case class WordShinglesGen(text: Expression, n: Expression)
    extends Expression with Generator
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def children: Seq[Expression] = Seq(text, n)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (text.dataType == StringType && n.dataType == IntegerType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      "word_shingles expects (string, int)")
  override def elementSchema: StructType =
    StructType(StructField("sh", StringType, nullable = false) :: Nil)
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow)
      : IterableOnce[org.apache.spark.sql.catalyst.InternalRow] = {
    val t = text.eval(input)
    val kv = n.eval(input)
    if (t == null || kv == null) Nil
    else {
      val k = kv.asInstanceOf[Int]
      val toks = t.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
        .toString.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)
      if (k <= 0 || toks.length < k) Nil
      else (0 to toks.length - k).iterator.map { i =>
        org.apache.spark.sql.catalyst.InternalRow(
          org.apache.spark.unsafe.types.UTF8String.fromString(
            toks.slice(i, i + k).mkString(" ")))
      }
    }
  }
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): WordShinglesGen =
    copy(text = newChildren(0), n = newChildren(1))
}

object MinhashMd5 {
  /** All `k` md5-derived signature minima over one shingle array in a
    * single tight pass — byte-identical to the relational form
    * `min over shingles of conv(substring(md5(h || ':' || sh), 1, 15),
    * 16, 10)` (the first 15 hex chars are the first 7 digest bytes plus
    * the high nibble of byte 7), but with no ×k row explode and no
    * (id, h) shuffle. */
  def compute(shingles: ArrayData, k: Int): ArrayData = {
    val mins = Array.fill(k)(Long.MaxValue)
    val md = java.security.MessageDigest.getInstance("MD5")
    val prefixes = new Array[Array[Byte]](k)
    var h = 0
    while (h < k) {
      prefixes(h) = (h.toString + ":").getBytes("US-ASCII"); h += 1
    }
    val n = shingles.numElements()
    var i = 0
    while (i < n) {
      if (!shingles.isNullAt(i)) {
        val shBytes = shingles.getUTF8String(i).getBytes
        h = 0
        while (h < k) {
          md.reset()
          md.update(prefixes(h))
          md.update(shBytes)
          val d = md.digest()
          var v = 0L
          var b = 0
          while (b < 7) { v = (v << 8) | (d(b) & 0xffL); b += 1 }
          v = (v << 4) | ((d(7) & 0xf0L) >>> 4)
          if (v < mins(h)) mins(h) = v
          h += 1
        }
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(mins)
  }
}

/** minhash_md5(array<string>, int) → array<long>: engine-portable MinHash
  * signature (every hash md5-derived, so an external oracle replays it)
  * computed in one codegen'd pass per row. */
case class MinhashMd5(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), IntegerType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          "minhash_md5 expects (array<string>, int)")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(a: Any, k: Any): Any =
    MinhashMd5.compute(a.asInstanceOf[ArrayData], k.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, k) =>
      s"${ev.value} = graft.plans.MinhashMd5.compute($a, $k);")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MinhashMd5 =
    copy(left = newLeft, right = newRight)
}

/** The hashed-set kernels behind [[JaccardLong]], [[ContainmentLong]] and
  * [[SignatureSim]]: each Catalyst array is unboxed once into a primitive
  * `long[]` and handed to the one `HashKernels` implementation, with no
  * per-element conversion. */
object LongArrayKernels {
  import graft.functions.HashKernels
  private def longs(a: ArrayData): Seq[Long] =
    scala.collection.immutable.ArraySeq.unsafeWrapArray(a.toLongArray())
  def jaccard(a: ArrayData, b: ArrayData): Double =
    HashKernels.jaccardLong(longs(a), longs(b))
  def containment(a: ArrayData, b: ArrayData): Double =
    HashKernels.containmentLong(longs(a), longs(b))
  def sigSim(a: ArrayData, b: ArrayData): Double =
    HashKernels.signatureSimilarity(longs(a), longs(b))
}

/** (array<bigint>, array<bigint>) → double, codegen'd: the verify step of
  * every dedup and linkage pair join. A null array yields null. */
sealed trait LongArrayPairKernel extends BinaryExpression {
  /** The [[LongArrayKernels]] method this expression evaluates. */
  protected def kernel: String
  protected def compute(a: ArrayData, b: ArrayData): Double

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects two array<bigint> arguments, got " +
            s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
    }
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.plans.LongArrayKernels.$kernel($a, $b)")
}

/** jaccard_long: exact Jaccard of two hashed shingle sets
  * (`HashKernels.jaccardLong`). */
case class JaccardLong(left: Expression, right: Expression)
    extends LongArrayPairKernel {
  override def prettyName: String = "jaccard_long"
  override protected def kernel: String = "jaccard"
  override protected def compute(a: ArrayData, b: ArrayData): Double =
    LongArrayKernels.jaccard(a, b)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaccardLong =
    copy(left = newLeft, right = newRight)
}

/** containment_long: |a ∩ b| / |a| of two hashed shingle sets
  * (`HashKernels.containmentLong`). */
case class ContainmentLong(left: Expression, right: Expression)
    extends LongArrayPairKernel {
  override def prettyName: String = "containment_long"
  override protected def kernel: String = "containment"
  override protected def compute(a: ArrayData, b: ArrayData): Double =
    LongArrayKernels.containment(a, b)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ContainmentLong =
    copy(left = newLeft, right = newRight)
}

/** sig_sim: share of equal positions over the shorter of two MinHash
  * signatures (`HashKernels.signatureSimilarity`). */
case class SignatureSim(left: Expression, right: Expression)
    extends LongArrayPairKernel {
  override def prettyName: String = "sig_sim"
  override protected def kernel: String = "sigSim"
  override protected def compute(a: ArrayData, b: ArrayData): Double =
    LongArrayKernels.sigSim(a, b)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SignatureSim =
    copy(left = newLeft, right = newRight)
}

object GraftFunctions {
  import org.apache.spark.sql.graftbridge.Bridge
  private def e(c: Column): Expression = Bridge.exprOf(c)

  /** Column-API forms: each builds its expression directly, so none needs
    * `register(spark)` first. */
  def cosine_sim(a: Column, b: Column): Column =
    Bridge.column(CosineSimilarity(e(a), e(b)))
  def hamming64(a: Column, b: Column): Column =
    Bridge.column(Hamming64(e(a), e(b)))
  def nfc_normalize(s: Column): Column = Bridge.column(NfcNormalize(e(s)))
  def strip_accents(s: Column): Column = Bridge.column(StripAccents(e(s)))
  def jaro_winkler(a: Column, b: Column): Column =
    Bridge.column(JaroWinklerSim(e(a), e(b)))
  def geohash(lat: Column, lon: Column, precision: Column): Column =
    Bridge.column(GeohashExpr(e(lat), e(lon), e(precision)))
  def char_entropy(s: Column): Column = Bridge.column(CharEntropyExpr(e(s)))
  def fix_mojibake(s: Column): Column = Bridge.column(FixMojibakeExpr(e(s)))
  def minhash_md5(shingles: Column, k: Column): Column =
    Bridge.column(MinhashMd5(e(shingles), e(k)))
  def word_shingles(text: Column, n: Column): Column =
    Bridge.column(WordShinglesGen(e(text), e(n)))
  def jaccard_long(a: Column, b: Column): Column =
    Bridge.column(JaccardLong(e(a), e(b)))
  def containment_long(a: Column, b: Column): Column =
    Bridge.column(ContainmentLong(e(a), e(b)))
  def sig_sim(a: Column, b: Column): Column =
    Bridge.column(SignatureSim(e(a), e(b)))

  private def fn[E <: Expression: scala.reflect.ClassTag](name: String)(
      build: Seq[Expression] => E): SparkSessionExtensions#FunctionDescription =
    (FunctionIdentifier(name),
      new ExpressionInfo(scala.reflect.classTag[E].runtimeClass.getName, name),
      build)

  /** Every function under its SQL name: the one table [[register]] and
    * [[GraftExtensions]] both inject. */
  val registrations: Seq[SparkSessionExtensions#FunctionDescription] =
    Seq(
      fn("cosine_sim")(es => CosineSimilarity(es(0), es(1))),
      fn("hamming64")(es => Hamming64(es(0), es(1))),
      fn("nfc_normalize")(es => NfcNormalize(es(0))),
      fn("strip_accents")(es => StripAccents(es(0))),
      fn("jaro_winkler")(es => JaroWinklerSim(es(0), es(1))),
      fn("geohash")(es => GeohashExpr(es(0), es(1), es(2))),
      fn("char_entropy")(es => CharEntropyExpr(es(0))),
      fn("fix_mojibake")(es => FixMojibakeExpr(es(0))),
      fn("minhash_md5")(es => MinhashMd5(es(0), es(1))),
      fn("word_shingles")(es => WordShinglesGen(es(0), es(1))),
      fn("jaccard_long")(es => JaccardLong(es(0), es(1))),
      fn("containment_long")(es => ContainmentLong(es(0), es(1))),
      fn("sig_sim")(es => SignatureSim(es(0), es(1))))

  /** Post-hoc registration on a live session, for SQL text. */
  def register(spark: SparkSession): Unit =
    registrations.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
}

/** `spark.sql.extensions`-loadable injector. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftFunctions.registrations.foreach(e.injectFunction)
    e.injectOptimizerRule(ApproxDistinctRule)
  }
}
