package graft.functions

import scala.util.hashing.MurmurHash3

/** One-pass primitive-array kernels for the dedup/similarity hot paths.
  *
  * Spark evaluates higher-order functions (transform/aggregate/zip_with)
  * interpreted, per element, with no common-subexpression elimination; a
  * minhash signature expressed that way costs numHashes × |shingles|
  * interpreted calls per row. These Scala kernels do the same work in one
  * tight primitive loop and are exposed as UDFs — measured ~10-30× faster at
  * sf0.1. (A codegen'd Catalyst Expression would shave the remaining UDF
  * serialization overhead; revisit if bench demands.)
  */
object HashKernels {

  /** splitmix64 finaliser — cheap, well-distributed 64-bit mixing. */
  @inline def mix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** 64-bit string hash from two murmur32 passes. */
  @inline def hash64(s: String): Long =
    (MurmurHash3.stringHash(s, 0xcafebabe).toLong << 32) |
      (MurmurHash3.stringHash(s, 0x9747b28c).toLong & 0xFFFFFFFFL)

  /** Normalise text (lowercase, collapse whitespace) — one pass. */
  def normalize(text: String): String = {
    val sb = new java.lang.StringBuilder(text.length)
    var i = 0; var lastWs = true
    while (i < text.length) {
      val c = text.charAt(i)
      if (Character.isWhitespace(c)) {
        if (!lastWs) { sb.append(' '); lastWs = true }
      } else { sb.append(Character.toLowerCase(c)); lastWs = false }
      i += 1
    }
    var len = sb.length
    if (len > 0 && sb.charAt(len - 1) == ' ') len -= 1
    sb.substring(0, len)
  }

  /** Distinct character n-gram shingles of normalised text. The Scala loop
    * replaces an interpreted transform+substr+array_distinct expression that
    * costs ~3ms per 300-char document — the dominant cost of every
    * shingle-based dedup query until it moved here. */
  def charShingles(text: String, n: Int): Array[String] = {
    val norm = normalize(text)
    if (norm.length < n) return Array(norm)
    val seen = new java.util.LinkedHashSet[String](norm.length * 2)
    var i = 0
    while (i + n <= norm.length) { seen.add(norm.substring(i, i + n)); i += 1 }
    seen.toArray(new Array[String](seen.size))
  }

  /** Fraction of equal signature positions — the Jaccard estimate. */
  def signatureSimilarity(a: Seq[Long], b: Seq[Long]): Double = {
    var eq = 0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { if (a(i) == b(i)) eq += 1; i += 1 }
    eq.toDouble / n
  }

  /** Distinct hashed character shingles: set semantics identical to
    * `charShingles` up to 64-bit hash collisions — ~2⁻⁶⁴ per pair, and in
    * AGGREGATE at corpus scale ≈ n²/2⁶⁵ expected colliding pairs over n
    * distinct grams: negligible through ~10⁹ grams, and at the 100 TB
    * target (10¹⁰–10¹¹ distinct grams) a few hundred collisions, each at
    * worst perturbing one set-membership test (one doc flagged/joined
    * extra) — within every declared dedup/decontamination threshold
    * (the q58 hashed-gram contract). At ~¼ the bytes and much cheaper
    * set ops / shuffles than string shingles. */
  def charShinglesHashed(text: String, n: Int): Array[Long] = {
    val norm = normalize(text)
    if (norm.length < n) return Array(hash64(norm))
    val seen = new java.util.LinkedHashSet[java.lang.Long](norm.length * 2)
    var i = 0
    while (i + n <= norm.length) {
      seen.add(hash64(norm.substring(i, i + n))); i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    out
  }

  /** Distinct hashed word n-gram shingles: set semantics identical to
    * the distinct word n-gram set up to 64-bit hash collisions, carrying
    * 8 bytes per gram instead of the n-word string — the explode+join
    * sides of decontamination shuffle a fraction of the bytes. */
  def wordShinglesHashed(text: String, n: Int): Array[Long] = {
    val toks = normalize(text).split(' ')
    if (toks.length < n) return Array(hash64(toks.mkString(" ")))
    val seen = new java.util.LinkedHashSet[java.lang.Long](toks.length * 2)
    var i = 0
    while (i + n <= toks.length) {
      seen.add(hash64(toks.slice(i, i + n).mkString(" "))); i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    out
  }

  /** Exact Jaccard of two hashed shingle sets. */
  def jaccardLong(a: Seq[Long], b: Seq[Long]): Double = {
    if (a.isEmpty && b.isEmpty) return 1.0
    val setA = new java.util.HashSet[java.lang.Long](a.size * 2)
    a.foreach(setA.add(_))
    var inter = 0
    val seenB = new java.util.HashSet[java.lang.Long](b.size * 2)
    b.foreach { s => if (seenB.add(s) && setA.contains(s)) inter += 1 }
    val union = setA.size + seenB.size - inter
    if (union == 0) 1.0 else inter.toDouble / union
  }

  /** Exact containment |a ∩ b| / |a| of two hashed shingle sets — the
    * asymmetric overlap measure ("how much of A sits inside B"). */
  def containmentLong(a: Seq[Long], b: Seq[Long]): Double = {
    if (a.isEmpty) return 1.0
    val setB = new java.util.HashSet[java.lang.Long](b.size * 2)
    b.foreach(setB.add(_))
    var inter = 0
    val seenA = new java.util.HashSet[java.lang.Long](a.size * 2)
    a.foreach { s => if (seenA.add(s) && setB.contains(s)) inter += 1 }
    if (seenA.isEmpty) 1.0 else inter.toDouble / seenA.size
  }

  /** Exact Jaccard of two shingle sets. */
  def jaccard(a: Seq[String], b: Seq[String]): Double = {
    if (a.isEmpty && b.isEmpty) return 1.0
    val setA = new java.util.HashSet[String](a.size * 2)
    a.foreach(setA.add)
    var inter = 0
    val seenB = new java.util.HashSet[String](b.size * 2)
    b.foreach { s => if (seenB.add(s) && setA.contains(s)) inter += 1 }
    val union = setA.size + seenB.size - inter
    if (union == 0) 1.0 else inter.toDouble / union
  }

  private val md5Local =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }

  /** MOSS winnowing fingerprints of a NORMALIZED document in one pass —
    * the kernel form of [[graft.operators.TextSearch.winnowFingerprints]]
    * (round 12): per k-gram hash = first 32 bits of md5(gram) as unsigned
    * (bit-identical to `conv(substring(md5(substring(t,pos,k)),1,8),16,10)`,
    * which the DuckDB oracle replays), a position is selected iff its
    * hash equals the minimum of SOME complete w-window containing it, and
    * the return value is the DISTINCT selected hash set. Replaces a
    * per-position explode + per-doc window sort shuffle with map-only
    * work (guide §2.4): same md5 count, zero exchanges.
    *
    * `t` must already be whitespace-collapsed + lowercased (done with
    * Spark expressions by the caller so normalization semantics stay
    * exactly the engine's). Returns empty when no complete window exists
    * (callers filtered these rows out before; explode drops empties). */
  def winnowHashes(t: String, k: Int, w: Int): Array[Long] = {
    val bytes = t.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val ascii = bytes.length == t.length
    // Gram positions count CODE POINTS, like the Spark expression form
    // this kernel replaced (length()/substring() over UTF8String) and the
    // DuckDB oracle — NOT UTF-16 code units (round 13, ADVICE r12: the
    // two diverge on supplementary-plane characters; for ASCII/BMP text
    // they are identical). ASCII keeps the raw-byte fast path.
    val cps: Array[Int] = if (ascii) null else t.codePoints().toArray
    val np = (if (ascii) t.length else cps.length) - (k - 1)
    if (np < w) return Array.emptyLongArray
    val md = md5Local.get()
    val h = new Array[Long](np) // h(i) = hash of gram starting at cp i
    var i = 0
    while (i < np) {
      md.reset()
      val d =
        if (ascii) { md.update(bytes, i, k); md.digest() }
        else md.digest(new String(cps, i, k)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      h(i) = ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
        ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
      i += 1
    }
    // a selected position's hash IS its window's min, and every window
    // min is a selected position's hash — so the distinct selected-hash
    // set is exactly the distinct window-minima set
    val sel = new java.util.LinkedHashSet[java.lang.Long]()
    var j = 0 // window start (0-based); windows j..j+w-1, j in 0..np-w
    while (j <= np - w) {
      var m = h(j); var p = j + 1
      while (p < j + w) { if (h(p) < m) m = h(p); p += 1 }
      sel.add(m)
      j += 1
    }
    val out = new Array[Long](sel.size)
    val it = sel.iterator
    var o = 0
    while (it.hasNext) { out(o) = it.next(); o += 1 }
    out
  }

  /** Banded Levenshtein with early exit: true iff edit distance ≤ k.
    * O(k·n) — only the ±k diagonal band is evaluated, and the row-minimum
    * early-exits once the whole band exceeds k. */
  def levenshteinWithin(a: String, b: String, k: Int): Boolean = {
    if (math.abs(a.length - b.length) > k) return false
    if (a == b) return true
    val n = a.length; val m = b.length
    val INF = k + 1
    var prev = new Array[Int](m + 1)
    var cur = new Array[Int](m + 1)
    java.util.Arrays.fill(prev, INF)
    var j = 0
    while (j <= math.min(m, k)) { prev(j) = j; j += 1 }
    var i = 1
    while (i <= n) {
      java.util.Arrays.fill(cur, INF)
      val lo = math.max(1, i - k); val hi = math.min(m, i + k)
      if (i - k <= 0) cur(0) = i
      var rowMin = cur(0)
      j = lo
      while (j <= hi) {
        val cost = if (a.charAt(i - 1) == b.charAt(j - 1)) 0 else 1
        var v = prev(j - 1) + cost
        if (prev(j) + 1 < v) v = prev(j) + 1
        if (cur(j - 1) + 1 < v) v = cur(j - 1) + 1
        cur(j) = if (v > INF) INF else v
        if (cur(j) < rowMin) rowMin = cur(j)
        j += 1
      }
      if (rowMin > k) return false
      val t = prev; prev = cur; cur = t
      i += 1
    }
    prev(m) <= k
  }

  /** Array overload — avoids the per-call Array→IndexedSeq copy in the
    * k-means training loop and assignment UDF hot paths. */
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dot / denom
  }

  /** Cosine similarity over float vectors (computed in double). */
  def cosine(a: Seq[Float], b: Seq[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dot / denom
  }
}
