package graft.functions

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property-based checks over the parser/kernel battery (raw ScalaCheck
  * generators sampled deterministically — the scalatest bridge artifact is
  * not in the offline cache). */
class PropertySpec extends AnyFunSuite {

  private def forAll[A](g: Gen[A], n: Int = 200)(f: A => Unit): Unit = {
    var seed = Seed(42L)
    var i = 0
    while (i < n) {
      g.apply(Gen.Parameters.default, seed).foreach(f)
      seed = seed.next
      i += 1
    }
  }

  /** The md5 MinHash signature q91's `minhash_md5` computes. */
  private def md5Signature(shingles: Array[String], k: Int): Array[Long] =
    graft.plans.MinhashMd5.compute(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        shingles.toSeq.map(org.apache.spark.unsafe.types.UTF8String
          .fromString)), k).toLongArray()

  private def forAll[A, B](ga: Gen[A], gb: Gen[B])(f: (A, B) => Unit): Unit =
    forAll(Gen.zip(ga, gb))(t => f(t._1, t._2))

  private def forAll[A, B, C](ga: Gen[A], gb: Gen[B], gc: Gen[C])(
      f: (A, B, C) => Unit): Unit =
    forAll(Gen.zip(ga, gb, gc))(t => f(t._1, t._2, t._3))

  private val dateGen: Gen[java.time.LocalDate] = for {
    y <- Gen.choose(1700, 2030)
    m <- Gen.choose(1, 12)
    d <- Gen.choose(1, java.time.YearMonth.of(y, m).lengthOfMonth())
  } yield java.time.LocalDate.of(y, m, d)

  test("DateParser round-trips ISO dates") {
    forAll(dateGen) { ld =>
      val r = DateParser.parseDate(ld.toString).get
      assert(r.startDate.contains(ld))
      assert(r.startYear == ld.getYear.toString)
      assert(r.singleDate)
    }
  }

  test("DateParser round-trips day-first rendering") {
    forAll(dateGen) { ld =>
      val dmy = f"${ld.getDayOfMonth}%02d-${ld.getMonthValue}%02d-${ld.getYear}"
      val r = DateParser.parseDate(dmy)
      // day-first is ambiguous when day ≤ 12 (parser prefers d-m-y); it must
      // always recover the year and never mis-parse to a different date when
      // unambiguous
      assert(r.isDefined)
      assert(r.get.startYear == ld.getYear.toString)
      if (ld.getDayOfMonth > 12) assert(r.get.startDate.contains(ld))
    }
  }

  test("DateParser ranges: start <= end") {
    forAll(dateGen, dateGen) { (a, b) =>
      val (lo, hi) = if (a.isBefore(b)) (a, b) else (b, a)
      val r = DateParser.parseDate(s"$lo/$hi").get
      assert(r.startDate.contains(lo) && r.endDate.contains(hi))
    }
  }

  private val wordGen = Gen.listOfN(8, Gen.alphaLowerChar).map(_.mkString)

  test("banded levenshtein agrees with full DP on random strings") {
    def naive(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    forAll(wordGen, wordGen, Gen.choose(0, 4)) { (a, b, k) =>
      assert(HashKernels.levenshteinWithin(a, b, k) == (naive(a, b) <= k))
    }
  }

  test("minhash signature similarity estimates true Jaccard") {
    val textGen = Gen.listOfN(30,
      Gen.oneOf("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta",
        "theta", "iota", "kappa")).map(_.mkString(" "))
    forAll(textGen, textGen) { (a, b) =>
      val sa = HashKernels.charShingles(a, 5)
      val sb = HashKernels.charShingles(b, 5)
      val trueJ = HashKernels.jaccard(sa, sb)
      val est = HashKernels.signatureSimilarity(
        md5Signature(sa, 128).toSeq, md5Signature(sb, 128).toSeq)
      assert(math.abs(est - trueJ) < 0.3, s"est=$est true=$trueJ")
    }
  }

  test("normalize is idempotent and whitespace-canonical") {
    forAll(Gen.listOf(Gen.oneOf(Gen.alphaNumChar, Gen.const(' '),
      Gen.const('\t'), Gen.const('\n'))).map(_.mkString)) { s =>
      val n = HashKernels.normalize(s)
      assert(HashKernels.normalize(n) == n)
      assert(!n.contains("  ") && !n.contains('\t') && !n.contains('\n'))
      assert(n == n.trim)
    }
  }

  test("verbatim DMS parse stays within valid degree bounds") {
    val dmsGen = for {
      d <- Gen.choose(0, 179)
      m <- Gen.choose(0, 59)
      s <- Gen.choose(0, 59)
      dir <- Gen.oneOf("N", "S", "E", "W")
    } yield (s"""$d° $m' $s" $dir""", d, dir)
    forAll(dmsGen) { case (str, d, dir) =>
      val v = CoordinateParsers.parseVerbatimLatLong(str)
      assert(v.isDefined, str)
      assert(math.abs(v.get) >= d && math.abs(v.get) < d + 1)
      if (dir == "S" || dir == "W") assert(v.get <= 0) else assert(v.get >= 0)
    }
  }
}
