package graft.functions

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class MinHashAggSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val K = 128

  /** The md5 MinHash signature q91's `minhash_md5` computes. */
  private def md5Signature(shingles: Array[String]): Array[Long] =
    graft.plans.MinhashMd5.compute(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        shingles.toSeq.map(org.apache.spark.unsafe.types.UTF8String
          .fromString)), K).toLongArray()

  test("aggregated signature equals the signature of the pooled set") {
    val texts = Seq("alpha beta gamma delta", "gamma delta epsilon zeta",
      "zeta eta theta iota")
    val df = texts.map(t => ("g1", t)).toDF("g", "text")
    val sigUdf = udf((text: String) =>
      md5Signature(HashKernels.charShingles(text, 4)))
    val unionSig = udaf(MinHashUnionAgg)
    val got = df.select(col("g"), sigUdf(col("text")).as("sig"))
      .groupBy("g").agg(unionSig(col("sig")).as("gsig"))
      .select("gsig").as[Seq[Long]].head()
    // signature of the union of all shingle sets, computed directly
    val pooled = texts.flatMap(t => HashKernels.charShingles(t, 4)).distinct
    val direct = md5Signature(pooled.toArray)
    assert(got == direct.toSeq)
  }

  test("group-vs-group estimate tracks exact Jaccard of pooled sets") {
    val g1 = Seq("the quick brown fox jumps over the lazy dog",
      "pack my box with five dozen liquor jugs")
    val g2 = Seq("the quick brown fox jumps over the lazy cat",
      "sphinx of black quartz judge my vow")
    val df = (g1.map(("a", _)) ++ g2.map(("b", _))).toDF("g", "text")
    val sigUdf = udf((text: String) =>
      md5Signature(HashKernels.charShingles(text, 4)))
    val unionSig = udaf(MinHashUnionAgg)
    val sigs = df.select(col("g"), sigUdf(col("text")).as("sig"))
      .groupBy("g").agg(unionSig(col("sig")).as("gsig"))
      .as[(String, Seq[Long])].collect().toMap
    val est = HashKernels.signatureSimilarity(sigs("a"), sigs("b"))
    val sa = g1.flatMap(t => HashKernels.charShingles(t, 4)).toSet
    val sb = g2.flatMap(t => HashKernels.charShingles(t, 4)).toSet
    val exact = sa.intersect(sb).size.toDouble / sa.union(sb).size
    assert(math.abs(est - exact) < 0.15, s"est $est vs exact $exact")
  }

  test("empty-signature rows merge as identity") {
    assert(MinHashUnionAgg.merge(Array.empty, Array(3L, 4L)).toSeq ==
      Seq(3L, 4L))
    assert(MinHashUnionAgg.merge(Array(3L, 4L), Array.empty).toSeq ==
      Seq(3L, 4L))
    assert(MinHashUnionAgg.finish(MinHashUnionAgg.zero).isEmpty)
  }
}
