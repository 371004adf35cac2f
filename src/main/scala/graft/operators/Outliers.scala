package graft.operators

import graft.geo.Wkt
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Offline outlier analytics: reverse-jackknife environmental outliers and
  * expert-distribution (outside-range) outliers.
  *
  * Reference: `outliers/ReverseJacknifeProcessor.scala:198-464` and
  * `tool/ExpertDistributionOutlierTool.scala:32-455` in
  * /root/reference/src/main/scala/au/org/ala/biocache/.
  */
object Outliers {

  /** Jackknife per (taxon × environmental layer): one shuffle, custom typed
    * aggregate (replaces the reference's per-taxon paging loop).
    * Input: (taxonGuid, layerId, uuid, value). Output row per group with the
    * full stats struct + the outlier uuids resolved by value match. */
  def jackknifeByTaxonLayer(df: DataFrame): DataFrame = {
    val jk = udaf(new JackKnifeAggregator(),
      org.apache.spark.sql.Encoders.scalaFloat)
    val stats = df
      .groupBy("taxonGuid", "layerId")
      .agg(jk(col("value").cast("float")).as("stats"),
        count(lit(1)).as("sampleCount"))
      .filter(col("stats").isNotNull)
    stats.select(col("taxonGuid"), col("layerId"), col("sampleCount"),
      col("stats.sampleSize").as("n"), col("stats.min").as("mn"),
      col("stats.max").as("mx"), col("stats.mean"), col("stats.stdDev"),
      col("stats.threshold"), col("stats.outlierValues"),
      col("stats.triggerFailsafe"))
  }

  /** Grouped z-score outliers: rows whose value sits more than `z`
    * population standard deviations from their group's mean. The group
    * stats are ONE aggregate (small: |groups| rows) joined back — Spark
    * broadcasts it when it fits, so the flagging pass is map-only over the
    * fact table. The general-purpose numeric screen next to the
    * domain-specific jackknife above. */
  def zScoreOutliers(df: DataFrame, groupCol: String, valueCol: String,
      z: Double): DataFrame = {
    val stats = df.groupBy(groupCol)
      .agg(avg(valueCol).as("_mu"),
        stddev_pop(valueCol).as("_sigma"))
    df.join(broadcast(stats), groupCol)
      .filter(col("_sigma") > 0 &&
        abs(col(valueCol) - col("_mu")) > lit(z) * col("_sigma"))
      .withColumn("zscore",
        round(abs(col(valueCol) - col("_mu")) / col("_sigma"), 2))
      .drop("_mu", "_sigma")
  }

  /** Robust outlier screen on the median/MAD scale: flags rows whose
    * normal-consistent robust z-score `0.6745·|x − median| / MAD` exceeds
    * `z`. Unlike [[zScoreOutliers]], a heavy tail cannot inflate the scale
    * estimate and mask itself (50% breakdown point vs 0%).
    *
    * Shape at 100 TB: two exact-median aggregations (sort-based within
    * group) keyed by the group column, each producing a group-sized table
    * broadcast back against the fact scan. Exact medians are intentional —
    * they hash-match an external oracle; swap `percentile` for
    * `percentile_approx` when groups grow past sort-comfortable sizes.
    */
  def madOutliers(df: DataFrame, groupCol: String, valueCol: String,
      z: Double): DataFrame = {
    val med = df.groupBy(groupCol)
      .agg(percentile(col(valueCol), lit(0.5)).as("_med"))
    val dev = df.join(broadcast(med), Seq(groupCol))
    val mad = dev.groupBy(groupCol)
      .agg(percentile(abs(col(valueCol) - col("_med")), lit(0.5)).as("_mad"))
    dev.join(broadcast(mad), Seq(groupCol))
      .filter(col("_mad") > 0 &&
        lit(0.6745) * abs(col(valueCol) - col("_med")) / col("_mad") > lit(z))
      .withColumn("robust_z",
        round(lit(0.6745) * abs(col(valueCol) - col("_med")) / col("_mad"), 2))
      .drop("_med", "_mad")
  }

  /** Expert-distribution outliers: records of a taxon outside its expert
    * polygon, with distance outside (reference
    * `getRecordsOutsideDistribution:397` + `getOutlierRecordDistances:412`;
    * 50 km threshold `:53`). `distributions`: (taxonGuid, wkt) — small, so
    * the parsed polygons broadcast; points never shuffle. */
  def expertDistributionOutliers(
      spark: SparkSession, records: DataFrame, distributions: DataFrame,
      thresholdMetres: Double = 50000): DataFrame = {
    val polys: Map[String, Seq[Wkt.Ring]] = distributions
      .select("taxonGuid", "wkt").collect()
      .map(r => r.getString(0) -> Wkt.parsePolygons(r.getString(1))).toMap
    val bc = spark.sparkContext.broadcast(polys)
    val distUdf = udf { (taxon: String, lat: Double, lon: Double) =>
      bc.value.get(taxon).map(rings =>
        Wkt.distanceToBoundaryMetres(lon, lat, rings))
    }
    records
      // try_cast: garbage coordinate strings become null and are filtered,
      // never an ANSI cast crash (Spark 4 default)
      .withColumn("_latD", col("decimalLatitude").try_cast("double"))
      .withColumn("_lonD", col("decimalLongitude").try_cast("double"))
      .filter(col("_latD").isNotNull && col("_lonD").isNotNull)
      .withColumn("distanceOutsideMetres",
        distUdf(col("taxonGuid"), col("_latD"), col("_lonD")))
      .drop("_latD", "_lonD")
      .filter(col("distanceOutsideMetres").isNotNull &&
        col("distanceOutsideMetres") > thresholdMetres)
  }
}
