package graft.index

import graft.processors.Processors
import graft.sources.DwcSource
import org.apache.spark.sql.{DataFrame, SparkSession}

/** A small real serving index for the keyed-lookup tests: misc
  * properties, assertion arrays and layer columns. */
object KeyLookupFixture {
  private val Strip = "POLYGON((140 -38, 154 -38, 154 -28, 140 -28, 140 -38))"

  /** 300 enriched records projected to the index and written to `dir`. */
  def index(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rows = (0 until 300).map { i =>
      Map("occurrenceID" -> f"o$i%04d", "scientificName" -> "Macropus rufus",
        "decimalLatitude" -> (if (i % 7 == 0) "999" else f"${-30.0 - i % 9 * 0.5}%.1f"),
        "decimalLongitude" -> "151.2", "eventDate" -> f"19${50 + i % 40}%02d-06-05",
        "sourceSystem" -> s"sys${i % 3}", "count_i" -> i.toString)
    }
    val raw = DwcSource.loadRows(spark, rows, "dr1", Seq("occurrenceID"))
    val layers = Seq(("cl927", "New South Wales", Strip), ("el874", "21.5", Strip))
      .toDF("layerId", "value", "wkt")
    val enriched = Processors.enrichAll(raw,
      Processors.Dimensions(layers = Some(layers)))
    IndexSupport.project(enriched, Seq("cl927", "el874"), Seq("count_i"))
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }
}
