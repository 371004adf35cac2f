package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Star-schema + document/embedding table access (see TESTDATA.md).
  *
  * Mirrors the reference's scan surface (`persistence/PersistenceManager.scala:92-151`
  * pageOverAll/pageOverSelect): in Spark a scan is just `spark.read.parquet`
  * with Catalyst handling projection/predicate pushdown, so this object is the
  * whole "storage layer".
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Scan one table (reference S6: full scan; S7 projected scan is `.select`).
    *
    * `events.ts` has been written as both TIMESTAMP(NANOS) and TIMESTAMP(MICROS)
    * across testdata generations. Spark's vectorized Parquet reader rejects
    * nanos, so enable `nanosAsLong` and convert long nanos → µs timestamp
    * (floor division — matches DuckDB's ns→µs cast) only when the column
    * actually surfaces as a long; a µs file already reads as TimestampType.
    */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    if (name == "events") {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      normalizeTs(spark.read.parquet(s"$sfDir/$name.parquet"))
    } else {
      spark.read.parquet(s"$sfDir/$name.parquet")
    }
  }

  /** Bring `ts` to session-zone TimestampType whatever the file wrote:
    * long nanos (via `nanosAsLong`) → µs timestamp; TIMESTAMP_NTZ → cast
    * (session zone is pinned UTC, so wall-clock values are preserved and
    * match DuckDB's naive read). Works on batch and streaming frames.
    */
  def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _                => df
    }
  }
}
