package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Dataset, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.classic.{Dataset => ClassicDataset}

/** Spec-only reach into `private[sql]` session internals. */
object TestHooks {
  /** How many `QueryExecutionListener`s the session has registered. */
  def queryListenerCount(spark: SparkSession): Int =
    spark.listenerManager.listListeners().length

  /** The built-in function registry plus every function `extension`
    * injects — what a session started with it in `spark.sql.extensions`
    * resolves SQL function names against. */
  def registryWith(extension: SparkSessionExtensions => Unit): FunctionRegistry = {
    val e = new SparkSessionExtensions
    extension(e)
    e.registerFunctions(FunctionRegistry.builtin.clone())
  }

  /** The encoder `collect` deserializes `ds`'s rows with: the Dataset's
    * private lazy `resolvedEnc`, resolved and bound on first use. */
  def resolvedEncoder(ds: Dataset[_]): AnyRef =
    classOf[ClassicDataset[_]].getMethod("org$apache$spark$sql$classic$Dataset$$resolvedEnc")
      .invoke(ds)
}
