package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Storage discipline for long-lived JVMs composing the heavy pipeline
  * operators. The Dedup/Curation/Components internals persist (or
  * local-checkpoint) intermediates that only session end or
  * `spark.catalog.clearCache()` would otherwise release — fine under the
  * one-shot driver contract, a storage leak in a serving process that
  * runs pipelines back to back.
  *
  * [[scoped]] brackets one pipeline: it snapshots the session's
  * persistent-RDD ids, builds the result, hands it to `use` while every
  * internal persist is still alive (so the caller's ONE materialization
  * pays no recompute), and in `finally` unpersists exactly the RDDs the
  * scope created — including those persisted deep inside nested
  * operators, which no per-call-site try/finally could reach.
  *
  * Granularity contract: one scope per session at a time. The id-set
  * difference attributes every persist created between entry and exit to
  * this scope; concurrent pipelines in the same session would have their
  * in-flight caches released (persists recompute; local checkpoints
  * would fail). That matches the operators' own synchronous contract.
  */
object CacheScope {

  /** Build a pipeline result, consume it, release every persistent RDD
    * the scope created. Returns `use`'s value. */
  def scoped[T](spark: SparkSession)(build: => DataFrame)(
      use: DataFrame => T): T = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    try use(build)
    finally {
      sc.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!before.contains(id)) rdd.unpersist(blocking = false)
      }
    }
  }

  /** Self-releasing variant for LAZY entry points that persist internals:
    * the returned DataFrame carries an `observe` marker, and a one-shot
    * [[org.apache.spark.sql.util.QueryExecutionListener]] unpersists
    * `caches` the first time any action drives a plan containing that
    * marker (success OR failure), then unregisters itself. The caller's
    * first materialization still reads the caches warm; afterwards the
    * session holds neither leaked storage nor the listener — the
    * long-lived-JVM contract the plain (non-`*Scoped`) entry points
    * promise, also when a stream calls them once per micro-batch.
    *
    * Re-materializing the returned frame after the first action
    * recomputes the released internals (correct, just cold); callers that
    * drive a result repeatedly should bracket with [[scoped]] instead. The
    * listener matches the exact marker name in the analyzed plan, so
    * unrelated queries on the session never trigger an early release. */
  def releaseOnFirstMaterialization(result: DataFrame,
      caches: Seq[DataFrame]): DataFrame = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val spark = result.sparkSession
    val marker = "graft_release_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val observed = result.observe(marker,
      org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("rows"))
    val listener = new QueryExecutionListener {
      private val released = new java.util.concurrent.atomic.AtomicBoolean()
      private def hasMarker(qe: QueryExecution): Boolean =
        qe.analyzed.collectFirst {
          case c: org.apache.spark.sql.catalyst.plans.logical.CollectMetrics
              if c.name == marker => c
        }.nonEmpty
      private def release(qe: QueryExecution): Unit =
        if (hasMarker(qe) && released.compareAndSet(false, true)) {
          caches.foreach(_.unpersist(blocking = false))
          spark.listenerManager.unregister(this)
        }
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = release(qe)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = release(qe)
    }
    spark.listenerManager.register(listener)
    observed
  }
}
