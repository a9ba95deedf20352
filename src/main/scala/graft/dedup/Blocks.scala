package graft.dedup

import org.apache.spark.SparkEnv
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.{BlockId, RDDBlockId}

/** Eager block release for retired localCheckpoint leaves (the CC loop's
  * and the ingest loop's §5 memory hygiene): dropping a dead leaf's blocks
  * as soon as its last consumer has materialized bounds live block-manager
  * state at O(live leaves) instead of "whatever the driver-GC-driven
  * ContextCleaner hasn't collected yet".
  */
private[graft] object Blocks {

  /** `RDD.unpersist` on a locally-checkpointed RDD logs
    * "... lineage has been truncated and cannot be recomputed after
    * unpersisting" — a correct warning for accidental unpersists, but
    * pure noise for this module's DELIBERATE eager releases (every
    * consumer is materialized first, the leaf is dead by construction),
    * and in r14 it flooded every bench/test tail, burying real warnings.
    * Lower that logger to ERROR, once, on first release. Spark's Logging
    * names the logger after the CONCRETE RDD subclass (the flood logs as
    * `WARN MapPartitionsRDD:`), so the level is set on the
    * org.apache.spark.rdd package — whose other WARNs all guard
    * checkpoint/persist misuse patterns this codebase does not use.
    */
  private lazy val silenced: Unit =
    try org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)
    catch { case _: Throwable => () }

  /** Whether every partition of the checkpoint leaf `df` is materialized:
    * one driver-side block-manager lookup, no job. (The RDD's checkpoint
    * flag is not enough: a job whose map stages computed the leaf can end
    * without setting it, as on a NearDupIndex replay.)
    */
  def materialized(df: DataFrame): Boolean = df.queryExecution.analyzed match {
    case lr: LogicalRDD =>
      SparkEnv.get.blockManager.master.getLocations(lr.rdd.partitions
        .map(p => RDDBlockId(lr.rdd.id, p.index): BlockId)).forall(_.nonEmpty)
    case _ => false
  }

  /** Drop a retired checkpoint leaf's blocks eagerly. Only ever call on
    * leaves whose every consumer is already materialized — a later read
    * of the frame would find neither blocks nor lineage.
    */
  def release(df: DataFrame): Unit = {
    silenced
    df.queryExecution.analyzed match {
      case lr: LogicalRDD => lr.rdd.unpersist(false)
      case _ => ()
    }
  }
}
