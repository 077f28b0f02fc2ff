package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Capture hook for the physical plans of EAGERLY-materialized
  * sub-stages (the fixpoint families' per-round checkpoints, the LSH
  * candidate blocks). A final `.explain` on those queries shows only an
  * ExistingRDD where the interesting algorithm ran — the round-20
  * verdict's "plan-dump evidence doesn't reach inside eager
  * checkpoints" — so when `spark.graft.plandump.captureStages` is true
  * (PlanDump sets it; Bench/Verify never do) each checkpoint site
  * records the stage's formatted plan here before materializing, and
  * PlanDump drains its session's records into
  * `<query>_stages_<suffix>.txt`.
  *
  * Records are keyed by the recording session, so concurrent sessions
  * each drain only their own; past [[Capacity]] records in all, the
  * oldest is dropped and counted in [[dropped]].
  *
  * Off by default: the only cost on the bench path is one conf lookup
  * per checkpoint. */
object StagePlans {
  val Capacity = 256

  private val buf =
    scala.collection.mutable.ArrayDeque.empty[(SparkSession, String, String)]
  private var droppedCount = 0L

  private[graft] def record(df: DataFrame, tag: String): Unit =
    if (df.sparkSession.conf
        .get("spark.graft.plandump.captureStages", "false").toBoolean) {
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      buf.synchronized {
        if (buf.length >= Capacity) { buf.removeHead(); droppedCount += 1 }
        buf.append((df.sparkSession, tag, plan))
      }
    }

  /** Removes and returns `spark`'s records, oldest first, as (tag, plan). */
  private[graft] def drain(spark: SparkSession): Seq[(String, String)] =
    buf.synchronized {
      buf.removeAll(_._1 eq spark).map { case (_, tag, plan) => tag -> plan }.toSeq
    }

  /** Records dropped because the queue was full, since the JVM started. */
  def dropped: Long = buf.synchronized(droppedCount)
}
