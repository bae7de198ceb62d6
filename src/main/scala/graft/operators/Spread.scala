package graft.operators

import org.apache.spark.sql.DataFrame

/** The under-partitioned-input rebalance shared by every CPU-heavy
  * per-row kernel chain (shingle/minhash signatures, media decode):
  * spread the rows across cores ONLY when the input arrives with
  * fewer partitions than the session's shuffle-partition target.
  *
  * Why this exists as a discipline and not a blanket `repartition`:
  * scan partitioning is sized by INPUT BYTES (maxPartitionBytes), but
  * these chains cost CPU per ROW — a 12 MB single-file documents
  * table fans out into minutes of decode work that would otherwise
  * run on one core (measured r19: the sf10 video-signature chain ran
  * its entire 167k-clip encode+decode on ONE task, 180-227 s/query;
  * rebalanced it spreads across all 32). At cluster scale the scan
  * already yields more partitions than the target and this is a
  * no-op — a blanket repartition would shuffle the whole corpus
  * payload just to rebalance, the exact shuffle a 100 TB run cannot
  * afford.
  *
  * AQE footgun (ADVICE r17 + r18, pinned by DedupRebalanceSpec): a
  * shuffle-bearing frame arrives AQE-wrapped, and probing ITS
  * partition count via toRdd makes AdaptiveSparkPlanExec finalize —
  * i.e. EXECUTE — every upstream stage at plan-build time. The skip
  * keys on an Exchange in `initialPlan` (post-EnsureRequirements —
  * `inputPlan` is captured BEFORE it and shows no exchanges on
  * join/aggregate frames). Probing an exchange-free plan is cheap:
  * no query stages to materialize, toRdd just builds splits. */
private[graft] object Spread {

  /** Rows-per-partition floor for the spread width (r21): a corpus
    * with fewer than `rowsPerPartFloor * target` rows cannot fill the
    * full target width with meaningful work, and the full-width
    * round-robin shuffle + full-width task scheduling were measured as
    * the r20 anti-scaling tail (mm_image_phash 8c/32c ratio 0.61 at
    * sf0.1 — 32 tasks of ~50 rows each cost more scheduling than
    * compute). The row count is probed BOUNDED — `limit(cap+1)` short-
    * circuits and column pruning keeps the probe off the per-row
    * kernels — so the probe costs one sub-scan job at any scale, and
    * any corpus past the cap (every cluster-scale input, sf1+ locally)
    * spreads at full width exactly as before. */
  private val rowsPerPartFloor = 512L

  /** Row limit of a bounded "more than `n` rows?" probe: n + 1, clamped
    * to Int.MaxValue — `Dataset.limit` takes an Int, and an unclamped
    * `(n + 1).toInt` wraps negative for n >= Int.MaxValue. */
  def probeLimit(n: Long): Int = if (n >= Int.MaxValue) Int.MaxValue else (n + 1).toInt

  def rebalanced(df: DataFrame): DataFrame = {
    if (df.isStreaming) return df // micro-batches are already split
    val target = df.sparkSession.sessionState.conf.numShufflePartitions
    df.queryExecution.executedPlan match {
      case aqe: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
          if aqe.initialPlan.exists(
            _.isInstanceOf[org.apache.spark.sql.execution.exchange.Exchange]) =>
        df
      case _ =>
        // internal-row RDD partition count — df.rdd would additionally
        // build the row-deserializer conversion just to count splits
        val parts = df.queryExecution.toRdd.getNumPartitions
        if (parts >= target) df
        else {
          val cap = rowsPerPartFloor * target
          val probed = df.limit(probeLimit(cap)).count()
          val width = if (probed > cap) target
            else ((probed + rowsPerPartFloor - 1) / rowsPerPartFloor).toInt
          if (width > parts) df.repartition(width) else df
        }
    }
  }
}
