package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Partitioning helpers shared by the kernel-heavy operators. */
object Shuffles {

  /** Entity-distinct with kernel-grade parallelism.
    *
    * A plain `.distinct()` rides an ENSURE_REQUIREMENTS exchange, which
    * AQE coalesces by shuffle BYTES. Signature/embedding corpora are tiny
    * in bytes but heavy in downstream kernel CPU (minhash permutations,
    * winnow grams, feature-hash counts), so byte-based coalescing
    * serializes exactly the projections that need fan-out: locally a
    * single-split corpus file collapses the whole kernel stage — and the
    * session-persisted signature base built from it — onto ONE core; on a
    * cluster any corpus below ~advisoryPartitionSize × parallelism does
    * the same. Repartitioning on the full entity row with an EXPLICIT
    * partition count fixes both sides of that: user-specified counts are
    * exempt from AQE coalescing, and the hash partitioning satisfies the
    * distinct's clustering requirement, so the plan still carries exactly
    * ONE exchange (pinned by PlanShapeSpec). The shuffle itself is not
    * added cost — the distinct already required it.
    */
  def distinctEntities(df: DataFrame): DataFrame = {
    val n = df.sparkSession.sessionState.conf.numShufflePartitions
    df.repartition(n, df.columns.map(col).toIndexedSeq: _*).distinct()
  }

  /** Size-adaptive EXPLICIT partition count for persisted / checkpointed
    * loop relations (the ivfAssign cache-compaction policy, shared) —
    * r20. Iterative operators re-read their pinned relations once or
    * more per round; a cached plan keeps whatever width it executed at
    * (AQE never re-coalesces a cache: canChangeCachedPlanOutputPartitioning
    * is off) and a localCheckpoint materializes the FINAL stage at the
    * session width too (the RDD is handed out before AQE could coalesce
    * it), so a vocabulary-sized rank/label relation was paying
    * conf-many tasks per read per round. An explicit count is exempt
    * from AQE coalescing by definition and scales with the DATA:
    * ~50k rows per partition, capped at the session width. */
  def sizedPartitions(df: DataFrame, rows: Long): Int =
    math.max(1L, math.min(sessionWidth(df).toLong, rows / 50000L + 1L)).toInt

  /** The session's shuffle fan-out (`spark.sql.shuffle.partitions`). */
  def sessionWidth(df: DataFrame): Int =
    df.sparkSession.sessionState.conf.numShufflePartitions

  /** Build wide, cache narrow, for a cache that later stages RE-READ as a
    * relation: `wide` is persisted and materialized by a count at full
    * fan-out (the kernel pass runs there); when the size-proportionate
    * count ([[sizedPartitions]]) is below `width(wide)`, the cache is
    * repartitioned to it, persisted at the same level and materialized,
    * and the wide copy is dropped — each later re-read then pays
    * size-many tasks instead of conf-many. `width` is read after the
    * count and is each caller's own bound. Not for a cache that a
    * kernel scans: that scan wants the full width (the r20 ann_pq
    * regression, 1.1 → 5.7 s, reverted in 846ec77). */
  def compactCached(wide: DataFrame, width: DataFrame => Int): DataFrame = {
    val parts = sizedPartitions(wide, wide.count())
    if (parts < width(wide)) {
      val narrow = wide.repartition(parts).persist(wide.storageLevel)
      narrow.count()
      wide.unpersist()
      narrow
    } else wide
  }
}
