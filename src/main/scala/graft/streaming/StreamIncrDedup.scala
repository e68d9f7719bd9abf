package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.{Ckpt, Queries}
import graft.repo.TableRepo

/** Streaming incremental exact dedup against a PERSISTED fingerprint
  * index — the restart-safe form of the in-memory [[StreamDedup]].
  *
  * StreamDedup's state lives in the streaming checkpoint and is bounded
  * by a horizon: a duplicate arriving after eviction re-emits. Here the
  * "state" is a [[TableRepo]] fingerprint index on durable storage with
  * NO horizon — the stream dedups against everything ever ingested, the
  * index survives restarts, and the batch rounds (`q_incr_dedup_exact` /
  * `q_incr_dedup_pruned`) share the same index layout and verdict
  * semantics: batch and stream are two drivers of one index.
  *
  * Exactly-once across replays by composition, not by luck: a replayed
  * micro-batch (crash between foreachBatch and checkpoint commit) would
  * naively re-extend the index with the batch's survivors — duplicate
  * index rows. Both writes therefore ride the per-(writer, batch) commit
  * ledger ([[TableRepo.extendExactlyOnce]]), and ORDER matters:
  *   1. the verdict frame commits to `verdictRepo` first (ledger
  *      `<writerId>-verdicts`);
  *   2. the survivors extend the index second (ledger `<writerId>`).
  * The verdict is computed against the PRE-batch index snapshot, so for
  * every crash point the replay recomputes the identical verdict (the
  * index only changes at step 2, and a completed step 2 short-circuits
  * the whole batch); each repo's own ledger then drops whichever write
  * already landed.
  *
  * `pruned = true` routes the probe through the footer-pruned
  * `readWhereIn` path (index clustered by fp; see PruneStudy in
  * SCALE.md "Retired measurement mains") — at a large index the probe
  * reads O(batch) files, not O(index).
  */
object StreamIncrDedup {

  /** `stream` must carry `doc_id` (long) and `text` (string).
    *
    * `compactEvery > 0` compacts the index every that-many committed
    * batches (after the commit, outside the ledger protocol — the
    * crash-gauntlet-proven safe point): per-micro-batch appends
    * otherwise accrete one small file per batch, and at streaming
    * cadence that is the classic small-file problem — a year of
    * 1-minute batches is ~5×10⁵ files whose footers every pruned probe
    * must consult. Compaction re-clusters them into
    * `compactTargetRecords`-row files (restoring the fp/bh footer
    * ranges the pruned probe skips on); a compaction that crashes is
    * invisible (snapshot-isolated) and is simply retried at the next
    * trigger point.
    */
  def start(
      stream: DataFrame,
      index: TableRepo,
      verdictRepo: TableRepo,
      checkpointDir: String,
      writerId: String,
      pruned: Boolean = false,
      trigger: Trigger = Trigger.AvailableNow(),
      compactEvery: Int = 0,
      compactTargetRecords: Long = 1000000L): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val ran = processBatch(batch, index, verdictRepo, writerId, batchId, pruned)
        if (ran && compactEvery > 0 && batchId % compactEvery == (compactEvery - 1))
          index.compact(compactTargetRecords)
      }
      .start()

  /** One micro-batch through the index (ordering contract above).
    * Exposed so specs and batch backfills can drive replays through the
    * exact streaming code path. Returns false when the batch was a
    * replayed, fully-committed duplicate (verdicts live in `verdictRepo`
    * either way).
    *
    * Checkpoint hygiene for unbounded streams: the round's barriers
    * (batch fingerprints, index snapshot, verdict) are localCheckpoint
    * blocks that ContextCleaner only reclaims on driver GC — over
    * thousands of micro-batches that async backlog bleeds executor
    * storage, so the blocks THIS batch created are tracked explicitly
    * ([[graft.ops.Ckpt.scoped]]) and dropped eagerly once both writes are
    * durable — never a concurrent query's cached RDDs.
    */
  def processBatch(batch: DataFrame, index: TableRepo, verdictRepo: TableRepo,
      writerId: String, batchId: Long, pruned: Boolean = false): Boolean =
    Ckpt.scoped {
      if (index.isBatchCommitted(writerId, batchId)) {
        // step 2 is durable, and step 1 always precedes it: nothing to do
        false
      } else {
        val (verdict, survivors) = Queries.incrExactVerdictAndSurvivors(index, batch, pruned)
        verdictRepo.extendExactlyOnce(verdict, s"$writerId-verdicts", batchId)
        index.extendExactlyOnce(survivors, writerId, batchId)
        true
      }
    }
}
