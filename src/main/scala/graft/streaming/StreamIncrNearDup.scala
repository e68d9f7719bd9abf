package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.{Ckpt, Queries}
import graft.repo.TableRepo

/** Streaming NEAR-dup against a persisted MinHash/LSH band index — the
  * near-dup twin of [[StreamIncrDedup]] (and the restart-safe form of
  * the horizon-bounded [[StreamNearDup]]).
  *
  * Two durable repos travel with the stream:
  *   - `bandIndex`: (doc_id, band, bh) rows, the candidate-generation
  *     structure the batch rounds (`q_incr_dedup`) share;
  *   - `textRepo`: (doc_id, text) of EVERY ingested doc, duplicates
  *     included — the index keeps duplicates' bands too (matching the
  *     batch rounds), so a future candidate may verify against a doc
  *     that was itself flagged, and exact Jaccard needs its shingle
  *     set. At 100 TB this is the corpus store the pipeline owns
  *     anyway, not an extra copy.
  *
  * Three ledgered writes per micro-batch, ordered so every crash window
  * replays to the identical verdict:
  *   1. verdicts  → `<writerId>-verdicts` ledger;
  *   2. batch texts → `<writerId>-texts` ledger;
  *   3. batch bands → `<writerId>` ledger (the replay guard — LAST, so
  *      an incomplete batch always recomputes).
  * The verify is CANDIDATE-PRUNED: batch-side shingles come from the
  * batch itself and the dup_of side reads ONLY candidate docs from
  * `textRepo` via the footer-pruned `readWhereIn` — per-batch verify
  * cost follows the candidate count, not the corpus size, so cluster
  * `textRepo` by `doc_id`. Batch-side shingles win deterministically
  * over the repo copy, so a replay after step 2 (batch texts already
  * landed) still derives identical shingle sets. As in the exact twin,
  * each repo's own ledger then drops whichever writes already landed.
  */
object StreamIncrNearDup {

  /** `stream` must carry `doc_id` (long) and `text` (string).
    * `pruned = true` routes the band probe through the footer-pruned
    * `readWhereIn` path — pair it with a `bandIndex` clustered by `bh`.
    *
    * `compactEvery > 0` compacts the band index AND the text repo every
    * that-many committed batches (after the commit, outside the ledger
    * protocol — the crash-gauntlet-proven safe point): per-micro-batch
    * appends otherwise accrete one small file per batch per repo, and
    * compaction is also what keeps the candidate-pruned verify sharp —
    * it re-clusters the text repo into disjoint doc_id ranges, so the
    * needle read stays a strict file subset as the corpus grows (the
    * NearDupPruneStudy cadence, SCALE.md "Retired measurement mains").
    * A crashed compaction is invisible (snapshot-isolated) and retried
    * at the next trigger point.
    */
  def start(
      stream: DataFrame,
      bandIndex: TableRepo,
      textRepo: TableRepo,
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
        val ran = processBatch(batch, bandIndex, textRepo, verdictRepo, writerId, batchId, pruned)
        if (ran && compactEvery > 0 && batchId % compactEvery == (compactEvery - 1)) {
          bandIndex.compact(compactTargetRecords)
          textRepo.compact(compactTargetRecords)
        }
      }
      .start()

  /** One micro-batch (ordering contract above). Returns false when the
    * batch was a replayed, fully-committed duplicate. Same checkpoint
    * hygiene as the exact twin: the batch's barrier blocks are released
    * once all three writes are durable.
    */
  def processBatch(batch: DataFrame, bandIndex: TableRepo, textRepo: TableRepo,
      verdictRepo: TableRepo, writerId: String, batchId: Long,
      pruned: Boolean = false): Boolean =
    Ckpt.scoped {
      if (bandIndex.isBatchCommitted(writerId, batchId)) false
      else {
        val docs = batch.select("doc_id", "text")
        val (verdict, bands) =
          Queries.incrNearVerdictAndBands(bandIndex, docs, textRepo, pruned)
        verdictRepo.extendExactlyOnce(verdict, s"$writerId-verdicts", batchId)
        textRepo.extendExactlyOnce(docs, s"$writerId-texts", batchId)
        bandIndex.extendExactlyOnce(bands, writerId, batchId)
        true
      }
    }
}
