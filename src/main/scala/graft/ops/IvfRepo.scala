package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFns
import graft.repo.TableRepo

/** Persisted IVF serving path: train ONCE, store the index at rest, answer
  * probes from a partition-pruned read — the production shape of
  * [[Ivf.probeTopK]] (which trains and assigns inside every query, fine as
  * an oracle demo, unaffordable as a serving path).
  *
  * Layout (the same discipline the incremental-dedup family proves with
  * its footer-clustered fingerprint/band indexes, here via DIRECTORY
  * partitioning because cluster membership is a low-cardinality key):
  *   - `centRepo`  — the trained (centroid_id, c_emb) table, k rows; read
  *     whole and broadcast at probe time.
  *   - `asgRepo`   — the corpus assignment (vec_id, centroid_id, embedding),
  *     a [[TableRepo]] with `groupCols = Seq("centroid_id")`: one
  *     directory per cluster, so a probe's literal `IN` filter on
  *     `centroid_id` becomes Catalyst PartitionFilters and only ~nprobe/k
  *     of the corpus is LISTED, let alone scanned.
  *
  * Probe cost at 100 TB: queries x centroids is a broadcast cross of two
  * tiny frames; the probed centroid-id set (≤ min(k, nprobe·|queries|),
  * driver-side metadata scale) is collected and inlined as literals so
  * partition pruning applies at plan time; the candidate scan reads only
  * the probed directories; the per-query top-k window runs over candidate
  * rows only. Nothing in the probe re-touches the unprobed corpus, and no
  * training happens after build time.
  */
object IvfRepo {

  /** Train pinned-seed centroids ([[Ivf.train]] — deterministic, oracle-
    * replayable) and persist both halves of the index. Re-building into a
    * non-empty repo is the caller's re-index flow: pass fresh roots or
    * purge first.
    *
    * `trainOn` bounds the TRAINING input while the assignment still
    * covers all of `embs` — the standard large-corpus IVF discipline
    * (Lloyd cost is O(n_train · k · iters); at 100 TB you train on a
    * sample of ~tens×k vectors and assign the corpus in one pass, you
    * never iterate k-means over the corpus itself). The sample must
    * contain the seed rows (`vec_id < k`).
    */
  def build(embs: DataFrame, k: Int, iters: Int,
      centRepo: TableRepo, asgRepo: TableRepo,
      trainOn: Option[DataFrame] = None): Unit = {
    val e = Ckpt(embs.select(col("vec_id"), col("embedding")))
    val t = trainOn.fold(e)(d => Ckpt(d.select(col("vec_id"), col("embedding"))))
    val cent = Ivf.train(t, k, iters) // eager local rows — no barrier needed
    centRepo.extend(cent)
    asgRepo.extend(Ivf.assign(e, cent))
  }

  /** Retrain and swap the index IN PLACE: `replaceAll` lands the new
    * centroids and assignments as fresh snapshot VERSIONS, so a probe
    * planned against the old index keeps scanning intact files
    * (TableRepo's grace-version contract) and no fresh roots are needed —
    * the periodic answer to centroid drift under [[append]] ingestion.
    *
    * Centroids are swapped FIRST, assignments second — the same order
    * [[IvfIndex.build]] commits, so EVERY rebuild path bumps `cent`
    * before `asg` and the one remaining mid-crash shape "assignment
    * table ahead, centroid table current" can only be a compaction that
    * died before its manifest re-pin, never a half-landed rebuild —
    * which is what lets [[IvfIndex.compact]]'s recovery branch re-pin
    * without re-clustering. A probe landing between the two writes plans
    * from the NEW centroids over the OLD assignment rows, a valid key
    * space whenever k is unchanged (the common drift-rebuild) — the
    * mirror image of the previous asg-first window, same blast radius.
    * A k-changing rebuild has no cross-table atomicity at THIS layer —
    * TableRepo versions are per-table. [[IvfIndex]] closes that window:
    * its manifest pins one (centroid-version, assignment-version) pair
    * and flips atomically, making any rebuild — k-changing included —
    * safe for concurrent probes. Use [[IvfIndex]] for serving; this raw
    * form remains for callers managing their own fencing.
    *
    * `trainOn` bounds the Lloyd input exactly as in [[build]] (sampled
    * training, full reassignment) — at rebuild scale the corpus has only
    * grown since the build that already needed the bound.
    */
  def rebuild(embs: DataFrame, k: Int, iters: Int,
      centRepo: TableRepo, asgRepo: TableRepo,
      trainOn: Option[DataFrame] = None): Unit = {
    val e = Ckpt(embs.select(col("vec_id"), col("embedding")))
    val t = trainOn.fold(e)(d => Ckpt(d.select(col("vec_id"), col("embedding"))))
    val cent = Ivf.train(t, k, iters) // eager local rows — no barrier needed
    centRepo.replaceAll(cent)
    asgRepo.replaceAll(Ivf.assign(e, cent))
  }

  /** Index ingestion without retraining: assign a NEW batch of vectors
    * against the PERSISTED centroids and extend the assignment repo —
    * each appended row lands in its cluster's directory, so later probes
    * see it at the same pruned cost. Centroid drift under sustained
    * ingestion is handled by periodic [[build]] into fresh roots (the
    * IVF analog of the dedup family's re-cluster compaction); between
    * rebuilds, recall degrades only as far as the data distribution
    * drifts from the trained Voronoi cells.
    */
  def append(newVecs: DataFrame, centRepo: TableRepo, asgRepo: TableRepo): Unit =
    asgRepo.extend(
      Ivf.assign(newVecs.select(col("vec_id"), col("embedding")), centRepo.getFullDf))

  /** Streaming face of [[append]]: every micro-batch of (vec_id,
    * embedding) is assigned against the PERSISTED centroids and appended
    * into the assignment repo exactly-once through its commit ledger
    * ([[graft.streaming.RepoSink]] — crash-window replays are dropped, and
    * `compactEvery` keeps per-batch small files folded at streaming
    * cadence). Centroids are re-read at each batch (k rows, driver-cheap):
    * a same-k [[rebuild]] landing mid-stream is picked up at the next
    * micro-batch, with TableRepo's grace version covering the in-flight
    * one. A k-CHANGING rebuild still requires a stream restart against
    * fresh roots, same as the probe path.
    */
  def startAppendStream(stream: DataFrame, centRepo: TableRepo,
      asgRepo: TableRepo, checkpointDir: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      writerId: String = "", compactEvery: Int = 0,
      onCompact: () => Unit = () => (),
      onBatch: () => Unit = () => (),
      around: (() => Unit) => Unit = f => f())
      : org.apache.spark.sql.streaming.StreamingQuery =
    graft.streaming.RepoSink.start(stream, asgRepo, checkpointDir,
      trigger = trigger, exactlyOnce = true, writerId = writerId,
      compactEvery = compactEvery,
      transform = b =>
        Ivf.assign(b.select(col("vec_id"), col("embedding")), centRepo.getFullDf),
      onCompact = onCompact, onBatch = onBatch, around = around)

  /** Rebuild-trigger observables, computed from the index AT REST — no
    * probes, no brute-force recall, no retrain. Under [[append]]-only
    * ingestion with distribution drift, new vectors pile into the few
    * cells nearest the drift direction, so two cheap signals move before
    * recall/serve-cost degrade: `maxClusterFrac` (share of the corpus in
    * the fattest cluster — an occupancy scan that reads NO data columns,
    * `centroid_id` comes from the partition directories) and
    * `meanAssignCos` (mean cosine of each vector to its own centroid —
    * one broadcast join + one pass over the embedding column; drifted
    * vectors sit far from every frozen centroid, so this falls as drift
    * accumulates). A pipeline monitors the occupancy signal per ingest
    * batch and confirms with the cosine trend before scheduling
    * [[rebuild]]; the operating thresholds are measured by
    * `IvfDriftStudy` and documented in SCALE.md (the study itself:
    * SCALE.md "Retired measurement mains").
    */
  case class DriftStats(n: Long, clusters: Long, maxClusterFrac: Double,
      meanAssignCos: Double)

  def driftStats(centRepo: TableRepo, asgRepo: TableRepo): DriftStats = {
    val occ = asgRepo.getFullDf.groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("cnt"))
      .agg(max(col("cnt")).as("mx"), sum(col("cnt")).as("tot"),
        count(lit(1)).as("k"))
      .head()
    // c_emb is a DOUBLE array (trained means) — the codegen float-vector
    // dot doesn't apply across types, so the centroid side goes through
    // the HOF dot, exactly as the probe's csim does
    val meanCos = asgRepo.getFullDf
      .join(broadcast(centRepo.getFullDf.select(col("centroid_id"), col("c_emb"),
        sqrt(VectorFns.dotHof(col("c_emb"), col("c_emb"))).as("c_nrm"))),
        Seq("centroid_id"))
      .agg(avg(VectorFns.dotMixed(col("embedding"), col("c_emb")) /
        (VectorFns.norm2(col("embedding")) * col("c_nrm"))))
      .head().getDouble(0)
    DriftStats(occ.getLong(1), occ.getLong(2),
      occ.getLong(0).toDouble / occ.getLong(1), meanCos)
  }

  /** The partition-pruned candidate scan: assignment rows of the probed
    * clusters only. Exposed so specs can assert the PartitionFilters /
    * file-subset property directly on the scan.
    */
  def candidates(asgRepo: TableRepo, probedIds: Seq[Any]): DataFrame =
    asgRepo.getFullDf.filter(col("centroid_id").isin(probedIds: _*))
      .select(col("vec_id").as("n_id"), col("centroid_id"),
        col("embedding").as("n_emb"))

  /** Serve top-k cosine neighbours for `queries` (q_id, q_emb) from the
    * persisted index: nearest `nprobe` centroids per query (broadcast
    * cross), then candidates from ONLY those clusters' directories.
    * Value-identical to [[Ivf.probeTopK]] at the same (k, iters, nprobe,
    * topK) — c_emb round-trips exactly (6-decimal doubles), embeddings are
    * float-exact in Parquet, and the dot/norm forms match — so the same
    * DuckDB oracle replays both.
    */
  def probe(queries: DataFrame, centRepo: TableRepo, asgRepo: TableRepo,
      nprobe: Int, topK: Int): DataFrame =
    probeFrames(queries, centRepo.getFullDf, asgRepo.getFullDf, nprobe, topK)

  /** The probe plan over explicit index FRAMES — the shared core of
    * [[probe]] (current-version reads) and [[IvfIndex.probe]] (manifest-
    * pinned `getDfAt` reads, where BOTH halves must come from one committed
    * generation). `asgDf` must be a scan of the `centroid_id`-partitioned
    * assignment layout for the literal `IN` filter to become plan-time
    * PartitionFilters; everything else is frame-agnostic.
    */
  def probeFrames(queries: DataFrame, centDf: DataFrame, asgDf: DataFrame,
      nprobe: Int, topK: Int): DataFrame = {
    val qcPlan = Ivf.route(queries, centDf, nprobe)
    // ONE driver round-trip serves both needs: the probed-id literals
    // for plan-time partition pruning AND the per-query routing table,
    // re-entered as a LocalRelation so the final query neither re-runs
    // the centroid cross (the old checkpoint's job) nor re-collects the
    // ids (a second job). Driver-side size is bounded by
    // |queries| × nprobe routing rows — the same bound the qc broadcast
    // below already assumes — so serve latency drops by a whole job,
    // which at the compacted-index floor is a third of the probe.
    val qcRows = qcPlan.collect()
    val qcDf = queries.sparkSession.createDataFrame(
      java.util.Arrays.asList(qcRows: _*), qcPlan.schema)
    val probedIds = qcRows.map(_.getAs[Any]("centroid_id")).distinct.toIndexedSeq
    val cands = asgDf.filter(col("centroid_id").isin(probedIds: _*))
      .select(col("vec_id").as("n_id"), col("centroid_id"),
        col("embedding").as("n_emb"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("n_id"))
    broadcast(qcDf)
      .join(cands, Seq("centroid_id"))
      .filter(col("n_id") =!= col("q_id"))
      .withColumn("sim", VectorFns.dot(col("q_emb"), col("n_emb")) /
        (col("q_nrm") * VectorFns.norm2(col("n_emb"))))
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") <= topK)
      .select(col("q_id"), col("n_id"), col("sim"))
  }
}
