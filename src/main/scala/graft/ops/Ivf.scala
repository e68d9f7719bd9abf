package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.functions.VectorFns

/** Trained IVF: pinned-seed Lloyd's k-means over an embedding column,
  * shared by `q_ivf_train` and the IVF recall rows of RecallStudy
  * (SCALE.md "Retired measurement mains"). (Reference scope: the
  * engine's ANN surface — cross-engine parity demands full determinism,
  * so every source of float drift is pinned.)
  *
  * Determinism contract (the DuckDB oracle replays it bit-for-bit):
  *   - seed centroids = the k lowest `vec_id` vectors (float components
  *     are exact in double);
  *   - assignment = argmax cosine, ties to the LOWER centroid_id; dot
  *     products are in-order left folds in double on both engines
  *     ([[VectorFns.dotHof]] ≡ DuckDB `list_inner_product(::DOUBLE[])`),
  *     so similarities are bitwise-equal;
  *   - centroid update = per-position mean ROUNDED to 6 decimals — the
  *     rounding quantizes away the one order-dependent step (a
  *     distributed avg sums in partition order), so iteration n+1 starts
  *     from identical centroid literals on both engines. A mean would
  *     need to land within ~1e-15 of a rounding boundary to diverge.
  *
  * Scale shape (100 TB): each iteration is one linear scan — broadcast
  * the k-row centroid table, one codegen'd dot per (vector, centroid),
  * per-vector argmax as a map-side-combinable hash aggregate (see
  * [[assign]]), then a (centroid, pos) groupBy whose cardinality is
  * k×dim (map-side partial agg does almost all the work). No shuffle
  * grows with the corpus; k and iters are constants. Empty clusters
  * drop out of the update on both engines identically.
  */
object Ivf {

  /** Per-vector nearest-centroid assignment. `embs` needs (vec_id,
    * embedding); `cent` is (centroid_id, c_emb) with double components —
    * k rows by the build contract (the k=707 serve build is ~45k
    * doubles, driver-trivial). Returns (vec_id, centroid_id, embedding).
    *
    * The centroid table is COLLECTED and folded into the plan as
    * literals, making the assignment a MAP-ONLY projection: per row, k
    * native dots plus `array_max` over the k (sim, -centroid_id,
    * centroid_id) structs. The previous shape crossJoined a broadcast
    * centroid frame and hash-aggregated `max(struct(...))` by vec_id —
    * correct, but its groupBy exchange shuffled ~n rows WITH their
    * embeddings once per call: once per Lloyd round and once more for
    * every full assignment write — full-corpus shuffles a 100 TB build
    * cannot afford, against a 100 TB map-only scan here (guide §2.4:
    * remove shuffles outright).
    *
    * Values are bit-identical to the old shape: the c_nrm literal
    * replays dotHof's left fold in the same IEEE order; the per-row norm
    * is bound ONCE through the zip_with lambda (not re-evaluated per
    * centroid), so each sim is the exact same double; and array_max uses
    * the same struct ordering — NaN-greatest doubles included — as
    * max(struct(...)), so zero-norm rows keep their old lowest-id
    * tie-break.
    */
  def assign(embs: DataFrame, cent: DataFrame): DataFrame = {
    val rows = cent
      .select(col("centroid_id").cast("long"), col("c_emb").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toIndexedSeq))
      .sortBy(_._1)
    require(rows.nonEmpty, "Ivf.assign: empty centroid table")
    val cands = rows.map { case (cid, v) =>
      // same left fold as dotHof(c_emb, c_emb) — bit-equal c_nrm
      val cNrm = math.sqrt(v.foldLeft(0.0)((acc, x) => acc + x * x))
      struct(
        VectorFns.dotMixed(col("embedding"), typedlit(v)).as("d"),
        lit(cNrm).as("cn"), lit(-cid).as("neg_cid"), lit(cid).as("centroid_id"))
    }
    val best = array_max(zip_with(
      array(cands: _*),
      array_repeat(VectorFns.norm2(col("embedding")), rows.length),
      (x, en) => struct((x("d") / (en * x("cn"))).as("sim"),
        x("neg_cid").as("neg_cid"), x("centroid_id").as("centroid_id"))))
    embs.select(col("vec_id"), col("embedding"))
      .withColumn("__best", best)
      .select(col("vec_id"), col("__best")("centroid_id").as("centroid_id"),
        col("embedding"))
  }

  /** One Lloyd update: per-position rounded mean of the assigned vectors,
    * COLLECTED into a local (centroid_id, c_emb: array<double>) relation —
    * k rows of dim doubles, driver-trivial. Each round is therefore
    * exactly one collect job, and [[train]]'s result is eager LOCAL rows:
    * consumers (an extend's write, [[assign]]'s own collect, the
    * trainResult projections) re-plan from literals instead of
    * re-evaluating the Lloyd chain, so no caller needs a checkpoint
    * around train anymore.
    */
  private def update(assigned: DataFrame): DataFrame = {
    val plan = assigned.select(col("centroid_id"), posexplode(col("embedding")))
      .groupBy(col("centroid_id"), col("pos"))
      .agg(round(avg(col("col")), 6).as("cv"))
      .groupBy(col("centroid_id"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("cv")))),
        x => x.getField("cv")).as("c_emb"))
    val rows = plan.collect()
    assigned.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), plan.schema)
  }

  /** Pinned-seed k-means: seed = k lowest vec_ids, `iters` Lloyd updates.
    * Returns the trained (centroid_id, c_emb) table.
    *
    * The seed CONTRACT is enforced, not assumed: training input missing
    * any of `vec_id ∈ [0, k)` (e.g. a sampled `trainOn` that skipped the
    * seed rows) would silently seed fewer than k centroids and build an
    * under-k index while the manifest still records the requested k — so
    * a short (or duplicated) seed set fails fast here instead.
    */
  def train(embs: DataFrame, k: Int, iters: Int): DataFrame = {
    val e = embs.select(col("vec_id"), col("embedding"))
    // ONE collect serves both the contract check and the iteration-0
    // centroids: k rows of dim-d doubles is driver-trivial (the k=707
    // serve build is ~45k doubles), and deriving the seed literals from
    // the same rows that were validated removes the separate agg+head
    // action every train (oracle run, bench row) used to pay. A
    // duplicated seed id masking a missing one would seed a duplicate
    // centroid — hence distinct ids, not just a row count.
    val seedPlan = e.filter(col("vec_id") < k)
      .select(col("vec_id").as("centroid_id"),
        transform(col("embedding"), x => x.cast(DoubleType)).as("c_emb"))
    val seedRows = seedPlan.collect()
    val seedD = seedRows.map(_.getLong(0)).distinct.length
    require(seedRows.length == k && seedD == k,
      s"Ivf.train: found ${seedRows.length} seed rows ($seedD distinct ids) with vec_id in [0, $k) " +
        s"but need exactly $k distinct — the training input (trainOn sample included) " +
        "must contain each seed id once")
    var cent: DataFrame = e.sparkSession.createDataFrame(
      java.util.Arrays.asList(seedRows: _*), seedPlan.schema)
    for (_ <- 1 to iters) cent = update(assign(e, cent))
    cent
  }

  /** The q_ivf_train result frame: trained centroid components exploded
    * to rows plus the final cluster sizes — floats-only-as-rounded-means,
    * so the oracle hash-compares cleanly.
    */
  def trainResult(embs: DataFrame, k: Int, iters: Int): DataFrame = {
    val cent = train(embs, k, iters) // eager local rows — no barrier needed
    val sizes = assign(embs, cent)
      .groupBy(col("centroid_id")).agg(count(lit(1)).as("n"))
    cent.select(col("centroid_id"), posexplode(col("c_emb")))
      .select(col("centroid_id"), col("pos").cast("long").as("pos"), col("col").as("c_val"))
      .join(broadcast(sizes), Seq("centroid_id"))
      .select(col("centroid_id"), col("pos"), col("c_val"), col("n"))
  }

  /** The shared Lloyd CTE chain (c0, a0, c1, …, c<iters>, afin) — the
    * DuckDB replay of [[train]] plus the final full assignment.
    * `cosine(a, b)` must be the caller's `sqlCosine` (in-order DOUBLE[]
    * inner products — bitwise equal to the Spark side).
    */
  private def lloydCtes(k: Int, iters: Int, cosine: (String, String) => String): String = {
    def assignSql(cTbl: String, out: String) =
      s"""$out AS (SELECT vec_id, centroid_id, embedding FROM (
         |  SELECT e.vec_id AS vec_id, e.embedding AS embedding, c.centroid_id AS centroid_id,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${cosine("e.embedding", "c.c_emb")} DESC, c.centroid_id) AS rn
         |  FROM embeddings e CROSS JOIN $cTbl c) WHERE rn = 1)""".stripMargin
    def updateSql(aTbl: String, out: String) =
      s"""$out AS (SELECT centroid_id, list(round(m, 6) ORDER BY pos) AS c_emb FROM (
         |  SELECT centroid_id, pos, avg(val) AS m FROM (
         |    SELECT centroid_id, generate_subscripts(embedding, 1) AS pos,
         |      unnest(embedding) AS val FROM $aTbl)
         |  GROUP BY centroid_id, pos) GROUP BY centroid_id)""".stripMargin
    val steps = (0 until iters).flatMap { i =>
      Seq(assignSql(s"c$i", s"a$i"), updateSql(s"a$i", s"c${i + 1}"))
    }
    s"""c0 AS (SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS c_emb
       | FROM embeddings WHERE vec_id < $k),
       | ${steps.mkString(",\n ")},
       | ${assignSql(s"c$iters", "afin")}""".stripMargin
  }

  /** The DuckDB oracle for [[trainResult]]. */
  def oracleSql(k: Int, iters: Int, cosine: (String, String) => String): String =
    (s"""WITH ${lloydCtes(k, iters, cosine)},
        | sizes AS (SELECT centroid_id, count(*) AS n FROM afin GROUP BY centroid_id)
        | SELECT c.centroid_id AS centroid_id,
        |   CAST(generate_subscripts(c.c_emb, 1) - 1 AS BIGINT) AS pos,
        |   unnest(c.c_emb) AS c_val, sizes.n AS n
        | FROM c$iters c JOIN sizes ON sizes.centroid_id = c.centroid_id""")
      .stripMargin.replaceAll("\n", "")

  /** The IVF ROUTING phase: per-query `nprobe` nearest centroids by
    * cosine, ties to the lower centroid_id — one output row per (query,
    * probed cluster), schema (q_id, q_emb, q_nrm, centroid_id). This is
    * the tie-break-sensitive plan EVERY probe shape shares
    * ([[probeTopK]], [[IvfRepo.probeFrames]], the serve study's router
    * and scan-fraction audits) and the DuckDB oracle replays — kept as
    * the single copy so a change to the similarity form or the tie-break
    * cannot silently diverge the batch, bucketed, pinned, and oracle
    * paths from each other. Both frames are broadcast: queries × k
    * centroids is a cross of two tiny relations.
    *
    * `queries` needs (q_id, q_emb); `centDf` is the trained
    * (centroid_id, c_emb) table with double components.
    */
  def route(queries: DataFrame, centDf: DataFrame, nprobe: Int): DataFrame = {
    val c = centDf.select(col("centroid_id"), col("c_emb"),
      sqrt(VectorFns.dotHof(col("c_emb"), col("c_emb"))).as("c_nrm"))
    val q = queries.select(col("q_id"), col("q_emb"),
      VectorFns.norm2(col("q_emb")).as("q_nrm"))
    val cw = Window.partitionBy(col("q_id")).orderBy(col("csim").desc, col("centroid_id"))
    broadcast(q).crossJoin(broadcast(c))
      .withColumn("csim",
        VectorFns.dotMixed(col("q_emb"), col("c_emb")) / (col("q_nrm") * col("c_nrm")))
      .withColumn("__rn", row_number().over(cw)).filter(col("__rn") <= nprobe)
      .select(col("q_id"), col("q_emb"), col("q_nrm"), col("centroid_id"))
  }

  /** Trained-IVF ANN top-k (the q_ivf_probe engine): train pinned-seed
    * centroids, assign the corpus once, then answer each query from the
    * members of its `nprobe` nearest clusters only — the classic IVF
    * trade (RecallStudy, SCALE.md "Retired measurement mains", measured
    * recall 0.30/0.50 at nprobe 1/2 on sf0.1). Scale shape:
    * queries×centroids is a broadcast
    * cross of two tiny frames ([[route]]); the candidate join touches
    * ~nprobe/k of the corpus (at rest, cluster-partition the assignment
    * table and this becomes partition pruning); the per-query top-k
    * window gets a partial WindowGroupLimit.
    */
  def probeTopK(embs: DataFrame, k: Int, iters: Int, nprobe: Int,
      maxQueryId: Long, topK: Int): DataFrame = {
    val e = Ckpt(embs.select(col("vec_id"), col("embedding")))
    val cent = train(e, k, iters) // eager local rows — no barrier needed
    val asg = assign(e, cent)
    val qc = route(e.filter(col("vec_id") < maxQueryId)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb")), cent, nprobe)
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("n_id"))
    broadcast(qc)
      .join(asg.select(col("vec_id").as("n_id"), col("centroid_id"),
        col("embedding").as("n_emb")), Seq("centroid_id"))
      .filter(col("n_id") =!= col("q_id"))
      .withColumn("sim", VectorFns.dot(col("q_emb"), col("n_emb")) /
        (col("q_nrm") * VectorFns.norm2(col("n_emb"))))
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") <= topK)
      .select(col("q_id"), col("n_id"), col("sim"))
  }

  /** The DuckDB oracle for [[probeTopK]]. */
  def probeOracleSql(k: Int, iters: Int, nprobe: Int, maxQueryId: Long,
      topK: Int, cosine: (String, String) => String): String =
    (s"""WITH ${lloydCtes(k, iters, cosine)},
        | q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < $maxQueryId),
        | qc AS (SELECT q_id, centroid_id FROM (
        |   SELECT q.q_id AS q_id, c.centroid_id AS centroid_id,
        |     row_number() OVER (PARTITION BY q.q_id
        |       ORDER BY ${cosine("q.q_emb", "c.c_emb")} DESC, c.centroid_id) AS rn
        |   FROM q CROSS JOIN c$iters c) WHERE rn <= $nprobe),
        | cand AS (SELECT qc.q_id AS q_id, a.vec_id AS n_id, a.embedding AS n_emb
        |   FROM qc JOIN afin a ON a.centroid_id = qc.centroid_id AND a.vec_id <> qc.q_id),
        | p AS (SELECT cand.q_id AS q_id, cand.n_id AS n_id,
        |     ${cosine("qe.embedding", "cand.n_emb")} AS sim
        |   FROM cand JOIN embeddings qe ON qe.vec_id = cand.q_id)
        | SELECT q_id, n_id, sim FROM p
        | QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) <= $topK""")
      .stripMargin.replaceAll("\n", "")
}
