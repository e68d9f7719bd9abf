package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Connected components of an undirected pair graph, shared by the dedup
  * cluster finders (token near-dup clusters, embedding near-dup clusters).
  *
  * Pairwise near-dup output is not actionable until pairs become CLUSTERS
  * with one canonical survivor each. Components via iterative min-label
  * propagation — labels(v) = min(label over neighbors ∪ v) — which
  * converges to min(id in component): a unique fixpoint, so the result is
  * deterministic regardless of iteration schedule. Each round is one join
  * + one aggregate (the standard Spark CC) plus a label-on-label join
  * (pointer doubling), so rounds ≈ log₂(diameter) — a pathological
  * 1000-node chain converges in ~10 rounds, not 1000 (dup clusters are
  * shallow anyway — ≤3 at the test scales). The driver-side loop holds
  * only a LONG per round (convergence witness), never rows.
  */
object Components {

  /** Edge-count cutoff for the DRIVER fast path: an edge set at or below
    * it (the materialized undirected closure, ≤ 4× the verified pair
    * count) is collected and solved with one union-find pass instead of
    * 4-6 distributed label rounds — measured at sf0.1, the doc pair
    * graph took 4 rounds and the emb graph 6 (its convergence tail moves
    * 1-2 labels per round: min-label speed follows where the small ids
    * sit, not just the diameter), each round a join+aggregate+jump
    * action of fixed cost. 2M edges is ~32 MB of longs — broadcast-class
    * driver traffic, well under default driver memory — while a corpus
    * whose VERIFIED dup-pair graph exceeds it gets the distributed loop
    * unchanged.
    */
  private[graft] val DriverCcMaxEdges: Long = 2000000L

  /** Min-label connected components over `pairs` (two long id columns,
    * undirected edges). Returns one row per node appearing in `pairs`,
    * columns (`id`, `cluster_id`) with `cluster_id` = min id in the node's
    * component.
    */
  def minLabel(pairs0: DataFrame, maxRounds: Int = 50): DataFrame =
    minLabelWithRounds(pairs0, maxRounds)._1

  /** [[minLabel]] plus the number of propagation rounds executed — the
    * scale witness (rounds ≈ log₂ diameter, see the doubling step below;
    * 0 means the driver fast path resolved the graph in one union-find
    * pass). `driverMaxEdges` exists for tests pinning the distributed
    * loop; production callers keep the default.
    */
  def minLabelWithRounds(pairs0: DataFrame, maxRounds: Int = 50,
      onRound: (Int, Long) => Unit = (_, _) => (),
      driverMaxEdges: Long = DriverCcMaxEdges): (DataFrame, Int) = {
    require(pairs0.columns.length == 2,
      s"pairs must have exactly two id columns, got ${pairs0.columns.mkString(",")}")
    val pairs = pairs0.toDF("__a", "__b")
    // undirected closure (both directions + self-loops) in ONE pass over
    // the pair pipeline — an explode of a 4-struct array instead of four
    // unions, so the (possibly expensive) pair plan executes exactly once
    // inside the edges materialization and needs no checkpoint of its own
    val edges = pairs.select(explode(array(
        struct(col("__a").as("src"), col("__b").as("dst")),
        struct(col("__b").as("src"), col("__a").as("dst")),
        struct(col("__a").as("src"), col("__a").as("dst")),
        struct(col("__b").as("src"), col("__b").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst")).distinct()
      .localCheckpoint(true) // edges feed every propagation round
    // The expensive pair pipeline is materialized above either way; the
    // edge COUNT is then one cheap job over cached blocks, and it decides
    // whether the label graph is driver-bounded (see DriverCcMaxEdges):
    // collecting a bounded edge list and union-finding it replaces every
    // propagation round — same unique fixpoint (the union-find attaches
    // the larger root under the smaller, so each root IS its component's
    // min id, exactly minLabel's label).
    val nEdges = edges.count()
    if (nEdges <= driverMaxEdges) {
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x0: Long): Long = {
        var x = x0
        while (parent.getOrElse(x, x) != x) {
          val p = parent(x)
          val gp = parent.getOrElse(p, p)
          parent(x) = gp // path halving
          x = gp
        }
        x
      }
      edges.collect().foreach { r =>
        val (a, b) = (r.getLong(0), r.getLong(1))
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        else if (!parent.contains(ra)) parent(ra) = ra
      }
      // parent holds every node seen: the closure's self-loops guarantee
      // each node appears at least once, and the self-loop branch above
      // seeds even isolated component minima
      val out = new java.util.ArrayList[Row](parent.size)
      parent.keysIterator.foreach(id => out.add(Row(id, find(id))))
      val schema = StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("cluster_id", LongType, nullable = false)))
      return (pairs.sparkSession.createDataFrame(out, schema), 0)
    }
    var labels = edges.groupBy(col("src")).agg(min(col("dst")).as("lbl"))
      .localCheckpoint(true)
    var converged = false
    var rounds = 0
    while (!converged && rounds < maxRounds) {
      // ONE action per round: neighbor propagation and a DOUBLE pointer
      // jump compose into a single plan, materialized once. Every jump
      // follows the PREVIOUS round's labels (each reference below is to
      // the already checkpointed `labels`, so nothing in the plan
      // executes twice and no intermediate needs a checkpoint of its own
      // — the pre-r18 shape materialized prop separately to jump through
      // prop itself, paying two extra actions per round). Depth covered
      // recurses as dₙ = 2·dₙ₋₁ + 1 (labels∘labels plus the propagation
      // step), so rounds stay ≈ log₂(diameter). Still correct:
      // labels(l) ≤ l (self-loops), same component, labels stay
      // monotonically decreasing, unique fixpoint — the schedule cannot
      // change the result, only the round count.
      //
      // The convergence witness rides the SAME materialization as an
      // `observe` metric — zero extra job — and it is the CHANGED-ROW
      // count: the self-loop row the edge closure guarantees carries
      // each node's pre-round label (`__prev`) through the plan, so
      // `changed == 0` means this round's output equals its input
      // elementwise — the fixpoint, directly, with no monotonicity
      // argument needed (the label-sum witness it replaces was
      // equivalent but rested on the labels-only-decrease invariant).
      // (sum over ZERO rows is null — an empty pair set, a legitimate
      // clean-corpus state, converges in one empty round, not an NPE.)
      def jump(df: DataFrame, tag: String): DataFrame = df
        .join(labels.select(col("src").as("lbl"), col("lbl").as(tag)), Seq("lbl"), "left")
        .select(col("src"), coalesce(col(tag), col("lbl")).as("lbl"), col("__prev"))
      val prop = edges
        .join(labels.select(col("src").as("dst"), col("lbl")), Seq("dst"))
        .groupBy(col("src"))
        .agg(min(col("lbl")).as("lbl"),
          min(when(col("dst") === col("src"), col("lbl"))).as("__prev"))
      val obs = org.apache.spark.sql.Observation()
      val next = jump(jump(prop, "__j1"), "__j2")
        .observe(obs, sum(when(col("lbl") =!= col("__prev"), 1L)).as("chg"))
        .select(col("src"), col("lbl"))
        .localCheckpoint(true)
      val chg = obs.getAsJava.get("chg")
      converged = chg == null || chg.asInstanceOf[Long] == 0L
      labels = next
      rounds += 1
      onRound(rounds, if (chg == null) 0L else chg.asInstanceOf[Long])
    }
    // maxRounds covers any realistic dup-cluster diameter with log-depth
    // headroom to spare; emitting unconverged labels would be silently
    // wrong, so fail loudly instead
    require(converged, s"label propagation did not converge in $rounds rounds")
    (labels.select(col("src").as("id"), col("lbl").as("cluster_id")), rounds)
  }
}
