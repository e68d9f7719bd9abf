package graft.repo

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** The file-subset property under [[TableRepo.readWhereIn]]: on a repo
  * clustered by the probe column, a small needle set must touch a small
  * file subset, and the pruned read must equal the full-scan filter
  * exactly. q_incr_dedup_pruned oracles the end-to-end dedup semantics;
  * this spec proves the skipping the query's scale story depends on.
  */
class PrunedReadSpec extends SparkSuite {

  private def keyed(n: Int) = {
    import spark.implicits._
    (0 until n).map(i => (i.toLong, s"v-$i")).toDF("k", "v")
  }

  test("clustered repo: few needles touch few files; result equals the full-scan filter") {
    val repo = new TableRepo(scratch("pruned-read"), spark,
      maxRecordsPerFile = 500, clusterCols = Seq("k"))
    repo.extend(keyed(10000))
    assert(repo.nFiles >= 10, s"need many narrow files, got ${repo.nFiles}")
    import spark.implicits._
    val needles = Seq(3L, 4444L, 9999L).toDF("k")
    val pruned = repo.prunedFilesFor(needles, "k")
    assert(pruned.size <= 3, s"3 point needles must touch <= 3 clustered files, got ${pruned.size}")
    assertSameRows(
      repo.readWhereIn(needles, "k").orderBy("k"),
      repo.getFullDf.filter(col("k").isin(3L, 4444L, 9999L)).orderBy("k"))
  }

  test("string cluster column prunes too (the fingerprint-index shape)") {
    import spark.implicits._
    val df = (0 until 4000).map(i => (i.toLong, f"fp-$i%06d")).toDF("doc", "fp")
    val repo = new TableRepo(scratch("pruned-read-str"), spark,
      maxRecordsPerFile = 400, clusterCols = Seq("fp"))
    repo.extend(df)
    val needles = Seq("fp-000007", "fp-002222").toDF("fp")
    val pruned = repo.prunedFilesFor(needles, "fp")
    assert(pruned.size <= 2, s"got ${pruned.size} of ${repo.nFiles} files")
    assert(repo.readWhereIn(needles, "fp").count() == 2)
  }

  test("unclustered repo degrades to correctness, not failure") {
    val repo = new TableRepo(scratch("pruned-read-flat"), spark, maxRecordsPerFile = 500)
    repo.extend(keyed(5000))
    import spark.implicits._
    val needles = Seq(1L, 4999L).toDF("k")
    assertSameRows(
      repo.readWhereIn(needles, "k").orderBy("k"),
      repo.getFullDf.filter(col("k").isin(1L, 4999L)).orderBy("k"))
  }

  test("overlapping extents degrade pruning; compact restores one-file-per-range") {
    import spark.implicits._
    val repo = new TableRepo(scratch("pruned-read-compact"), spark,
      maxRecordsPerFile = 500, clusterCols = Seq("k"))
    // five appends over the SAME key domain: each extend range-partitions
    // only its own batch, so file ranges overlap across extends and a
    // point needle hits ~one file PER EXTEND
    (0 until 5).foreach { i =>
      repo.extend((0 until 2000).map(j => (j.toLong, s"e$i-$j")).toDF("k", "v"))
    }
    val needles = Seq(7L).toDF("k")
    val before = repo.prunedFilesFor(needles, "k").size
    assert(before >= 4, s"overlapping extents should multiply touched files, got $before")
    // compaction preserves the clustering contract: one global range sort
    // restores narrow disjoint boxes — the INDEX MAINTENANCE story for a
    // long-lived incremental-dedup index
    repo.compact(500)
    val after = repo.prunedFilesFor(needles, "k").size
    assert(after <= 2, s"compacted clustered index must localize a point needle, got $after")
    assert(repo.readWhereIn(needles, "k").count() == 5)
    assert(repo.count() == 10000)
  }

  test("unpinned repo with drifting file schemas: the pruned read keeps getFullDf's columns") {
    import spark.implicits._
    // foreign data: two appends with different columns, no schema sidecar
    val root = scratch("pruned-read-unpinned")
    Seq((1L, "a1"), (2L, "a2")).toDF("k", "a").write.mode("append").parquet(s"$root/data")
    Seq((3L, "b3"), (4L, "b4")).toDF("k", "b").write.mode("append").parquet(s"$root/data")
    val repo = new TableRepo(root, spark)
    assert(repo.pinnedSchema.isEmpty)
    val full = repo.getFullDf
    val got = repo.readWhereIn(Seq(1L, 3L).toDF("k"), "k")
    assert(got.columns.sorted.toSeq == full.columns.sorted.toSeq,
      s"pruned read columns ${got.columns.toSeq} vs getFullDf ${full.columns.toSeq}")
    assertSameRows(got.select(full.columns.map(col).toIndexedSeq: _*),
      full.filter(col("k").isin(1L, 3L)))
  }

  test("NaN needles disable pruning rather than miss rows") {
    import spark.implicits._
    val df = Seq((1L, 1.0), (2L, Double.NaN), (3L, 9.5)).toDF("id", "x")
    val repo = new TableRepo(scratch("pruned-read-nan"), spark)
    repo.extend(df)
    val needles = Seq(Double.NaN, 9.5).toDF("x")
    val got = repo.readWhereIn(needles, "x")
    // NaN joins equal to NaN under Spark's <=> ? A plain semi-join on
    // doubles matches NaN = NaN in Spark SQL semantics (NaN is its own
    // equality class in joins), so both rows must come back
    assert(got.count() == 2, s"expected NaN and 9.5 rows, got ${got.collect().toSeq}")
  }
}
