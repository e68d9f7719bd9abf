package graft.repo

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSuite

/** Port of the reference's core contract
  * (/root/reference/parquetranger/tests/test_core.py): layout grid,
  * incremental appends, upserts incl. duplicate keys and cross-group keys,
  * partition reads, file sizing.
  */
class TableRepoSpec extends SparkSuite {
  import spark.implicits._

  /** The canonical keyed fixture (tests/test_core.py:11-48): string key,
    * data cols A/B, group cols C (1-3) and C2 (a/b/ba).
    */
  def df1: DataFrame = Seq(
    ("a1", 1L, "x", 1L, "a"), ("a2", 2L, "y", 2L, "b"),
    ("a3", 3L, "z", 1L, "a"), ("a4", 4L, "w", 3L, "ba")
  ).toDF("k", "A", "B", "C", "C2")

  def df2: DataFrame = Seq(
    ("b1", 5L, "p", 1L, "b"), ("b2", 6L, "q", 2L, "a")
  ).toDF("k", "A", "B", "C", "C2")

  // layout grid: group_cols x max_records x keep-mode (tests/test_core.py:219-232)
  for {
    groupCols <- Seq(Nil, Seq("C"), Seq("C", "C2"), Seq("C2", "C"), Seq("C2"))
    maxRecords <- Seq(0L, 1L)
    keep <- if (groupCols.nonEmpty) Seq(false, true) else Seq(false)
  } test(s"append round-trip groupCols=$groupCols maxRecords=$maxRecords keep=$keep") {
    val repo = new TableRepo(scratch("grid"), spark,
      groupCols = groupCols, keyCols = Seq("k"), maxRecordsPerFile = maxRecords,
      keepGroupCols = keep)
    repo.extend(df1)
    repo.extend(df2)
    assertSameRows(
      repo.getFullDf.orderBy("k"),
      df1.unionByName(df2).orderBy("k"))
    if (maxRecords == 1) assert(repo.nFiles >= 6)
  }

  test("grouped layout creates one directory per group value (test_core.py:70-71)") {
    val repo = new TableRepo(scratch("dirs"), spark, groupCols = Seq("C2"))
    repo.extend(df1)
    val dirs = new java.io.File(repo.root + "/data").listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.toSeq == Seq("C2=a", "C2=b", "C2=ba"))
  }

  test("partition read prunes to one group (test_core.py:51-75)") {
    val repo = new TableRepo(scratch("prune"), spark, groupCols = Seq("C"))
    repo.extend(df1)
    val part = repo.getPartitionDf(Map("C" -> 1L))
    assert(part.select("k").as[String].collect().sorted.toSeq == Seq("a1", "a3"))
  }

  test("upsert: updates win, remainder appended (test_core.py:119-146)") {
    val repo = new TableRepo(scratch("upsert"), spark, keyCols = Seq("k"))
    repo.extend(df1)
    val updates = Seq(
      ("a2", 20L, "Y2", 2L, "b"), // existing key -> replaced
      ("c9", 90L, "N", 1L, "a")   // new key -> appended
    ).toDF("k", "A", "B", "C", "C2")
    repo.replaceRecords(updates)
    val out = repo.getFullDf
    assert(out.count() == 5)
    assert(out.filter($"k" === "a2").select("A").as[Long].head() == 20L)
    assert(out.filter($"k" === "c9").count() == 1)
  }

  test("upsert input dedup keeps first occurrence (test_core.py:141-146)") {
    val repo = new TableRepo(scratch("dupkey"), spark, keyCols = Seq("k"))
    repo.extend(df1)
    val updates = Seq(
      ("b2", 100L, "first", 2L, "a"),
      ("b2", 200L, "second", 2L, "a")
    ).toDF("k", "A", "B", "C", "C2")
    repo.replaceRecords(updates)
    val got = repo.getFullDf.filter($"k" === "b2")
    assert(got.count() == 1)
    assert(got.select("A").as[Long].head() == 100L)
  }

  test("scoped upsert allows same key in different groups (test_core.py:149-179)") {
    val repo = new TableRepo(scratch("scoped"), spark,
      groupCols = Seq("C2"), keyCols = Seq("k"))
    repo.extend(df1) // a4 lives in group ba
    val updates = Seq(("a4", 44L, "moved", 3L, "a")).toDF("k", "A", "B", "C", "C2")
    repo.replaceRecords(updates, byGroups = true)
    val out = repo.getFullDf
    // a4 now exists in BOTH groups: untouched in ba, inserted in a
    assert(out.filter($"k" === "a4").count() == 2)
    assert(out.filter($"k" === "a4" && $"C2" === "a").select("A").as[Long].head() == 44L)
    assert(out.filter($"k" === "a4" && $"C2" === "ba").select("A").as[Long].head() == 4L)
  }

  test("unscoped upsert on grouped repo keeps one row per key") {
    val repo = new TableRepo(scratch("unscoped"), spark,
      groupCols = Seq("C2"), keyCols = Seq("k"))
    repo.extend(df1)
    val updates = Seq(("a4", 44L, "moved", 3L, "a")).toDF("k", "A", "B", "C", "C2")
    repo.replaceRecords(updates)
    val out = repo.getFullDf
    assert(out.filter($"k" === "a4").count() == 1)
    assert(out.filter($"k" === "a4").select($"C2").as[String].head() == "a")
    assert(out.count() == 4)
  }

  test("emptied group with a Hive-escaped value is really deleted when its key moves out") {
    // group value ':' is %-encoded on disk; the emptied-dir delete must
    // resolve the REAL dir (via input_file_name) or the moved key's stale
    // row survives as a duplicate
    val repo = new TableRepo(scratch("escaped-emptied"), spark,
      groupCols = Seq("g"), keyCols = Seq("k"))
    repo.extend(Seq(("k1", "a:b", 1L), ("k2", "plain", 2L)).toDF("k", "g", "n"))
    // the path helper must find the Hive-escaped dir for the raw value
    assert(repo.partitionPaths(Map("g" -> "a:b")).nonEmpty,
      "partitionPaths missed the escaped dir")
    // unscoped upsert moves k1 from group "a:b" (now emptied) to "plain"
    repo.replaceRecords(Seq(("k1", "plain", 10L)).toDF("k", "g", "n"))
    val out = repo.getFullDf
    assert(out.filter($"k" === "k1").count() == 1, "stale row in the emptied escaped dir")
    assert(out.filter($"k" === "k1").select("g").as[String].head() == "plain")
    assert(out.count() == 2)
  }

  test("replaceGroups overwrites only touched groups (test_core.py:178-179)") {
    val repo = new TableRepo(scratch("rgroups"), spark, groupCols = Seq("C2"))
    repo.extend(df1)
    repo.replaceGroups(Seq(("z1", 99L, "zz", 9L, "a")).toDF("k", "A", "B", "C", "C2"))
    val out = repo.getFullDf
    assert(out.filter($"C2" === "a").count() == 1) // replaced
    assert(out.filter($"C2" === "b").count() == 1) // untouched
    assert(out.filter($"C2" === "ba").count() == 1) // untouched
  }

  /** The crash shape of an uncommitted exactly-once batch inside the
    * partition a mutation replaces: batch 1 of writer `w` staged with its
    * manifest pinned and ONE staged file already renamed into the `g=a`
    * dir, commit marker absent. Returns the repo and the landed file.
    */
  private def withLandedPrefix(name: String): (TableRepo, Path) = {
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val repo = new TableRepo(scratch(name), spark,
      groupCols = Seq("g"), keyCols = Seq("k"), maxRecordsPerFile = 3)
    assert(repo.extendExactlyOnce(gbatch(0, 5), "w", 0L))
    repo.stageBatchOnly(gbatch(5, 17), "w", 1L)
    val staging = fs.makeQualified(new Path(s"${repo.root}/_graft_staging/w-1"))
    val it = fs.listFiles(staging, true)
    var moved: Path = null
    while (moved == null && it.hasNext) {
      val f = it.next().getPath
      if (f.getName.endsWith(".parquet")) moved = f
    }
    val rel = moved.toString.stripPrefix(staging.toString + "/")
    val cur = repo.snapshotVersions.lastOption.map(v => s"data-v$v").getOrElse("data")
    val landed = new Path(s"${repo.root}/$cur/$rel")
    assert(rel.startsWith("g=a/") && fs.rename(moved, landed))
    assert(repo.count() == 5, "landed prefix invisible")
    (repo, landed)
  }

  private def gbatch(lo: Int, hi: Int): DataFrame =
    (lo until hi).map(i => (i.toLong, s"row-$i", "a")).toDF("k", "v", "g")

  /** The replayed batch landed whole: keys 5..16, each exactly once. */
  private def assertBatchOnce(repo: TableRepo): Unit = {
    val batchKeys = repo.getFullDf.where($"k".between(5L, 16L)).groupBy("k").count()
    assert(batchKeys.count() == 12, "every batch key is visible")
    assert(batchKeys.filter($"count" =!= 1).count() == 0, "no batch key landed twice")
  }

  test("replaceGroups keeps an uncommitted batch's landed file; the replay lands the batch once") {
    val (repo, landed) = withLandedPrefix("rgroups-landed")
    repo.replaceGroups(Seq((100L, "new-100", "a"), (101L, "new-101", "a")).toDF("k", "v", "g"))
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(landed), "the replaced partition's uncommitted landed file must survive")
    assert(repo.count() == 2, "g=a replaced: only the two new rows are visible")
    assert(repo.extendExactlyOnce(gbatch(5, 17), "w", 1L))
    assertBatchOnce(repo)
    assert(repo.count() == 14, "2 replacement rows + 12 batch rows")
  }

  test("a grouped replaceRecords keeps an uncommitted batch's landed file; the replay lands the batch once") {
    val (repo, landed) = withLandedPrefix("rrecords-landed")
    repo.replaceRecords(Seq((0L, "UPD-0", "a"), (100L, "new-100", "a")).toDF("k", "v", "g"),
      byGroups = true)
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(landed), "the rewritten partition's uncommitted landed file must survive")
    assert(repo.count() == 6, "5 originals (k=0 updated) + 1 new key")
    assert(repo.getFullDf.where($"k" === 0L).select("v").as[String].collect().toSeq == Seq("UPD-0"))
    assert(repo.extendExactlyOnce(gbatch(5, 17), "w", 1L))
    assertBatchOnce(repo)
    assert(repo.count() == 18, "6 upserted-table rows + 12 batch rows")
  }

  test("replaceAll and purge (test_core.py:157-167)") {
    val repo = new TableRepo(scratch("purge"), spark)
    repo.extend(df1)
    repo.replaceAll(df2)
    assert(repo.count() == 2)
    repo.purge()
    assert(!repo.exists)
    assert(repo.count() == 0)
  }

  test("maxRecordsPerFile bounds rows per file (test_core.py:85-93 analog)") {
    val repo = new TableRepo(scratch("sized"), spark, maxRecordsPerFile = 2)
    repo.extend(df1.unionByName(df2))
    assert(repo.nFiles >= 3)
    repo.paths.foreach { p =>
      assert(spark.read.parquet(p).count() <= 2)
    }
  }

  test("compact rewrites into fewer files") {
    val repo = new TableRepo(scratch("compact"), spark, maxRecordsPerFile = 1)
    repo.extend(df1)
    assert(repo.nFiles >= 4)
    repo.compact(100)
    assert(repo.nFiles == 1)
    assert(repo.count() == 4)
  }

  test("batchExtend equals sequential extends (test_parallel.py:14-38)") {
    val seqRepo = new TableRepo(scratch("seq"), spark, groupCols = Seq("C"))
    val batRepo = new TableRepo(scratch("bat"), spark, groupCols = Seq("C"))
    seqRepo.extend(df1); seqRepo.extend(df2)
    batRepo.batchExtend(Seq(df1, df2))
    assertSameRows(seqRepo.getFullDf.orderBy("k"), batRepo.getFullDf.orderBy("k"))
  }

  test("empty-group values never materialize as directories") {
    val repo = new TableRepo(scratch("nonempty"), spark, groupCols = Seq("C2"))
    repo.extend(df1.filter($"C2" =!= "ba"))
    val dirs = new java.io.File(repo.root + "/data").listFiles().filter(_.isDirectory).map(_.getName)
    assert(!dirs.contains("C2=ba"))
  }

  test("mapGroups runs arbitrary per-group logic (test_parallel.py:41-76)") {
    val repo = new TableRepo(scratch("mapg"), spark, groupCols = Seq("C"))
    repo.extend(df1)
    val out = repo.mapGroups(Seq("C"),
      StructType(Seq(StructField("C", LongType), StructField("n", LongType)))) { (key, rows) =>
      Iterator(org.apache.spark.sql.Row(key.head.toLong, rows.size.toLong))
    }
    val got = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 2L, 2L -> 1L, 3L -> 1L))
  }

  test("environments switch roots and restore (test_envs.py:6-47)") {
    val envParent = scratch("env-parent")
    val repo = new TableRepo(scratch("envs") + "/tbl", spark,
      envParents = Map("test" -> envParent))
    repo.extend(df1)
    repo.envCtx("test") {
      repo.extend(df2)
      assert(repo.count() == 2)
      assert(repo.root.startsWith(envParent))
    }
    assert(repo.count() == 4)
  }

  test("metadata sidecar round-trips (test_metadata.py:6-20)") {
    val repo = new TableRepo(scratch("meta"), spark)
    repo.extend(df1)
    val meta = Map("owner" -> "graft", "note" -> "line1\nline2 \"quoted\"")
    repo.setMetadata(meta)
    assert(repo.fullMetadata == meta)
  }

  test("per-file readers and partition paths (core.py:177-182,225-277)") {
    val repo = new TableRepo(scratch("perfile"), spark,
      groupCols = Seq("C2"), maxRecordsPerFile = 1)
    repo.extend(df1)
    assert(repo.perFileDfs.map(_.count()).sum == 4)
    val pp = repo.partitionPaths(Map("C2" -> "a"))
    assert(pp.size == 1 && pp.head.endsWith("C2=a"))
    assert(repo.readFileDf(repo.paths.head).count() == 1)
  }

  test("writer factories wire replace/extend flush paths (core.py:230-243)") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("k", StringType), StructField("A", LongType)))
    val repo = new TableRepo(scratch("factories"), spark, keyCols = Seq("k"))
    val w = repo.extendingRecordWriter(schema, 10)
    w.add(Map("k" -> "a", "A" -> 1L)); w.close()
    val rw = repo.replacingRecordWriter(schema, 10)
    rw.add(Map("k" -> "a", "A" -> 2L)); rw.close()
    assert(repo.count() == 1)
    assert(repo.getFullDf.select("A").as[Long].head() == 2L)
  }

  test("ungrouped upsert without keyCols is rejected (test_core.py:182-188)") {
    val repo = new TableRepo(scratch("nokey"), spark)
    repo.extend(df1)
    intercept[IllegalArgumentException] {
      repo.replaceRecords(df2)
    }
  }

  test("hash-bucketed layout matches the reference buckets (test_core.py:270-280)") {
    // df C = e,f,g x3: with 3 groups, bucket "2" holds 6 rows; with 300
    // groups, bucket "166" holds the 3 md5("e") rows
    val df = Seq.tabulate(9)(i => ("efg" (i % 3).toString, i.toLong)).toDF("C", "A")
    val repo = new TableRepo(scratch("hasher"), spark, hashBucket = Some(HashBucketLayout("C", 3)))
    repo.extend(df)
    assert(repo.getBucketDf("2").count() == 6)
    assert(repo.getBucketDf("2").columns.toSeq == Seq("C", "A"), "bucket col must not leak")
    val repo2 = new TableRepo(scratch("hasher300"), spark,
      hashBucket = Some(HashBucketLayout("C", 300)))
    repo2.extend(df)
    assert(repo2.getBucketDf("166").count() == 3)
  }

  test("empty update set is a no-op upsert on every layout") {
    for (mk <- Seq(
        () => new TableRepo(scratch("noop-plain"), spark, keyCols = Seq("k")),
        () => new TableRepo(scratch("noop-grouped"), spark, groupCols = Seq("C2"), keyCols = Seq("k")),
        () => new TableRepo(scratch("noop-bucket"), spark, keyCols = Seq("k"),
          hashBucket = Some(HashBucketLayout("k", 4))))) {
      val repo = mk()
      repo.extend(df1)
      repo.replaceRecords(df2.filter(lit(false)))
      assert(repo.count() == 4, s"layout ${repo.root} changed on empty upsert")
      assertSameRows(repo.getFullDf.orderBy("k"), df1.orderBy("k"))
    }
  }

  test("schema evolution rewrites history under a bucketed layout") {
    val repo = new TableRepo(scratch("bucket-evolve"), spark,
      keyCols = Seq("k"), hashBucket = Some(HashBucketLayout("k", 4)),
      allowSchemaExtension = true)
    repo.extend(df1.drop("C2"))
    repo.extend(df2) // C2 is new -> widen + backfill rewrite of bucket dirs
    val out = repo.getFullDf
    assert(out.columns.contains("C2"))
    assert(out.count() == 6)
    assert(out.filter($"k" === "a1").select("C2").collect().head.isNullAt(0))
    assert(out.filter($"k" === "b1").select("C2").as[String].head() == "b")
    // layout preserved through the rewrite: bucket dirs, no stray files
    val dirs = new java.io.File(repo.root + "/data").listFiles()
    assert(dirs.filter(_.isFile).forall(f => f.getName.startsWith("_") || f.getName.startsWith(".")),
      "all data files must live under bucket dirs after the evolution rewrite")
  }

  test("bucket-value reads prune to the bucket directory (PartitionFilters)") {
    val repo = new TableRepo(scratch("bucket-prune"), spark,
      hashBucket = Some(HashBucketLayout("C", 3)))
    repo.extend(Seq.tabulate(9)(i => ("efg" (i % 3).toString, i.toLong)).toDF("C", "A"))
    val plan = repo.getBucketDf("2").queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), s"no PartitionFilters in:\n$plan")
    assert(plan.contains("__graft_hash_C_3__"), "filter must target the bucket partition col")
  }

  test("bucketed upsert rewrites only the buckets its keys land in") {
    val repo = new TableRepo(scratch("bucket-upsert"), spark,
      keyCols = Seq("k"), hashBucket = Some(HashBucketLayout("k", 8)))
    repo.extend(df1)
    repo.extend(df2)
    val before = repo.paths.map(p => p -> new java.io.File(new java.net.URI(p)).lastModified()).toMap
    val bucketDirOf = (p: String) => p.substring(0, p.lastIndexOf('/'))
    val touchedBuckets = Set("a2").map(k =>
      HashBucket.bucketStr(lit(k), 8)).map(c => spark.range(1).select(c).head().getString(0))
    // update one key -> exactly one bucket dir may change
    repo.replaceRecords(Seq(("a2", 99L, "Y", 2L, "b")).toDF("k", "A", "B", "C", "C2"))
    val untouched = before.filter { case (p, _) =>
      !touchedBuckets.exists(b => p.contains(s"=$b/") || bucketDirOf(p).endsWith(s"=$b"))
    }
    untouched.foreach { case (p, mtime) =>
      val f = new java.io.File(new java.net.URI(p))
      assert(f.exists() && f.lastModified() == mtime, s"untouched bucket file changed: $p")
    }
    assert(repo.getFullDf.filter($"k" === "a2").select("A").as[Long].head() == 99L)
    assert(repo.count() == 6)
  }

  test("clusterCols gives files disjoint min-max ranges (data skipping at rest)") {
    import scala.jdk.CollectionConverters._
    val repo = new TableRepo(scratch("cluster"), spark,
      maxRecordsPerFile = 100, clusterCols = Seq("A"))
    // deliberately shuffled input: clustering must come from the WRITE, not
    // luck of input order
    val rows = new scala.util.Random(7).shuffle((0L until 1000L).toVector)
    repo.extend(rows.map(v => (v, s"p$v")).toDF("A", "B"))
    assert(repo.nFiles >= 10)
    // read each file's parquet footer stats for column A
    val conf = spark.sparkContext.hadoopConfiguration
    val ranges = repo.paths.map { p =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(new org.apache.hadoop.fs.Path(p), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        val stats = r.getFooter.getBlocks.asScala.map(_.getColumns.asScala
          .find(_.getPath.toDotString == "A").get.getStatistics)
        val mins = stats.map(_.genericGetMin.asInstanceOf[Long])
        val maxs = stats.map(_.genericGetMax.asInstanceOf[Long])
        (mins.min, maxs.max)
      } finally r.close()
    }.sortBy(_._1)
    // global range is covered by near-disjoint slices: every file's range
    // must be narrow, and consecutive files must not interleave
    ranges.foreach { case (lo, hi) =>
      assert(hi - lo < 250, s"file range too wide for skipping: [$lo,$hi]") }
    ranges.sliding(2).foreach {
      case Seq((_, hi1), (lo2, _)) => assert(lo2 >= hi1 - 1, s"interleaved: $ranges")
      case _ => ()
    }
    // a point read's pushed filter can therefore skip all but one file
    val plan = repo.getFullDf.filter($"A" === searchKey).queryExecution
      .executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(A), EqualTo(A,42)]"), plan)
    assertSameRows(repo.getFullDf.filter($"A" === searchKey).select("B"),
      Seq("p42").toDF("B"))
  }
  private val searchKey = 42L

  test("zOrderCols clusters files into compact 2-D boxes") {
    import scala.jdk.CollectionConverters._
    // morton unit semantics first: offset-binary sign bias (window top
    // bit flipped per dimension) + final sign-bit flip for signed
    // sortability — for the non-negative 32-bit domain that is a uniform
    // +2^62, so interleave structure is unchanged below it
    val B = 1L << 62
    assert(ZOrder.morton(0L, 0L) == B)
    assert(ZOrder.morton(1L, 0L) == (B | 1L))
    assert(ZOrder.morton(0L, 1L) == (B | 2L))
    assert(ZOrder.morton(3L, 3L) == (B | 15L))
    // 0xffffffff reads as -1 in the 32-bit window: biased BELOW 0, so its
    // even-position bits drop the top one and no bias bit is added
    assert(ZOrder.morton(0xffffffffL, 0L) == 0x1555555555555555L)
    // the point of the bias: signed sort order puts negatives first
    assert(ZOrder.morton(-1L, 0L) < ZOrder.morton(0L, 0L))

    val repo = new TableRepo(scratch("zorder"), spark,
      maxRecordsPerFile = 256, zOrderCols = Seq("x", "y"))
    // full shuffled 128x128 grid: a random write would give every file a
    // bounding box near the whole domain (area ~16384); consecutive morton
    // codes cover provably compact boxes
    val grid = new scala.util.Random(11)
      .shuffle((for (x <- 0 until 128; y <- 0 until 128) yield (x.toLong, y.toLong)).toVector)
    repo.extend(grid.toDF("x", "y"))
    assert(repo.nFiles >= 16)
    val conf = spark.sparkContext.hadoopConfiguration
    val boxes = repo.paths.map { p =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(new org.apache.hadoop.fs.Path(p), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        def range(name: String) = {
          val st = r.getFooter.getBlocks.asScala.map(_.getColumns.asScala
            .find(_.getPath.toDotString == name).get.getStatistics)
          (st.map(_.genericGetMin.asInstanceOf[Long]).min,
            st.map(_.genericGetMax.asInstanceOf[Long]).max)
        }
        val rows = r.getFooter.getBlocks.asScala.map(_.getRowCount).sum
        (range("x"), range("y"), rows)
      } finally r.close()
    }
    boxes.foreach { case ((x0, x1), (y0, y1), rows) =>
      val area = (x1 - x0 + 1) * (y1 - y0 + 1)
      // a run of m consecutive morton codes spans a box of area O(m); 8x
      // leaves slack for range-boundary and file-roll misalignment, and is
      // still 8x tighter than the unclustered ~16384 whole-domain box
      assert(area <= 8 * rows, s"box [$x0,$x1]x[$y0,$y1] area $area too wide for $rows rows")
    }
    // both dimensions prune: point reads push filters on x AND y
    val plan = repo.getFullDf.filter($"x" === 7L && $"y" === 9L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("EqualTo(x,7)") && plan.contains("EqualTo(y,9)"), plan)
    assert(repo.getFullDf.filter($"x" === 7L && $"y" === 9L).count() == 1)
  }

  test("keepGroupCols retains group columns in leaf files (core.py:440-441 default)") {
    val repo = new TableRepo(scratch("keepgrp"), spark,
      groupCols = Seq("C"), keyCols = Seq("k"), keepGroupCols = true)
    repo.extend(df1)
    repo.extend(df2)
    // partition dirs exist (under the helper name) -> pruning still works
    val dirs = new java.io.File(repo.root + "/data").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.toSeq == Seq("__graft_grp_C__=1", "__graft_grp_C__=2", "__graft_grp_C__=3"))
    // a foreign reader opening ONE leaf file sees the group column + values
    val leaf = spark.read.parquet(repo.paths.head)
    assert(leaf.columns.contains("C"), s"group col missing from leaf file: ${leaf.columns.toSeq}")
    assert(leaf.select("C").distinct().count() == 1) // the dir's own group value
    // no helper column leaks from any read surface
    assert(!repo.getFullDf.columns.exists(_.startsWith("__graft_grp_")))
    assert(!repo.getPartitionDf(Map("C" -> 1L)).columns.exists(_.startsWith("__graft_grp_")))
    // reads are value-identical to drop mode
    assertSameRows(repo.getFullDf.orderBy("k"), df1.unionByName(df2).orderBy("k"))
    assert(repo.getPartitionDf(Map("C" -> 1L)).select("k").as[String]
      .collect().sorted.toSeq == Seq("a1", "a3", "b1"))
    // the partition filter targets the helper (directory) column
    val plan = repo.getPartitionDf(Map("C" -> 1L)).queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("__graft_grp_C__"),
      s"prune must hit the helper partition col:\n$plan")
    // upsert + dynamic overwrite + partitionPaths work through the helpers
    repo.replaceRecords(Seq(("a2", 99L, "Y", 2L, "b")).toDF("k", "A", "B", "C", "C2"))
    assert(repo.count() == 6)
    assert(repo.getFullDf.filter($"k" === "a2").select("A").as[Long].head() == 99L)
    assert(repo.partitionPaths(Map("C" -> 2L)).nonEmpty)
    repo.compact(100)
    assert(repo.count() == 6)
    assert(spark.read.parquet(repo.paths.head).columns.contains("C"))
  }
}
