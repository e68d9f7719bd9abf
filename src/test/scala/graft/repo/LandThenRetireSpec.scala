package graft.repo

import org.apache.hadoop.fs.{FileSystem, Path}

import graft.SparkSuite

/** The supersede verdict of the in-place mutation protocol (land new
  * files, then retire the replaced ones): when an external full rewrite
  * supersedes the target between the land and the retire, the mutation
  * ends in a PROVEN carry (the current content is exactly its result) or
  * the typed ConcurrentModificationException — and the retry contract is
  * only attached when the superseded dir was restored to its pre-write
  * content. Each interleaving is built on disk deterministically: the
  * "landed" replacement is a file renamed into the partition dir, the
  * rewrite is a guarded compact.
  */
class LandThenRetireSpec extends SparkSuite {
  import spark.implicits._

  private def fs: FileSystem = FileSystem.get(spark.sparkContext.hadoopConfiguration)

  /** A grouped repo with 60 rows in `g=a`; returns it, its data dir and
    * the original files (the retire set of a mutation of `g=a`).
    */
  private def seeded(name: String): (TableRepo, String, Seq[String]) = {
    val repo = new TableRepo(scratch(name), spark, groupCols = Seq("g"), maxRecordsPerFile = 25)
    repo.extend((1L to 60L).map(i => (i, s"v$i", "a")).toDF("id", "payload", "g"))
    val originals = repo.paths
    (repo, new Path(originals.head).getParent.getParent.toString, originals)
  }

  /** Land one replacement file into `dataDir/g=a`; returns its relative path. */
  private def landReplacement(dataDir: String, tag: String): String = {
    val dir = scratch(s"replacement-$tag")
    (1L to 10L).map(i => (i, s"new$i")).toDF("id", "payload").coalesce(1).write.parquet(dir)
    val f = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet")).head
    val rel = s"g=a/${f.getName}"
    assert(fs.rename(new Path(f.getAbsolutePath), new Path(s"$dataDir/$rel")))
    rel
  }

  private def writeRetireManifest(repo: TableRepo, files: Seq[String]): Unit = {
    val out = fs.create(new Path(s"${repo.root}/_graft_pending_delete"), true)
    try out.write(files.mkString("\n").getBytes("UTF-8")) finally out.close()
  }

  test("a rewrite that carried the retired originals alongside their replacement fails loudly, without the retry contract") {
    val (repo, dataDir, originals) = seeded("ltr-both-carried")
    val rel = landReplacement(dataDir, "both")
    repo.compact(1000L) // guarded: snapshots originals AND the landed replacement
    val e = intercept[java.util.ConcurrentModificationException] {
      repo.verifyAppendVisibilityExact(dataDir, "replaceGroups", Seq(rel), originals)
    }
    assert(e.getMessage.contains("inspect before retrying"), e.getMessage)
    assert(fs.exists(new Path(s"$dataDir/$rel")), "a possibly-carried batch is never withdrawn")
  }

  test("a rewrite that ran after the retire manifest carried exactly the result: success") {
    val (repo, dataDir, originals) = seeded("ltr-result-carried")
    val rel = landReplacement(dataDir, "result")
    writeRetireManifest(repo, originals)
    repo.compact(1000L) // replays the manifest first, then carries the replacement only
    repo.verifyAppendVisibilityExact(dataDir, "replaceGroups", Seq(rel), originals) // must NOT throw
    assert(repo.count() == 10, "the current version holds the replacement rows only")
  }

  test("a rewrite that carried the pre-write content: the replacement is withdrawn, the originals restored, retry is safe") {
    val (repo, dataDir, originals) = seeded("ltr-pre-carried")
    repo.compact(1000L) // guarded: carries the originals before anything lands
    val rel = landReplacement(dataDir, "pre")
    writeRetireManifest(repo, originals)
    val e = intercept[java.util.ConcurrentModificationException] {
      repo.verifyAppendVisibilityExact(dataDir, "replaceGroups", Seq(rel), originals)
    }
    assert(e.getMessage.contains("retry against the new version"), e.getMessage)
    assert(!fs.exists(new Path(s"$dataDir/$rel")), "the replacement is withdrawn")
    assert(!fs.exists(new Path(s"${repo.root}/_graft_pending_delete")),
      "the retire manifest is dropped: the superseded dir holds its pre-write content again")
    assert(originals.forall(f => fs.exists(new Path(f))), "no original was retired")
    assert(repo.count() == 60)
  }
}
