package graft.repo

import java.net.URI

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

import graft.SparkSuite

/** Local storage whose SECOND data-file create fails once armed: a
  * "create" beneath a `data`/`data-v<N>` dir whose name is not an
  * underscore-prefixed marker (seals, commit and carried manifests).
  * Registered under the `embedfail:` scheme so a TableRepo rooted there
  * drives the real embed path into a mid-rewrite I/O failure.
  */
class EmbedFailFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("embedfail:///")

  private def check(f: Path): Unit = {
    def underData(p: Path): Boolean =
      p != null && (p.getName.matches("data(-v\\d+)?") || underData(p.getParent))
    if (EmbedFailFs.armed && !f.getName.startsWith("_") && underData(f.getParent) &&
        EmbedFailFs.dataCreates.incrementAndGet() == 2)
      throw new java.io.IOException(s"injected create failure for $f")
  }

  // both create funnels, as in WeakStoreFs
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): org.apache.hadoop.fs.FSDataOutputStream = {
    check(f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): org.apache.hadoop.fs.FSDataOutputStream = {
    check(f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object EmbedFailFs {
  @volatile var armed = false
  val dataCreates = new java.util.concurrent.atomic.AtomicInteger()
  def arm(): Unit = { dataCreates.set(0); armed = true }
}

/** Footer-embedded repo metadata: every data file carries the KV pairs
  * in its parquet footer (foreign-reader visible), Spark's own schema
  * key survives the rewrite, and the data round-trips bit-identically.
  * The embed commits a snapshot version, so it is all-or-nothing.
  */
class ParquetMetaSpec extends SparkSuite {
  import spark.implicits._

  private def conf = spark.sparkContext.hadoopConfiguration

  private def graftKeys(files: Seq[String]): Seq[(String, Set[String])] =
    files.map(p =>
      p -> ParquetMeta.keyValueMeta(conf, new Path(p)).keySet.filter(_.startsWith("graft.")))

  /** Parquet files under a local `dir`, hidden names excluded — listed
    * straight from disk, so the check reads no repo state.
    */
  private def parquetUnder(dir: String): Seq[String] =
    java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".parquet") &&
        !p.getFileName.toString.startsWith("."))
      .map(_.toString).toSeq

  test("embedMetadata lands KV in every leaf file; data round-trips") {
    val repo = new TableRepo(scratch("pmeta"), spark,
      groupCols = Seq("g"), maxRecordsPerFile = 40)
    val df = (1L to 200L).map(i => (s"g${i % 3}", i, s"v$i")).toDF("g", "id", "payload")
    repo.replaceAll(df)
    val before = repo.getFullDf.collect().map(_.toString).sorted.toSeq
    val versionsBefore = repo.snapshotVersions
    val previous = versionsBefore.last

    repo.setMetadata(Map("owner" -> "graft", "table_version" -> "7"))
    repo.embedMetadata()

    assert(repo.snapshotVersions.size == versionsBefore.size + 1,
      s"the embed commits one snapshot version: ${repo.snapshotVersions}")
    assert(repo.snapshotVersions.contains(previous), "the pre-embed version stays as grace")
    assert(repo.paths.size > 3, "need several files for the test to mean anything")
    repo.paths.foreach { p =>
      val kv = ParquetMeta.keyValueMeta(conf, new Path(p))
      assert(kv.get("graft.owner").contains("graft"), s"missing embedded KV in $p")
      assert(kv.get("graft.table_version").contains("7"))
      assert(kv.contains("org.apache.spark.sql.parquet.row.metadata"),
        "Spark's schema KV must survive the footer rewrite")
    }
    val after = repo.getFullDf.collect().map(_.toString).sorted.toSeq
    assert(after == before, "row-group byte copy must not change the data")
    // the superseded version is untouched: same rows, original footers
    val atPrevious = repo.getDfAt(previous).collect().map(_.toString).sorted.toSeq
    assert(atPrevious == before, "time travel to the pre-embed version sees the same rows")
    val prevFiles = parquetUnder(s"${repo.root}/data-v$previous")
    assert(prevFiles.nonEmpty)
    val tagged = graftKeys(prevFiles).filter(_._2.nonEmpty)
    assert(tagged.isEmpty, s"the grace version's footers must stay unmodified: $tagged")
  }

  test("a failed embed commits nothing: no version, no leftovers, no footer touched; a retry lands") {
    val fs = {
      conf.set("fs.embedfail.impl", classOf[EmbedFailFs].getName)
      FileSystem.get(URI.create("embedfail:///"), conf)
    }
    val root = "embedfail:" + scratch("pmeta-atomic")
    val repo = new TableRepo(root, spark, maxRecordsPerFile = 40)
    repo.extend((1L to 200L).map(i => (i, s"v$i")).toDF("id", "payload"))
    assert(repo.paths.size >= 3, "the failure must strike after a first file was rewritten")
    val n = repo.count()
    val versions = repo.snapshotVersions
    def rootEntries: Set[String] = fs.listStatus(new Path(root)).map(_.getPath.getName).toSet
    val entriesBefore = rootEntries
    repo.setMetadata(Map("owner" -> "graft"))

    EmbedFailFs.arm()
    try intercept[Exception](repo.embedMetadata())
    finally EmbedFailFs.armed = false
    assert(EmbedFailFs.dataCreates.get() >= 2, "the injected failure must have fired")

    assert(repo.snapshotVersions == versions, "a failed embed must not commit a version")
    val leftovers = rootEntries.diff(entriesBefore)
      .filter(n => n.matches("data-v\\d+") || n.startsWith("_graft_claim-v"))
    assert(leftovers.isEmpty, s"the failed attempt's dir and claim must be discarded: $leftovers")
    val current = repo.snapshotVersions.lastOption.fold("data")(v => s"data-v$v")
    val visible = parquetUnder(s"${root.stripPrefix("embedfail:")}/$current")
    val tagged = graftKeys(visible).filter(_._2.nonEmpty)
    assert(tagged.isEmpty, s"no visible footer may carry embedded keys after a failure: $tagged")
    assert(visible.size == repo.paths.size)
    assert(repo.count() == n, "every row stays visible")

    repo.embedMetadata()
    assert(repo.snapshotVersions.size == versions.size + 1)
    graftKeys(repo.paths).foreach { case (p, ks) =>
      assert(ks == Set("graft.owner"), s"retry must land the KV in $p")
    }
    assert(repo.count() == n)
  }

  test("embed merges with existing KV, extra wins on collision") {
    val repo = new TableRepo(scratch("pmeta2"), spark)
    repo.extend(Seq((1L, "a")).toDF("id", "s"))
    repo.setMetadata(Map("k" -> "v1"))
    repo.embedMetadata()
    repo.setMetadata(Map("k" -> "v2"))
    repo.embedMetadata()
    val kv = ParquetMeta.keyValueMeta(conf, new Path(repo.paths.head))
    assert(kv.get("graft.k").contains("v2"))
  }
}
