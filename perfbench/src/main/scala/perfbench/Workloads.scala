package perfbench

import java.io.File
import java.math.BigInteger
import java.net.URI
import java.security.MessageDigest

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.TextFns
import graft.ops.{Components, IvfIndex, Queries, SetSimJoin}
import graft.repo.{HashBucketLayout, TableRepo}

/** Latencies, attempts and failures of one closed-loop pass. */
final class Meter {
  val lat = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  var attempted = 0L
  var failed = 0L
  var items = 0L
  var userBytes = 0L

  /** Time one call the client makes; a call that throws counts as failed
    * and contributes no latency sample.
    */
  def call[T](kind: String, span: String)(body: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = Trace.span(span)(body)
      lat.getOrElseUpdate(kind, ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e9
      Some(r)
    } catch {
      case NonFatal(e) =>
        failed += 1
        System.err.println(s"perfbench: $kind failed: $e")
        None
    }
  }

  /** Time a part of a call without counting it as a call of its own. */
  def timed[T](kind: String, span: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = Trace.span(span)(body)
    lat.getOrElseUpdate(kind, ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e9
    r
  }

  /** An output check; a failed one counts against `failed`. */
  def check(ok: Boolean, what: => String): Unit =
    if (!ok) { failed += 1; System.err.println(s"perfbench: check failed: $what") }
}

/** A workload: seeded inputs, the pre-loop state, the closed loop's steps,
  * a final timed operation after the deadline, and the output checks.
  */
abstract class Workload(val spark: SparkSession, val dir: String, val p: Params, val seed: Long) {
  /** Generate the inputs and build the pre-loop state. */
  def setup(): Unit
  /** One call of the loop; false once the generated inputs are used up. */
  def step(m: Meter): Boolean
  /** The operation that closes the run (compaction, cluster pass). */
  def finish(m: Meter): Unit
  /** Compare the program's outputs against the generator's model. */
  def check(m: Meter): Unit
  /** Live on-disk data files of every repo the workload maintains. */
  def liveFiles: Seq[String]
  /** Generated bytes of the rows those repos should hold. */
  def liveUserBytes: Long
  /** The call kinds behind `headline_p50_s`, `append_p50_s` and
    * `secondary_p50_s`.
    */
  def headline: String
  def append: String
  def secondary: String
  /** Workload-specific end-to-end extras (name -> (value, unit)). */
  def extras: Seq[(String, Double, String)] = Nil
  /** Per-layer extras that only the workload can observe. */
  def layerExtras: Seq[(String, Double, String)] = Nil
  /** Spans whose scans read a repo by key, and the files those repos held
    * when each such call started (accumulated only while tracing).
    */
  def lookupSpans: Seq[String] = Nil
  var lookupFilesPresent = 0L

  /** Seconds each named part of the last set-up took. */
  val setupParts = mutable.LinkedHashMap.empty[String, Double]
  protected def part[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally setupParts(name) = (System.nanoTime() - t0) / 1e9
  }

  protected def df(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  protected lazy val cycle: String = p.str("cycle")
  /** Steps per repetition of the operation mix; the loop only stops at a
    * cycle boundary, so every run measures the same mix.
    */
  def cycleLength: Int = cycle.length
  protected var pos = 0
  protected def nextKind(): Char = { val c = cycle(pos % cycle.length); pos += 1; c }
}

object Workload {
  def apply(name: String, spark: SparkSession, dir: String, p: Params, seed: Long): Workload =
    name match {
      case "ingest_upsert"  => new IngestUpsert(spark, dir, p, seed)
      case "dedup_pipeline" => new DedupPipeline(spark, dir, p, seed)
      case "lookup_probe"   => new LookupProbe(spark, dir, p, seed)
      case other            => throw new IllegalArgumentException(s"unknown workload $other")
    }

  def bytesOnDisk(files: Seq[String]): Long = files.map(f => new File(new URI(f)).length()).sum

  def utf8(s: String): Long = s.getBytes("UTF-8").length.toLong

  /** The reference hash-bucket contract, computed independently of the
    * program: md5 of the value's string form, as a big-endian integer,
    * mod n, zero-padded to the digit count of n.
    */
  def md5Bucket(v: String, n: Int): String = {
    val d = MessageDigest.getInstance("MD5").digest(v.getBytes("UTF-8"))
    val b = new BigInteger(1, d).mod(BigInteger.valueOf(n.toLong)).intValue()
    val width = math.log10(n.toDouble).toInt + 1
    String.format(s"%0${width}d", Int.box(b))
  }

  def shingles(text: String): Set[String] = {
    val t = text.trim.split("\\s+")
    if (t.length < 3) Set.empty else t.sliding(3).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 0.0 else (a intersect b).size.toDouble / (a union b).size
}

// ---------------------------------------------------------------- ingest

object IngestUpsert {
  /** One generated call: kind, rows, the (grp, bucket) partitions it wipes,
    * and the exactly-once batch id (replays reuse one).
    */
  final case class Op(kind: Char, rows: Seq[Row], wipes: Set[(String, String)], batchId: Long)
}

/** The repo write path: a grouped, hash-bucketed, size-split table that
  * starts empty and takes appends, keyed upserts over a share of live keys,
  * occasional group replacements, ledgered exactly-once appends with
  * deliberate replays, and one compaction at the end.
  */
final class IngestUpsert(spark: SparkSession, dir: String, p: Params, seed: Long)
    extends Workload(spark, dir, p, seed) {
  import IngestUpsert.Op
  import Workload._

  private val schema = StructType(Seq(StructField("id", LongType), StructField("grp", StringType),
    StructField("v", LongType), StructField("payload", StringType)))
  private val buckets = p.int("hash_buckets")
  private val maxRec = p.long("max_records_per_file")
  val headline = "upsert"
  val append = "append"
  val secondary = "exactly_once"

  private var repo: TableRepo = _
  private val ops = ArrayBuffer.empty[Op]
  private var next = 0
  // what ran, for the model: (seq, op)
  private val applied = ArrayBuffer.empty[(Int, Op)]
  private val eoResults = ArrayBuffer.empty[(Op, Boolean)]

  def setup(): Unit = {
    val g = new Gen(seed)
    val groups = new g.Zipf(p.int("groups"), p.dbl("group_zipf"))
    val (batchRows, upsertRows, groupRows) = (p.int("batch_rows"), p.int("upsert_rows"), p.int("replace_group_rows"))
    val overlap = p.dbl("upsert_overlap")
    val (payLo, payHi) = (p.int("payload_min"), p.int("payload_max"))
    var nextId = 0L
    var batchId = 0L
    val liveIds = ArrayBuffer.empty[Long]
    val grpOf = mutable.LongMap.empty[String]
    def row(id: Long, grp: String): Row = Row(id, grp, g.rnd.nextLong(), g.chars(payLo, payHi))
    def fresh(n: Int, grp: => String): Seq[Row] = (0 until n).map { _ =>
      val id = nextId; nextId += 1
      val gr = grp
      liveIds += id; grpOf(id) = gr
      row(id, gr)
    }
    var last: Option[Op] = None
    (0 until p.int("max_ops")).foreach { _ =>
      val op = nextKind() match {
        case 'E' => Op('E', fresh(batchRows, s"g${groups.draw()}"), Set.empty, -1)
        case 'X' =>
          batchId += 1
          val o = Op('X', fresh(batchRows, s"g${groups.draw()}"), Set.empty, batchId)
          last = Some(o); o
        case 'R' => last.map(_.copy(kind = 'R')).getOrElse(Op('E', fresh(batchRows, s"g${groups.draw()}"), Set.empty, -1))
        case 'U' =>
          // an upsert comes from one group's source: it rewrites a share of
          // that group's live keys and adds new ones to it
          val gr = s"g${groups.draw()}"
          val inGroup = liveIds.filter(grpOf(_) == gr)
          val nOld = math.min(inGroup.size, math.round(upsertRows * overlap).toInt)
          val old = mutable.LinkedHashSet.empty[Long]
          while (old.size < nOld) old += inGroup(g.below(inGroup.size))
          Op('U', old.toSeq.map(id => row(id, gr)) ++ fresh(upsertRows - nOld, gr), Set.empty, -1)
        case 'G' =>
          val gr = s"g${groups.draw()}"
          val rows = (0 until groupRows).map { _ => val id = nextId; nextId += 1; row(id, gr) }
          val wipes = rows.map(r => (gr, md5Bucket(r.getLong(0).toString, buckets))).toSet
          val gone = liveIds.filter(id => wipes((grpOf(id), md5Bucket(id.toString, buckets))))
          gone.foreach(grpOf.remove)
          liveIds.filterInPlace(grpOf.contains)
          rows.foreach { r => liveIds += r.getLong(0); grpOf(r.getLong(0)) = gr }
          Op('G', rows, wipes, -1)
        case c => throw new IllegalArgumentException(s"ingest_upsert: unknown cycle letter $c")
      }
      ops += op
    }
    repo = new TableRepo(s"$dir/table", spark, groupCols = Seq("grp"), keyCols = Seq("id"),
      maxRecordsPerFile = maxRec, hashBucket = Some(HashBucketLayout("id", buckets)))
  }

  def step(m: Meter): Boolean = {
    if (next >= ops.size) return false
    val op = ops(next); next += 1
    val data = df(op.rows, schema)
    val done = op.kind match {
      case 'E' => m.call("append", "repo.extend")(repo.extend(data)).isDefined
      case 'U' => m.call("upsert", "repo.replaceRecords")(
        // ids never change group, so the group-scoped key is the id: the
        // upsert rewrites only the partitions its rows land in
        repo.replaceRecords(data, byGroups = true)).isDefined
      case 'G' => m.call("replace_groups", "repo.replaceGroups")(repo.replaceGroups(data)).isDefined
      case 'X' | 'R' =>
        m.call(if (op.kind == 'X') "exactly_once" else "replay", "repo.extendExactlyOnce")(
          repo.extendExactlyOnce(data, "w0", op.batchId))
          .map { landed => eoResults += ((op, landed)); true }.isDefined
    }
    if (done && op.kind != 'R') {
      applied += ((next, op))
      m.items += op.rows.size
      m.userBytes += op.rows.map(rowBytes).sum
    }
    true
  }

  private def rowBytes(r: Row): Long = 16L + utf8(r.getString(1)) + utf8(r.getString(3))

  def finish(m: Meter): Unit = { m.call("compact", "repo.compact")(repo.compact(maxRec)); () }

  /** Last writer wins per id; a group replacement drops every older row
    * of the (grp, bucket) partitions it wrote. Plain Spark over the log.
    */
  private def model: DataFrame = {
    val logSchema = StructType(StructField("seq", IntegerType) +: schema.fields :+ StructField("bucket", StringType))
    val writes = df(applied.toSeq.flatMap { case (s, op) =>
      op.rows.map(r => Row.fromSeq(s +: r.toSeq :+ md5Bucket(r.getLong(0).toString, buckets)))
    }, logSchema)
    val wipes = df(applied.toSeq.flatMap { case (s, op) => op.wipes.toSeq.map { case (gr, b) => Row(s, gr, b) } },
      StructType(Seq(StructField("wseq", IntegerType), StructField("grp", StringType), StructField("bucket", StringType))))
      .groupBy("grp", "bucket").agg(max("wseq").as("wseq"))
    writes
      .withColumn("rn", row_number().over(Window.partitionBy("id").orderBy(col("seq").desc)))
      .filter(col("rn") === 1)
      .join(wipes, Seq("grp", "bucket"), "left")
      .filter(col("wseq").isNull || col("seq") >= col("wseq"))
      .select(schema.fieldNames.map(col).toIndexedSeq: _*)
  }

  private def fingerprint(d: DataFrame): (Long, BigDecimal) = {
    val r = d.select(xxhash64(schema.fieldNames.map(col).toIndexedSeq: _*).cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), sum(col("h"))).collect()(0)
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  private var liveBytes = 0L

  def check(m: Meter): Unit = {
    val expected = model.localCheckpoint(true)
    val got = repo.getFullDf.select(schema.fieldNames.map(col).toIndexedSeq: _*)
    val (ne, he) = fingerprint(expected)
    val (ng, hg) = fingerprint(got)
    m.check(ne == ng && he == hg, s"ingest_upsert: getFullDf has $ng rows (hash $hg), model $ne (hash $he)")
    eoResults.foreach { case (op, landed) =>
      m.check(landed == (op.kind == 'X'), s"extendExactlyOnce batch ${op.batchId} (${op.kind}) returned $landed")
    }
    // layout and file-size contract, file by file: every row sits in the
    // directory of its group and md5 bucket, no file exceeds the row cap
    val files = repo.paths
    val bucketCol = s"__graft_hash_id_${buckets}__"
    val perFile = spark.read.parquet(files: _*).select(col("id"), input_file_name().as("f"))
      .join(expected.select("id", "grp"), Seq("id"), "left")
      .groupBy("f").agg(count(lit(1)).as("n"), collect_set(col("grp")).as("grps"), collect_list(col("id")).as("ids"))
      .collect()
    m.check(perFile.length == files.size, s"ingest_upsert: ${files.size} files listed, ${perFile.length} read")
    perFile.foreach { r =>
      val f = r.getString(0)
      val dirs = f.split("/").filter(_.contains("=")).map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap
      val n = r.getLong(1)
      m.check(n <= maxRec, s"$f holds $n rows > max_records_per_file $maxRec")
      m.check(r.getSeq[String](2).forall(g => dirs.get("grp").contains(g)), s"$f holds rows of groups ${r.getSeq[String](2)}")
      m.check(r.getSeq[Long](3).forall(id => dirs.get(bucketCol).contains(md5Bucket(id.toString, buckets))),
        s"$f holds rows outside bucket ${dirs.get(bucketCol)}")
    }
    liveBytes = expected.select(sum(lit(16L) + octet_length(col("grp")) + octet_length(col("payload"))))
      .collect()(0).getLong(0)
  }

  def liveFiles: Seq[String] = repo.paths
  def liveUserBytes: Long = liveBytes
}

// ----------------------------------------------------------------- dedup

/** The compute and shuffle path: batches of documents pass a quality and
  * language filter, incremental exact dedup, incremental near dedup against
  * growing persisted indexes, and a commit of the survivors; the run closes
  * with one whole-corpus set-similarity join and connected-components pass.
  */
final class DedupPipeline(spark: SparkSession, dir: String, p: Params, seed: Long)
    extends Workload(spark, dir, p, seed) {
  import Workload._

  private val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
  private val batch = p.int("batch_docs")
  override def cycleLength: Int = 1
  val headline = "batch"
  val append = "commit"
  val secondary = "near"

  private var docs: DocGen = _
  private var exactIdx: TableRepo = _
  private var nearIdx: TableRepo = _
  private var textRepo: TableRepo = _
  private var nextDoc = 0
  private val kept = ArrayBuffer.empty[Long]
  private val exactPairs = ArrayBuffer.empty[(Long, Long)]
  private val nearPairs = ArrayBuffer.empty[(Long, Long)]
  private var clusterPairs: Array[Row] = Array.empty
  private var clusterLabels: Array[Row] = Array.empty
  private var rounds = 0
  private var filterIn = 0L
  private var survivorBytes = 0L

  def setup(): Unit = {
    docs = new DocGen(new Gen(seed), p)
    part("generate")((0 until p.int("seed_docs") + batch * p.int("max_batches")).foreach(_ => docs.next()))
    def repo(name: String, c: String) =
      new TableRepo(s"$dir/$name", spark, maxRecordsPerFile = p.long("index_max_records_per_file"), clusterCols = Seq(c))
    exactIdx = repo("exact_index", "fp")
    nearIdx = repo("near_index", "bh")
    textRepo = repo("texts", "doc_id")
    // the persisted indexes start from a seed corpus run through the same
    // pipeline, so the loop dedups against non-empty, growing indexes
    part("seed_batch")(runBatch(p.int("seed_docs"), None))
  }

  private def runBatch(n: Int, m: Option[Meter]): Unit = {
    val ids = nextDoc until nextDoc + n
    nextDoc += n
    val in = df(ids.map(i => Row(i.toLong, docs.texts(i))), schema)
    def span[T](name: String)(body: => T): T = Trace.span(name)(body)
    def timed[T](kind: String, name: String)(body: => T): T =
      m.fold(span(name)(body))(_.timed(kind, name)(body))
    val filtered = span("functions.filter") {
      val f = in.filter(TextFns.qualityScoreOnePass(col("text")) >= p.dbl("quality_min") &&
        TextFns.langPredictIsFirst(col("text"))).localCheckpoint(true)
      kept ++= f.select("doc_id").collect().map(_.getLong(0))
      f
    }
    filterIn += n
    val (exV, exSurv) = span("ops.incrExact") {
      val r = Queries.incrExactVerdictAndSurvivors(exactIdx, filtered, pruned = true)
      exactPairs ++= r._1.select("batch_doc", "dup_of").collect().map(x => (x.getLong(0), x.getLong(1)))
      r
    }
    val nearIn = filtered.join(exSurv.select("doc_id"), Seq("doc_id"), "left_semi")
    val (nV, bands) = timed("near", "ops.incrNear") {
      val r = Queries.incrNearVerdictAndBands(nearIdx, nearIn, textRepo, pruned = true)
      nearPairs ++= r._1.select("batch_doc", "dup_of").collect().map(x => (x.getLong(0), x.getLong(1)))
      r
    }
    val survivors = nearIn.join(nV.select(col("batch_doc").as("doc_id")), Seq("doc_id"), "left_anti")
    def commit(): Unit = {
      span("repo.extend")(exactIdx.extend(exSurv))
      span("repo.extend")(textRepo.extend(survivors))
      span("repo.extend")(nearIdx.extend(bands.join(survivors.select("doc_id"), Seq("doc_id"), "left_semi")))
    }
    timed("commit", "dedup.commit")(commit())
  }

  def step(m: Meter): Boolean = {
    if (nextDoc + batch > docs.texts.size) return false
    if (Trace.on) lookupFilesPresent += Trace.untraced(Seq(exactIdx, nearIdx, textRepo).map(_.nFiles).sum)
    m.call("batch", "dedup.batch")(runBatch(batch, Some(m)))
    m.items += batch
    m.userBytes += (nextDoc - batch until nextDoc).map(i => 8L + utf8(docs.texts(i))).sum
    true
  }

  def finish(m: Meter): Unit = {
    val corpus = df(kept.toSeq.map(i => Row(i, docs.texts(i.toInt))), schema)
    m.call("cluster", "dedup.cluster") {
      val sets = corpus.select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= 3)
        .select(col("doc_id"), transform(TextFns.shinglesOf(col("toks"), 3), s => TextFns.hash32(s)).as("sh"))
      val pairs = Trace.span("ops.jaccardPairs") {
        val pr = SetSimJoin.jaccardPairs(sets, "doc_id", "sh", Nil, p.dbl("cluster_threshold")).localCheckpoint(true)
        clusterPairs = pr.collect()
        pr
      }
      Trace.span("ops.minLabel") {
        val (labels, r) = Components.minLabelWithRounds(pairs.select("id_a", "id_b"))
        clusterLabels = labels.collect()
        rounds = r
      }
    }
    ()
  }

  def check(m: Meter): Unit = {
    val keptSet = kept.toSet
    def norm(i: Long) = docs.texts(i.toInt).toLowerCase.trim.split("\\s+").mkString(" ")
    // every exact verdict is a true copy, and every planted copy that
    // passed the filter was caught
    exactPairs.foreach { case (d, src) => m.check(norm(d) == norm(src), s"exact pair ($d, $src) differs") }
    val caught = exactPairs.map(_._1).toSet
    docs.exactOf.foreach { case (i, src) =>
      if (keptSet(i)) m.check(caught(i), s"planted exact copy $i of $src not caught")
    }
    // every emitted near pair and cluster pair clears its threshold,
    // recomputed on the raw texts
    val sh = mutable.LongMap.empty[Set[String]]
    def shOf(i: Long) = sh.getOrElseUpdate(i, shingles(docs.texts(i.toInt)))
    nearPairs.foreach { case (a, b) =>
      m.check(jaccard(shOf(a), shOf(b)) >= 0.4 - 1e-9, s"near pair ($a, $b) jaccard below 0.4")
    }
    val t = p.dbl("cluster_threshold")
    clusterPairs.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      m.check(jaccard(shOf(a), shOf(b)) >= t - 1e-9, s"cluster pair ($a, $b) jaccard below $t")
    }
    // components: each node's label is the least id of its component
    val parent = mutable.LongMap.empty[Long]
    def find(x: Long): Long = { val q = parent.getOrElse(x, x); if (q == x) x else { val r = find(q); parent(x) = r; r } }
    clusterPairs.foreach { r =>
      val (a, b) = (find(r.getLong(0)), find(r.getLong(1)))
      if (a != b) parent(math.max(a, b)) = math.min(a, b)
    }
    m.check(clusterLabels.length == clusterPairs.flatMap(r => Seq(r.getLong(0), r.getLong(1))).distinct.length,
      "component labels do not cover the pair graph")
    clusterLabels.foreach { r =>
      m.check(find(r.getLong(0)) == r.getLong(1), s"doc ${r.getLong(0)} labelled ${r.getLong(1)}")
    }
    survivorBytes = textRepo.getFullDf.select(sum(lit(8L) + octet_length(col("text")))).collect()(0).getLong(0)
  }

  def liveFiles: Seq[String] = Seq(exactIdx, nearIdx, textRepo).flatMap(_.paths)
  override def lookupSpans: Seq[String] = Seq("ops.incrExact", "ops.incrNear")
  def liveUserBytes: Long = survivorBytes

  override def extras: Seq[(String, Double, String)] = Seq(
    ("near_pairs", nearPairs.size.toDouble, "count"), ("exact_pairs", exactPairs.size.toDouble, "count"))

  override def layerExtras: Seq[(String, Double, String)] = Seq(
    ("functions.filter.kept_frac", kept.size.toDouble / math.max(1L, filterIn), "ratio"),
    ("ops.jaccardPairs.pairs", clusterPairs.length.toDouble, "count"),
    ("ops.minLabel.rounds", rounds.toDouble, "count"))
}

// ---------------------------------------------------------------- lookup

object LookupProbe {
  sealed trait Op
  final case class Lookup(needles: Seq[Long]) extends Op
  final case class PartLookup(part: Long, needles: Seq[Long]) extends Op
  final case class Probe(qs: Seq[(Long, Array[Float])]) extends Op
  final case class Append(vs: Seq[(Long, Array[Float])]) extends Op
}

/** The read path: a 1k+-file key-clustered grouped repo and an IVF index,
  * driven by small-needle footer-pruned and partition lookups, small-batch
  * probes, and a minority of small index appends.
  */
final class LookupProbe(spark: SparkSession, dir: String, p: Params, seed: Long)
    extends Workload(spark, dir, p, seed) {
  import LookupProbe._
  import Workload._

  private val schema = StructType(Seq(StructField("key", LongType), StructField("part", LongType),
    StructField("v", LongType), StructField("payload", StringType)))
  private val vecSchema = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))
  private val qSchema = StructType(Seq(StructField("q_id", LongType),
    StructField("q_emb", ArrayType(FloatType, containsNull = false))))
  private val nprobe = p.int("nprobe")
  private val topK = 10
  val headline = "lookup"
  val append = "index_append"
  val secondary = "probe"

  private val rows = mutable.LongMap.empty[Row]
  private val vecs = mutable.LongMap.empty[Array[Float]]
  private val ops = ArrayBuffer.empty[Op]
  private var next = 0
  private var lookup: TableRepo = _
  private var index: IvfIndex = _
  private var recall = 0.0
  private val lookupResults = ArrayBuffer.empty[(Op, Array[Row])]
  private val probeResults = ArrayBuffer.empty[(Probe, Array[Row], Int)]
  private var appended = 0
  private var lookupFiles = 0L

  def setup(): Unit = {
    val g = new Gen(seed)
    val nRows = p.int("rows")
    val parts = p.int("parts")
    val (payLo, payHi) = (p.int("payload_min"), p.int("payload_max"))
    // even keys exist, odd keys are misses; each part holds one
    // contiguous key range
    val perPart = nRows / parts
    (0 until nRows).foreach { i =>
      val k = 2L * i
      rows(k) = Row(k, math.min(i / perPart, parts - 1).toLong, g.rnd.nextLong(), g.chars(payLo, payHi))
    }
    val vg = new VecGen(g, p)
    val nVec = p.int("vectors")
    (0 until nVec).foreach(i => vecs(i.toLong) = vg.next())
    val needle = p.int("needle_size")
    val hit = p.dbl("needle_hit_share")
    def key(inPart: Option[Long]): Long = {
      val i = inPart.fold(g.below(perPart * parts))(pt => (pt * perPart + g.below(perPart)).toInt)
      if (g.uniform() < hit) 2L * i else 2L * i + 1
    }
    var nextVec = nVec.toLong
    var nextQ = 1L << 40
    (0 until p.int("max_ops")).foreach { _ =>
      ops += (nextKind() match {
        case 'L' => Lookup(Seq.fill(needle)(key(None)).distinct)
        case 'G' => val pt = g.below(parts).toLong; PartLookup(pt, Seq.fill(needle)(key(Some(pt))).distinct)
        case 'P' => Probe(Seq.fill(p.int("probe_queries")) { nextQ += 1; (nextQ, vg.next()) })
        case 'A' => Append(Seq.fill(p.int("append_vectors")) { nextVec += 1; (nextVec, vg.next()) })
        case c   => throw new IllegalArgumentException(s"lookup_probe: unknown cycle letter $c")
      })
    }
    lookup = new TableRepo(s"$dir/lookup", spark, groupCols = Seq("part"), keyCols = Seq("key"),
      maxRecordsPerFile = p.long("max_records_per_file"), clusterCols = Seq("key"))
    part("repo")(lookup.extend(df(rows.values.toSeq.sortBy(_.getLong(0)), schema)))
    index = new IvfIndex(s"$dir/ivf", spark)
    part("ivf_build")(index.build(df(vecs.toSeq.sortBy(_._1).map { case (i, v) => Row(i, v.toSeq) }, vecSchema),
      p.int("ivf_k"), p.int("ivf_iters")))
    // recall@k of the fresh index against brute-force cosine top-k
    part("recall") {
      val evalQ = Seq.fill(p.int("recall_queries")) { nextQ += 1; (nextQ, vg.next()) }
      val got = index.probe(df(evalQ.map { case (i, v) => Row(i, v.toSeq) }, qSchema), nprobe, topK)
        .collect().groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      val base = vecs.toSeq
      recall = evalQ.map { case (q, v) =>
        val truth = base.map { case (i, e) => (cos(v, e), i) }.sortBy(x => (-x._1, x._2)).take(topK).map(_._2).toSet
        (got.getOrElse(q, Set.empty[Long]) intersect truth).size.toDouble / topK
      }.sum / evalQ.size
    }
    lookupFiles = part("list")(lookup.nFiles.toLong)
  }

  private def cos(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0
    var j = 0
    while (j < a.length) { d += a(j).toDouble * b(j); na += a(j).toDouble * a(j); nb += b(j).toDouble * b(j); j += 1 }
    d / (math.sqrt(na) * math.sqrt(nb))
  }

  private val keyDf = StructType(Seq(StructField("key", LongType)))

  def step(m: Meter): Boolean = {
    if (next >= ops.size) return false
    val op = ops(next); next += 1
    op match {
      case o @ Lookup(needles) =>
        val n = df(needles.map(Row(_)), keyDf)
        if (Trace.on) lookupFilesPresent += lookupFiles
        m.call("lookup", "repo.readWhereIn")(lookup.readWhereIn(n, "key").collect())
          .foreach(r => lookupResults += ((o, r)))
        m.items += needles.size
      case o @ PartLookup(pt, needles) =>
        m.call("part_lookup", "repo.getPartitionDf") {
          lookup.getPartitionDf(Map("part" -> pt)).filter(col("key").isin(needles: _*)).collect()
        }.foreach(r => lookupResults += ((o, r)))
        m.items += needles.size
      case o @ Probe(qs) =>
        val q = df(qs.map { case (i, v) => Row(i, v.toSeq) }, qSchema)
        m.call("probe", "ops.ivfIndex.probe")(index.probe(q, nprobe, topK).collect())
          .foreach(r => probeResults += ((o, r, appended)))
        m.items += qs.size
      case Append(vs) =>
        val d = df(vs.map { case (i, v) => Row(i, v.toSeq) }, vecSchema)
        if (m.call("index_append", "ops.ivfIndex.append")(index.append(d)).isDefined) {
          vs.foreach { case (i, v) => vecs(i) = v }
          appended += vs.size
        }
        m.items += vs.size
        m.userBytes += vs.size * (8L + 4L * p.int("dim"))
    }
    true
  }

  def finish(m: Meter): Unit = ()

  def check(m: Meter): Unit = {
    def asTuple(r: Row) = (r.getAs[Long]("key"), r.getAs[Long]("part"), r.getAs[Long]("v"), r.getAs[String]("payload"))
    def modelTuple(r: Row) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))
    lookupResults.foreach { case (op, got) =>
      val needles = op match { case Lookup(n) => n; case PartLookup(_, n) => n; case _ => Nil }
      val want = needles.flatMap(rows.get).filter(r => op match {
        case PartLookup(pt, _) => r.getLong(1) == pt
        case _                 => true
      }).map(modelTuple).toSet
      m.check(got.length == want.size && got.map(asTuple).toSet == want,
        s"lookup $op returned ${got.length} rows, model ${want.size}")
    }
    val nVec = p.int("vectors")
    probeResults.foreach { case (Probe(qs), got, appendedBefore) =>
      val qv = qs.toMap
      got.groupBy(_.getLong(0)).foreach { case (q, rs) =>
        m.check(qv.contains(q) && rs.length <= topK, s"probe query $q: ${rs.length} rows")
        rs.foreach { r =>
          val n = r.getLong(1)
          val known = n < nVec || (n > nVec && n <= nVec + appendedBefore)
          m.check(known && vecs.contains(n) && math.abs(cos(qv(q), vecs(n)) - r.getDouble(2)) < 1e-6,
            s"probe query $q returned neighbour $n with sim ${r.getDouble(2)}")
        }
      }
      m.check(got.map(_.getLong(0)).toSet.size == qs.size, s"probe answered ${got.map(_.getLong(0)).distinct.length} of ${qs.size}")
    }
    m.check(lookupFiles >= p.int("min_files"), s"lookup repo has $lookupFiles files, want >= ${p.int("min_files")}")
  }

  def liveFiles: Seq[String] = lookup.paths ++ index.cent.paths ++ index.asg.paths
  def liveUserBytes: Long =
    rows.values.map(r => 24L + utf8(r.getString(3))).sum + vecs.size.toLong * (8L + 4L * p.int("dim"))

  override def extras: Seq[(String, Double, String)] = Seq(("recall_at_10", recall, "ratio"))

  override def layerExtras: Seq[(String, Double, String)] =
    Seq(("ops.ivfIndex.build_s", setupParts("ivf_build"), "s"))
  override def lookupSpans: Seq[String] = Seq("repo.readWhereIn")
}
