package graft.ops

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{BloomPrune, SetOps, TextFns, VectorFns}
import graft.ingest.ObjIngestor
import graft.repo.{HashBucket, HashBucketLayout, RecordWriter, TableRepo}
import graft.streaming.StreamJoin

/** The full query inventory (SURVEY.md §2): every Tier-A operator of the
  * reference re-expressed Spark-first, plus the Tier-B LLM-pipeline
  * operators. Each entry is paired with an exact ANSI-SQL oracle (DuckDB
  * dialect) over the same parquet tables; the driver hash-compares the two.
  *
  * Determinism rules used throughout (so Spark and DuckDB agree
  * bit-for-bit):
  *   - double SUMs go through DECIMAL(18,2) (exact, order-independent)
  *   - averages divide an exact decimal sum by a count: one IEEE op
  *   - similarity math is an ordered left fold in double precision
  *   - event-time arithmetic is integer microseconds (DuckDB truncates the
  *     source's ns timestamps to µs; Spark reads them as ns longs via
  *     `nanosAsLong` and divides by 1000)
  *   - every top-k has a total tie-break order
  */
object Queries {

  private type Fn = (SparkSession, String) => DataFrame

  private case class Q(name: String, oracle: Option[String])(val fn: Fn)

  /** Source-table schemas, inferred once per (path) per JVM. Parquet
    * schema inference is not free: ParquetFileFormat reads footers in a
    * SPARK JOB per read construction (~40-50 ms at local[32]), and the
    * bench re-constructs every query per rep, so the same five static
    * footer schemas were re-inferred ~750 times per official run (guide
    * §1.2: don't compute things you throw away). This memoizes METADATA
    * only — the exact contract TableRepo's pinned schema already
    * provides for repo reads; every action still computes results from
    * the parquet data. One entry per full path, holding the (mtime,
    * length) it was inferred at: a different sf dir (or a fresh JVM —
    * each Bench/Verify run) re-infers, and a changed file
    * replaces its path's entry instead of adding one. The one
    * flag-sensitive case (TIMESTAMP(NANOS) under
    * spark.sql.legacy.parquet.nanosAsLong) is uniform here: every
    * harness session pre-sets the flag at build, and [[eventsUs]]
    * adapts to whichever physical type the memoized schema carries.
    */
  private val tSchemas =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long, StructType)]()

  private def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    // validate the memo on (mtime, length): a source file regenerated
    // in-place within one JVM (the driver regenerates /root/testdata
    // mid-round sometimes) re-infers instead of serving a stale schema —
    // spark.read.schema(...) is never validated against footers, so a
    // stale hit would surface as silent nulls, not an error. The stat is
    // driver-side metadata (~µs), no Spark job.
    val (mt, len) = try {
      val p = Paths.get(path)
      (Files.getLastModifiedTime(p).toMillis, Files.size(p))
    } catch { case _: Exception => (-1L, -1L) }
    val (_, _, sch) = tSchemas.compute(path, (_, hit) =>
      if (hit != null && hit._1 == mt && hit._2 == len) hit
      else (mt, len, spark.read.parquet(path).schema))
    spark.read.schema(sch).parquet(path)
  }

  /** Scale-adaptive pre-spread for per-row-EXPENSIVE projections
    * (tokenize / shingle / md5-hash pipelines, ~60-300 ms/5k docs of CPU):
    * a small corpus parquet scans as a handful of tasks (one row group =
    * one task however many cores wait idle), serializing exactly the
    * work that dominates these queries, so hash-repartition the rows
    * across the cores FIRST — the exchange moves the raw text once and
    * buys back sequential hash time several times over (guide §2.5:
    * partitioning derived from input size, not a constant tuned for
    * either regime). On a corpus whose scan already yields at least as
    * many tasks as cores — any real deployment; the 100 TB corpus is
    * millions of row groups — the same call is a NO-OP, so scale pays no
    * extra exchange. Applied only to pipelines whose downstream is a
    * shuffle or checkpoint anyway, NEVER where the input partitioning
    * can reach a file writer: the explicit-N exchange is not
    * AQE-coalescible, so it fragments appends into ~cores files —
    * measured on the incremental-dedup pruned variants (index probes
    * became 96-task scans; floors 1.43→3.46 s) before being reverted.
    */
  private def spread(s: SparkSession, d: String, table: String,
      df: DataFrame, key: Column): DataFrame = {
    val p = s.sparkContext.defaultParallelism
    // Size probe through the path's OWN filesystem (hdfs://, s3a://, a
    // directory of files — getContentSummary sums leaf lengths), not
    // java.io.File, which returns 0 for any non-local URI and the
    // directory-entry size for a dir: both below the threshold, which
    // would silently invert the "no-op at any real corpus" guarantee
    // into an always-on full repartition at exactly the scales the
    // guard exists for. UNKNOWN size (probe failure) is treated as
    // LARGE (the [[graft.Sizing]] rule).
    val len = try {
      val path = new org.apache.hadoop.fs.Path(s"$d/$table.parquet")
      path.getFileSystem(s.sparkContext.hadoopConfiguration)
        .getContentSummary(path).getLength
    } catch { case _: Exception => Long.MaxValue }
    if (graft.Sizing.isSmall(s, len)) df.repartition(p, key) else df
  }

  /** [[spread]] for frames whose source path isn't at hand (the
    * incremental-dedup engines receive an arbitrary batch DataFrame):
    * sizes the input from the analyzed plan's statistics
    * ([[graft.Sizing.isSmallPlan]]; a LogicalRDD batch from the streaming
    * drivers is unknown-size, so LARGE). Returns whether it spread, so
    * callers can restore the pre-spread partition count before anything
    * reaches a file writer (the r20 lesson: an explicit-N exchange into
    * an extend fragments the index into ~cores files per append).
    */
  private def spreadByStats(df: DataFrame, key: Column): (DataFrame, Boolean) =
    if (graft.Sizing.isSmallPlan(df))
      (df.repartition(df.sparkSession.sparkContext.defaultParallelism, key), true)
    else (df, false)

  /** events with timestamps surfaced as µs longs, whatever the physical
    * parquet type: ns-as-long (legacy generator + `nanosAsLong`),
    * timestamp[us] (read as TIMESTAMP_NTZ), or a zoned timestamp. The
    * session runs in UTC, so the NTZ→LTZ cast is identity and matches
    * DuckDB's `epoch_us(ts)` on the same file.
    */
  private def eventsUs(spark: SparkSession, dir: String): DataFrame = {
    // set and deliberately LEFT set: the flag is consulted at scan time,
    // so restoring it here would flip it back under this very frame's
    // lazy execution. Harness sessions (Bench/Verify/Explain) pre-set it
    // at build; library embedders should know any events query makes the
    // session read TIMESTAMP(NANOS) parquet as longs from then on.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ev = t(spark, dir, "events")
    val tsUs = ev.schema("ts").dataType match {
      case LongType => expr("ts div 1000")
      case _        => unix_micros(col("ts").cast(TimestampType))
    }
    ev.withColumn("ts_us", tsUs)
  }

  private val orderCols =
    Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority")
  private val orderColsSql = orderCols.mkString(", ")

  private val lineCols = Seq("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_returnflag")
  private val lineColsSql = lineCols.mkString(", ")

  // ------------------------------------------------------------- scratch

  private lazy val scratchBase: String = {
    val b = sys.env.getOrElse("GRAFT_SCRATCH", "/root/repo/target/scratch") +
      s"/run-${ProcessHandle.current().pid()}"
    // each run cleans its OWN scratch at JVM exit — without this every
    // Bench/Verify/Explain invocation leaves ~30 write-path repos behind
    // and run-* dirs accumulate until the volume fills mid-write. A
    // startup sweep of FOREIGN run-* dirs would race a concurrent driver,
    // so cleanup is strictly per-pid; a crashed run's leftovers need a
    // manual sweep (documented trade-off).
    sys.addShutdownHook(deleteRec(new java.io.File(b)))
    b
  }

  private def deleteRec(f: java.io.File): Unit = {
    // null-safe: listFiles returns NULL (not empty) when the dir vanished
    // or turned unreadable concurrently — e.g. this sweep racing Spark's
    // own shutdown hooks — and an NPE here would abort the cleanup
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(deleteRec)
    f.delete(): Unit
  }

  private def freshRoot(name: String): String = {
    val dir = new java.io.File(s"$scratchBase/$name")
    if (dir.exists()) deleteRec(dir)
    // VERIFY the reset: File.delete failures are silent, and a leftover
    // parquet file would make this repo accrete rows across repetitions —
    // the bench would then measure a per-rep-growing table with no error
    require(!dir.exists(),
      s"scratch reset failed for $dir — refusing to reuse a non-empty root")
    dir.getParentFile.mkdirs()
    dir.getAbsolutePath
  }

  // ------------------------------------------------------ oracle helpers

  /** DuckDB twin of [[graft.repo.Md5Mod]]: Horner fold of the md5 hex in
    * 32-bit chunks — exact 128-bit big-endian value mod n without int128.
    */
  private def sqlMd5Mod(c: String, n: Int): String = {
    def hx(i: Int) = s"('0x'||substr(md5($c),$i,8))::BIGINT"
    var e = s"(${hx(1)} % $n)"
    for (i <- Seq(9, 17, 25)) e = s"(($e * 4294967296 + ${hx(i)}) % $n)"
    e
  }

  private val sqlToks = "regexp_split_to_array(trim(text), '\\s+')"
  private val sqlTokSet = s"list_distinct($sqlToks)"
  /** 3-gram shingle set (1-based list indexing). */
  private val sqlShingles =
    s"list_distinct(list_transform(range(1, len($sqlToks) - 1), i -> $sqlToks[i] || ' ' || $sqlToks[i+1] || ' ' || $sqlToks[i+2]))"
  private def sqlHash32(c: String) = s"('0x'||substr(md5($c),1,8))::BIGINT"
  /** DuckDB twin of [[TextFns.langPredict]], split as (score columns,
    * argmax CASE) so both `q_lang_id` and `q_filter_funnel` replay the
    * identical precedence rule. Generated from [[TextFns.LangMarkers]].
    */
  private val sqlLangScores: String = TextFns.LangMarkers.map { case (lang, m) =>
    val set = m.map(x => s"'$x'").mkString("[", ", ", "]")
    s"len(list_filter($sqlTokSet, x -> list_contains($set, x))) AS s_$lang"
  }.mkString(", ")
  private val sqlLangCase: String = {
    val langs = TextFns.LangMarkers.map(_._1)
    val m = langs.map(l => s"s_$l").mkString("greatest(", ", ", ")")
    val whens = langs.dropRight(1).map(l => s"WHEN s_$l = $m THEN '$l'").mkString(" ")
    s"CASE $whens ELSE '${langs.last}' END"
  }
  private def sqlCosine(a: String, b: String) =
    s"list_inner_product($a::DOUBLE[], $b::DOUBLE[]) / (sqrt(list_inner_product($a::DOUBLE[], $a::DOUBLE[])) * sqrt(list_inner_product($b::DOUBLE[], $b::DOUBLE[])))"
  /** SRP bucket in DuckDB SQL — plane literals generated from the same
    * [[VectorFns.srpSign]] mix as the Spark expression, so bucket ids
    * agree bit-for-bit for any (bits, table).
    */
  private def sqlSrpBucket(emb: String, bits: Int, dim: Int, table: Int): String = {
    "CAST(" + (0 until bits).map { i =>
      val plane = (0 until dim)
        .map(j => if (VectorFns.srpSign(table, i, j) > 0) "1.0" else "-1.0")
        .mkString("[", ", ", "]")
      s"(CASE WHEN list_inner_product($emb::DOUBLE[], $plane) > 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ") + " AS BIGINT)"
  }

  /** Oracled SRP layout for the semantic-dedup family: `EmbDupTables`
    * independent 8-bit tables (256 buckets each). bits ≥ 8 keeps mean
    * bucket occupancy ≈ n/256 per table — candidate pairs are
    * ~tables * n * occupancy / 2, linear in n at fixed occupancy — and the
    * multi-table OR recovers the recall a single wide table gives up.
    * Production corpora should widen bits with [[VectorFns.srpBitsFor]];
    * the oracled queries pin these so the SQL twin replays the same cut.
    */
  private val EmbDupBits = 8
  private val EmbDupTables = 4
  private val EmbDupDim = 64
  private val EmbDupThreshold = 0.35

  /** SQL CTEs shared by the semantic-dedup oracles: `b` = per-vector
    * buckets for each SRP table, `cand` = distinct same-bucket id pairs
    * OR-ed across tables (UNION dedups), `p` = cosine-verified pairs.
    */
  private def sqlEmbCandCtes(bits: Int, tables: Int): String = {
    val buckets = (0 until tables)
      .map(tb => s"${sqlSrpBucket("embedding", bits, EmbDupDim, tb)} AS b$tb").mkString(", ")
    val cand = (0 until tables).map { tb =>
      s"SELECT a.vec_id AS va, b.vec_id AS vb FROM b a JOIN b b ON a.b$tb = b.b$tb AND a.vec_id < b.vec_id"
    }.mkString(" UNION ")
    s"""b AS (SELECT vec_id, embedding, $buckets FROM embeddings),
       | cand AS ($cand),
       | p AS (SELECT va, vb FROM cand JOIN embeddings x ON x.vec_id = cand.va JOIN embeddings y ON y.vec_id = cand.vb
       |   WHERE ${sqlCosine("x.embedding", "y.embedding")} >= $EmbDupThreshold)""".stripMargin
  }

  /** The semantic-dedup cluster pipeline shared by `q_emb_dup_clusters`
    * and `q_emb_dup_purge`: multi-table SRP-LSH buckets bound the
    * candidate pairs (linear at fixed bucket occupancy, never all-pairs),
    * cosine verifies each distinct candidate ONCE, min-label propagation
    * turns verified pairs into components. Returns one row per CLUSTERED
    * vector: (vec_id, cluster_id = min vec_id in its component).
    * Deterministic hyperplanes, so the SQL oracles replay the identical
    * recall cut.
    *
    * buckets + norm are per-ROW, materialized ONCE into an eager
    * checkpoint so every self-join side (some of which the planner
    * broadcasts) reads finished rows — the q_emb_near_dup pattern. The
    * id-only candidate union + dropDuplicates BEFORE fetching vectors is
    * the scale shape: duplicate candidates from overlapping tables cost a
    * 16-byte row in the distinct, not a 512-byte embedding pair in the
    * shuffle or a recomputed cosine.
    */
  /** Effective SRP width for the semantic-dedup entry points: a pinned
    * width wins (the oracled queries pin [[EmbDupBits]] so the DuckDB
    * twin replays the identical cut); otherwise the SAFE behavior is the
    * default — derive the width from the corpus size via
    * [[VectorFns.srpBitsFor]], so a caller who never read the scaling
    * footnote still gets ~constant bucket occupancy (linear candidates)
    * instead of O(n²/2^bits) growth.
    */
  private[graft] def effEmbDupBits(n: => Long, pinned: Option[Int]): Int =
    pinned.getOrElse(VectorFns.srpBitsFor(n))

  /** The candidate + verify stage of [[embDupClusters]], exposed so plan
    * audits can dump it: the cluster step's checkpoints would otherwise
    * hide the whole pipeline from `.explain`.
    *
    * `bits = None` (the default) derives the bucket width from a
    * metadata-only count of the corpus — see [[effEmbDupBits]].
    */
  private[graft] def embDupPairs(s: SparkSession, d: String,
      bits: Option[Int] = None, tables: Int = EmbDupTables): DataFrame = {
    val src = t(s, d, "embeddings")
    val effBits = effEmbDupBits(src.count(), bits)
    val bucketCols = (0 until tables).map(tb =>
      VectorFns.srpBucket(col("embedding"), effBits, EmbDupDim, tb).as(s"b$tb"))
    val e = Ckpt(src
      .select(Seq(col("vec_id"), col("embedding"),
        VectorFns.norm2(col("embedding")).as("nrm")) ++ bucketCols: _*))
    val cand = (0 until tables).map { tb =>
      e.as("a").join(e.as("b"),
          col(s"a.b$tb") === col(s"b.b$tb") && col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"))
    }.reduce(_.union(_)).dropDuplicates("va", "vb")
    cand
      .join(e.select(col("vec_id").as("va"), col("embedding").as("ea"), col("nrm").as("na")), "va")
      .join(e.select(col("vec_id").as("vb"), col("embedding").as("eb"), col("nrm").as("nb")), "vb")
      .withColumn("sim", VectorFns.dot(col("ea"), col("eb")) / (col("na") * col("nb")))
      .filter(col("sim") >= EmbDupThreshold)
      .select(col("va"), col("vb"))
  }

  private[graft] def embDupClusters(s: SparkSession, d: String,
      bits: Option[Int] = None, tables: Int = EmbDupTables): DataFrame =
    Components.minLabel(embDupPairs(s, d, bits, tables))
      .select(col("id").as("vec_id"), col("cluster_id"))

  /** The exact near-dup pair stage shared by `q_dup_clusters` (and the
    * audit dump): hashed token sets -> prefix-filter join at J >= 0.6.
    */
  private[graft] def docDupPairs(s: SparkSession, d: String): DataFrame = {
    val dd = spread(s, d, "documents", t(s, d, "documents"), col("doc_id"))
      .select(col("doc_id"), col("lang"), col("source"),
        transform(TextFns.tokens(col("text")), tk => TextFns.hash32(tk)).as("toks"))
    SetSimJoin.jaccardPairs(dd, "doc_id", "toks", Seq("lang", "source"), 0.6)
  }

  /** Pre-checkpoint stage plans for the checkpoint-ending pipelines.
    * Built with the [[Ckpt]] barriers disabled so `.explain` shows the
    * FULL pipeline (scan, SRP projection, candidate joins, verify) that
    * the executed plan's `Scan ExistingRDD` hides; the cluster queries'
    * label-propagation step additionally checkpoints internally, so their
    * pair stage would be invisible even with barriers off. Plan
    * construction only — executing these frames would recompute shared
    * stages per consumer, the exact tax the barriers prevent.
    */
  private[graft] def auditStages(s: SparkSession, d: String): Seq[(String, DataFrame)] =
    Ckpt.withDisabled {
      Seq(
        "q_emb_dup_clusters:pairs" -> embDupPairs(s, d, bits = Some(EmbDupBits)),
        "q_dup_clusters:pairs" -> docDupPairs(s, d).select(col("id_a"), col("id_b"))
      )
    }

  /** MinHash signature (4 hash functions) over 3-gram shingles; docs with
    * fewer than 3 tokens have no shingles and are excluded.
    */
  /** mh0..mhk from a hashed-shingle ARRAY column: array_min over the
    * permuted hashes. min over the multiset of in-document shingle
    * hashes == min over the exploded distinct rows (the r11 shape), so
    * values are oracle-identical — but this form is per-row map work:
    * no explode, no groupBy, NO SHUFFLE.
    */
  private def minhashCols(hs: Column): Seq[Column] =
    TextFns.MinhashA.indices.map(i =>
      array_min(transform(hs, h => TextFns.minhashOf(h, i))).cast(LongType).as(s"mh$i"))

  private def minhashSig(docs: DataFrame): DataFrame =
    // eager checkpoint: the band construction projects the signature once
    // per band per self-join side (8 distinct subtrees — exchange reuse
    // connects none of them), so without the barrier every consumer
    // re-ran the whole tokenize/shingle/hash pipeline: the r8 plan audit
    // showed 12 corpus scans in q_minhash_est and 10 in q_lsh_verified
    Ckpt(minhashSigRaw(docs))

  /** [[minhashSig]] without the checkpoint barrier — for SINGLE-consumer
    * pipelines (the incremental-dedup seed writes the bands once), where
    * a barrier would pay one materialization job for nothing.
    */
  private def minhashSigRaw(docs: DataFrame): DataFrame = {
    val hs = docs
      .select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"),
        transform(TextFns.shinglesOf(col("toks"), 3), g => TextFns.hash32(g)).as("hs"))
    hs.select(col("doc_id") +: minhashCols(col("hs")): _*)
  }

  /** SQL fragment: the minhash signature select list (`mh0..mhk`). */
  private lazy val sqlMinhashSelects: String = TextFns.MinhashA.indices.map { i =>
    s"CAST(min((h * ${TextFns.MinhashA(i)} + ${TextFns.MinhashB(i)}) % ${TextFns.MinhashP}) AS BIGINT) AS mh$i"
  }.mkString(", ")

  /** SQL fragment: UNION ALL of the per-band (doc_id, band, bh) selects
    * over the named signature CTE — generated from the same constants as
    * the Spark [[lshBands]] so both engines see identical band keys.
    */
  private def sqlBandSelectsFrom(src: String): String =
    TextFns.MinhashBands.zipWithIndex.map { case (idx, bnd) =>
      val bh = idx.map(i => s"CAST(mh$i AS VARCHAR)").mkString(" || '_' || ")
      s"SELECT doc_id, $bnd AS band, $bh AS bh FROM $src"
    }.mkString(" UNION ALL ")

  private lazy val sqlBandSelects: String = sqlBandSelectsFrom("sig")

  /** LSH band rows (doc_id, band, bh) from a signature DataFrame — one
    * posexplode pass (pos == band index) instead of a per-band union.
    */
  private def lshBands(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"), posexplode(array(
      TextFns.MinhashBands.map(idx =>
        concat_ws("_", idx.map(i => col(s"mh$i")): _*)): _*)).as(Seq("band", "bh")))

  /** Hashed sorted 3-shingle sets for exact-Jaccard verification. */
  private def shingleSets(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"),
        SetOps.sortedSet(transform(TextFns.shinglesOf(col("toks"), 3), g => TextFns.hash32(g))).as("sh"))

  /** Seed an incremental-dedup band index AND its companion text repo
    * with a corpus (doc_id, text). The text repo holds EVERY ingested
    * doc (duplicates included — the index keeps their bands too) and is
    * what the verify stage reads, candidate-pruned, each round; cluster
    * it by `doc_id` so that read skips non-candidate files.
    */
  private[graft] def incrDedupSeed(index: TableRepo, textRepo: TableRepo,
      corpus: DataFrame): Unit = {
    // texts FIRST, bands second: a crash between the writes must never
    // leave indexed bands with no companion text — that would silently
    // drop candidates at the verify join forever after. An orphan text
    // row (the reverse window) is harmless; the streaming twin orders
    // its ledgered writes the same way.
    textRepo.extend(corpus.select(col("doc_id"), col("text")))
    // The signature pipeline (tokenize/shingle/md5/minhash — the seed's
    // dominant CPU) otherwise evaluates at the SOURCE's partitioning: on
    // a small corpus that is one task inside the extend's write job
    // (measured ~620 ms serialized on one of 32 cores at sf0.1). When
    // the corpus is small enough that its scan can't parallelize
    // (spreadByStats), run the pipeline on the map side of a spread +
    // 1-partition exchange behind an eager checkpoint: the CPU fans out
    // to the cores, while the checkpoint materializes as ONE block so
    // the extend's write plan — and with it the index's on-disk file
    // count — is identical to the un-spread shape. (r20 measured the
    // naked spread-into-extend fragmenting the clustered index into
    // ~cores files per append, probe floors 1.43→3.46 s; a consumer-side
    // coalesce instead disables AQE coalescing of the extend's range
    // exchange — same fragmentation. The pre-checkpoint compaction
    // avoids both.) At any real corpus the spread is a no-op and the
    // original shapes are kept:
    //   - checkpoint ONLY for a clustered index (its extend
    //     range-partitions, whose SAMPLING pass is a second full
    //     evaluation of the input — off the barrier it would re-run the
    //     whole tokenize/minhash pipeline);
    //   - an unclustered index evaluates the bands exactly once inside
    //     the write job, so the barrier would pay a materialization
    //     action for nothing.
    val clusteredIdx = index.clusterCols.nonEmpty || index.zOrderCols.nonEmpty
    val (src, didSpread) = spreadByStats(corpus, col("doc_id"))
    val sig =
      if (didSpread) Ckpt(minhashSigRaw(src).repartition(1, col("doc_id")))
      else if (clusteredIdx) minhashSig(src)
      else minhashSigRaw(src)
    index.extend(lshBands(sig))
  }

  /** One round of incremental dedup (the q_incr_dedup engine): probe the
    * persisted band `index` with the batch's bands BROADCAST (plus
    * batch-internal band collisions, so duplicates arriving in one batch
    * see each other — round 9), verify candidates with exact Jaccard
    * (batch-side shingles from the batch itself, dup_of-side shingles
    * from a candidate-pruned `textRepo` read — round 10), keep the
    * earliest verified duplicate per batch doc, then EXTEND the index
    * with the batch's bands and the text repo with the batch's texts so
    * the next round dedups against this batch too. The index read is
    * checkpointed before the extend, so the emitted verdict is a
    * consistent pre-extend snapshot.
    */
  private[graft] def incrDedupRound(index: TableRepo, textRepo: TableRepo,
      batch: DataFrame): DataFrame = {
    val (verdict, bands) = incrNearVerdictAndBands(index, batch, textRepo)
    textRepo.extend(batch.select(col("doc_id"), col("text")))
    index.extend(bands)
    verdict
  }

  /** incrDedupRound with the footer-pruned probe — the LSH face of
    * `q_incr_dedup_pruned`'s layout/cost knob: the band index is
    * clustered by bh and only footer-intersecting files are scanned.
    * Identical verdict semantics (the oracle replays the same SQL).
    */
  private[graft] def incrDedupRoundPruned(index: TableRepo, textRepo: TableRepo,
      batch: DataFrame): DataFrame = {
    val (verdict, bands) = incrNearVerdictAndBands(index, batch, textRepo, pruned = true)
    textRepo.extend(batch.select(col("doc_id"), col("text")))
    index.extend(bands)
    verdict
  }

  /** One-pass per-batch base for the incremental near-dup round:
    * (doc_id, text, sh, mh0..mhk) tokenized ONCE and checkpointed ONCE —
    * texts, hashed sorted shingle sets (null when the doc has <3 tokens,
    * matching the oracle's len(toks)>=3 filters; the minhash columns go
    * null with it), and the array-form minhash signature. The r11 round
    * materialized docs, the signature, the band rows, and the shingle
    * sets as four separate checkpoints with three tokenize passes and a
    * groupBy shuffle; every one of those is a cheap projection of this
    * frame now.
    */
  private def nearBatchBase(batch: DataFrame, compact1: Boolean = false): DataFrame = {
    val withSh = batch
      .select(col("doc_id"), col("text"), TextFns.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("text"),
        when(size(col("toks")) >= 3,
          SetOps.sortedSet(transform(TextFns.shinglesOf(col("toks"), 3),
            g => TextFns.hash32(g)))).as("sh"))
    val base = withSh.select(
      Seq(col("doc_id"), col("text"), col("sh")) ++ minhashCols(col("sh")): _*)
    // compact1 pairs with a spread caller: the tokenize/shingle/minhash
    // projections run on the spread's ~cores map-side tasks, and the
    // extra 1-partition exchange then materializes the checkpoint as ONE
    // block — so every consumer plan (probe broadcast builds, candidate
    // self-join, verify joins, the caller's index extend) keeps the
    // exact task counts of the un-spread shape. Checkpointing the spread
    // partitioning directly was measured WORSE than no spread at all:
    // ~10 downstream stages each fanned to ~cores tasks of pure
    // scheduling overhead, and a consumer-side coalesce would disable
    // AQE coalescing inside the extends' write plans.
    Ckpt(if (compact1) base.repartition(1, col("doc_id")) else base)
  }

  /** The batch's LSH band rows (batch_doc, band, bh) as a projection of
    * [[nearBatchBase]] — no checkpoint of its own.
    */
  private def baseBands(base: DataFrame): DataFrame =
    lshBands(base.filter(col("sh").isNotNull)).withColumnRenamed("doc_id", "batch_doc")

  /** Candidate generation shared by the verdict and the prune study:
    * batch bands (checkpointed), the index probe (full-scan or
    * footer-pruned), and the deduplicated candidate pair set
    * (checkpointed — it feeds both the verify joins and the pruned
    * text-read needle collection).
    */
  private[graft] def incrNearCandAndBands(index: TableRepo, batch: DataFrame,
      pruned: Boolean): (DataFrame, DataFrame) =
    incrNearCandFromBase(index, nearBatchBase(batch), pruned)

  private def incrNearCandFromBase(index: TableRepo, base: DataFrame,
      pruned: Boolean): (DataFrame, DataFrame) = {
    val bBands = baseBands(base)
    // pruned probe: the index is CLUSTERED by bh, so readWhereIn scans
    // only files whose footer bh-range intersects the batch's band
    // hashes — a bh-only superset of the (band, bh) match (the same bh
    // under a different band position is rare and the join filters it),
    // correct by construction and O(batch) files at a large index.
    // No checkpoint of its own: its ONLY consumer is the eager `cand`
    // checkpoint below, which materializes this read — and with it the
    // pre-extend index snapshot — before any caller write can land.
    val idxBands =
      if (!index.exists)
        bBands.select(col("batch_doc").as("doc_id"), col("band"), col("bh")).limit(0)
      else if (pruned) index.readWhereIn(bBands.select(col("bh")), "bh")
      else index.getFullDf
    // candidates from the index PLUS batch-internal band collisions —
    // two docs arriving in one batch must still see each other (the
    // exact twin's first-occurrence window, in band form); earlier doc
    // wins via the same min-dup_of rule either way
    val candIdx = idxBands.join(broadcast(bBands), Seq("band", "bh"))
      .select(col("batch_doc"), col("doc_id").as("dup_of"))
    val candInt = bBands.as("a")
      .join(bBands.as("b"), col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
        col("a.batch_doc") > col("b.batch_doc"))
      .select(col("a.batch_doc").as("batch_doc"), col("b.batch_doc").as("dup_of"))
    (Ckpt(candIdx.unionByName(candInt).distinct()), bBands)
  }

  /** The streaming micro-batch building block for NEAR-dup
    * ([[graft.streaming.StreamIncrNearDup]]): verified verdict + the
    * batch's band rows against the PRE-batch index snapshot, all
    * checkpointed so a replay recomputes identical frames; the CALLER
    * owns the writes (including the post-round text/band extends).
    *
    * The exact-Jaccard verify is CANDIDATE-PRUNED (round 10): batch-side
    * shingle sets come from the batch itself, and the dup_of side reads
    * ONLY candidate docs from `textRepo` via the footer-pruned
    * [[TableRepo.readWhereIn]] — the verify's scan cost follows the
    * candidate count, not the corpus size (round 9 re-shingled the whole
    * corpus every round, which a 100 TB corpus cannot afford; the same
    * pruning discipline as the reference's key-intersection upsert,
    * core.py:121-130). Cluster `textRepo` by `doc_id` so the pruned read
    * skips files; an unclustered repo degrades to a full scan of the
    * text repo with identical results. A dup_of that is itself a batch
    * doc (batch-internal collision) verifies against the batch's own
    * shingles, so replays with the batch texts already landed still
    * derive identical sets (texts are identical — the union dedup is
    * value-deterministic).
    */
  def incrNearVerdictAndBands(index: TableRepo, batch: DataFrame,
      textRepo: TableRepo, pruned: Boolean = false): (DataFrame, DataFrame) = {
    // spread the batch's tokenize/shingle/minhash CPU across the cores
    // before the base checkpoint (measured ~620 ms in ONE task at sf0.1
    // otherwise); the returned band rows are coalesced back to one
    // partition below so the caller's index extend keeps the un-spread
    // file count (see incrDedupSeed). A streaming micro-batch reports
    // unknown size and stays un-spread.
    val (spreadBatch, didSpread) =
      spreadByStats(batch.select(col("doc_id"), col("text")), col("doc_id"))
    val base = nearBatchBase(spreadBatch, compact1 = didSpread)
    val docs = base.select(col("doc_id"), col("text"))
    val (cand, bBands) = incrNearCandFromBase(index, base, pruned)
    val batchSh = base.filter(col("sh").isNotNull).select(col("doc_id"), col("sh"))
    val dupIds = cand.select(col("dup_of").as("doc_id")).distinct()
    val dupTexts =
      if (textRepo.exists) textRepo.readWhereIn(dupIds, "doc_id").select(col("doc_id"), col("text"))
      else docs.limit(0)
    // batch-side shingles win DETERMINISTICALLY: the repo-side read is
    // anti-joined against the batch's doc_ids, so a doc_id re-ingested
    // with different text cannot make the jaccard plan-dependent (a
    // dropDuplicates here would pick an arbitrary copy per key).
    // Not checkpointed: consumed exactly once, by the eager verdict
    // checkpoint below — which also pins the pre-extend text snapshot.
    val dupSh = batchSh.join(dupIds, Seq("doc_id"), "left_semi")
      .unionByName(shingleSets(dupTexts)
        .join(docs.select(col("doc_id")), Seq("doc_id"), "left_anti"))
    val inter = SetOps.intersectCount(col("x.sh"), col("y.sh"))
    val w = Window.partitionBy(col("batch_doc")).orderBy(col("dup_of"))
    val verdict = Ckpt(cand.join(batchSh.as("x"), col("x.doc_id") === col("batch_doc"))
      .join(dupSh.as("y"), col("y.doc_id") === col("dup_of"))
      .withColumn("jaccard",
        inter.cast(DoubleType) /
          (SetOps.memberCount(col("x.sh")) + SetOps.memberCount(col("y.sh")) - inter))
      .filter(col("jaccard") >= 0.4)
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .select(col("batch_doc"), col("dup_of"), col("jaccard")))
    // the base checkpoint is one block whether or not the batch was
    // spread (see nearBatchBase), so the returned bands carry the same
    // partitioning as the un-spread shape — no coalesce needed
    (verdict, bBands.select(col("batch_doc").as("doc_id"), col("band"), col("bh")))
  }

  /** Seed an incremental EXACT-dedup fingerprint index with a corpus. */
  private[graft] def incrExactSeed(index: TableRepo, corpus: DataFrame): Unit =
    index.extend(corpus.select(col("doc_id"), TextFns.fingerprint(col("text")).as("fp")))

  /** One round of incremental exact dedup (the q_incr_dedup_exact engine):
    * fingerprint the batch ONCE, probe the persisted index with the batch
    * BROADCAST (the index side never shuffles), find batch-internal
    * duplicates with a first-occurrence min window over the small batch
    * only, keep the EARLIEST duplicate source per doc across both
    * candidate sets, then extend the index with the batch's SURVIVORS so
    * the next round dedups against this batch too. The index read is
    * checkpointed before the extend — the verdict is a consistent
    * pre-extend snapshot.
    */
  private[graft] def incrExactRound(index: TableRepo, batchDocs: DataFrame): DataFrame = {
    val batch = Ckpt(batchDocs.select(col("doc_id"), TextFns.fingerprint(col("text")).as("fp")))
    incrExactMerge(index, batch, Ckpt(index.getFullDf))
  }

  /** incrExactRound with a footer-PRUNED index probe: the persisted index
    * is CLUSTERED by fingerprint, so every index file covers a narrow fp
    * range and [[TableRepo.readWhereIn]] scans only the files whose range
    * intersects the batch's fingerprints — the probe's scan cost follows
    * the BATCH size, not the index size (the full-scan round reads the
    * whole index every time, which a 100 TB index cannot afford). Verdict
    * semantics are identical (the oracle replays the same SQL); only the
    * scanned byte count changes. `PrunedReadSpec` asserts the file-subset
    * property itself.
    */
  private[graft] def incrExactRoundPruned(index: TableRepo, batchDocs: DataFrame): DataFrame = {
    val batch = Ckpt(batchDocs.select(col("doc_id"), TextFns.fingerprint(col("text")).as("fp")))
    incrExactMerge(index, batch, Ckpt(index.readWhereIn(batch.select(col("fp")), "fp")))
  }

  private def incrExactMerge(index: TableRepo, batch: DataFrame, idx: DataFrame): DataFrame = {
    val verdict = incrExactVerdict(batch, idx)
    index.extend(incrSurvivors(batch, verdict))
    verdict
  }

  /** Verdict only — no index write (the merge rounds and the streaming
    * driver share this; the write discipline differs between them).
    */
  private def incrExactVerdict(batch: DataFrame, idx: DataFrame): DataFrame = {
    val fromIndex = idx
      .join(broadcast(batch.select(col("doc_id").as("batch_doc"), col("fp"))), Seq("fp"))
      .select(col("batch_doc"), col("doc_id").as("cand"), lit("index").as("origin"))
    val fromBatch = batch
      .withColumn("bmin", min(col("doc_id")).over(Window.partitionBy(col("fp"))))
      .filter(col("doc_id") > col("bmin"))
      .select(col("doc_id").as("batch_doc"), col("bmin").as("cand"), lit("batch").as("origin"))
    fromIndex.union(fromBatch)
      .groupBy(col("batch_doc"))
      .agg(min(col("cand")).as("dup_of"), min_by(col("origin"), col("cand")).as("origin"))
  }

  private def incrSurvivors(batch: DataFrame, verdict: DataFrame): DataFrame =
    batch.join(verdict.select(col("batch_doc").as("doc_id")), Seq("doc_id"), "left_anti")

  /** The streaming micro-batch building block ([[graft.streaming.StreamIncrDedup]]):
    * verdict + survivors against the PRE-batch index snapshot, both
    * checkpointed so a replay recomputes identical frames; the CALLER
    * owns the writes (ledgered, ordered). `pruned` selects the
    * footer-pruned probe.
    */
  def incrExactVerdictAndSurvivors(index: TableRepo, batchDocs: DataFrame,
      pruned: Boolean): (DataFrame, DataFrame) = {
    val batch = Ckpt(batchDocs.select(col("doc_id"), TextFns.fingerprint(col("text")).as("fp")))
    val idx = Ckpt(
      if (!index.exists) batch.limit(0) // unseeded index: first batch bootstraps it
      else if (pruned) index.readWhereIn(batch.select(col("fp")), "fp")
      else index.getFullDf)
    val verdict = Ckpt(incrExactVerdict(batch, idx))
    (verdict, incrSurvivors(batch, verdict))
  }

  // ---------------------------------------------------------- inventory

  private lazy val registry: Seq[Q] = Seq(

    // ---- A1/A2: scans ------------------------------------------------
    Q("q_scan", Some(
      s"SELECT $lineColsSql FROM lineitem WHERE l_shipdate < TIMESTAMP '1997-01-01'"
    )) { (s, d) =>
      t(s, d, "lineitem")
        .filter(col("l_shipdate") < lit("1997-01-01").cast(TimestampType))
        .select(lineCols.map(col): _*)
    },

    // ---- A28: metadata-only count -----------------------------------
    Q("q_count", Some("SELECT count(*) AS n_rows FROM lineitem")) { (s, d) =>
      t(s, d, "lineitem").agg(count(lit(1)).as("n_rows"))
    },

    // ---- A36: limit (with total order) ------------------------------
    Q("q_limit", Some(
      "SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 10"
    )) { (s, d) =>
      t(s, d, "lineitem").orderBy(col("l_orderkey"), col("l_linenumber"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice")).limit(10)
    },

    // ---- A31: sort / top-k ------------------------------------------
    Q("q_sort", Some(
      "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 1000"
    )) { (s, d) =>
      t(s, d, "lineitem")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_extendedprice"))
        .limit(1000)
    },

    // ---- A32: predicates / null counting ----------------------------
    Q("q_filter_nulls", Some(
      """SELECT count(*) AS n_rows,
        | CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_qty,
        | CAST(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_flag
        | FROM lineitem""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      t(s, d, "lineitem").agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("l_quantity").isNull, 1).otherwise(0)).cast(LongType).as("null_qty"),
        sum(when(col("l_returnflag").isNull, 1).otherwise(0)).cast(LongType).as("null_flag"))
    },

    // ---- A30/A19: grouped aggregation (TPC-H Q1 shape) ---------------
    // Sums run over EXACT decimals (order-independent across any shuffle)
    // and the OUTPUT is one final CAST(... AS DOUBLE) on BOTH sides: a
    // decimal column must never reach a query output. Root cause (round-3
    // repro, 71/71 labels explained): the driver reads the engine parquet
    // via pandas (decimal → Python Decimal, str keeps trailing zeros:
    // '254462.0000') but the oracle via duckdb .df() (decimal → float64,
    // shortest repr: '254462.0'), so any decimal value whose fixed-scale
    // string has trailing zeros hash-mismatches even when values are
    // bitwise identical. DOUBLE outputs are float64 on both read paths;
    // the decimal→double cast is one correctly-rounded conversion in both
    // engines (unscaled < 2^53 at these scales ⇒ identical bits).
    Q("q_pricing_summary", Some(
      """SELECT l_returnflag, l_linestatus,
        | count(*) AS n_rows,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc_price,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price
        | FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      val dec = DecimalType(18, 2)
      t(s, d, "lineitem").groupBy(col("l_returnflag"), col("l_linestatus")).agg(
        count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast(dec)).cast(DoubleType).as("sum_qty"),
        sum(col("l_extendedprice").cast(dec)).cast(DoubleType).as("sum_base_price"),
        // the product sum stays at its natural scale 4 until the final
        // double cast — a scale-2 re-cast would ROUND, and the engines
        // disagree on half-way decimal rounding
        sum(col("l_extendedprice").cast(dec) * (lit(1) - col("l_discount")).cast(dec))
          .cast(DoubleType).as("sum_disc_price"),
        (sum(col("l_quantity").cast(dec)).cast(DoubleType) / count(lit(1))).as("avg_qty"),
        (sum(col("l_extendedprice").cast(dec)).cast(DoubleType) / count(lit(1))).as("avg_price"))
    },

    // ---- multi-table star join (TPC-H Q5 shape) -----------------------
    // the canonical warehouse join: lineitem x orders is the one real
    // shuffle; region/nation/supplier are broadcast (hinted — they stay
    // tiny at any scale), customer is left to the planner (auto-broadcast
    // small, shuffle join at warehouse scale). The region filter pushes
    // into the dimension scan and prunes the whole join tree.
    Q("q_star_join", Some(
      """SELECT n_name, count(*) AS n_rows,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        | FROM customer, orders, lineitem, supplier, nation, region
        | WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey AND l_suppkey = s_suppkey
        | AND c_nationkey = s_nationkey AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        | AND r_name = 'ASIA'
        | GROUP BY n_name""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      val dec = DecimalType(18, 2)
      t(s, d, "lineitem")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, d, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .join(t(s, d, "customer"),
          col("o_custkey") === col("c_custkey") && col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(t(s, d, "nation")), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region")),
          col("n_regionkey") === col("r_regionkey") && col("r_name") === "ASIA")
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_extendedprice").cast(dec) * (lit(1) - col("l_discount")).cast(dec))
            .cast(DoubleType).as("revenue"))
    },

    // ---- promo revenue share (TPC-H Q14 shape) ------------------------
    // conditional aggregation over a broadcast fact-dim join; the share is
    // one IEEE division of two exact decimal sums (determinism contract)
    Q("q_promo_share", Some(
      """SELECT
        | CAST(sum(CASE WHEN p_type = 'PROMO' THEN CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS promo_revenue,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue,
        | CAST(sum(CASE WHEN p_type = 'PROMO' THEN CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
        |   / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS promo_share
        | FROM lineitem, part WHERE l_partkey = p_partkey""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      val dec = DecimalType(18, 2)
      val rev = col("l_extendedprice").cast(dec) * (lit(1) - col("l_discount")).cast(dec)
      val promoRev = when(col("p_type") === "PROMO", rev).otherwise(lit(0).cast(DecimalType(18, 4)))
      t(s, d, "lineitem")
        .join(broadcast(t(s, d, "part")), col("l_partkey") === col("p_partkey"))
        .agg(
          sum(promoRev).cast(DoubleType).as("promo_revenue"),
          sum(rev).cast(DoubleType).as("total_revenue"),
          (sum(promoRev).cast(DoubleType) / sum(rev).cast(DoubleType)).as("promo_share"))
    },

    // ---- A20: per-group count ---------------------------------------
    Q("q_group_count", Some(
      "SELECT l_returnflag, count(*) AS n_rows FROM lineitem GROUP BY l_returnflag"
    )) { (s, d) =>
      t(s, d, "lineitem").groupBy(col("l_returnflag")).agg(count(lit(1)).as("n_rows"))
    },

    // ---- A11: keep-first dedup --------------------------------------
    Q("q_dedup_first", Some(
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        | QUALIFY row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice) = 1""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      // keep-first as min(struct(order cols)) per key: Spark plans this
      // SORT-based (structs have no mutable hash-agg buffer), but the
      // partial aggregate still combines map-side, so the exchange
      // carries ONE row per key per input partition — the scale win over
      // the row_number window form, which shuffles every row before its
      // per-partition sort. Struct comparison is lexicographic over the
      // fields, so leading with the full tie-break order (the (l_orderkey,
      // l_linenumber) pair is NOT unique in this data) gives the same row
      // the QUALIFY oracle picks. Null-safe here: the compared columns are
      // null-free in this dataset; a null-bearing variant would need
      // engine-aligned null ordering.
      t(s, d, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(min(struct(col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
          col("l_quantity"), col("l_extendedprice"))).as("m"))
        .select(col("l_orderkey"), col("m.l_linenumber").as("l_linenumber"),
          col("m.l_quantity").as("l_quantity"))
    },

    // ---- B8: top-n per group ----------------------------------------
    Q("q_topn_group", Some(
      """SELECT o_orderpriority, o_orderkey, o_totalprice FROM orders
        | QUALIFY row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) <= 3""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, d, "orders")
        .withColumn("__rn", row_number().over(w)).filter(col("__rn") <= 3)
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
    },

    // ---- A7: md5 hash bucketing -------------------------------------
    Q("q_hash_bucket", Some(
      s"""SELECT c_custkey, ${sqlMd5Mod("c_name", 300)} AS bucket,
         | lpad(CAST(${sqlMd5Mod("c_name", 300)} AS VARCHAR), 3, '0') AS bucket_str
         | FROM customer""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      t(s, d, "customer").select(
        col("c_custkey"),
        HashBucket.bucket(col("c_name"), 300).cast(LongType).as("bucket"),
        HashBucket.bucketStr(col("c_name"), 300).as("bucket_str"))
    },

    // ---- A5: append (repo write path, read back) ---------------------
    Q("q_append", Some(
      s"SELECT $orderColsSql FROM orders WHERE o_orderkey % 4 IN (1, 2)"
    )) { (s, d) =>
      val repo = new TableRepo(freshRoot("q_append"), s)
      val o = t(s, d, "orders")
      repo.extend(o.filter(col("o_orderkey") % 4 === 1))
      repo.extend(o.filter(col("o_orderkey") % 4 === 2))
      repo.getFullDf
    },

    // ---- A6: size-bounded files --------------------------------------
    Q("q_sized_append", Some(
      s"SELECT $lineColsSql FROM lineitem WHERE l_orderkey % 10 = 3"
    )) { (s, d) =>
      val repo = new TableRepo(freshRoot("q_sized"), s, maxRecordsPerFile = 1000)
      repo.extend(t(s, d, "lineitem").filter(col("l_orderkey") % 10 === 3).select(lineCols.map(col): _*))
      repo.getFullDf
    },

    // ---- A6 companion: snapshot-versioned compaction round-trip -------
    // Three small appends -> one compact() into ~2000-row files. The
    // rewrite lands in a committed version dir (snapshot swap, see
    // TableRepo's snapshot-versions block) and the oracle checks the
    // round-trip is row-identical — the compaction counterpart of the
    // reference's in-place file top-up, under the driver gate.
    Q("q_compact", Some(
      s"SELECT $lineColsSql FROM lineitem WHERE l_orderkey % 10 = 6"
    )) { (s, d) =>
      val repo = new TableRepo(freshRoot("q_compact"), s, maxRecordsPerFile = 500)
      // one parquet pass feeds all three appends (the barrier pattern the
      // rest of the suite uses): without it each extend re-scanned
      // lineitem for its third
      val li = Ckpt(t(s, d, "lineitem").filter(col("l_orderkey") % 10 === 6)
        .select(lineCols.map(col): _*))
      (0 until 3).foreach(i => repo.extend(li.filter(col("l_orderkey") % 3 === i)))
      repo.compact(2000)
      repo.getFullDf
    },

    // ---- snapshot time travel ----------------------------------------
    // The snapshot-versioned full rewrite (TableRepo.commitNewVersion)
    // keeps ONE grace version for in-flight readers; getDfAt exposes it
    // as Delta-style time travel — read the table AS OF the superseded
    // commit. Two replaceAll calls leave data-v0 (grace) + data-v1
    // (current); the query reads BOTH and the v0 rows must equal the
    // pre-rewrite source exactly even though v1 has diverged. Oracle
    // replays the two logical states straight from the source table.
    Q("q_time_travel", Some(
      """SELECT 'v0' AS snap, n_nationkey, n_name, n_regionkey FROM nation
        | UNION ALL SELECT 'v1' AS snap, n_nationkey, upper(n_name) AS n_name, n_regionkey
        | FROM nation WHERE n_regionkey < 3""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      val repo = new TableRepo(freshRoot("q_time_travel"), s)
      val n = t(s, d, "nation").select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      repo.replaceAll(n)
      repo.replaceAll(n.filter(col("n_regionkey") < 3)
        .withColumn("n_name", upper(col("n_name"))))
      val Seq(grace, current) = repo.snapshotVersions.takeRight(2)
      repo.getDfAt(grace).withColumn("snap", lit("v0"))
        .unionByName(repo.getDfAt(current).withColumn("snap", lit("v1")))
        .select(col("snap"), col("n_nationkey"), col("n_name"), col("n_regionkey"))
    },

    // ---- snapshot diff (CDC/audit view of a full rewrite) ------------
    // TableRepo.snapshotDiff joins the grace and current snapshots on
    // the table key and emits the CHANGED subset as op + old_/new_ row
    // images — what an incremental consumer (index refresh, cache
    // invalidation) replays instead of the whole table. The rewrite
    // below deletes regions >= 3, rewrites every kept name, and inserts
    // one synthetic row, so all three op kinds appear; the oracle
    // replays both logical snapshots from the source table and takes
    // the same FULL OUTER JOIN.
    Q("q_snapshot_diff", Some(
      """WITH v0 AS (SELECT n_nationkey, n_name, n_regionkey FROM nation),
        | v1 AS (SELECT n_nationkey, n_name || '-2' AS n_name, n_regionkey FROM nation WHERE n_regionkey < 3
        |   UNION ALL SELECT n_nationkey + 500, 'ATLANTIS', n_regionkey FROM nation WHERE n_nationkey = 0)
        | SELECT CASE WHEN v1.n_nationkey IS NULL THEN 'delete'
        |   WHEN v0.n_nationkey IS NULL THEN 'insert' ELSE 'update' END AS op,
        |  COALESCE(v0.n_nationkey, v1.n_nationkey) AS n_nationkey,
        |  v0.n_name AS old_n_name, v1.n_name AS new_n_name,
        |  v0.n_regionkey AS old_n_regionkey, v1.n_regionkey AS new_n_regionkey
        | FROM v0 FULL OUTER JOIN v1 ON v0.n_nationkey = v1.n_nationkey
        | WHERE v0.n_nationkey IS NULL OR v1.n_nationkey IS NULL
        |   OR v0.n_name <> v1.n_name OR v0.n_regionkey <> v1.n_regionkey""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      val repo = new TableRepo(freshRoot("q_snapshot_diff"), s, keyCols = Seq("n_nationkey"))
      val n = t(s, d, "nation").select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      repo.replaceAll(n)
      repo.replaceAll(
        n.filter(col("n_regionkey") < 3)
          .withColumn("n_name", concat(col("n_name"), lit("-2")))
          .unionByName(n.filter(col("n_nationkey") === 0)
            .select((col("n_nationkey") + 500).as("n_nationkey"),
              lit("ATLANTIS").as("n_name"), col("n_regionkey"))))
      val Seq(grace, current) = repo.snapshotVersions.takeRight(2)
      repo.snapshotDiff(grace, current)
    },

    // ---- A8/A2: grouped write + multi-file union scan ----------------
    Q("q_scan_union", Some(
      s"SELECT $lineColsSql FROM lineitem WHERE l_orderkey % 10 = 7"
    )) { (s, d) =>
      val repo = new TableRepo(freshRoot("q_scan_union"), s, groupCols = Seq("l_returnflag"))
      repo.extend(t(s, d, "lineitem").filter(col("l_orderkey") % 10 === 7).select(lineCols.map(col): _*))
      repo.getFullDf
    },

    // ---- A3/A4: partition-pruned scan --------------------------------
    Q("q_partition_prune", Some(
      s"SELECT $lineColsSql FROM lineitem WHERE l_orderkey % 10 = 7 AND l_returnflag = 'R'"
    )) { (s, d) =>
      val repo = new TableRepo(freshRoot("q_prune"), s, groupCols = Seq("l_returnflag"))
      repo.extend(t(s, d, "lineitem").filter(col("l_orderkey") % 10 === 7).select(lineCols.map(col): _*))
      repo.getPartitionDf(Map("l_returnflag" -> "R"))
    },

    // ---- A3/A4 keep-mode twin: pruned scan with retained group cols ---
    // keepGroupCols = true is the REFERENCE DEFAULT (core.py:440-441):
    // partitioning happens on helper COPIES of the group columns so the
    // originals stay in the leaf files, and reads must surface exactly
    // the user schema (helpers never leak, no duplicated column). Same
    // oracle as q_partition_prune — the two storage modes are
    // observably identical, cross-engine.
    Q("q_partition_prune_keep", Some(
      s"SELECT $lineColsSql FROM lineitem WHERE l_orderkey % 10 = 7 AND l_returnflag = 'R'"
    )) { (s, d) =>
      val repo = new TableRepo(freshRoot("q_prune_keep"), s,
        groupCols = Seq("l_returnflag"), keepGroupCols = true)
      repo.extend(t(s, d, "lineitem").filter(col("l_orderkey") % 10 === 7).select(lineCols.map(col): _*))
      repo.getPartitionDf(Map("l_returnflag" -> "R"))
    },

    // ---- A9: keyed upsert --------------------------------------------
    Q("q_upsert", Some(
      s"""SELECT $orderColsSql FROM orders WHERE o_orderkey % 4 IN (0, 1) AND o_orderkey % 8 NOT IN (0, 2)
         | UNION ALL
         | SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus, o_totalprice * 2 AS o_totalprice, o_orderdate, o_orderpriority
         | FROM orders WHERE o_orderkey % 8 IN (0, 2)""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      val repo = new TableRepo(freshRoot("q_upsert"), s, keyCols = Seq("o_orderkey"))
      val o = t(s, d, "orders")
      repo.extend(o.filter(col("o_orderkey") % 4 === 0 || col("o_orderkey") % 4 === 1))
      val updates = o.filter(col("o_orderkey") % 8 === 0 || col("o_orderkey") % 8 === 2)
        .withColumn("o_orderstatus", lit("U"))
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      repo.replaceRecords(updates)
      repo.getFullDf
    },

    // ---- A9 file-granularity variant: footer-stat-pruned upsert -------
    // The repo clusters files by the key (narrow per-file key ranges) and
    // the update batch lands in a narrow range, so the merge rewrites only
    // the files whose footer [min,max] intersects an update key — the
    // reference's per-file rewrite at Spark scale (byte-identity of
    // untouched files is asserted in FilePrunedUpsertSpec; this row puts
    // the merge SEMANTICS under the DuckDB oracle).
    Q("q_upsert_pruned", Some(
      s"""SELECT $orderColsSql FROM orders WHERE o_orderkey % 4 IN (0, 1) AND NOT (o_orderkey % 8 IN (0, 2) AND o_orderkey <= 2000)
         | UNION ALL
         | SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus, o_totalprice * 2 AS o_totalprice, o_orderdate, o_orderpriority
         | FROM orders WHERE o_orderkey % 8 IN (0, 2) AND o_orderkey <= 2000""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      val repo = new TableRepo(freshRoot("q_upsert_pruned"), s, keyCols = Seq("o_orderkey"),
        clusterCols = Seq("o_orderkey"), maxRecordsPerFile = 2000L)
      val o = t(s, d, "orders")
      repo.extend(o.filter(col("o_orderkey") % 4 === 0 || col("o_orderkey") % 4 === 1))
      val updates = o.filter((col("o_orderkey") % 8 === 0 || col("o_orderkey") % 8 === 2) &&
          col("o_orderkey") <= 2000)
        .withColumn("o_orderstatus", lit("U"))
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      repo.replaceRecordsPruned(updates)
      repo.getFullDf
    },

    // ---- A9 file-granularity variant on a GROUPED layout --------------
    // Two pruning levels compose: the updates' group values prune
    // partition DIRS first, then footer key stats prune files within the
    // surviving dirs (byGroups scopes the key to its group, exactly like
    // replaceRecords). Updates touch ONE priority group and a narrow key
    // range, so the rewrite is a handful of files out of the whole tree.
    Q("q_upsert_pruned_grouped", Some(
      s"""SELECT $orderColsSql FROM orders WHERE o_orderkey % 4 IN (0, 1)
         |   AND NOT (o_orderkey % 8 IN (0, 2) AND o_orderkey <= 2000 AND o_orderpriority = '1-URGENT')
         | UNION ALL
         | SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus, o_totalprice * 2 AS o_totalprice, o_orderdate, o_orderpriority
         | FROM orders WHERE o_orderkey % 8 IN (0, 2) AND o_orderkey <= 2000 AND o_orderpriority = '1-URGENT'""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      val repo = new TableRepo(freshRoot("q_upsert_pruned_grouped"), s,
        groupCols = Seq("o_orderpriority"), keyCols = Seq("o_orderkey"),
        clusterCols = Seq("o_orderkey"), maxRecordsPerFile = 1000L)
      val o = t(s, d, "orders")
      repo.extend(o.filter(col("o_orderkey") % 4 === 0 || col("o_orderkey") % 4 === 1))
      val updates = o.filter((col("o_orderkey") % 8 === 0 || col("o_orderkey") % 8 === 2) &&
          col("o_orderkey") <= 2000 && col("o_orderpriority") === "1-URGENT")
        .withColumn("o_orderstatus", lit("U"))
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      repo.replaceRecordsPruned(updates, byGroups = true)
      repo.getFullDf
    },

    // ---- A9 + A7: keyed upsert on a hash-bucketed layout --------------
    // The reference's HashPartitioner-as-group_cols default (core.py:25-44,
    // 62): the md5 bucket of the key is an implicit partition column, so
    // the upsert rewrites only the bucket dirs its keys land in — the
    // layout that makes keyed upsert scale-safe on otherwise-unpartitioned
    // tables (bucket-dir scoping asserted in TableRepoSpec).
    Q("q_upsert_bucketed", Some {
      val bkt = sqlMd5Mod("CAST(o_orderkey AS VARCHAR)", 16)
      s"""SELECT $orderColsSql FROM orders
         | WHERE o_orderkey % 4 IN (0, 1) AND NOT (o_orderkey % 8 IN (0, 2) AND $bkt = 3)
         | UNION ALL
         | SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus, o_totalprice * 2 AS o_totalprice, o_orderdate, o_orderpriority
         | FROM orders WHERE o_orderkey % 8 IN (0, 2) AND $bkt = 3""".stripMargin.replaceAll("\n", "")
    }) { (s, d) =>
      val repo = new TableRepo(freshRoot("q_upsert_bucketed"), s, keyCols = Seq("o_orderkey"),
        hashBucket = Some(HashBucketLayout("o_orderkey", 16)))
      val o = t(s, d, "orders")
      repo.extend(o.filter(col("o_orderkey") % 4 === 0 || col("o_orderkey") % 4 === 1))
      // updates restricted to keys hashing into ONE of the 16 buckets: the
      // measured work is the scoped path (one bucket dir rewritten), which
      // is the point of the layout — uniform-key updates would rewrite all
      // buckets and measure only dynamic-overwrite overhead
      val updates = o.filter((col("o_orderkey") % 8 === 0 || col("o_orderkey") % 8 === 2) &&
          HashBucket.bucket(col("o_orderkey"), 16) === 3)
        .withColumn("o_orderstatus", lit("U"))
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      repo.replaceRecords(updates)
      repo.getFullDf
    },

    // ---- A10: group-scoped upsert ------------------------------------
    Q("q_upsert_scoped", Some(
      s"""SELECT $orderColsSql FROM orders
         | WHERE o_orderkey % 4 IN (0, 1) AND NOT (o_orderpriority = '1-URGENT' AND o_orderkey % 8 IN (0, 2))
         | UNION ALL
         | SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice * 3 AS o_totalprice, o_orderdate, '1-URGENT' AS o_orderpriority
         | FROM orders WHERE o_orderkey % 8 IN (0, 2)""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      val repo = new TableRepo(freshRoot("q_upsert_scoped"), s,
        groupCols = Seq("o_orderpriority"), keyCols = Seq("o_orderkey"))
      val o = t(s, d, "orders")
      repo.extend(o.filter(col("o_orderkey") % 4 === 0 || col("o_orderkey") % 4 === 1))
      val updates = o.filter(col("o_orderkey") % 8 === 0 || col("o_orderkey") % 8 === 2)
        .withColumn("o_totalprice", col("o_totalprice") * 3)
        .withColumn("o_orderpriority", lit("1-URGENT"))
      repo.replaceRecords(updates, byGroups = true)
      repo.getFullDf
    },

    // ---- A12: partition overwrite (replaceGroups) ---------------------
    Q("q_partition_overwrite", Some(
      s"""SELECT $orderColsSql FROM orders WHERE o_orderkey % 2 = 0 AND o_orderstatus <> 'F'
         | UNION ALL
         | SELECT o_orderkey, o_custkey, o_orderstatus, 0.0 AS o_totalprice, o_orderdate, o_orderpriority
         | FROM orders WHERE o_orderkey % 2 = 0 AND o_orderstatus = 'F'""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      val repo = new TableRepo(freshRoot("q_part_ow"), s, groupCols = Seq("o_orderstatus"))
      val o = t(s, d, "orders").filter(col("o_orderkey") % 2 === 0)
      repo.extend(o)
      repo.replaceGroups(o.filter(col("o_orderstatus") === "F").withColumn("o_totalprice", lit(0.0)))
      repo.getFullDf
    },

    // ---- A15: schema harmonization -----------------------------------
    Q("q_schema_harmonize", Some(
      s"""SELECT $orderColsSql FROM orders WHERE o_orderkey % 2 = 0
         | UNION ALL
         | SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, CAST(NULL AS VARCHAR) AS o_orderpriority
         | FROM orders WHERE o_orderkey % 2 = 1""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      val repo = new TableRepo(freshRoot("q_harmonize"), s)
      val o = t(s, d, "orders")
      repo.extend(o.filter(col("o_orderkey") % 2 === 0))
      repo.extend(o.filter(col("o_orderkey") % 2 === 1)
        .drop("o_orderpriority").withColumn("junk", lit(42)))
      repo.getFullDf
    },

    // ---- A16: schema evolution + backfill rewrite --------------------
    Q("q_schema_evolve", Some(
      """SELECT o_orderkey, o_custkey, o_orderstatus, CAST(NULL AS DOUBLE) AS o_totalprice FROM orders WHERE o_orderkey % 3 = 0
        | UNION ALL
        | SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderkey % 3 = 1""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      val repo = new TableRepo(freshRoot("q_evolve"), s, allowSchemaExtension = true)
      val o = t(s, d, "orders")
      repo.extend(o.filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus")))
      repo.extend(o.filter(col("o_orderkey") % 3 === 1)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_totalprice")))
      repo.getFullDf
    },

    // ---- A18: batch ingest (one union job — see TableRepo.batchExtend)
    Q("q_parallel_ingest", Some(
      s"SELECT $orderColsSql FROM orders WHERE o_orderkey % 8 IN (4, 5, 6, 7)"
    )) { (s, d) =>
      val repo = new TableRepo(freshRoot("q_par_ingest"), s)
      val o = t(s, d, "orders")
      repo.batchExtend((4 to 7).map(i => o.filter(col("o_orderkey") % 8 === i)))
      repo.getFullDf
    },

    // ---- A21: buffered record writer ---------------------------------
    Q("q_buffered_ingest", Some(
      "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_orderkey < 400"
    )) { (s, d) =>
      val schema = StructType(Seq(
        StructField("l_orderkey", LongType), StructField("l_linenumber", IntegerType),
        StructField("l_quantity", DoubleType)))
      val repo = new TableRepo(freshRoot("q_buffered"), s)
      val rows = t(s, d, "lineitem").filter(col("l_orderkey") < 400)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity")).collect()
      // 1024 still exercises multiple flushes from sf0.01 up (the flush
      // contract itself is WritersSpec territory); 256 at sf0.1 meant ~60
      // sequential one-job flushes — driver overhead, not engine work
      val w = new RecordWriter(repo, schema, recordLimit = 1024)
      rows.foreach { r =>
        w.add(Map("l_orderkey" -> r.getLong(0), "l_linenumber" -> r.getInt(1),
          "l_quantity" -> r.getDouble(2)))
      }
      w.close()
      repo.getFullDf
    },

    // ---- A27: environments -------------------------------------------
    Q("q_env_switch", Some(
      "SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_custkey % 3 = 0"
    )) { (s, d) =>
      val root = freshRoot("q_envs")
      val envParent = freshRoot("q_envs_test_parent")
      val repo = new TableRepo(root, s, envParents = Map("test" -> envParent))
      repo.envCtx("test") {
        repo.extend(t(s, d, "customer").filter(col("c_custkey") % 3 === 0)
          .select(col("c_custkey"), col("c_name"), col("c_acctbal")))
        repo.getFullDf
      }
    },

    // ---- A19: arbitrary grouped map over a repo ----------------------
    Q("q_grouped_map", Some(
      """SELECT l_orderkey, l_linenumber, l_quantity - avg(l_quantity) OVER (PARTITION BY l_returnflag) AS dev
        | FROM lineitem WHERE l_orderkey % 10 = 7""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      val repo = new TableRepo(freshRoot("q_gmap"), s, groupCols = Seq("l_returnflag"))
      repo.extend(t(s, d, "lineitem").filter(col("l_orderkey") % 10 === 7).select(lineCols.map(col): _*))
      val out = StructType(Seq(
        StructField("l_orderkey", LongType), StructField("l_linenumber", IntegerType),
        StructField("dev", DoubleType)))
      repo.mapGroups(Seq("l_returnflag"), out) { (_, rows) =>
        val buf = rows.toVector
        val mean = buf.map(_.getAs[Double]("l_quantity")).sum / buf.size
        buf.iterator.map(r =>
          Row(r.getAs[Long]("l_orderkey"), r.getAs[Int]("l_linenumber"),
            r.getAs[Double]("l_quantity") - mean))
      }
    },

    // ---- A25: JSON/object shredding ----------------------------------
    Q("q_json_shred", Some(
      """SELECT CAST(event_id AS VARCHAR) AS __parent_id,
        | md5('root.props' || chr(1) || CAST(event_id AS VARCHAR)) AS __id,
        | CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        | FROM events""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      val ev = eventsUs(s, d)
        .withColumn("props", from_json(col("props"), StructType(Seq(StructField("k", LongType)))))
        .select(col("event_id"), col("props"))
      ObjIngestor.shred(ev, rootName = "root", idCol = Some("event_id"))("root.props")
    },

    // ---- A29: per-file census ----------------------------------------
    Q("q_file_census", Some(
      """WITH n AS (SELECT count(*) AS c FROM lineitem WHERE l_orderkey % 10 = 3),
        | f AS (SELECT unnest(range(CAST(ceil(c / 1000.0) AS BIGINT))) AS i, c FROM n)
        | SELECT CAST(least(1000, c - i * 1000) AS BIGINT) AS n_rows FROM f""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      // per-file iteration, reshaped layout-independently so it IS
      // oracle-able: a single writer task rolls files at exactly
      // maxRecordsPerFile rows, so the multiset of per-file row counts is
      // ceil(n/1000) files of [1000 x floor, remainder] — derivable from
      // count(*) alone. Filenames stay out of the output (layout noise);
      // the per-file cap itself is asserted in TableRepoSpec.
      val repo = new TableRepo(freshRoot("q_census"), s, maxRecordsPerFile = 1000)
      repo.extend(t(s, d, "lineitem").filter(col("l_orderkey") % 10 === 3)
        .select(lineCols.map(col): _*).coalesce(1))
      repo.getFullDf
        .withColumn("file", input_file_name())
        .groupBy(col("file")).agg(count(lit(1)).as("n_rows"))
        .select(col("n_rows"))
    },

    // ---- ANN via multi-table sign-random-projection LSH --------------
    // Candidates = union over EmbDupTables independent SRP tables of
    // same-bucket neighbors (id pairs only, deduplicated BEFORE the
    // cosine fetch) — the multi-probe shape that keeps per-table bucket
    // occupancy ~n/2^bits while the table OR recovers recall.
    // MEASURED recall (RecallStudy, SCALE.md "Retired measurement mains";
    // SCALE.md "ANN recall"): 4 tables find 91% of planted cos-0.95 twins (1 table: 39%) —
    // scale-invariant from n=2k to 20k; isotropic mid-cosine top-5
    // recall is ~0.11 at 364 candidates/query, i.e. this is a near-dup
    // sieve, not a general retrieval index (q_topk_cosine / q_ann_ivf
    // are the exact paths).
    Q("q_ann_srp", Some {
      val buckets = (0 until EmbDupTables)
        .map(tb => s"${sqlSrpBucket("embedding", EmbDupBits, EmbDupDim, tb)} AS b$tb").mkString(", ")
      val cand = (0 until EmbDupTables).map { tb =>
        s"SELECT q.vec_id AS q_id, c.vec_id AS n_id FROM b q JOIN b c ON c.b$tb = q.b$tb AND c.vec_id <> q.vec_id WHERE q.vec_id < 5"
      }.mkString(" UNION ")
      s"""WITH b AS (SELECT vec_id, embedding, $buckets FROM embeddings),
         | cand AS ($cand)
         | SELECT q_id, n_id, ${sqlCosine("x.embedding", "y.embedding")} AS sim
         | FROM cand JOIN embeddings x ON x.vec_id = cand.q_id JOIN embeddings y ON y.vec_id = cand.n_id
         | QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) <= 5""".stripMargin.replaceAll("\n", "")
    }) { (s, d) =>
      // buckets are materialized ONCE (eager checkpoint): the query side
      // and candidate side prune different columns, which breaks exchange
      // canonical-equality — without the checkpoint the scan + SRP
      // pipeline runs per side (the SetSimJoin round-6 lesson)
      val bucketCols = (0 until EmbDupTables).map(tb =>
        VectorFns.srpBucket(col("embedding"), EmbDupBits, EmbDupDim, tb).as(s"b$tb"))
      val e = Ckpt(t(s, d, "embeddings")
        .select(Seq(col("vec_id"), col("embedding"),
          VectorFns.norm2(col("embedding")).as("nrm")) ++ bucketCols: _*))
      val q = e.filter(col("vec_id") < 5)
      val cand = (0 until EmbDupTables).map { tb =>
        broadcast(q.select(col("vec_id").as("q_id"), col(s"b$tb").as("qb")))
          .join(e.select(col("vec_id").as("n_id"), col(s"b$tb").as("cb")),
            col("qb") === col("cb") && col("n_id") =!= col("q_id"))
          .select(col("q_id"), col("n_id"))
      }.reduce(_.union(_)).dropDuplicates("q_id", "n_id")
      val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("n_id"))
      cand
        .join(e.select(col("vec_id").as("q_id"), col("embedding").as("qe"), col("nrm").as("qn")), "q_id")
        .join(e.select(col("vec_id").as("n_id"), col("embedding").as("ne"), col("nrm").as("nn")), "n_id")
        .withColumn("sim", VectorFns.dot(col("qe"), col("ne")) / (col("qn") * col("nn")))
        .withColumn("__rn", row_number().over(w)).filter(col("__rn") <= 5)
        .select(col("q_id"), col("n_id"), col("sim"))
    },

    // ---- ANN via multi-PROBE SRP LSH ---------------------------------
    // The memory-lean alternative to multi-table OR-ing: ONE hyperplane
    // table, but each query also probes every bucket at Hamming distance
    // 1 from its own (a near-miss vector most likely differs in exactly
    // one marginal sign). The probe fan-out lives entirely on the tiny
    // broadcast query side — an explode of bits+1 bucket ids — while the
    // corpus is bucketed ONCE; candidate volume per query is
    // (bits+1) * occupancy. Standard multi-probe LSH (Lv et al.,
    // VLDB'07) in one equi-join. MEASURED recall (RecallStudy, SCALE.md
    // "Retired measurement mains"; SCALE.md "ANN recall"): Hamming≤1
    // probes on ONE table find 77% of planted cos-0.95 twins vs 39% unprobed — the memory-lean recall
    // lever (one stored table vs four), at ~2x the candidate volume of
    // the 4-table OR.
    Q("q_ann_srp_probe", Some {
      val b0 = sqlSrpBucket("embedding", EmbDupBits, EmbDupDim, 0)
      val probes = (s"b.b0" +: (0 until EmbDupBits).map(i => s"xor(b.b0, ${1L << i})"))
        .mkString("[", ", ", "]")
      s"""WITH b AS (SELECT vec_id, embedding, $b0 AS b0 FROM embeddings),
         | pr AS (SELECT b.vec_id AS q_id, unnest($probes) AS pb FROM b WHERE b.vec_id < 5),
         | cand AS (SELECT DISTINCT pr.q_id, c.vec_id AS n_id FROM pr JOIN b c ON c.b0 = pr.pb AND c.vec_id <> pr.q_id)
         | SELECT q_id, n_id, ${sqlCosine("x.embedding", "y.embedding")} AS sim
         | FROM cand JOIN embeddings x ON x.vec_id = cand.q_id JOIN embeddings y ON y.vec_id = cand.n_id
         | QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) <= 5""".stripMargin.replaceAll("\n", "")
    }) { (s, d) =>
      val e = Ckpt(t(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"), VectorFns.norm2(col("embedding")).as("nrm"),
          VectorFns.srpBucket(col("embedding"), EmbDupBits, EmbDupDim, 0).as("b0")))
      val probeArr = array(col("b0") +:
        (0 until EmbDupBits).map(i => col("b0").bitwiseXOR(lit(1L << i))): _*)
      val probes = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), explode(probeArr).as("pb"))
      val cand = broadcast(probes)
        .join(e.select(col("vec_id").as("n_id"), col("b0").as("cb")),
          col("pb") === col("cb") && col("n_id") =!= col("q_id"))
        .select(col("q_id"), col("n_id")).dropDuplicates("q_id", "n_id")
      val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("n_id"))
      cand
        .join(e.select(col("vec_id").as("q_id"), col("embedding").as("qe"), col("nrm").as("qn")), "q_id")
        .join(e.select(col("vec_id").as("n_id"), col("embedding").as("ne"), col("nrm").as("nn")), "n_id")
        .withColumn("sim", VectorFns.dot(col("qe"), col("ne")) / (col("qn") * col("nn")))
        .withColumn("__rn", row_number().over(w)).filter(col("__rn") <= 5)
        .select(col("q_id"), col("n_id"), col("sim"))
    },

    // ---- B1: exact dedup ---------------------------------------------
    Q("q_dedup_exact", Some(
      "SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_copies FROM documents GROUP BY md5(text)"
    )) { (s, d) =>
      t(s, d, "documents").groupBy(md5(col("text").cast(BinaryType)).as("content_hash"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
    },

    // ---- B2: near-dup via exact blocked Jaccard ----------------------
    // Jaccard runs over 32-bit token HASHES, not strings: same set
    // cardinalities (collisions hit both engines identically), ~10x
    // smaller shuffled pair payloads, integer intersects.
    Q("q_near_dup", Some(
      s"""WITH dd AS (SELECT doc_id, lang, source, list_distinct(list_transform($sqlToks, t -> ('0x'||substr(md5(t),1,8))::BIGINT)) AS toks FROM documents)
         | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         | CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) AS jaccard
         | FROM dd a JOIN dd b ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
         | WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.6""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      // exact prefix-filter join (SetSimJoin): identical output to the
      // blocked all-pairs oracle, but candidates come from an equi-join
      // on (rarest prefix token, block) — never block² pairs
      val dd = spread(s, d, "documents", t(s, d, "documents"), col("doc_id"))
        .select(col("doc_id"), col("lang"), col("source"),
          transform(TextFns.tokens(col("text")), tk => TextFns.hash32(tk)).as("toks"))
      SetSimJoin.jaccardPairs(dd, "doc_id", "toks", Seq("lang", "source"), 0.6)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), col("jaccard"))
    },

    // ---- n-gram Jaccard near-dup -------------------------------------
    Q("q_ngram_jaccard", Some(
      // the oracle's list_prepend(NULL, ...) mirrors the Spark side's
      // null injection below; DuckDB's list_distinct then DROPS the null
      // (verified), so the oracle computes the null-free truth the Spark
      // plan must reproduce while its merge walk traverses null slots
      s"""WITH dd AS (SELECT doc_id, lang, source, list_distinct(list_prepend(NULL::BIGINT, list_transform($sqlShingles, g -> ('0x'||substr(md5(g),1,8))::BIGINT))) AS sh FROM documents WHERE len($sqlToks) >= 3)
         | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         | CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
         | FROM dd a JOIN dd b ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
         | WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.4""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      // exact prefix-filter join (SetSimJoin) over the 3-gram shingle
      // sets — output-identical to the blocked all-pairs oracle at t=0.4.
      // The token ARRAYS are still materialized behind one exchange before
      // the shingle transform (shinglesOf references the array per
      // element — an inline split would re-execute per shingle); the
      // shingle-set materialization itself is SetSimJoin's checkpointed
      // base.
      //
      // NULL FIXTURE (oracle-scale regression pin): a null element is
      // prepended to EVERY set, so the sorted-set merge walk
      // (SetOps.count) traverses a null slot for every verified pair at
      // the sf0.01 correctness gate — the r18 null-slot bug (phantom
      // 0-matches) was only caught by the stress corpus because no
      // oracle fixture had null-bearing sets. A null is NOT a set member
      // on either engine (memberCount / DuckDB list_distinct), so the
      // output is bit-identical to the un-injected query — but any
      // regression in the null-skip inflates the intersection and fails
      // the hash compare.
      // NOTE (r20): this repartition is deliberately UNCONDITIONAL, not
      // the scale-adaptive `spread` — it doubles as the materialization
      // barrier the comment above describes (tokens finished before the
      // per-element shingle lambda); dropping it at scale would re-fuse
      // the two projections.
      val dd = t(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("source"), TextFns.tokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= 3)
        .repartition(col("doc_id"))
        .select(col("doc_id"), col("lang"), col("source"),
          concat(array(lit(null).cast("long")),
            transform(TextFns.shinglesOf(col("toks"), 3), g => TextFns.hash32(g))).as("sh"))
      SetSimJoin.jaccardPairs(dd, "doc_id", "sh", Seq("lang", "source"), 0.4)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), col("jaccard"))
    },

    // ---- MinHash signatures over 3-gram shingles ---------------------
    Q("q_minhash", Some {
      val hs = sqlMinhashSelects
      s"""WITH tok AS (SELECT doc_id, unnest($sqlShingles) AS tok FROM documents WHERE len($sqlToks) >= 3),
         | hh AS (SELECT doc_id, ${sqlHash32("tok")} AS h FROM tok)
         | SELECT doc_id, $hs FROM hh GROUP BY doc_id""".stripMargin.replaceAll("\n", "")
    }) { (s, d) => minhashSig(spread(s, d, "documents", t(s, d, "documents"), col("doc_id"))) },

    // ---- MinHash LSH candidate pairs (bands generated from the same
    // constants on both engines — widen by appending to TextFns.MinhashA/B)
    Q("q_lsh_near_dup", Some {
      val hs = sqlMinhashSelects
      val bandSelects = sqlBandSelects
      s"""WITH tok AS (SELECT doc_id, unnest($sqlShingles) AS tok FROM documents WHERE len($sqlToks) >= 3),
         | hh AS (SELECT doc_id, ${sqlHash32("tok")} AS h FROM tok),
         | sig AS (SELECT doc_id, $hs FROM hh GROUP BY doc_id),
         | bands AS ($bandSelects)
         | SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         | FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id""".stripMargin.replaceAll("\n", "")
    }) { (s, d) =>
      val sig = minhashSig(spread(s, d, "documents", t(s, d, "documents"), col("doc_id")))
      val bands = lshBands(sig)
      val a = bands.as("a"); val b = bands.as("b")
      a.join(b, col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
    },

    // ---- LSH-candidates -> exact-Jaccard verification -----------------
    // THE scale path for near-dup at 100 TB: band buckets generate
    // candidate pairs (linear + bucket joins, never all pairs), exact
    // n-gram Jaccard then verifies only those candidates. The blocked
    // exact queries above are this pipeline's small-sf ground truth.
    Q("q_lsh_verified", Some {
      val hs = sqlMinhashSelects
      val bandSelects = sqlBandSelects
      s"""WITH tok AS (SELECT doc_id, unnest($sqlShingles) AS tok FROM documents WHERE len($sqlToks) >= 3),
         | hh AS (SELECT doc_id, ${sqlHash32("tok")} AS h FROM tok),
         | sig AS (SELECT doc_id, $hs FROM hh GROUP BY doc_id),
         | bands AS ($bandSelects),
         | cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |   FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
         | sh AS (SELECT doc_id, list_distinct(list_transform($sqlShingles, g -> ('0x'||substr(md5(g),1,8))::BIGINT)) AS sh FROM documents WHERE len($sqlToks) >= 3),
         | p AS (SELECT c.doc_a AS doc_a, c.doc_b AS doc_b,
         |   CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))) AS jaccard
         |   FROM cand c JOIN sh x ON x.doc_id = c.doc_a JOIN sh y ON y.doc_id = c.doc_b)
         | SELECT doc_a, doc_b, jaccard FROM p WHERE jaccard >= 0.4""".stripMargin.replaceAll("\n", "")
    }) { (s, d) =>
      val docs = spread(s, d, "documents", t(s, d, "documents"), col("doc_id"))
      val sig = minhashSig(docs)
      val bands = lshBands(sig)
      val cand = bands.as("a").join(bands.as("b"),
          col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      // hashed shingle sets materialized ONCE (eager checkpoint): the two
      // verify sides are different subtrees after column pruning, so an
      // exchange alone was recomputed per side (r8 plan audit)
      val sh = Ckpt(docs
        .select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= 3)
        .select(col("doc_id"),
          SetOps.sortedSet(transform(TextFns.shinglesOf(col("toks"), 3), g => TextFns.hash32(g))).as("sh")))
      val inter = SetOps.intersectCount(col("x.sh"), col("y.sh"))
      cand.join(sh.as("x"), col("x.doc_id") === col("doc_a"))
        .join(sh.as("y"), col("y.doc_id") === col("doc_b"))
        .withColumn("jaccard",
          inter.cast(DoubleType) /
            (SetOps.memberCount(col("x.sh")) + SetOps.memberCount(col("y.sh")) - inter))
        .filter(col("jaccard") >= 0.4)
        .select(col("doc_a"), col("doc_b"), col("jaccard"))
    },

    // ---- incremental dedup against a persisted LSH index -------------
    // The continuous-ingestion composition: the corpus's LSH band table
    // is a persisted TableRepo (built once, appended forever), and each
    // arriving batch (1) minhashes ONCE, (2) probes the index with its
    // band keys BROADCAST — the daily increment is tiny next to a 100 TB
    // index, so the probe is a map-side hash join over the index scan
    // with no index shuffle — (3) verifies candidates with exact Jaccard
    // and keeps the earliest corpus duplicate per batch doc, then
    // (4) extends the index with its own bands so the next batch dedups
    // against this one too. The batch-side streaming twin of the same
    // contract is StreamNearDup; here the index OUTLIVES the job. The
    // index read is checkpointed before step 4 so the emitted verdict is
    // a consistent pre-extend snapshot. Oracle replays both phases from
    // the parity split of documents with the shared minhash/band SQL.
    Q("q_incr_dedup", Some {
      val hs = sqlMinhashSelects
      s"""WITH corp AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
         | newb AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1),
         | hc AS (SELECT doc_id, ${sqlHash32("tok")} AS h FROM (SELECT doc_id, unnest($sqlShingles) AS tok FROM corp WHERE len($sqlToks) >= 3)),
         | hb AS (SELECT doc_id, ${sqlHash32("tok")} AS h FROM (SELECT doc_id, unnest($sqlShingles) AS tok FROM newb WHERE len($sqlToks) >= 3)),
         | sigc AS (SELECT doc_id, $hs FROM hc GROUP BY doc_id),
         | sigb AS (SELECT doc_id, $hs FROM hb GROUP BY doc_id),
         | bc AS (${sqlBandSelectsFrom("sigc")}),
         | bb AS (${sqlBandSelectsFrom("sigb")}),
         | cand AS (SELECT DISTINCT batch_doc, dup_of FROM (
         |   SELECT b.doc_id AS batch_doc, c.doc_id AS dup_of
         |     FROM bb b JOIN bc c ON b.band = c.band AND b.bh = c.bh
         |   UNION ALL
         |   SELECT a.doc_id, b2.doc_id
         |     FROM bb a JOIN bb b2 ON a.band = b2.band AND a.bh = b2.bh AND a.doc_id > b2.doc_id)),
         | sh AS (SELECT doc_id, list_distinct(list_transform($sqlShingles, g -> ${sqlHash32("g")})) AS sh FROM documents WHERE len($sqlToks) >= 3),
         | p AS (SELECT cand.batch_doc AS batch_doc, cand.dup_of AS dup_of,
         |   CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))) AS jaccard
         |   FROM cand JOIN sh x ON x.doc_id = cand.batch_doc JOIN sh y ON y.doc_id = cand.dup_of)
         | SELECT batch_doc, dup_of, jaccard FROM p WHERE jaccard >= 0.4
         | QUALIFY row_number() OVER (PARTITION BY batch_doc ORDER BY dup_of) = 1""".stripMargin.replaceAll("\n", "")
    }) { (s, d) =>
      val docs = t(s, d, "documents")
      val index = new TableRepo(freshRoot("q_incr_dedup"), s)
      val textRepo = new TableRepo(freshRoot("q_incr_dedup_texts"), s,
        maxRecordsPerFile = 2000, clusterCols = Seq("doc_id"))
      incrDedupSeed(index, textRepo, docs.filter(col("doc_id") % 2 === 0))
      incrDedupRound(index, textRepo, docs.filter(col("doc_id") % 2 === 1))
    },

    // ---- B2/A9: incremental LSH near-dup, footer-pruned band probe ----
    // The LSH face of q_incr_dedup_pruned: the band index is CLUSTERED
    // by bh, the probe reads only footer-intersecting files (a bh-only
    // superset of the (band, bh) match — the join filters the rest), so
    // at a 100 TB index the probe follows the batch. Identical verdict
    // SQL shape as q_incr_dedup on a different corpus split.
    Q("q_incr_dedup_lsh_pruned", Some {
      val hs = sqlMinhashSelects
      s"""WITH corp AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0),
         | newb AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 = 2),
         | hc AS (SELECT doc_id, ${sqlHash32("tok")} AS h FROM (SELECT doc_id, unnest($sqlShingles) AS tok FROM corp WHERE len($sqlToks) >= 3)),
         | hb AS (SELECT doc_id, ${sqlHash32("tok")} AS h FROM (SELECT doc_id, unnest($sqlShingles) AS tok FROM newb WHERE len($sqlToks) >= 3)),
         | sigc AS (SELECT doc_id, $hs FROM hc GROUP BY doc_id),
         | sigb AS (SELECT doc_id, $hs FROM hb GROUP BY doc_id),
         | bc AS (${sqlBandSelectsFrom("sigc")}),
         | bb AS (${sqlBandSelectsFrom("sigb")}),
         | cand AS (SELECT DISTINCT batch_doc, dup_of FROM (
         |   SELECT b.doc_id AS batch_doc, c.doc_id AS dup_of
         |     FROM bb b JOIN bc c ON b.band = c.band AND b.bh = c.bh
         |   UNION ALL
         |   SELECT a.doc_id, b2.doc_id
         |     FROM bb a JOIN bb b2 ON a.band = b2.band AND a.bh = b2.bh AND a.doc_id > b2.doc_id)),
         | sh AS (SELECT doc_id, list_distinct(list_transform($sqlShingles, g -> ${sqlHash32("g")})) AS sh FROM documents WHERE len($sqlToks) >= 3),
         | p AS (SELECT cand.batch_doc AS batch_doc, cand.dup_of AS dup_of,
         |   CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))) AS jaccard
         |   FROM cand JOIN sh x ON x.doc_id = cand.batch_doc JOIN sh y ON y.doc_id = cand.dup_of)
         | SELECT batch_doc, dup_of, jaccard FROM p WHERE jaccard >= 0.4
         | QUALIFY row_number() OVER (PARTITION BY batch_doc ORDER BY dup_of) = 1""".stripMargin.replaceAll("\n", "")
    }) { (s, d) =>
      val docs = t(s, d, "documents")
      val index = new TableRepo(freshRoot("q_incr_dedup_lsh_pruned"), s,
        maxRecordsPerFile = 2000, clusterCols = Seq("bh"))
      val textRepo = new TableRepo(freshRoot("q_incr_dedup_lsh_pruned_texts"), s,
        maxRecordsPerFile = 2000, clusterCols = Seq("doc_id"))
      incrDedupSeed(index, textRepo, docs.filter(col("doc_id") % 4 === 0))
      incrDedupRoundPruned(index, textRepo, docs.filter(col("doc_id") % 4 === 2))
    },

    // ---- B3: brute-force top-k cosine --------------------------------
    Q("q_topk_cosine", Some(
      s"""WITH p AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id, ${sqlCosine("q.embedding", "c.embedding")} AS sim
         | FROM embeddings q, embeddings c WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id)
         | SELECT q_id, n_id, sim AS sim FROM p
         | QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) <= 10""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      val e = t(s, d, "embeddings")
      val q = e.filter(col("vec_id") < 5).select(col("vec_id").as("q_id"),
        col("embedding").as("q_emb"), VectorFns.norm2(col("embedding")).as("q_nrm"))
      val c = e.select(col("vec_id").as("n_id"), col("embedding").as("c_emb"),
        VectorFns.norm2(col("embedding")).as("c_nrm"))
      val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("n_id"))
      broadcast(q).join(c, col("n_id") =!= col("q_id"))
        .withColumn("sim", VectorFns.dot(col("q_emb"), col("c_emb")) / (col("q_nrm") * col("c_nrm")))
        .withColumn("__rn", row_number().over(w)).filter(col("__rn") <= 10)
        .select(col("q_id"), col("n_id"), col("sim").as("sim"))
    },

    // ---- ANN via IVF-style cluster pruning ---------------------------
    Q("q_ann_ivf", Some(
      s"""WITH p AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id, c.label AS label, ${sqlCosine("q.embedding", "c.embedding")} AS sim
         | FROM embeddings q JOIN embeddings c ON c.label = q.label AND c.vec_id <> q.vec_id WHERE q.vec_id < 5)
         | SELECT q_id, n_id, label, sim AS sim FROM p
         | QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) <= 5""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      val e = t(s, d, "embeddings")
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          VectorFns.norm2(col("embedding")).as("q_nrm"), col("label").as("q_label"))
      val c = e.select(col("vec_id").as("n_id"), col("embedding").as("c_emb"),
        VectorFns.norm2(col("embedding")).as("c_nrm"), col("label"))
      val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("n_id"))
      broadcast(q).join(c, col("label") === col("q_label") && col("n_id") =!= col("q_id"))
        .withColumn("sim", VectorFns.dot(col("q_emb"), col("c_emb")) / (col("q_nrm") * col("c_nrm")))
        .withColumn("__rn", row_number().over(w)).filter(col("__rn") <= 5)
        .select(col("q_id"), col("n_id"), col("label"), col("sim").as("sim"))
    },

    // ---- IVF build step: nearest-centroid assignment ------------------
    // one Lloyd-iteration assignment with the first 8 vectors as seed
    // centroids (deterministic, engine-agnostic): broadcast the centroid
    // table, one codegen'd dot per (vector, centroid), argmax per vector.
    // At 100 TB this IS the IVF index build: linear scan x k centroids,
    // no shuffle except the per-vector argmax window on vec_id.
    Q("q_ivf_assign", Some(
      s"""WITH c AS (SELECT vec_id AS centroid_id, embedding AS c_emb FROM embeddings WHERE vec_id < 8),
         | p AS (SELECT e.vec_id AS vec_id, c.centroid_id AS centroid_id, ${sqlCosine("e.embedding", "c.c_emb")} AS sim
         |   FROM embeddings e CROSS JOIN c)
         | SELECT vec_id, centroid_id, sim FROM p
         | QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id) = 1""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      val e = t(s, d, "embeddings")
      val c = e.filter(col("vec_id") < 8).select(col("vec_id").as("centroid_id"),
        col("embedding").as("c_emb"), VectorFns.norm2(col("embedding")).as("c_nrm"))
      val w = Window.partitionBy(col("vec_id")).orderBy(col("sim").desc, col("centroid_id"))
      e.select(col("vec_id"), col("embedding"), VectorFns.norm2(col("embedding")).as("e_nrm"))
        .crossJoin(broadcast(c))
        .withColumn("sim", VectorFns.dot(col("embedding"), col("c_emb")) / (col("e_nrm") * col("c_nrm")))
        .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
        .select(col("vec_id"), col("centroid_id"), col("sim"))
    },

    // ---- IVF training: pinned-seed Lloyd k-means ----------------------
    // The trained counterpart of q_ivf_assign's first-8-vectors seed:
    // k=8, 3 Lloyd iterations, per-position means rounded to 6 decimals
    // so both engines iterate from identical centroid literals (the only
    // order-dependent float step is quantized away — see graft.ops.Ivf).
    // Output = trained centroid components + final cluster sizes. Each
    // iteration is one broadcast-centroids linear scan; the update
    // groupBy has k x dim cardinality — nothing scales with the corpus
    // but the scan count (iters, a constant).
    Q("q_ivf_train", Some(Ivf.oracleSql(8, 3, sqlCosine))) { (s, d) =>
      Ivf.trainResult(t(s, d, "embeddings"), 8, 3)
    },

    // ---- trained-IVF ANN probe ----------------------------------------
    // The retrieval face of q_ivf_train: answer each query from its
    // nprobe=2 nearest trained clusters only (RecallStudy, SCALE.md
    // "Retired measurement mains": recall@5 0.50 at half the corpus untouched on sf0.1; nprobe scales recall
    // smoothly toward exhaustive). Same query/top-k protocol as
    // q_topk_cosine so the two are directly comparable. DELIBERATELY
    // trains inside the query: this row is the self-contained ORACLE DEMO
    // of the probe math (train+assign+probe in one deterministic replay);
    // the serving-shaped path — train once, probe from the at-rest
    // partition-pruned index — is q_ivf_probe_repo below.
    Q("q_ivf_probe", Some(Ivf.probeOracleSql(8, 3, 2, 5L, 10, sqlCosine))) { (s, d) =>
      Ivf.probeTopK(t(s, d, "embeddings"), 8, 3, 2, 5L, 10)
    },

    // ---- persisted-IVF ANN serving (IvfRepo) --------------------------
    // The SERVING face of the same index: train once, persist centroids +
    // a centroid_id-DIRECTORY-partitioned assignment repo, then answer
    // probes from a PartitionFilters-pruned read of only the probed
    // clusters — no in-query training, no unprobed-corpus touch (the
    // q_incr_dedup_pruned persisted-index discipline applied to ANN).
    // Same (k, iters, nprobe, topK) and the same oracle as q_ivf_probe:
    // the two paths are value-identical by construction, so one green row
    // each proves both the math and the at-rest layout.
    Q("q_ivf_probe_repo", Some(Ivf.probeOracleSql(8, 3, 2, 5L, 10, sqlCosine))) { (s, d) =>
      val e = t(s, d, "embeddings")
      val centRepo = new TableRepo(freshRoot("q_ivf_probe_repo_cent"), s)
      val asgRepo = new TableRepo(freshRoot("q_ivf_probe_repo_asg"), s,
        groupCols = Seq("centroid_id"))
      IvfRepo.build(e, 8, 3, centRepo, asgRepo)
      IvfRepo.probe(
        e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb")),
        centRepo, asgRepo, 2, 10)
    },

    // ---- manifest-pinned ANN serving (IvfIndex) ----------------------
    // The LIFECYCLE face of the same index: q_ivf_probe_repo's raw
    // two-table layout, wrapped in IvfIndex's versioned manifest — the
    // probe resolves `_ivf_manifest-v<N>.json` and reads BOTH halves at
    // their pinned committed snapshot versions (TableRepo.getDfAt), the
    // path a k-changing rebuild swaps atomically. Same (k, iters, nprobe,
    // topK) and the same oracle as q_ivf_probe: this row puts the
    // manifest-resolved read itself — not just the shared probeFrames
    // plan — under the DuckDB hash compare.
    Q("q_ivf_index_probe", Some(Ivf.probeOracleSql(8, 3, 2, 5L, 10, sqlCosine))) { (s, d) =>
      val e = t(s, d, "embeddings")
      val index = new IvfIndex(freshRoot("q_ivf_index_probe"), s)
      index.build(e, 8, 3)
      index.probe(
        e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb")),
        2, 10)
    },

    // ---- cluster-balanced diverse sampling (corpus selection) ---------
    // The selection step of SemDeDup (Abbas et al. '23) / DsDm-style
    // cluster-balanced corpus curation: assign every embedding to its
    // nearest centroid (the q_ivf_assign frame: broadcast centroids, one
    // codegen dot per pair; the argmax window gets a Partial
    // WindowGroupLimit, so its exchange carries one row per VECTOR, not
    // one per vector-centroid pair), then
    // keep a fixed per-cluster quota so the sample covers ALL regions of
    // embedding space instead of oversampling the dense ones. The quota
    // cut uses the bounded-heap TopKAgg (most-central first, vec_id
    // tie-break), NOT a per-cluster window: with k clusters a window
    // shuffle concentrates the whole corpus onto k reducers, while the
    // heap ships at most quota rows per cluster per map task and the
    // final agg holds k x quota rows total. Oracle = the window-rank
    // formulation, proving the heap is semantically identical; cosines
    // are bitwise-equal across engines (same dot/sqrt form as
    // q_ivf_assign), so the rank cut replays exactly.
    Q("q_diverse_sample", Some(
      s"""WITH c AS (SELECT vec_id AS centroid_id, embedding AS c_emb FROM embeddings WHERE vec_id < 8),
         | p AS (SELECT e.vec_id AS vec_id, c.centroid_id AS centroid_id, ${sqlCosine("e.embedding", "c.c_emb")} AS sim
         |   FROM embeddings e CROSS JOIN c),
         | a AS (SELECT vec_id, centroid_id, sim FROM p
         |   QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id) = 1)
         | SELECT centroid_id, CAST(rn AS BIGINT) AS rank, vec_id, sim FROM
         |   (SELECT centroid_id, vec_id, sim,
         |     row_number() OVER (PARTITION BY centroid_id ORDER BY sim DESC, vec_id) AS rn FROM a)
         | WHERE rn <= 16""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      val e = t(s, d, "embeddings")
      val c = e.filter(col("vec_id") < 8).select(col("vec_id").as("centroid_id"),
        col("embedding").as("c_emb"), VectorFns.norm2(col("embedding")).as("c_nrm"))
      val w = Window.partitionBy(col("vec_id")).orderBy(col("sim").desc, col("centroid_id"))
      e.select(col("vec_id"), col("embedding"), VectorFns.norm2(col("embedding")).as("e_nrm"))
        .crossJoin(broadcast(c))
        .withColumn("sim", VectorFns.dot(col("embedding"), col("c_emb")) / (col("e_nrm") * col("c_nrm")))
        .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
        .groupBy(col("centroid_id"))
        .agg(graft.functions.TopKAgg.topk(col("sim"), col("vec_id"), 16).as("top"))
        .select(col("centroid_id"), posexplode(col("top")))
        .select(col("centroid_id"), (col("pos") + 1).cast(LongType).as("rank"),
          col("col.tie").as("vec_id"), col("col.value").as("sim"))
    },

    // ---- SemDeDup: within-cluster semantic prune ---------------------
    // The removal step of SemDeDup (Abbas et al. '23), sharing
    // q_diverse_sample's assignment frame: assign every embedding to its
    // nearest centroid (broadcast centroids, Partial-WindowGroupLimit
    // argmax), then inside each cluster drop every vector that has a
    // LOWER-id cluster-mate above the cosine threshold — keep-min greedy,
    // the q_near_dup_purge rule. The 8 pinned centroids are the ORACLE
    // pin (the EmbDupBits pattern): production SemDeDup scales k with n
    // (k ∝ n / target occupancy), which bounds per-cluster pair work the
    // same way srpBitsFor bounds bucket occupancy; when clusters are
    // still too dense, the SRP screen (q_emb_dup_purge) is the
    // sub-quadratic alternative over the same verdict.
    Q("q_semdedup", Some(
      s"""WITH c AS (SELECT vec_id AS centroid_id, embedding AS c_emb FROM embeddings WHERE vec_id < 8),
         | p AS (SELECT e.vec_id AS vec_id, c.centroid_id AS centroid_id, ${sqlCosine("e.embedding", "c.c_emb")} AS sim
         |   FROM embeddings e CROSS JOIN c),
         | a AS (SELECT vec_id, centroid_id FROM p
         |   QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id) = 1),
         | ae AS (SELECT a.vec_id AS vec_id, a.centroid_id AS centroid_id, e.embedding AS embedding
         |   FROM a JOIN embeddings e ON e.vec_id = a.vec_id),
         | dup AS (SELECT DISTINCT y.vec_id AS vec_id FROM ae x JOIN ae y
         |   ON x.centroid_id = y.centroid_id AND x.vec_id < y.vec_id
         |   WHERE ${sqlCosine("x.embedding", "y.embedding")} >= 0.35)
         | SELECT vec_id, centroid_id FROM ae WHERE vec_id NOT IN (SELECT vec_id FROM dup)""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      val e = t(s, d, "embeddings")
      val c = e.filter(col("vec_id") < 8).select(col("vec_id").as("centroid_id"),
        col("embedding").as("c_emb"), VectorFns.norm2(col("embedding")).as("c_nrm"))
      val w = Window.partitionBy(col("vec_id")).orderBy(col("sim").desc, col("centroid_id"))
      val assign = Ckpt(e
        .select(col("vec_id"), col("embedding"), VectorFns.norm2(col("embedding")).as("nrm"))
        .crossJoin(broadcast(c))
        .withColumn("sim", VectorFns.dot(col("embedding"), col("c_emb")) / (col("nrm") * col("c_nrm")))
        .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
        .select(col("vec_id"), col("centroid_id"), col("embedding"), col("nrm")))
      val dup = assign.as("x").join(assign.as("y"),
          col("x.centroid_id") === col("y.centroid_id") && col("x.vec_id") < col("y.vec_id"))
        .filter(VectorFns.dot(col("x.embedding"), col("y.embedding")) /
          (col("x.nrm") * col("y.nrm")) >= 0.35)
        .select(col("y.vec_id").as("vec_id")).distinct()
      assign.join(dup, Seq("vec_id"), "left_anti").select(col("vec_id"), col("centroid_id"))
    },

    // ---- embedding near-dup ------------------------------------------
    Q("q_emb_near_dup", Some(
      s"""SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, ${sqlCosine("a.embedding", "b.embedding")} AS sim
         | FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
         | WHERE ${sqlCosine("a.embedding", "b.embedding")} >= 0.35""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      // norms are per-ROW, computed ONCE into an eager checkpoint — the
      // planner broadcasts one self-join side, and a broadcast subtree
      // does not reuse the other side's exchange (verified in the r7 plan:
      // two parquet scans without this), so both sides read finished rows.
      // Each pair then costs a single dot fold (identical doubles to the
      // oracle's dot/(sqrt(na)*sqrt(nb)) form)
      val e = Ckpt(t(s, d, "embeddings")
        .withColumn("nrm", VectorFns.norm2(col("embedding"))))
      val a = e.as("a"); val b = e.as("b")
      a.join(b, col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
        .withColumn("sim",
          VectorFns.dot(col("a.embedding"), col("b.embedding")) / (col("a.nrm") * col("b.nrm")))
        .filter(col("sim") >= 0.35)
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"), col("sim"))
    },

    // ---- semantic dedup: embedding near-dup CLUSTERS -------------------
    // The 100 TB semantic-dedup pipeline end-to-end: SRP-LSH buckets bound
    // the candidate pairs (linear + bucket equi-join, never all-pairs),
    // cosine verifies each candidate, min-label propagation turns verified
    // pairs into components with one canonical survivor (min vec_id). The
    // bucket step is deterministic (fixed ±1 hyperplanes), so the oracle
    // replays the same buckets and the recall cut is identical on both
    // engines. Output carries only ids — no doubles to hash-mismatch.
    Q("q_emb_dup_clusters", Some(
      s"""WITH RECURSIVE ${sqlEmbCandCtes(EmbDupBits, EmbDupTables)},
         | e AS (SELECT va AS a, vb AS b FROM p UNION SELECT vb, va FROM p
         |   UNION SELECT va, va FROM p UNION SELECT vb, vb FROM p),
         | reach(a, b) AS (SELECT a, b FROM e UNION SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a)
         | SELECT a AS vec_id, min(b) AS cluster_id FROM reach GROUP BY a""".stripMargin.replaceAll("\n", "")
    )) { (s, d) => embDupClusters(s, d, bits = Some(EmbDupBits)) },

    // ---- semantic dedup PURGE (one survivor per cluster) ---------------
    // The embedding sibling of q_near_dup_purge, but cluster-exact rather
    // than greedy: every vector whose cluster label is not itself (i.e.
    // not the min-id canonical member) is dropped; unclustered vectors
    // survive untouched. One anti-join over the shared cluster pipeline —
    // the purge adds nothing super-linear on top of the cluster cost.
    Q("q_emb_dup_purge", Some(
      s"""WITH RECURSIVE ${sqlEmbCandCtes(EmbDupBits, EmbDupTables)},
         | e AS (SELECT va AS a, vb AS b FROM p UNION SELECT vb, va FROM p
         |   UNION SELECT va, va FROM p UNION SELECT vb, vb FROM p),
         | reach(a, b) AS (SELECT a, b FROM e UNION SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
         | c AS (SELECT a AS vec_id, min(b) AS cluster_id FROM reach GROUP BY a)
         | SELECT v.vec_id, v.label FROM embeddings v
         | WHERE v.vec_id NOT IN (SELECT vec_id FROM c WHERE vec_id <> cluster_id)""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      val dropped = embDupClusters(s, d, bits = Some(EmbDupBits))
        .filter(col("vec_id") =!= col("cluster_id"))
        .select(col("vec_id").as("__drop_id"))
      t(s, d, "embeddings")
        .join(dropped, col("vec_id") === col("__drop_id"), "left_anti")
        .select(col("vec_id"), col("label"))
    },

    // ---- SimHash -----------------------------------------------------
    Q("q_simhash", Some(
      s"""WITH tok AS (SELECT doc_id, unnest($sqlTokSet) AS tok FROM documents),
         | hh AS (SELECT doc_id, ${sqlHash32("tok")} AS h FROM tok),
         | bits AS (SELECT doc_id, b.bit AS bit, sum(CASE WHEN (h >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS s
         |   FROM hh, (SELECT unnest(range(0, 32)) AS bit) b GROUP BY doc_id, b.bit)
         | SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS simhash
         | FROM bits GROUP BY doc_id""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), explode(TextFns.tokenSet(col("text"))).as("tok"))
        .withColumn("h", TextFns.hash32(col("tok")))
        .withColumn("bit", explode(sequence(lit(0), lit(31))))
        .groupBy(col("doc_id"), col("bit"))
        .agg(sum(when(expr("(shiftright(h, bit) & 1) = 1"), 1).otherwise(-1)).as("s"))
        .groupBy(col("doc_id"))
        .agg(sum(when(col("s") > 0, expr("shiftleft(CAST(1 AS BIGINT), bit)")).otherwise(0L))
          .cast(LongType).as("simhash"))
    },

    // ---- B4: text stats ----------------------------------------------
    Q("q_text_stats", Some(
      s"""SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars,
         | CAST(sum(CAST(len($sqlToks) AS BIGINT)) AS DOUBLE) / count(*) AS avg_tokens,
         | CAST(count(DISTINCT source) AS BIGINT) AS n_sources
         | FROM documents GROUP BY lang""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      t(s, d, "documents").groupBy(col("lang")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast(LongType).as("total_chars"),
        (sum(TextFns.tokenCount(col("text")).cast(LongType)).cast(DoubleType) / count(lit(1)))
          .as("avg_tokens"),
        countDistinct(col("source")).cast(LongType).as("n_sources"))
    },

    // ---- token counting (whitespace + BPE-ish regex) ------------------
    // ---- B4/pretraining: sequence packing ----------------------------
    // Streaming bin-packing of documents into fixed token-budget bins
    // (the pretraining batch-prep step): docs in doc_id order, bin =
    // floor(prev-cumulative-tokens / capacity) — each bin fills to the
    // budget and the doc that crosses the boundary starts the next one.
    // SCOPED PER SOURCE so the cumulative window parallelizes across
    // sources (a single global ordering would serialize the corpus
    // through one task at 100 TB; per-shard packing is what a loader
    // does anyway). Capacity 512 whitespace tokens.
    Q("q_seq_pack", Some(
      s"""WITH t AS (SELECT doc_id, source, CAST(len($sqlToks) AS BIGINT) AS n_tokens FROM documents),
         | c AS (SELECT doc_id, source, n_tokens,
         |   CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prev FROM t)
         | SELECT source, prev // 512 AS bin, count(*) AS n_docs,
         |   CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
         |   min(doc_id) AS first_doc, max(doc_id) AS last_doc
         | FROM c GROUP BY source, bin""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      t(s, d, "documents")
        .select(col("doc_id"), col("source"),
          TextFns.tokenCount(col("text")).cast(LongType).as("n_tokens"))
        .withColumn("prev", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
        .withColumn("bin", expr("prev div 512"))
        .groupBy(col("source"), col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("bin_tokens"),
          min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
    },

    // ---- B3/storage: int8 scalar quantization of embeddings -----------
    // Per-dimension affine int8 quantization (the 4x storage lever for a
    // 100 TB embedding store) with a built-in reconstruction audit:
    // qv = round((v - min_d) * 255 / (max_d - min_d)) - 128, output =
    // per-dimension range, distinct quantization levels used, and the
    // max absolute dequantization error. All arithmetic in double on
    // both engines (bitwise-equal), and the audit aggregates (max, count
    // distinct) are order-independent, so the oracle hash-matches.
    // Plan shape: posexplode -> per-pos min/max (map-side partial agg to
    // dim rows) -> broadcast the dim-row stats back -> second partial
    // agg; nothing shuffles at corpus scale.
    Q("q_sq_quantize", Some(
      s"""WITH x AS (SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS pos,
         |     CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings),
         | st AS (SELECT pos, min(v) AS vmin, max(v) AS vmax FROM x GROUP BY pos),
         | q AS (SELECT x.pos AS pos, st.vmin AS vmin, st.vmax AS vmax, x.v AS v,
         |   CASE WHEN st.vmax = st.vmin THEN 0
         |        ELSE CAST(round((x.v - st.vmin) * 255.0 / (st.vmax - st.vmin)) AS BIGINT) - 128 END AS qv
         |   FROM x JOIN st ON st.pos = x.pos),
         | dq AS (SELECT pos, vmin, vmax, qv, v,
         |   CASE WHEN vmax = vmin THEN vmin ELSE vmin + (qv + 128) * (vmax - vmin) / 255.0 END AS deq
         |   FROM q)
         | SELECT pos, vmin, vmax, count(DISTINCT qv) AS n_levels,
         |   max(abs(deq - v)) AS max_abs_err
         | FROM dq GROUP BY pos, vmin, vmax""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      val x = t(s, d, "embeddings").select(col("vec_id"), posexplode(col("embedding")))
        .select(col("pos").cast(LongType).as("pos"), col("col").cast(DoubleType).as("v"))
      val st = x.groupBy(col("pos")).agg(min(col("v")).as("vmin"), max(col("v")).as("vmax"))
      x.join(broadcast(st), Seq("pos"))
        .withColumn("qv", when(col("vmax") === col("vmin"), lit(0L))
          .otherwise(round((col("v") - col("vmin")) * 255.0 / (col("vmax") - col("vmin")))
            .cast(LongType) - 128))
        .withColumn("deq", when(col("vmax") === col("vmin"), col("vmin"))
          .otherwise(col("vmin") + (col("qv") + 128) * (col("vmax") - col("vmin")) / 255.0))
        .groupBy(col("pos"), col("vmin"), col("vmax"))
        .agg(countDistinct(col("qv")).as("n_levels"),
          max(abs(col("deq") - col("v"))).as("max_abs_err"))
    },

    Q("q_token_count", Some(
      s"""SELECT doc_id, CAST(len($sqlToks) AS BIGINT) AS n_tokens,
         | CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9 ]')) AS BIGINT) AS n_bpe_tokens,
         | CAST(length(text) AS BIGINT) AS n_chars_obs FROM documents""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        TextFns.tokenCount(col("text")).cast(LongType).as("n_tokens"),
        regexp_count(col("text"), lit("[a-zA-Z]+|[0-9]|[^a-zA-Z0-9 ]")).cast(LongType)
          .as("n_bpe_tokens"),
        length(col("text")).cast(LongType).as("n_chars_obs"))
    },

    // ---- fixed-token chunking with overlap ---------------------------
    // Embedding/RAG prep: split every document into 32-token chunks at
    // stride 16 (50 % overlap), emitting the chunk's start offset, text,
    // and length. Pure map-side — one scan, sequence+explode+slice, no
    // shuffle anywhere; fan-out per doc is bounded by n_tokens/stride, so
    // at 100 TB this is embarrassingly parallel and the chunk table
    // partitions exactly like its source. The final (shorter) chunks are
    // kept — the downstream packer (q_pack_sequences) handles padding.
    Q("q_chunk_docs", Some(
      s"""WITH tk AS (SELECT doc_id, $sqlToks AS toks FROM documents WHERE len($sqlToks) >= 1),
         | st AS (SELECT doc_id, toks, unnest(generate_series(0, len(toks) - 1, 16)) AS s FROM tk)
         | SELECT doc_id, s AS chunk_start,
         |  array_to_string(list_slice(toks, s + 1, s + 32), ' ') AS chunk_text,
         |  CAST(len(list_slice(toks, s + 1, s + 32)) AS BIGINT) AS n_tokens
         | FROM st""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= 1)
        .select(col("doc_id"), col("toks"),
          explode(sequence(lit(0), size(col("toks")) - 1, lit(16))).as("s"))
        .select(col("doc_id"), col("s").cast(LongType).as("chunk_start"),
          array_join(slice(col("toks"), col("s") + 1, lit(32)), " ").as("chunk_text"),
          size(slice(col("toks"), col("s") + 1, lit(32))).cast(LongType).as("n_tokens"))
    },

    // ---- language identification -------------------------------------
    Q("q_lang_id", Some {
      s"""WITH sc AS (SELECT doc_id, lang, $sqlLangScores FROM documents)
         | SELECT doc_id, lang, $sqlLangCase AS lang_pred FROM sc""".stripMargin.replaceAll("\n", "")
    }) { (s, d) =>
      // NOTE (r21): a one-pass aggregate variant (langPredictOnePass,
      // since removed) was measured ~30% SLOWER here at sf0.1 — this
      // query is one fused map projection whose floor is fixed cost, and
      // the lambda-aggregate plan analyzes slower than the repeated
      // codegen'd splits execute. The funnel keeps the one-pass flags
      // (its per-row work is 10× heavier); this stays on the original.
      t(s, d, "documents").select(col("doc_id"), col("lang"),
        TextFns.langPredict(col("text")).as("lang_pred"))
    },

    // ---- quality scoring ---------------------------------------------
    Q("q_quality_score", Some(
      s"""WITH m AS (SELECT doc_id,
         |   CAST(len($sqlToks) AS DOUBLE) AS nt,
         |   CAST(length(text) AS DOUBLE) AS nc,
         |   CAST(len(list_filter($sqlToks, x -> list_contains(['the', 'a', 'an', 'and', 'of'], x))) AS DOUBLE) AS sh
         |   FROM documents)
         | SELECT doc_id, least(nt / 64.0, 1.0) * 0.5 + least(sh / nt * 8.0, 1.0) * 0.3 +
         |   (CASE WHEN (nc - (nt - 1.0)) / nt >= 3.0 AND (nc - (nt - 1.0)) / nt <= 10.0 THEN 1.0 ELSE 0.5 END) * 0.2 AS quality
         | FROM m""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      // original multi-split form on purpose — see the q_lang_id note
      t(s, d, "documents").select(col("doc_id"), TextFns.qualityScore(col("text")).as("quality"))
    },

    // ---- PII screen (detect + redact) ---------------------------------
    // The scrubbing pass every public pretraining pipeline runs (Dolma
    // §4.1, FineWeb): count and sentinel-replace email / SSN / phone /
    // IPv4 spans. The synthetic corpus carries no natural PII, so the
    // query plants deterministic doc_id-derived PII in-flight — BOTH
    // engines build the identical augmented string, which turns the
    // oracle into a real Java-regex-vs-RE2 conformance check: `redact_md5`
    // hashes the fully redacted text, so the two engines must agree on
    // every match SPAN, not just the counts. One scan, zero shuffles,
    // all codegen'd regexp expressions — the 100 TB shape is a map-only
    // pass fused into whatever scan follows it.
    Q("q_pii_screen", Some {
      val counts = TextFns.PiiPatterns
        .map { case (cat, p) => s"CAST(len(regexp_extract_all(aug, '$p')) AS BIGINT) AS n_$cat" }
        .mkString(", ")
      // DuckDB regexp_replace is first-match-only without the 'g' flag
      val redacted = TextFns.PiiPatterns.foldLeft("aug") {
        case (acc, (cat, p)) => s"regexp_replace($acc, '$p', '<$cat>', 'g')"
      }
      s"""WITH aug AS (SELECT doc_id, text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail' || CAST(doc_id % 7 AS VARCHAR) || '.org'
         | || (CASE WHEN doc_id % 3 = 0 THEN ' ip 10.' || CAST(doc_id % 200 AS VARCHAR) || '.0.' || CAST(doc_id % 97 AS VARCHAR) ELSE '' END)
         | || (CASE WHEN doc_id % 4 = 1 THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END)
         | || (CASE WHEN doc_id % 5 = 2 THEN ' ssn 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END) AS aug FROM documents)
         | SELECT doc_id, $counts, md5($redacted) AS redact_md5, CAST(length($redacted) AS BIGINT) AS redacted_len FROM aug""".stripMargin.replaceAll("\n", "")
    }) { (s, d) =>
      def mod(n: Int) = (col("doc_id") % n).cast(StringType)
      val aug = concat(
        col("text"), lit(" contact user"), col("doc_id").cast(StringType), lit("@mail"),
        mod(7), lit(".org"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" ip 10."), mod(200), lit(".0."), mod(97))).otherwise(lit("")),
        when(col("doc_id") % 4 === 1,
          concat(lit(" call 555-"), lpad(mod(1000), 3, "0"), lit("-"), lpad(mod(10000), 4, "0")))
          .otherwise(lit("")),
        when(col("doc_id") % 5 === 2,
          concat(lit(" ssn 123-45-"), lpad(mod(10000), 4, "0"))).otherwise(lit("")))
      val countCols = TextFns.PiiPatterns.map { case (cat, p) =>
        TextFns.piiCount(col("aug"), p).cast(LongType).as(s"n_$cat")
      }
      t(s, d, "documents").withColumn("aug", aug).select(
        col("doc_id") +: countCols :+
          md5(TextFns.redactPii(col("aug")).cast(BinaryType)).as("redact_md5") :+
          length(TextFns.redactPii(col("aug"))).cast(LongType).as("redacted_len"): _*)
    },

    // ---- quality filter funnel ----------------------------------------
    // The composed pipeline report: per-stage survivor counts through the
    // canonical gate order (length -> quality -> language -> exact dedup),
    // i.e. Dolma/FineWeb's filter-then-dedup sequence built from this
    // library's own screens. Spark shape: per-row gate flags in ONE scan,
    // keep-first resolved by a min-over-fingerprint window (the funnel's
    // only shuffle, keyed by the same fingerprint a 100 TB dedup shards
    // on), then a single tiny aggregate unpivoted with stack() — NOT five
    // passes over the corpus. Cumulative conjunctions make the funnel
    // monotone by construction. At sf0.01 the corpus has no exact dups
    // (dedup stage passes everything through); at sf0.1 it drops 8.
    Q("q_filter_funnel", Some {
      val fLen = s"len($sqlToks) BETWEEN 24 AND 80"
      val fQ = "least(nt / 64.0, 1.0) * 0.5 + least(sh / nt * 8.0, 1.0) * 0.3 + " +
        "(CASE WHEN (ncd - (nt - 1.0)) / nt >= 3.0 AND (ncd - (nt - 1.0)) / nt <= 10.0 THEN 1.0 ELSE 0.5 END) * 0.2 >= 0.7"
      s"""WITH m AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS nc,
         |   CAST(len($sqlToks) AS DOUBLE) AS nt, CAST(length(text) AS DOUBLE) AS ncd,
         |   CAST(len(list_filter($sqlToks, x -> list_contains(['the', 'a', 'an', 'and', 'of'], x))) AS DOUBLE) AS sh,
         |   ($fLen) AS f_len, $sqlLangScores,
         |   md5(array_to_string(regexp_split_to_array(trim(lower(text)), '\\s+'), ' ')) AS fp
         |   FROM documents),
         | f AS (SELECT doc_id, nc, f_len, ($fQ) AS f_q, ($sqlLangCase = 'en') AS f_lang, fp FROM m),
         | k AS (SELECT f.*, min(CASE WHEN f_len AND f_q AND f_lang THEN doc_id END) OVER (PARTITION BY fp) AS keep_id FROM f),
         | a AS (SELECT count(*) AS n0, CAST(sum(nc) AS BIGINT) AS c0,
         |   CAST(sum(CASE WHEN f_len THEN 1 ELSE 0 END) AS BIGINT) AS n1, CAST(sum(CASE WHEN f_len THEN nc ELSE 0 END) AS BIGINT) AS c1,
         |   CAST(sum(CASE WHEN f_len AND f_q THEN 1 ELSE 0 END) AS BIGINT) AS n2, CAST(sum(CASE WHEN f_len AND f_q THEN nc ELSE 0 END) AS BIGINT) AS c2,
         |   CAST(sum(CASE WHEN f_len AND f_q AND f_lang THEN 1 ELSE 0 END) AS BIGINT) AS n3, CAST(sum(CASE WHEN f_len AND f_q AND f_lang THEN nc ELSE 0 END) AS BIGINT) AS c3,
         |   CAST(sum(CASE WHEN f_len AND f_q AND f_lang AND doc_id = keep_id THEN 1 ELSE 0 END) AS BIGINT) AS n4, CAST(sum(CASE WHEN f_len AND f_q AND f_lang AND doc_id = keep_id THEN nc ELSE 0 END) AS BIGINT) AS c4
         |   FROM k)
         | SELECT CAST(0 AS BIGINT) AS ord, 'all' AS stage, n0 AS n_docs, c0 AS n_chars_total FROM a
         | UNION ALL SELECT 1, 'length', n1, c1 FROM a
         | UNION ALL SELECT 2, 'quality', n2, c2 FROM a
         | UNION ALL SELECT 3, 'lang', n3, c3 FROM a
         | UNION ALL SELECT 4, 'dedup', n4, c4 FROM a""".stripMargin.replaceAll("\n", "")
    }) { (s, d) =>
      // one-pass flags: the plain qualityScore/langPredict forms re-split
      // the text per reference (the r20 plan carried 42 split(trim(...))
      // + 30 array_distinct per row in this projection); the one-pass
      // variants cut that to 4 splits — one per flag column plus the
      // fingerprint. The spread still parallelizes what remains when the
      // scan can't.
      val flags = spread(s, d, "documents", t(s, d, "documents"), col("doc_id")).select(
        col("doc_id"), length(col("text")).cast(LongType).as("nc"),
        TextFns.tokenCountBetween(col("text"), 24, 80).as("f_len"),
        (TextFns.qualityScoreOnePass(col("text")) >= 0.7).as("f_q"),
        TextFns.langPredictIsFirst(col("text")).as("f_lang"),
        TextFns.fingerprint(col("text")).as("fp"))
      val kept = flags.withColumn("keep_id",
        min(when(col("f_len") && col("f_q") && col("f_lang"), col("doc_id")))
          .over(Window.partitionBy(col("fp"))))
      def stageAgg(flag: Column, n: String, c: String) = Seq(
        sum(when(flag, 1L).otherwise(0L)).as(n),
        sum(when(flag, col("nc")).otherwise(0L)).as(c))
      val aggCols = Seq(count(lit(1)).as("n0"), sum(col("nc")).as("c0")) ++
        stageAgg(col("f_len"), "n1", "c1") ++
        stageAgg(col("f_len") && col("f_q"), "n2", "c2") ++
        stageAgg(col("f_len") && col("f_q") && col("f_lang"), "n3", "c3") ++
        stageAgg(col("f_len") && col("f_q") && col("f_lang") && col("doc_id") === col("keep_id"),
          "n4", "c4")
      kept.agg(aggCols.head, aggCols.tail: _*)
        .select(expr(
          """stack(5,
            | CAST(0 AS BIGINT), 'all', n0, c0,
            | CAST(1 AS BIGINT), 'length', n1, c1,
            | CAST(2 AS BIGINT), 'quality', n2, c2,
            | CAST(3 AS BIGINT), 'lang', n3, c3,
            | CAST(4 AS BIGINT), 'dedup', n4, c4) AS (ord, stage, n_docs, n_chars_total)"""
            .stripMargin.replaceAll("\n", "")))
    },

    // ---- document fingerprinting -------------------------------------
    Q("q_fingerprint", Some(
      s"""SELECT doc_id,
         | md5(array_to_string(regexp_split_to_array(trim(lower(text)), '\\s+'), ' ')) AS fp,
         | ('0x' || substr(md5(array_to_string(regexp_split_to_array(trim(lower(text)), '\\s+'), ' ')), 1, 4))::BIGINT AS fp_bucket
         | FROM documents""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        TextFns.fingerprint(col("text")).as("fp"),
        TextFns.fingerprintBucket(col("text")).as("fp_bucket"))
    },

    // ---- winnowing fingerprint selection -----------------------------
    // Winnowing (Schleimer et al. SIGMOD'03 — the MOSS algorithm): hash
    // every positional 4-gram, then keep the minimum hash of each
    // 4-hash sliding window. Guarantee: any token run of length
    // >= w + k - 1 = 7 shared by two documents contributes at least one
    // common fingerprint, at expected density 2/(w+1) of all grams —
    // the principled sampling the full q_fingerprint/q_repeated_passages
    // screens subsample to. Output is the doc's DISTINCT selected hash
    // VALUES, so the within-window tie-break (positional in the paper)
    // does not affect the result. Pure map-side: one scan, no shuffle;
    // matching across docs is a plain equi-join on fp downstream.
    Q("q_winnow", Some(
      s"""WITH tk AS (SELECT doc_id, $sqlToks AS toks FROM documents WHERE len($sqlToks) >= 7),
         | g AS (SELECT doc_id, list_transform(range(1, len(toks) - 2), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]) AS grams FROM tk),
         | h AS (SELECT doc_id, list_transform(grams, x -> ${sqlHash32("x")}) AS hs FROM g)
         | SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(hs) - 2), i -> list_min(list_slice(hs, i, i + 3))))) AS fp
         | FROM h""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      spread(s, d, "documents", t(s, d, "documents"), col("doc_id"))
        .select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= 7)
        .select(col("doc_id"),
          transform(TextFns.shinglesOf(col("toks"), 4), g => TextFns.hash32(g)).as("hs"))
        .select(col("doc_id"), explode(array_distinct(
          transform(sequence(lit(0), size(col("hs")) - 4),
            i => array_min(slice(col("hs"), i + 1, lit(4)))))).as("fp"))
    },

    // ---- multimodal metadata plumbing --------------------------------
    Q("q_multimodal_meta", Some(
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        | ascii(text) AS first_cp, md5(text) AS content_hash FROM documents""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        length(col("text").cast(BinaryType)).cast(LongType).as("n_bytes"),
        ascii(col("text")).as("first_cp"),
        md5(col("text").cast(BinaryType)).as("content_hash"))
    },

    // ---- B7: multimodal join -----------------------------------------
    Q("q_multimodal_join", Some(
      """SELECT d.doc_id AS doc_id, d.lang AS lang, d.n_chars AS n_chars, e.label AS label,
        | CAST(len(e.embedding) AS BIGINT) AS dim
        | FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      val docs = t(s, d, "documents")
      val e = t(s, d, "embeddings")
      docs.join(broadcast(e), docs("doc_id") === e("vec_id"))
        .select(col("doc_id"), col("lang"), col("n_chars"), col("label"),
          size(col("embedding")).cast(LongType).as("dim"))
    },

    // ---- train/test split (deterministic hash split) ------------------
    Q("q_train_test_split", Some(
      s"""SELECT doc_id, ${sqlMd5Mod("CAST(doc_id AS VARCHAR)", 100)} AS h,
         | CASE WHEN ${sqlMd5Mod("CAST(doc_id AS VARCHAR)", 100)} < 80 THEN 'train' ELSE 'test' END AS split
         | FROM documents""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      val h = HashBucket.bucket(col("doc_id"), 100)
      t(s, d, "documents").select(col("doc_id"), h.cast(LongType).as("h"),
        when(h < 80, "train").otherwise("test").as("split"))
    },

    // ---- deterministic pseudo-random shuffle --------------------------
    Q("q_shuffle", Some(
      """SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS rk FROM documents
        | ORDER BY rk LIMIT 100""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), md5(col("doc_id").cast(StringType).cast(BinaryType)).as("rk"))
        .orderBy(col("rk")).limit(100)
    },

    // ---- sequence packing (token-budget bins per shard) ---------------
    Q("q_pack_sequences", Some(
      s"""WITH o AS (SELECT doc_id, lang, CAST(len($sqlToks) AS BIGINT) AS nt,
         |   md5(CAST(doc_id AS VARCHAR)) AS rk FROM documents)
         | SELECT doc_id, lang, nt,
         |   CAST((sum(nt) OVER (PARTITION BY lang ORDER BY rk ROWS UNBOUNDED PRECEDING) - nt) // 512 AS BIGINT) AS bin
         | FROM o""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      // packing is per-shard (lang here; fingerprint bucket at scale) so
      // the running sum never needs a single global partition
      val w = Window.partitionBy(col("lang")).orderBy(col("rk"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          TextFns.tokenCount(col("text")).cast(LongType).as("nt"),
          md5(col("doc_id").cast(StringType).cast(BinaryType)).as("rk"))
        .withColumn("cum", sum(col("nt")).over(w))
        .select(col("doc_id"), col("lang"), col("nt"), expr("(cum - nt) div 512").as("bin"))
    },

    // ---- contamination check (cross-split shingle overlap) ------------
    // Skew guard: shingles appearing in more than ShingleDfCap documents
    // (boilerplate) are dropped before the equi-join on shingle hash — a
    // hot shingle otherwise fans out quadratically at scale. The cap (50)
    // is far above this data's max df (9), so small-sf results are
    // unchanged and the oracle verifies the guarded pipeline end-to-end.
    Q("q_contamination", Some(
      s"""WITH s0 AS (SELECT doc_id,
         |   CASE WHEN ${sqlMd5Mod("CAST(doc_id AS VARCHAR)", 100)} < 80 THEN 'train' ELSE 'test' END AS sp,
         |   unnest(list_distinct(list_transform($sqlShingles, g -> ('0x'||substr(md5(g),1,8))::BIGINT))) AS h
         |   FROM documents WHERE len($sqlToks) >= 3),
         | rare AS (SELECT h FROM s0 GROUP BY h HAVING count(*) <= ${TextFns.ShingleDfCap}),
         | s AS (SELECT s0.* FROM s0 JOIN rare USING (h))
         | SELECT a.doc_id AS train_doc, b.doc_id AS test_doc, count(*) AS n_shared
         | FROM s a JOIN s b ON a.h = b.h AND a.sp = 'train' AND b.sp = 'test'
         | GROUP BY 1, 2 HAVING count(*) >= 5""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      // exploded shingle hashes materialized ONCE (eager checkpoint): the
      // df aggregate and both join sides prune columns differently, so
      // the repartition exchange this used to rely on was NOT reused —
      // the r8 plan audit showed 4 corpus scans
      val sh = Ckpt(spread(s, d, "documents", t(s, d, "documents"), col("doc_id"))
        .select(col("doc_id"),
          when(HashBucket.bucket(col("doc_id"), 100) < 80, "train").otherwise("test").as("sp"),
          TextFns.tokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= 3)
        .select(col("doc_id"), col("sp"),
          explode(array_distinct(transform(TextFns.shinglesOf(col("toks"), 3),
            g => TextFns.hash32(g)))).as("h")))
      val rare = sh.groupBy(col("h")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= TextFns.ShingleDfCap).select(col("h"))
      val shF = sh.join(rare, Seq("h"), "left_semi")
      shF.filter(col("sp") === "train").as("a")
        .join(shF.filter(col("sp") === "test").as("b"), col("a.h") === col("b.h"))
        .groupBy(col("a.doc_id").as("train_doc"), col("b.doc_id").as("test_doc"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 5)
    },

    // ---- B5: tumbling event-time window ------------------------------
    Q("q_event_window", Some(
      """SELECT (epoch_us(ts) - epoch_us(ts) % 3600000000) AS hour_us, event_type,
        | count(*) AS n_events, CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_value
        | FROM events GROUP BY 1, 2""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      // exact decimal sum, final CAST to DOUBLE on both sides — decimal
      // outputs hash differently under the driver's two read paths (see
      // q_pricing_summary note)
      val dec = DecimalType(18, 2)
      eventsUs(s, d)
        .withColumn("hour_us", col("ts_us") - col("ts_us") % 3600000000L)
        .groupBy(col("hour_us"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast(dec)).cast(DoubleType).as("sum_value"),
          (sum(col("value").cast(dec)).cast(DoubleType) / count(lit(1))).as("avg_value"))
    },

    // ---- B5 via the engine's window() machinery -----------------------
    // same hour x type grid as q_event_window but through
    // streaming/EventWindows.hourly — the exact plan Structured Streaming
    // runs (window() + groupBy), oracled here on its batch form
    // oracle uses a POSITIVE modulus (floor semantics) because window()
    // floors while `x - x % m` truncates toward zero — they differ for
    // pre-epoch timestamps even though this data is all post-epoch
    Q("q_event_window_fn", Some(
      """SELECT (epoch_us(ts) - ((epoch_us(ts) % 3600000000 + 3600000000) % 3600000000)) AS hour_us, event_type,
        | count(*) AS n_events, CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        | FROM events GROUP BY 1, 2""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      graft.streaming.EventWindows.hourly(eventsUs(s, d))
    },

    // ---- B6: sessionization ------------------------------------------
    Q("q_sessionize", Some(
      """WITH g AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |   CASE WHEN lag(epoch_us(ts)) OVER w IS NULL OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000 THEN 1 ELSE 0 END AS brk
        |   FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
        | s AS (SELECT user_id, event_id, ts_us,
        |   sum(brk) OVER (PARTITION BY user_id ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS session_id FROM g)
        | SELECT user_id, CAST(session_id AS BIGINT) AS session_id, count(*) AS n_events,
        |   min(ts_us) AS t_start, max(ts_us) AS t_end
        | FROM s GROUP BY user_id, session_id""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      eventsUs(s, d)
        .withColumn("brk",
          when(lag(col("ts_us"), 1).over(w).isNull ||
            col("ts_us") - lag(col("ts_us"), 1).over(w) > 1800000000L, 1).otherwise(0))
        .withColumn("session_id",
          sum(col("brk")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("session_id").cast(LongType).as("session_id"))
        .agg(count(lit(1)).as("n_events"), min(col("ts_us")).as("t_start"), max(col("ts_us")).as("t_end"))
    },

    // ---- as-of join (events -> latest order at or before event time) --
    // The scale-correct plan is NOT the join the oracle runs (key join +
    // per-event row_number over every earlier order = O(events x orders/
    // customer) shuffled pairs). Instead: union both streams, one shuffle
    // on the key, and a running last-non-null order carried forward by a
    // ROWS window — linear in events + orders, the classic distributed
    // as-of. Ties: an order AT the event's timestamp is visible (orders
    // sort before events at equal t), equal-time orders resolve to the
    // highest o_orderkey (ascending sort + last).
    Q("q_asof_join", Some(
      """WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events),
        | m AS (SELECT e.event_id, o.o_orderkey, o.o_totalprice,
        |   row_number() OVER (PARTITION BY e.event_id ORDER BY epoch_us(o.o_orderdate) DESC, o.o_orderkey DESC) AS rn
        |   FROM ev e JOIN orders o ON o.o_custkey = e.user_id AND epoch_us(o.o_orderdate) <= e.ts_us)
        | SELECT ev.event_id, ev.user_id, ev.ts_us, m.o_orderkey, m.o_totalprice
        | FROM ev LEFT JOIN m ON m.event_id = ev.event_id AND m.rn = 1""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      val ev = eventsUs(s, d).select(col("event_id"), col("user_id").as("k"),
        col("ts_us").as("t"), lit(1).as("is_ev"),
        lit(null).cast(LongType).as("o_orderkey"), lit(null).cast(DoubleType).as("o_totalprice"))
      val od = t(s, d, "orders").select(lit(null).cast(LongType).as("event_id"),
        // NTZ -> LTZ cast is value-preserving under the pinned UTC session
        col("o_custkey").as("k"), unix_micros(col("o_orderdate").cast(TimestampType)).as("t"),
        lit(0).as("is_ev"), col("o_orderkey"), col("o_totalprice"))
      val w = Window.partitionBy(col("k")).orderBy(col("t"), col("is_ev"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev.unionByName(od)
        .withColumn("asof_key", last(col("o_orderkey"), ignoreNulls = true).over(w))
        .withColumn("asof_price", last(col("o_totalprice"), ignoreNulls = true).over(w))
        .filter(col("is_ev") === 1)
        .select(col("event_id"), col("k").as("user_id"), col("t").as("ts_us"),
          col("asof_key").as("o_orderkey"), col("asof_price").as("o_totalprice"))
    },

    // ---- range (interval) join: events within 7 days of an order ------
    // Equi-join on the customer key carries the plan (one hash shuffle);
    // the time-range predicate rides along as a join filter, so this never
    // degenerates into the cross-product a pure interval join would be.
    // At 100 TB the key join IS the scale story: per-key event and order
    // volumes are bounded, and AQE handles skewed customers.
    Q("q_range_join", Some(
      """SELECT o.o_orderkey, count(e.event_id) AS n_events,
        | CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        | FROM orders o LEFT JOIN events e ON e.user_id = o.o_custkey
        |  AND epoch_us(e.ts) >= epoch_us(o.o_orderdate)
        |  AND epoch_us(e.ts) < epoch_us(o.o_orderdate) + 604800000000
        | GROUP BY o.o_orderkey""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      val dec = DecimalType(18, 2)
      val od = t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"),
        unix_micros(col("o_orderdate").cast(TimestampType)).as("od_us"))
      val ev = eventsUs(s, d).select(col("event_id"), col("user_id"), col("ts_us"), col("value"))
      od.join(ev, col("user_id") === col("o_custkey") &&
          col("ts_us") >= col("od_us") && col("ts_us") < col("od_us") + 604800000000L, "left")
        .groupBy(col("o_orderkey"))
        .agg(count(col("event_id")).as("n_events"),
          sum(col("value").cast(dec)).cast(DoubleType).as("sum_value"))
    },

    // ---- rolling window aggregation (trailing 1 h per user) -----------
    // RANGE frame on integer µs — the feature-engineering workhorse
    // (trailing counts/sums per entity). One shuffle on user_id, one sort
    // per partition; frame arithmetic is O(1) per row via the sliding
    // aggregate buffer. Equal-timestamp peers are in-frame on both engines
    // (RANGE ... CURRENT ROW closes at the peer-group end).
    Q("q_rolling_agg", Some(
      """SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        | count(*) OVER w AS n_1h,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_1h
        | FROM events
        | WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts) RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      val dec = DecimalType(18, 2)
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
        .rangeBetween(-3600000000L, 0)
      eventsUs(s, d).select(col("event_id"), col("user_id"), col("ts_us"),
        count(lit(1)).over(w).as("n_1h"),
        sum(col("value").cast(dec)).over(w).cast(DoubleType).as("sum_1h"))
    },

    // ---- exact per-group quantiles (discrete, rank-arithmetic) --------
    // p-th discrete quantile = the value at rank ceil(p*n) in sorted
    // order, computed identically on both engines with integer arithmetic
    // (no interpolation — engines disagree on half-way doubles). The sort
    // is per-group (one shuffle + per-partition sort); at 100 TB this is
    // the exact-quantile pattern, with approx_percentile as the
    // one-pass-sketch alternative when rank exactness can be traded away.
    Q("q_quantiles", Some(
      """WITH r AS (SELECT lang, n_chars,
        |   row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
        |   count(*) OVER (PARTITION BY lang) AS n FROM documents)
        | SELECT lang,
        |  max(CASE WHEN rn = (n*50 + 99) // 100 THEN n_chars END) AS p50,
        |  max(CASE WHEN rn = (n*90 + 99) // 100 THEN n_chars END) AS p90,
        |  max(CASE WHEN rn = (n*99 + 99) // 100 THEN n_chars END) AS p99
        | FROM r GROUP BY lang""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      val wr = Window.partitionBy(col("lang")).orderBy(col("n_chars"), col("doc_id"))
      val wn = Window.partitionBy(col("lang"))
      def pick(p: Int) =
        max(when(col("rn") === expr(s"(n*$p + 99) div 100"), col("n_chars"))).as(s"p$p")
      t(s, d, "documents")
        .select(col("lang"), col("n_chars"), col("doc_id"))
        .withColumn("rn", row_number().over(wr))
        .withColumn("n", count(lit(1)).over(wn))
        .groupBy(col("lang"))
        .agg(pick(50), pick(90), pick(99))
    },

    // ---- skew-salted join (manual hot-key mitigation) -----------------
    // The oracle is the PLAIN join — salting must be invisible in the
    // result. Pattern: the fact side derives a deterministic salt, the
    // dimension side replicates R ways, and the join key becomes
    // (key, salt), splitting one hot key's rows across R reducers. This is
    // the manual fallback for plans AQE's skew-join can't rewrite (it only
    // handles sort-merge joins with statistics; streaming-static joins and
    // broadcast-ineligible full outers, for instance, are on their own).
    // shuffle_hash hint keeps the demo honest — without it the small dim
    // broadcasts and there is no shuffle to salt.
    Q("q_salted_join", Some(
      """SELECT c_mktsegment, count(*) AS n_events,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        | FROM events e JOIN customer c ON c.c_custkey = e.user_id
        | GROUP BY c_mktsegment""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      val R = 8
      val dec = DecimalType(18, 2)
      val ev = eventsUs(s, d)
        .select(col("user_id"), col("value"), pmod(col("event_id"), lit(R)).as("salt_l"))
      val cust = t(s, d, "customer").select(col("c_custkey"), col("c_mktsegment"))
        .withColumn("salt_r", explode(sequence(lit(0L), lit(R - 1L))))
      ev.hint("shuffle_hash")
        .join(cust, col("user_id") === col("c_custkey") && col("salt_l") === col("salt_r"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast(dec)).cast(DoubleType).as("sum_value"))
    },

    // ---- stratified sample (deterministic per-group fraction) ---------
    // 10% per lang, selected by md5 rank — a pure function of the data, so
    // the sample is reproducible across engines, runs, and cluster sizes
    // (the property a training-data mixing pipeline needs). One shuffle.
    Q("q_sample_stratified", Some(
      """WITH r AS (SELECT doc_id, lang,
        |   row_number() OVER (PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
        |   count(*) OVER (PARTITION BY lang) AS n FROM documents)
        | SELECT doc_id, lang FROM r WHERE rn <= (n + 9) // 10""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      val wr = Window.partitionBy(col("lang"))
        .orderBy(md5(col("doc_id").cast(StringType).cast(BinaryType)), col("doc_id"))
      val wn = Window.partitionBy(col("lang"))
      t(s, d, "documents").select(col("doc_id"), col("lang"))
        .withColumn("rn", row_number().over(wr))
        .withColumn("n", count(lit(1)).over(wn))
        .filter(col("rn") <= expr("(n + 9) div 10"))
        .select(col("doc_id"), col("lang"))
    },

    // ---- corpus mixing: per-source token-quota sampling ----------------
    // The mixture step of a pretraining pipeline (Pile/Dolma-style source
    // weighting): each source gets a token budget; sources over budget are
    // downsampled to acceptance fraction budget/total, sources under it
    // pass whole. Decisions are stateless hash-threshold Bernoulli —
    // md5(doc_id) mod 10k under frac×10k — so unlike q_sample_stratified's
    // exact-count window (per-group sort), the keep test is a pure per-row
    // filter behind a broadcast of 20 per-source fractions: no window, no
    // per-group ordering, reproducible on any cluster layout. Totals pass
    // is a cheap two-column scan; frac = one IEEE division, replayed
    // identically by the oracle.
    Q("q_mix_quota", Some(
      s"""WITH tot AS (SELECT source, CAST(sum(CAST(len($sqlToks) AS BIGINT)) AS BIGINT) AS tok_total FROM documents GROUP BY source),
         | f AS (SELECT source, least(1.0, 1000.0 / CAST(tok_total AS DOUBLE)) AS frac FROM tot)
         | SELECT d.doc_id, d.source, f.frac FROM documents d JOIN f ON d.source = f.source
         | WHERE CAST(${sqlMd5Mod("CAST(d.doc_id AS VARCHAR)", 10000)} AS DOUBLE) / 10000.0 < f.frac""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      val docs = t(s, d, "documents").select(col("doc_id"), col("source"),
        TextFns.tokenCount(col("text")).cast(LongType).as("ntok"))
      val fr = docs.groupBy(col("source")).agg(sum(col("ntok")).as("tok_total"))
        .select(col("source").as("fsrc"),
          least(lit(1.0), lit(1000.0) / col("tok_total").cast(DoubleType)).as("frac"))
      docs.join(broadcast(fr), col("source") === col("fsrc"))
        .filter(HashBucket.bucket(col("doc_id"), 10000).cast(DoubleType) / lit(10000.0) < col("frac"))
        .select(col("doc_id"), col("source"), col("frac"))
    },

    // ---- rollup (multi-level aggregation in one pass) -----------------
    // ROLLUP computes (flag, status), (flag), () grids in ONE shuffle with
    // grouping-set expansion — the alternative is three jobs or a union of
    // three aggregates re-reading the fact table three times.
    Q("q_rollup", Some(
      """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        | FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      val dec = DecimalType(18, 2)
      t(s, d, "lineitem").rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast(dec)).cast(DoubleType).as("sum_qty"))
    },

    // ---- pivot (wide-format reshaping) --------------------------------
    // Explicit pivot values keep the plan single-pass (no distinct-values
    // pre-job) and the output schema static — the form that scales.
    Q("q_pivot", Some(
      """SELECT l_returnflag,
        | CAST(sum(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_F,
        | CAST(sum(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_O
        | FROM lineitem GROUP BY l_returnflag""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      val dec = DecimalType(18, 2)
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag")).pivot("l_linestatus", Seq("F", "O"))
        .agg(sum(col("l_quantity").cast(dec)))
        .select(col("l_returnflag"),
          col("F").cast(DoubleType).as("qty_F"),
          col("O").cast(DoubleType).as("qty_O"))
    },

    // ---- corpus diff (full outer join on content fingerprints) --------
    // Which content is only in corpus A, only in B, or shared — the
    // snapshot-diff a dataset-curation pipeline runs between crawl
    // versions. Full outer on the content hash; both key columns survive
    // (null = absent on that side). Full outers are broadcast-ineligible,
    // so this is exactly the shape the salted-join pattern exists for when
    // a fingerprint is hot.
    Q("q_corpus_diff", Some(
      """WITH a AS (SELECT DISTINCT md5(text) AS h FROM documents WHERE source IN ('src0','src1','src2')),
        | b AS (SELECT DISTINCT md5(text) AS h FROM documents WHERE source IN ('src2','src3','src4'))
        | SELECT a.h AS h_a, b.h AS h_b FROM a FULL OUTER JOIN b ON a.h = b.h""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      def fp(srcs: Seq[String]) = t(s, d, "documents")
        .filter(col("source").isin(srcs: _*))
        .select(md5(col("text").cast(BinaryType)).as("h")).distinct()
      fp(Seq("src0", "src1", "src2")).as("a")
        .join(fp(Seq("src2", "src3", "src4")).as("b"), col("a.h") === col("b.h"), "full_outer")
        .select(col("a.h").as("h_a"), col("b.h").as("h_b"))
    },

    // ---- sliding event-time windows -----------------------------------
    // The engine's window(size, slide) expands each event into
    // size/slide overlapping windows BEFORE the aggregation shuffle — the
    // oracle reproduces the same grid with integer range arithmetic. Same
    // code runs under Structured Streaming (EventWindows is the tumbling
    // special case); expansion factor (4x here) is the scale knob.
    Q("q_sliding_window", Some(
      """WITH e AS (SELECT epoch_us(ts) AS t, event_type FROM events),
        | w AS (SELECT event_type, unnest(range((t - 3600000000) // 900000000 + 1, t // 900000000 + 1)) AS wi FROM e)
        | SELECT wi * 900000000 AS win_start_us, event_type, count(*) AS n_events
        | FROM w GROUP BY 1, 2""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      eventsUs(s, d)
        .withColumn("ts", timestamp_micros(col("ts_us")))
        .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
        .select(unix_micros(col("w.start")).as("win_start_us"), col("event_type"),
          col("n_events"))
    },

    // ---- distinct aggregation ----------------------------------------
    // count(DISTINCT x) plans as Expand + two-phase aggregate — partial
    // distinct-set reduction happens map-side, so the shuffle carries
    // (group, x) pairs, not rows. The scale alternative when exactness can
    // be traded is approx_count_distinct's HLL sketch (one pass, no
    // expand), which has no cross-engine-deterministic oracle.
    Q("q_count_distinct", Some(
      """SELECT lang, count(DISTINCT source) AS n_sources,
        | count(DISTINCT md5(text)) AS n_uniq_texts, count(*) AS n_docs
        | FROM documents GROUP BY lang""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      t(s, d, "documents").groupBy(col("lang"))
        .agg(countDistinct(col("source")).as("n_sources"),
          countDistinct(md5(col("text").cast(BinaryType))).as("n_uniq_texts"),
          count(lit(1)).as("n_docs"))
    },

    // ---- data profiling (per-column ANALYZE pass) ---------------------
    // The pre-training data-quality profile every pipeline runs before
    // touching a new corpus drop: per-column null and exact distinct
    // counts plus the row total, one row per column. Spark shape: ONE
    // scan into one aggregate; the multi-distinct aggregate plans as a
    // single Expand(×columns) pass — the standard exact strategy. The
    // 100 TB drop-in is CODE, not a comment: `Queries.profile(s, d,
    // approx = true)` swaps in approx_count_distinct (HLL++, no Expand);
    // ProfileApproxSpec pins its <5% relative error against this exact
    // oracle mode at sf0.1. Timestamps profile at µs grain on both
    // engines (ns truncation, see class doc).
    Q("q_profile", Some {
      val cols = Seq("event_id", "ts_us", "user_id", "event_type", "value", "props")
      val aggs = cols.map { c =>
        s"CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_$c, " +
          s"count(DISTINCT $c) AS nd_$c"
      }.mkString(", ")
      val rows = cols.zipWithIndex.map { case (c, i) =>
        s"SELECT CAST($i AS BIGINT) AS ord, '$c' AS column_name, n_rows, nn_$c AS n_nulls, nd_$c AS n_distinct FROM a"
      }.mkString(" UNION ALL ")
      s"""WITH e AS (SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value, props FROM events),
         | a AS (SELECT count(*) AS n_rows, $aggs FROM e)
         | $rows""".stripMargin.replaceAll("\n", "")
    }) { (s, d) => profile(s, d) },

    // ---- ordered sequence building (per-entity event history) ---------
    // Builds each user's time-ordered event-type sequence — the
    // behavioral-sequence construction step of a training pipeline. Spark
    // aggregates have no ORDER BY, so the order is pinned by a full-frame
    // ordered window (collect_list respects frame order); the total
    // (ts, event_id) tie-break makes the string reproducible. One shuffle;
    // per-entity history bounds the row size, not the table.
    Q("q_seq_build", Some(
      """SELECT user_id, string_agg(event_type, ',' ORDER BY epoch_us(ts), event_id) AS seq,
        | count(*) AS n_events FROM events GROUP BY user_id""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      eventsUs(s, d)
        .select(col("user_id"), col("ts_us"), col("event_id"), col("event_type"))
        .withColumn("seq", array_join(collect_list(col("event_type")).over(w), ","))
        .groupBy(col("user_id"))
        .agg(max(col("seq")).as("seq"), count(lit(1)).as("n_events"))
    },

    // ---- corpus vocabulary (top-k token frequencies) ------------------
    // Tokenizer/vocab bootstrap: explode -> partial-aggregating count ->
    // global top-k with a total tie-break. Linear, one shuffle on token;
    // the top-k is a TakeOrderedAndProject, never a full sort at scale.
    Q("q_vocab", Some(
      s"""WITH tok AS (SELECT unnest($sqlToks) AS tok FROM documents)
        | SELECT tok, count(*) AS freq FROM tok GROUP BY tok
        | ORDER BY freq DESC, tok LIMIT 100""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      t(s, d, "documents")
        .select(explode(TextFns.tokens(col("text"))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("tok")).limit(100)
    },

    // ---- dup-graph connected components (canonical doc per cluster) ---
    // Min-label propagation over the exact near-dup pair graph (the
    // shared [[Components.minLabel]] finder — deterministic fixpoint,
    // see its scaladoc). Oracle: transitive closure by recursive CTE,
    // then min per node — same fixpoint, engine-independent.
    Q("q_dup_clusters", Some(
      s"""WITH RECURSIVE dd AS (SELECT doc_id, lang, source, list_distinct(list_transform($sqlToks, t -> ('0x'||substr(md5(t),1,8))::BIGINT)) AS toks FROM documents),
        | p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |   FROM dd a JOIN dd b ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
        |   WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.6),
        | e AS (SELECT doc_a AS a, doc_b AS b FROM p UNION SELECT doc_b, doc_a FROM p
        |   UNION SELECT doc_a, doc_a FROM p UNION SELECT doc_b, doc_b FROM p),
        | reach(a, b) AS (SELECT a, b FROM e UNION SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a)
        | SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      // pair stage = the EXACT prefix-filter join (SetSimJoin) — same
      // pairs as the oracle's blocked all-pairs CTE, generated via a
      // prefix-token equi-join that scales linearly with near-dup
      // density instead of quadratically with block size. The last
      // all-pairs path in this pipeline is gone.
      Components.minLabel(docDupPairs(s, d).select(col("id_a"), col("id_b")))
        .select(col("id").as("doc_id"), col("cluster_id"))
    },

    // ---- native session windows ---------------------------------------
    // The engine's session_window(ts, gap) — the built-in counterpart of
    // the custom q_sessionize pipeline (which additionally numbers
    // sessions). window.end is last-event + gap by definition, so the
    // oracle is the sessionize grid with t_end shifted by the gap. Same
    // operator runs streaming with a watermark (state = open sessions).
    Q("q_session_window", Some(
      """WITH g AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |   CASE WHEN lag(epoch_us(ts)) OVER w IS NULL OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000 THEN 1 ELSE 0 END AS brk
        |   FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
        | s AS (SELECT user_id, event_id, ts_us,
        |   sum(brk) OVER (PARTITION BY user_id ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS session_id FROM g)
        | SELECT user_id, min(ts_us) AS win_start_us, max(ts_us) + 1800000000 AS win_end_us, count(*) AS n_events
        | FROM s GROUP BY user_id, session_id""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      eventsUs(s, d)
        .withColumn("ts", timestamp_micros(col("ts_us")))
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), unix_micros(col("w.start")).as("win_start_us"),
          unix_micros(col("w.end")).as("win_end_us"), col("n_events"))
    },

    // ---- A33/A34: standalone semi/anti joins --------------------------
    // The merge machinery uses these internally (TableRepo.replaceRecords);
    // standalone forms for the EXISTS / NOT EXISTS query shapes. Semi/anti
    // never materialize right-side columns — the build side carries keys
    // only, and a broadcast-able right side makes them map-side.
    Q("q_semi_join", Some(
      """SELECT o_orderkey, o_totalprice FROM orders o
        | WHERE EXISTS (SELECT 1 FROM events e WHERE e.user_id = o.o_custkey)""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      t(s, d, "orders")
        .join(eventsUs(s, d), col("user_id") === col("o_custkey"), "left_semi")
        .select(col("o_orderkey"), col("o_totalprice"))
    },

    Q("q_anti_join", Some(
      """SELECT o_orderkey, o_totalprice FROM orders o
        | WHERE NOT EXISTS (SELECT 1 FROM events e WHERE e.user_id = o.o_custkey)""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      t(s, d, "orders")
        .join(eventsUs(s, d), col("user_id") === col("o_custkey"), "left_anti")
        .select(col("o_orderkey"), col("o_totalprice"))
    },

    // ---- cube (all grouping-set combinations + grouping id) -----------
    // Rollup's full-lattice sibling: one pass expands each row into the
    // 2^n grouping sets before the aggregation shuffle — no re-reads, no
    // union of n jobs. grouping_id disambiguates a grouped-out NULL from a
    // data NULL; both engines put the first cube column in the high bit.
    Q("q_cube", Some(
      """SELECT l_returnflag, l_linestatus, CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        | count(*) AS n_rows, CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        | FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      val dec = DecimalType(18, 2)
      t(s, d, "lineitem").cube(col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().cast(LongType).as("gid"), count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast(dec)).cast(DoubleType).as("sum_qty"))
        .select(col("l_returnflag"), col("l_linestatus"), col("gid"),
          col("n_rows"), col("sum_qty"))
    },

    // ---- lead/lag (per-entity temporal neighbors) ---------------------
    // Inter-event gap + next-event lookahead — the feature-engineering
    // primitive for behavioral models. One shuffle on user_id; the window
    // sort is per-entity (bounded by history length, not table size). The
    // (ts, event_id) tie-break makes lead/lag total-ordered.
    Q("q_lead_lag", Some(
      """SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        | epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap_us,
        | lead(event_type) OVER w AS next_type
        | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      eventsUs(s, d)
        .select(col("user_id"), col("event_id"), col("ts_us"),
          (col("ts_us") - lag(col("ts_us"), 1).over(w)).as("gap_us"),
          lead(col("event_type"), 1).over(w).as("next_type"))
    },

    // ---- ntile (equi-depth bucketing within groups) -------------------
    // Quartile assignment PER STATUS GROUP — the per-partition sort is
    // bounded by the group, so no global order bottleneck. (A GLOBAL
    // ntile needs one partition; at scale use q_quantiles' rank
    // arithmetic to derive cut points instead.) Total tie-break
    // (o_totalprice, o_orderkey) pins bucket boundaries.
    Q("q_ntile", Some(
      """SELECT o_orderkey, o_orderstatus,
        | CAST(ntile(4) OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS quartile
        | FROM orders""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      val w = Window.partitionBy(col("o_orderstatus")).orderBy(col("o_totalprice"), col("o_orderkey"))
      t(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          ntile(4).over(w).cast(LongType).as("quartile"))
    },

    // ---- set operations (INTERSECT / EXCEPT) --------------------------
    // Distinct-based set semantics (both engines dedup). Planwise these
    // are aggregate + semi/anti join on the full row — co-partitioned by
    // the row hash, so they scale like any keyed join.
    Q("q_intersect", Some(
      "SELECT c_nationkey AS nationkey FROM customer INTERSECT SELECT s_nationkey FROM supplier"
    )) { (s, d) =>
      t(s, d, "customer").select(col("c_nationkey").as("nationkey"))
        .intersect(t(s, d, "supplier").select(col("s_nationkey").as("nationkey")))
    },

    // (keys chosen to stay non-empty at EVERY scale factor: customers
    // with orders but no event activity exist at all sfs; nation-level
    // keys converge to full coverage as sf grows)
    Q("q_except", Some(
      "SELECT o_custkey AS custkey FROM orders EXCEPT SELECT user_id FROM events"
    )) { (s, d) =>
      t(s, d, "orders").select(col("o_custkey").as("custkey"))
        .except(eventsUs(s, d).select(col("user_id").as("custkey")))
    },

    // ---- time-series gap filling (per-entity resampling) --------------
    // Regularize each user's event stream to an hourly grid with explicit
    // zero rows for silent hours — the resample step before any
    // sequence model. The grid is generated per entity (sequence +
    // explode), so the expansion is bounded by each entity's active span,
    // never a global calendar cross-join; all arithmetic is integer µs.
    Q("q_gap_fill", Some(
      """WITH h AS (SELECT user_id, epoch_us(ts) // 3600000000 AS hour, count(*) AS n_events
        |   FROM events GROUP BY 1, 2),
        | s AS (SELECT user_id, min(hour) AS h0, max(hour) AS h1 FROM h GROUP BY 1),
        | g AS (SELECT user_id, unnest(range(h0, h1 + 1)) AS hour FROM s)
        | SELECT g.user_id, g.hour * 3600000000 AS hour_us, coalesce(h.n_events, 0) AS n_events
        | FROM g LEFT JOIN h ON h.user_id = g.user_id AND h.hour = g.hour""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      val hourly = eventsUs(s, d)
        .withColumn("hour", expr("ts_us div 3600000000"))
        .groupBy(col("user_id"), col("hour")).agg(count(lit(1)).as("n_events"))
      val grid = hourly.groupBy(col("user_id"))
        .agg(min(col("hour")).as("h0"), max(col("hour")).as("h1"))
        .select(col("user_id"), explode(sequence(col("h0"), col("h1"))).as("hour"))
      grid.join(hourly, Seq("user_id", "hour"), "left")
        .select(col("user_id"), (col("hour") * lit(3600000000L)).as("hour_us"),
          coalesce(col("n_events"), lit(0L)).as("n_events"))
    },

    // ---- inverted index (token -> postings) ---------------------------
    // The retrieval-side core structure: per token, collection frequency,
    // document frequency, and the sorted posting list. Build is one
    // explode + one aggregation shuffle on token; posting LISTS are only
    // emitted below the df cap (stop-worthy tokens with huge df are
    // exactly the ones a real index stores as bitmaps, not lists — here
    // they keep their tf/df stats with a null postings column, same skew
    // reasoning as ShingleDfCap). Every vocabulary token yields a row at
    // any scale factor.
    Q("q_inverted_index", Some(
      s"""WITH tk AS (SELECT doc_id, unnest($sqlToks) AS tok FROM documents),
        | agg AS (SELECT tok, count(*) AS tf, count(DISTINCT doc_id) AS df,
        |   array_to_string(list_sort(list(DISTINCT doc_id)), ',') AS postings
        |   FROM tk GROUP BY tok)
        | SELECT tok, tf, df, CASE WHEN df <= 50 THEN postings END AS postings FROM agg""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("tok"))
        .groupBy(col("tok"))
        .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"),
          array_join(sort_array(collect_set(col("doc_id")))
            .cast(ArrayType(StringType)), ",").as("p0"))
        .select(col("tok"), col("tf"), col("df"),
          when(col("df") <= 50, col("p0")).as("postings"))
    },

    // ---- token co-occurrence (bigram lift) ----------------------------
    // Collocation mining: lift = P(ab) / (P(a)P(b)) as the exact integer
    // ratio c_ab * N / (c_a * c_b) — all operands exact in int64 AND in
    // double (< 2^53), so the single division is the only IEEE op and
    // both engines agree bitwise. Two aggregation shuffles (unigrams,
    // bigrams) + a join on the unigram key; the c_ab floor prunes the
    // long tail before the join.
    //
    // ONE corpus scan: the tokenized frame is eagerly checkpointed (both
    // unigram and bigram aggregates consume it, and exchange reuse can't
    // connect them), `uc` is checkpointed again because BOTH broadcast
    // join sides read it (broadcast subtrees never reuse exchanges — the
    // round-6/7 lesson; the pre-fix plan scanned documents four times),
    // and the token total is derived as sum(cnt) over `uc` instead of a
    // third pass over the corpus.
    Q("q_cooccur", Some(
      s"""WITH tkk AS (SELECT $sqlToks AS toks FROM documents),
        | uni AS (SELECT unnest(toks) AS tok FROM tkk),
        | uc AS (SELECT tok, count(*) AS cnt FROM uni GROUP BY tok),
        | tot AS (SELECT count(*) AS n FROM uni),
        | bg AS (SELECT unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS bigram
        |   FROM tkk WHERE len(toks) >= 2),
        | bc AS (SELECT bigram, count(*) AS c_ab FROM bg GROUP BY bigram HAVING count(*) >= 3)
        | SELECT b.bigram, b.c_ab, CAST(b.c_ab * t.n AS DOUBLE) / CAST(a.cnt * c.cnt AS DOUBLE) AS lift
        | FROM bc b JOIN uc a ON a.tok = split_part(b.bigram, ' ', 1)
        | JOIN uc c ON c.tok = split_part(b.bigram, ' ', 2), tot t
        | ORDER BY lift DESC, b.bigram LIMIT 100""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      val toks = Ckpt(t(s, d, "documents").select(TextFns.tokens(col("text")).as("toks")))
      val uc = Ckpt(toks.select(explode(col("toks")).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("cnt")))
      val tot = uc.agg(sum(col("cnt")).as("n"))
      val bc = toks.filter(size(col("toks")) >= 2)
        .select(explode(TextFns.shinglesOf(col("toks"), 2)).as("bigram"))
        .groupBy(col("bigram")).agg(count(lit(1)).as("c_ab"))
        .filter(col("c_ab") >= 3)
      bc
        .join(uc.as("a"), col("a.tok") === element_at(split(col("bigram"), " "), 1))
        .join(uc.as("c"), col("c.tok") === element_at(split(col("bigram"), " "), 2))
        .crossJoin(tot)
        .select(col("bigram"), col("c_ab"),
          ((col("c_ab") * col("n")).cast(DoubleType) /
            (col("a.cnt") * col("c.cnt")).cast(DoubleType)).as("lift"))
        .orderBy(col("lift").desc, col("bigram")).limit(100)
    },

    // ---- per-document keyword extraction (tf x inverse-df) ------------
    // Top term per document scored tf * N / df — the log-free tf-idf
    // variant (ln() is libm-dependent and not cross-engine bitwise; the
    // RANKING it induces per document is identical since log is
    // monotone). Two shuffles: (doc, tok) term frequencies, then token
    // document frequencies joined back on the token key.
    Q("q_keywords", Some(
      s"""WITH tk AS (SELECT doc_id, unnest($sqlToks) AS tok FROM documents),
        | tf AS (SELECT doc_id, tok, count(*) AS tf FROM tk GROUP BY 1, 2),
        | df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM tk GROUP BY 1),
        | nd AS (SELECT count(*) AS n_docs FROM documents),
        | sc AS (SELECT f.doc_id, f.tok, f.tf, d.df,
        |   CAST(f.tf * n.n_docs AS DOUBLE) / d.df AS score
        |   FROM tf f JOIN df d ON d.tok = f.tok, nd n)
        | SELECT doc_id, tok AS keyword, tf, df, score FROM sc
        | QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, tok) = 1""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      val docs = t(s, d, "documents")
      // ONE pass over the exploded tokens instead of two: df(tok) =
      // countDistinct(doc_id) over tk ≡ count(*) over tf, because tf
      // already holds exactly one row per distinct (doc_id, tok). The
      // checkpoint therefore moves from tk (the 500k-row explode, which
      // r8's barrier protected against 3 corpus scans) to the smaller tf
      // frame, and tk becomes single-consumer — its tokenize runs on the
      // map side of tf's aggregation exchange, spread across cores when
      // the scan can't parallelize it. nd stays a separate metadata-only
      // count-star scan.
      val tk = spread(s, d, "documents", docs, col("doc_id"))
        .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("tok"))
      val tf = Ckpt(tk.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf")))
      val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      val nd = docs.agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("tok"))
      tf.join(df, Seq("tok")).crossJoin(nd)
        .withColumn("score", (col("tf") * col("n_docs")).cast(DoubleType) / col("df"))
        .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
        .select(col("doc_id"), col("tok").as("keyword"), col("tf"), col("df"), col("score"))
    },

    // ---- repetition score (Gopher-style repetitive-document screen) ---
    // Fraction of a document's bigrams taken by its single most repeated
    // bigram — the classic boilerplate/spam screen ("most common n-gram
    // ratio" from the Gopher quality rules). All-integer per-doc
    // aggregation (max count / total count), one explode + one groupBy;
    // the single division is the only IEEE op, so both engines agree
    // bitwise.
    Q("q_repetition", Some(
      s"""WITH tkk AS (SELECT doc_id, $sqlToks AS toks FROM documents),
        | bg AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS bigram
        |   FROM tkk WHERE len(toks) >= 2),
        | c AS (SELECT doc_id, bigram, count(*) AS cnt FROM bg GROUP BY doc_id, bigram)
        | SELECT doc_id, max(cnt) AS top_bigram_n, CAST(sum(cnt) AS BIGINT) AS n_bigrams,
        |   CAST(max(cnt) AS DOUBLE) / sum(cnt) AS rep_ratio
        | FROM c GROUP BY doc_id""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= 2)
        .select(col("doc_id"), explode(TextFns.shinglesOf(col("toks"), 2)).as("bigram"))
        .groupBy(col("doc_id"), col("bigram")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("doc_id"))
        .agg(max(col("cnt")).as("top_bigram_n"), sum(col("cnt")).as("n_bigrams"),
          (max(col("cnt")).cast(DoubleType) / sum(col("cnt"))).as("rep_ratio"))
    },

    // ---- repeated-passage mining (exact-substring dedup screen) -------
    // The screen MinHash cannot express: find exact token WINDOWS (8-gram
    // passages) occurring in more than one document — the
    // exact-substring-dedup signal of Lee et al. ("Deduplicating Training
    // Data Makes Language Models Better", ACL'22), where the offender is
    // a repeated boilerplate passage inside otherwise-distinct documents.
    // Spark shape: one window explode (positional 8-gram shingles, NOT
    // deduplicated — within-doc repeats count), hash to 32-bit window
    // ids, ONE aggregation shuffle on the hash with map-side partial
    // combine; cross-doc windows survive an n_docs >= 2 filter. At
    // 100 TB this is the linear-pass alternative to a distributed suffix
    // array: rows ≈ token count, the aggregate carries (hash, counts),
    // Output is (window hash, doc count, occurrence count) — id-only, the
    // dedup action downstream joins windows back on the hash; a string
    // exemplar column would force min(string) aggregation, which Spark
    // plans as SortAggregate (strings have no mutable hash-agg buffer).
    // Hash collisions merge windows identically on both engines (same
    // md5-prefix hash), so the oracle replays the exact cut.
    Q("q_repeated_passages", Some {
      val w8 = (0 until 8).map(j => s"t[i+$j]").mkString(" || ' ' || ")
      s"""WITH tkk AS (SELECT doc_id, $sqlToks AS t FROM documents),
        | wn AS (SELECT doc_id, unnest(list_transform(range(1, len(t) - 6), i -> $w8)) AS w
        |   FROM tkk WHERE len(t) >= 8)
        | SELECT ${sqlHash32("w")} AS w_hash,
        |   count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ
        | FROM wn GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2""".stripMargin.replaceAll("\n", "")
    }) { (s, d) =>
      // two-level aggregate instead of countDistinct: the (hash, doc)
      // pair-key shuffle is skew-immune and the whole plan stays in
      // whole-stage HashAggregate (a distinct-agg would plan Expand +
      // SortAggregate)
      spread(s, d, "documents", t(s, d, "documents"), col("doc_id"))
        .select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= 8)
        .select(col("doc_id"), explode(TextFns.shinglesOf(col("toks"), 8)).as("w"))
        .groupBy(TextFns.hash32(col("w")).as("w_hash"), col("doc_id"))
        .agg(count(lit(1)).as("k"))
        .groupBy(col("w_hash"))
        .agg(count(lit(1)).as("n_docs"), sum(col("k")).as("n_occ"))
        .filter(col("n_docs") >= 2)
    },

    // ---- duplicate-window share (cross-doc duplication fraction) ------
    // The per-document ACTION signal on top of q_repeated_passages: the
    // fraction of a document's 8-token windows that occur in at least one
    // OTHER document — the "duplicate n-gram fraction" screen of the
    // Gopher/Dolma quality rules (complementing q_repetition, which is
    // WITHIN-doc repetition). Same occurrence-free discipline as
    // q_lm_familiarity: windows aggregate ONCE to (doc, hash, k)
    // (checkpointed, pair-key shuffle — skew-immune), the cross-doc
    // counts derive from that same frame, and the join carries distinct
    // doc-window pairs. All-int64 until the one closing division.
    Q("q_dup_window_share", Some {
      val w8 = (0 until 8).map(j => s"t[i+$j]").mkString(" || ' ' || ")
      s"""WITH tkk AS (SELECT doc_id, $sqlToks AS t FROM documents),
        | wn AS (SELECT doc_id, unnest(list_transform(range(1, len(t) - 6), i -> $w8)) AS w
        |   FROM tkk WHERE len(t) >= 8),
        | dk AS (SELECT doc_id, ${sqlHash32("w")} AS h, count(*) AS k FROM wn GROUP BY 1, 2),
        | rep AS (SELECT h, count(*) AS n_docs FROM dk GROUP BY h)
        | SELECT dk.doc_id, CAST(sum(dk.k) AS BIGINT) AS n_windows,
        |   CAST(sum(CASE WHEN rep.n_docs >= 2 THEN dk.k ELSE 0 END) AS BIGINT) AS n_dup,
        |   CAST(sum(CASE WHEN rep.n_docs >= 2 THEN dk.k ELSE 0 END) AS DOUBLE) / sum(dk.k) AS dup_share
        | FROM dk JOIN rep ON rep.h = dk.h GROUP BY dk.doc_id""".stripMargin.replaceAll("\n", "")
    }) { (s, d) =>
      val dk = Ckpt(spread(s, d, "documents", t(s, d, "documents"), col("doc_id"))
        .select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= 8)
        .select(col("doc_id"), explode(TextFns.shinglesOf(col("toks"), 8)).as("w"))
        .groupBy(col("doc_id"), TextFns.hash32(col("w")).as("h"))
        .agg(count(lit(1)).as("k")))
      val rep = dk.groupBy(col("h")).agg(count(lit(1)).as("n_docs"))
      val dup = sum(when(col("n_docs") >= 2, col("k")).otherwise(lit(0L)))
      dk.join(rep, "h")
        .groupBy(col("doc_id"))
        .agg(sum(col("k")).as("n_windows"), dup.as("n_dup"),
          (dup.cast(DoubleType) / sum(col("k"))).as("dup_share"))
    },

    // ---- exact-substring dedup REMOVAL (clean-text reconstruction) ----
    // The ACTION the two screens above feed: remove every cross-document
    // duplicated 8-token span from each document and reassemble the
    // cleaned text — the removal step of Lee et al.'s exact-substring
    // dedup (ACL'22), where q_repeated_passages MINES the offenders and
    // q_dup_window_share SCORES the docs. Linear pass, no suffix array:
    // positional 8-gram windows hash once; cross-doc hashes come from the
    // same skew-immune two-level (hash, doc) aggregate as
    // q_repeated_passages; covered token positions are the windows'
    // 8-position spans, made distinct on the (doc, pos) pair key; kept
    // tokens are a left-anti join on that same pair key, reassembled in
    // position order. Every shuffle is pair-keyed EXCEPT wn ⋈ rep on the
    // window hash — there a boilerplate span hot in 1M docs concentrates
    // its occurrences on one reducer, but the rep side is ONE row per
    // hash, so the fanout is 1:1 (no pair blow-up) and AQE skew-split
    // divides the occurrence side freely. Hash collisions remove the same
    // extra span on both engines (same md5-prefix hash), so the oracle
    // replays the identical cut; rejoined text normalizes whitespace
    // identically (single space) on both sides.
    Q("q_strip_dup_spans", Some {
      val w8 = (0 until 8).map(j => s"t[i+$j]").mkString(" || ' ' || ")
      s"""WITH tkk AS (SELECT doc_id, $sqlToks AS t FROM documents),
        | wn AS (SELECT doc_id, i AS pos, ${sqlHash32(s"($w8)")} AS h
        |   FROM (SELECT doc_id, t, unnest(range(1, len(t) - 6)) AS i FROM tkk WHERE len(t) >= 8)),
        | rep AS (SELECT h FROM (SELECT h, doc_id FROM wn GROUP BY h, doc_id) GROUP BY h HAVING count(*) >= 2),
        | cov AS (SELECT DISTINCT doc_id, p FROM
        |   (SELECT doc_id, unnest(range(pos, pos + 8)) AS p FROM wn WHERE h IN (SELECT h FROM rep))),
        | tok AS (SELECT doc_id, i AS pos, t[i] AS tok
        |   FROM (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i FROM tkk)),
        | kept AS (SELECT tok.doc_id, tok.pos, tok.tok FROM tok
        |   LEFT JOIN cov ON cov.doc_id = tok.doc_id AND cov.p = tok.pos WHERE cov.p IS NULL),
        | cl AS (SELECT doc_id, count(*) AS n_kept, string_agg(tok, ' ' ORDER BY pos) AS clean_text
        |   FROM kept GROUP BY doc_id)
        | SELECT tkk.doc_id, len(t)::BIGINT AS n_tokens,
        |   (len(t) - coalesce(n_kept, 0))::BIGINT AS n_removed,
        |   coalesce(clean_text, '') AS clean_text
        | FROM tkk LEFT JOIN cl ON cl.doc_id = tkk.doc_id""".stripMargin.replaceAll("\n", "")
    }) { (s, d) =>
      val tk = Ckpt(spread(s, d, "documents", t(s, d, "documents"), col("doc_id"))
        .select(col("doc_id"), TextFns.tokens(col("text")).as("toks")))
      val wn = Ckpt(tk.filter(size(col("toks")) >= 8)
        .select(col("doc_id"), posexplode(TextFns.shinglesOf(col("toks"), 8)).as(Seq("pos", "w")))
        .select(col("doc_id"), col("pos"), TextFns.hash32(col("w")).as("h")))
      val rep = wn.groupBy(col("h"), col("doc_id")).agg(count(lit(1)).as("k"))
        .groupBy(col("h")).agg(count(lit(1)).as("n_docs"))
        .filter(col("n_docs") >= 2).select(col("h"))
      val cov = wn.join(rep, "h")
        .select(col("doc_id").as("cdoc"), explode(sequence(col("pos"), col("pos") + lit(7))).as("p"))
        .distinct()
      val tok = tk.select(col("doc_id"), posexplode(col("toks")).as(Seq("pos", "tok")))
      val kept = tok.join(cov,
        tok("doc_id") === cov("cdoc") && tok("pos") === cov("p"), "left_anti")
      val clean = kept.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_kept"),
          array_join(transform(
            array_sort(collect_list(struct(col("pos"), col("tok")))),
            x => x.getField("tok")), " ").as("clean_text"))
      tk.select(col("doc_id"), size(col("toks")).cast(LongType).as("n_tokens"))
        .join(clean, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
          coalesce(col("clean_text"), lit("")).as("clean_text"))
    },

    // ---- language-model familiarity score (log-free bigram LM) --------
    // The quality screen a KenLM perplexity filter approximates at 100 TB:
    // score each document by how typical its bigrams are of the corpus —
    // mean corpus frequency of the document's bigrams. Log-probability is
    // the classic form, but ln() is libm-dependent (not cross-engine
    // bitwise); the integer-sum mean keeps the same "gibberish scores
    // low, boilerplate scores high" ordering with EXACT arithmetic: int64
    // sums + one IEEE division. One corpus tokenize (checkpointed).
    //
    // The corpus-count join is OCCURRENCE-FREE: the bigram stream is
    // aggregated ONCE to (doc_id, bigram, k) — one pass over the
    // occurrences, checkpointed — and BOTH join sides derive from it:
    // the corpus counts are Σ k over docs, and the join carries DISTINCT
    // doc-bigram pairs with familiarity = Σ k·cnt / Σ k (identical int64
    // sums). Joining the raw stream would shuffle every occurrence keyed
    // by bigram text — at 100 TB the hottest Zipf key ("of the", ~1% of
    // all rows) lands on one reducer; after the reshape its multiplicity
    // collapses from occurrences to one-per-document, and the one
    // occurrence-level shuffle left is the (doc, bigram) pair-key
    // aggregate, which Zipf skew cannot concentrate and map-side partial
    // combine absorbs. (q_cooccur needs no such reshape: its join input
    // `bc` is already one-row-per-bigram.)
    Q("q_lm_familiarity", Some(
      s"""WITH tkk AS (SELECT doc_id, $sqlToks AS toks FROM documents),
        | bg AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS bigram
        |   FROM tkk WHERE len(toks) >= 2),
        | dk AS (SELECT doc_id, bigram, count(*) AS k FROM bg GROUP BY doc_id, bigram),
        | bc AS (SELECT bigram, sum(k) AS cnt FROM dk GROUP BY bigram)
        | SELECT dk.doc_id, CAST(sum(dk.k) AS BIGINT) AS n_bigrams,
        |   CAST(sum(dk.k * bc.cnt) AS DOUBLE) / sum(dk.k) AS familiarity
        | FROM dk JOIN bc ON bc.bigram = dk.bigram GROUP BY dk.doc_id""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      val dk = Ckpt(spread(s, d, "documents", t(s, d, "documents"), col("doc_id"))
        .select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= 2)
        .select(col("doc_id"), explode(TextFns.shinglesOf(col("toks"), 2)).as("bigram"))
        .groupBy(col("doc_id"), col("bigram")).agg(count(lit(1)).as("k")))
      val bc = dk.groupBy(col("bigram")).agg(sum(col("k")).as("cnt"))
      dk.join(bc, "bigram")
        .groupBy(col("doc_id"))
        .agg(sum(col("k")).as("n_bigrams"),
          (sum(col("k") * col("cnt")).cast(DoubleType) / sum(col("k"))).as("familiarity"))
    },

    // ---- heavy hitters (frequency floor) ------------------------------
    // Tokens above 0.5% of total volume — the exact small-sf twin of a
    // count-min / Misra-Gries pass at 100 TB (where the sketch bounds
    // memory and this query is its verification harness). Integer-only
    // predicate (freq * 200 >= N), no division.
    Q("q_heavy_hitters", Some(
      s"""WITH tok AS (SELECT unnest($sqlToks) AS tok FROM documents),
        | c AS (SELECT tok, count(*) AS freq FROM tok GROUP BY tok),
        | t AS (SELECT count(*) AS n FROM tok)
        | SELECT tok, freq FROM c, t WHERE freq * 200 >= n""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      // one corpus tokenize: the per-token counts are checkpointed and the
      // token total is their sum (q_cooccur's derivation) instead of a
      // second explode pass over the corpus
      val counts = Ckpt(t(s, d, "documents")
        .select(explode(TextFns.tokens(col("text"))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("freq")))
      val tot = counts.agg(sum(col("freq")).as("n"))
      counts.crossJoin(tot).filter(col("freq") * 200 >= col("n"))
        .select(col("tok"), col("freq"))
    },

    // ---- bloom-pruned join (semi-join reduction) ----------------------
    // High-value orders select ~10% of keys; the fact side is pre-filtered
    // by a broadcast Bloom sketch of those keys BEFORE the join shuffle,
    // so the exchange carries ~10% of lineitem instead of all of it. The
    // sketch's false positives are killed by the real join — hence the
    // oracle is the plain join, proving the pruning is transparent. See
    // [[graft.functions.BloomPrune]] for the scale arithmetic.
    Q("q_bloom_join", Some(
      """SELECT l_returnflag, count(*) AS n_rows,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        | FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        | WHERE o.o_totalprice >= 450000 GROUP BY l_returnflag""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      val dec = DecimalType(18, 2)
      val dim = t(s, d, "orders").filter(col("o_totalprice") >= 450000)
        .select(col("o_orderkey"))
      val pruned = t(s, d, "lineitem")
        .filter(BloomPrune.filterFor(dim, "o_orderkey", 100000L)(col("l_orderkey")))
      pruned.join(dim, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast(dec)).cast(DoubleType).as("sum_qty"))
    },

    // ---- top-k as an aggregate (bounded-heap, map-side partial) -------
    // The scale-correct form of q_topn_group: a k-bounded
    // TypedImperativeAggregate replaces the per-group full sort — each
    // map task ships at most k candidates per group into the shuffle
    // instead of the group's entire history. Oracle = the window-rank
    // formulation, proving the two operators are semantically identical.
    Q("q_topk_agg", Some(
      """SELECT o_orderstatus, CAST(rn AS BIGINT) AS rank, o_totalprice, o_orderkey
        | FROM (SELECT o_orderstatus, o_totalprice, o_orderkey,
        |   row_number() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |   FROM orders) WHERE rn <= 5""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      t(s, d, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(graft.functions.TopKAgg.topk(col("o_totalprice"), col("o_orderkey"), 5).as("top"))
        .select(col("o_orderstatus"), posexplode(col("top")))
        .select(col("o_orderstatus"), (col("pos") + 1).cast(LongType).as("rank"),
          col("col.value").as("o_totalprice"), col("col.tie").as("o_orderkey"))
    },

    // ---- salted two-phase aggregation (agg-side skew mitigation) ------
    // l_returnflag has 3 values — a straight groupBy lands the whole
    // table on 3 reducers. Salting fans phase 1 across 16x the tasks
    // (key, salt); phase 2 re-aggregates the 3x16 partials. Decimal sums
    // and counts are associative, so the result is bitwise the plain
    // groupBy — which is the oracle. (Spark's partial aggregation does
    // this implicitly when maps see all keys; explicit salting is the
    // form that also fixes skewed JOIN keys and high-cardinality
    // composite keys where hash partial-agg degrades.)
    Q("q_skew_agg", Some(
      """SELECT l_returnflag, count(*) AS n_rows,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        | FROM lineitem GROUP BY l_returnflag""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      val dec = DecimalType(18, 2)
      t(s, d, "lineitem")
        .withColumn("__salt", pmod(col("l_orderkey"), lit(16)))
        .groupBy(col("l_returnflag"), col("__salt"))
        .agg(count(lit(1)).as("pc"), sum(col("l_quantity").cast(dec)).as("ps"))
        .groupBy(col("l_returnflag"))
        .agg(sum(col("pc")).as("n_rows"), sum(col("ps")).cast(DoubleType).as("sum_qty"))
    },

    // ---- exact per-group median (value histogram, no full sort) -------
    // No quantile_cont builtins — their interpolation formulas differ
    // across engines; for even n the median is (lo + hi) / 2: one
    // addition + one exact halving, identical IEEE ops both sides.
    // PLAN: the full-table work is ONE aggregation into a (group, value)
    // histogram; ranks are then resolved by a cumulative sum over the
    // few-hundred histogram rows. A row_number formulation would sort
    // the whole table inside 3 giant group partitions — the histogram
    // form is the one that survives 100 TB (and generalizes: bucket the
    // value first when its cardinality is unbounded). The oracle IS the
    // sort-based rank pick, proving the histogram selection equals it.
    Q("q_median", Some(
      """WITH r AS (SELECT l_returnflag, l_quantity,
        |   row_number() OVER (PARTITION BY l_returnflag ORDER BY l_quantity) AS rn,
        |   count(*) OVER (PARTITION BY l_returnflag) AS n FROM lineitem)
        | SELECT l_returnflag,
        |  (max(CASE WHEN rn = (n + 1) // 2 THEN l_quantity END)
        |   + max(CASE WHEN rn = (n + 2) // 2 THEN l_quantity END)) / 2 AS median_qty
        | FROM r GROUP BY l_returnflag""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      val wc = Window.partitionBy(col("l_returnflag")).orderBy(col("l_quantity"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wn = Window.partitionBy(col("l_returnflag"))
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"), col("l_quantity")).agg(count(lit(1)).as("cnt"))
        .withColumn("cum", sum(col("cnt")).over(wc))
        .withColumn("n", sum(col("cnt")).over(wn))
        .groupBy(col("l_returnflag"))
        .agg(((min(when(col("cum") >= expr("(n + 1) div 2"), col("l_quantity")))
          + min(when(col("cum") >= expr("(n + 2) div 2"), col("l_quantity")))) / 2).as("median_qty"))
    },

    // ---- z-score outliers (exact distributed moments) -----------------
    // Abnormally active users by event-count z-score. Spark's stddev
    // folds doubles in partition order — nondeterministic bits. Here both
    // moments are INTEGER sums (counts and squared counts — exact, order-
    // independent, no decimal casts at all); mean, variance, and z then
    // use one fixed IEEE op sequence — sqrt is correctly rounded, so both
    // engines agree bitwise. The one-row stats relation broadcasts back
    // onto the counts; no window over the table.
    Q("q_outliers", Some(
      """WITH c AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY 1),
        | st AS (SELECT count(*) AS n, sum(cnt) AS s1, sum(cnt * cnt) AS s2 FROM c),
        | zz AS (SELECT user_id, cnt,
        |   (cnt - CAST(s1 AS DOUBLE) / n) / sqrt(CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)) AS z
        |   FROM c, st)
        | SELECT user_id, cnt, z FROM zz WHERE abs(z) > 2 AND NOT isnan(z)""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      val c = eventsUs(s, d).groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
      val st = c.agg(count(lit(1)).as("n"), sum(col("cnt")).as("s1"),
        sum(col("cnt") * col("cnt")).as("s2"))
      val mean = col("s1").cast(DoubleType) / col("n")
      val z = (col("cnt") - mean) / sqrt(col("s2").cast(DoubleType) / col("n") - mean * mean)
      c.crossJoin(broadcast(st))
        .withColumn("z", z)
        .filter(abs(col("z")) > 2 && !isnan(col("z")))
        .select(col("user_id"), col("cnt"), col("z"))
    },

    // ---- event-time interval join (stream-stream join, batch twin) ----
    // view -> purchase attribution within 30 minutes, run through
    // [[graft.streaming.StreamJoin.correlate]] — the SAME code is a
    // watermarked stream-stream join under readStream (state bounded by
    // the range condition; StreamJoinSpec asserts streamed == batch).
    Q("q_event_join", Some(
      """SELECT a.user_id AS user_id, a.event_id AS a_id, b.event_id AS b_id,
        | epoch_us(a.ts) AS a_ts_us, epoch_us(b.ts) AS b_ts_us
        | FROM events a JOIN events b ON b.user_id = a.user_id
        | AND a.event_type = 'view' AND b.event_type = 'purchase'
        | AND epoch_us(b.ts) >= epoch_us(a.ts)
        | AND epoch_us(b.ts) <= epoch_us(a.ts) + 1800000000""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      val ev = eventsUs(s, d)
      StreamJoin.correlate(ev.filter(col("event_type") === "view"),
        ev.filter(col("event_type") === "purchase"), 1800000000L)
    },

    // ---- explicit grouping sets (rollup/cube's general form) ----------
    // Caller-chosen aggregation levels in one pass — the Expand operator
    // replicates each row once per set BEFORE the shuffle, so n levels
    // cost one job, not n. grouping_id disambiguates levels exactly as
    // in q_cube.
    Q("q_grouping_sets", Some(
      """SELECT l_returnflag, l_linestatus, CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        | count(*) AS n_rows, CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        | FROM lineitem
        | GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      val dec = DecimalType(18, 2)
      t(s, d, "lineitem")
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")), Seq(col("l_linestatus")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().cast(LongType).as("gid"), count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast(dec)).cast(DoubleType).as("sum_qty"))
        .select(col("l_returnflag"), col("l_linestatus"), col("gid"),
          col("n_rows"), col("sum_qty"))
    },

    // ---- minhash estimate vs exact (sketch accuracy harness) ----------
    // For every LSH candidate pair: the signature's Jaccard ESTIMATE
    // (fraction of agreeing minhash components — exact eighths, so the
    // division is lossless) next to the exact shingle Jaccard. At 100 TB
    // this query IS the recall/precision monitor for the dedup sketch:
    // run it on a sampled shard to validate the band/permutation config
    // before a full sweep. Same candidate + shingle-set machinery as
    // q_lsh_verified.
    Q("q_minhash_est", Some {
      val hs = sqlMinhashSelects
      val bandSelects = sqlBandSelects
      val eqSum = TextFns.MinhashA.indices
        .map(i => s"CASE WHEN x.mh$i = y.mh$i THEN 1 ELSE 0 END").mkString(" + ")
      val k = TextFns.MinhashA.length
      s"""WITH tok AS (SELECT doc_id, unnest($sqlShingles) AS tok FROM documents WHERE len($sqlToks) >= 3),
         | hh AS (SELECT doc_id, ${sqlHash32("tok")} AS h FROM tok),
         | sig AS (SELECT doc_id, $hs FROM hh GROUP BY doc_id),
         | bands AS ($bandSelects),
         | cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |   FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
         | sh AS (SELECT doc_id, list_distinct(list_transform($sqlShingles, g -> ('0x'||substr(md5(g),1,8))::BIGINT)) AS sh FROM documents WHERE len($sqlToks) >= 3),
         | p AS (SELECT c.doc_a AS doc_a, c.doc_b AS doc_b,
         |   CAST($eqSum AS DOUBLE) / $k AS est_jaccard
         |   FROM cand c JOIN sig x ON x.doc_id = c.doc_a JOIN sig y ON y.doc_id = c.doc_b)
         | SELECT p.doc_a, p.doc_b, p.est_jaccard,
         |   CAST(len(list_intersect(u.sh, v.sh)) AS DOUBLE) / (len(u.sh) + len(v.sh) - len(list_intersect(u.sh, v.sh))) AS jaccard
         | FROM p JOIN sh u ON u.doc_id = p.doc_a JOIN sh v ON v.doc_id = p.doc_b""".stripMargin.replaceAll("\n", "")
    }) { (s, d) =>
      val docs = spread(s, d, "documents", t(s, d, "documents"), col("doc_id"))
      val sig = minhashSig(docs)
      val bands = lshBands(sig)
      val cand = bands.as("a").join(bands.as("b"),
          col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      val eqSum = TextFns.MinhashA.indices
        .map(i => when(col(s"x.mh$i") === col(s"y.mh$i"), 1).otherwise(0))
        .reduce(_ + _)
      val est = cand
        .join(sig.as("x"), col("x.doc_id") === col("doc_a"))
        .join(sig.as("y"), col("y.doc_id") === col("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          (eqSum.cast(DoubleType) / TextFns.MinhashA.length).as("est_jaccard"))
      val sh = Ckpt(docs
        .select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= 3)
        .select(col("doc_id"),
          SetOps.sortedSet(transform(TextFns.shinglesOf(col("toks"), 3), g => TextFns.hash32(g))).as("sh")))
      val inter = SetOps.intersectCount(col("u.sh"), col("v.sh"))
      est.join(sh.as("u"), col("u.doc_id") === col("doc_a"))
        .join(sh.as("v"), col("v.doc_id") === col("doc_b"))
        .withColumn("jaccard",
          inter.cast(DoubleType) /
            (SetOps.memberCount(col("u.sh")) + SetOps.memberCount(col("v.sh")) - inter))
        .select(col("doc_a"), col("doc_b"), col("est_jaccard"), col("jaccard"))
    },

    // ---- near-dup purge (greedy survivor selection) -------------------
    // The dedup ENDGAME: pairs become a purged corpus. Greedy rule —
    // every doc that appears as the HIGHER id of any qualifying pair is
    // dropped, lower ids survive. (One anti-join; the cluster-exact
    // variant is q_dup_clusters' canonical labels, which costs the
    // iterative closure. Greedy can over-purge inside chains a<b<c —
    // for boilerplate removal that is the accepted trade.) Pair
    // generation is the exact prefix-filter join (SetSimJoin), same as
    // q_dup_clusters: linear + prefix-token equi-join, never all-pairs.
    Q("q_near_dup_purge", Some(
      s"""WITH dd AS (SELECT doc_id, lang, source, list_distinct(list_transform($sqlToks, t -> ('0x'||substr(md5(t),1,8))::BIGINT)) AS toks FROM documents),
        | p AS (SELECT b.doc_id AS doc_b
        |   FROM dd a JOIN dd b ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
        |   WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.6)
        | SELECT d.doc_id, d.lang, d.source, d.n_chars FROM documents d
        | WHERE d.doc_id NOT IN (SELECT doc_b FROM p)""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      val dd = spread(s, d, "documents", t(s, d, "documents"), col("doc_id"))
        .select(col("doc_id"), col("lang"), col("source"),
          transform(TextFns.tokens(col("text")), tk => TextFns.hash32(tk)).as("toks"))
      val purged = SetSimJoin.jaccardPairs(dd, "doc_id", "toks", Seq("lang", "source"), 0.6)
        .select(col("id_b").as("doc_b"))
      t(s, d, "documents")
        .join(purged, col("doc_id") === col("doc_b"), "left_anti")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    },

    // ---- cross-corpus precedence dedup --------------------------------
    // Merging crawl versions: when the same content hash exists in both
    // corpora, the higher-priority corpus's row wins; within a corpus,
    // lowest doc_id. One union + one keep-first window on the hash — the
    // standard A11 keep-first shape applied across sources, so it scales
    // exactly like q_dedup_first.
    Q("q_union_dedup", Some(
      """WITH u AS (
        |  SELECT doc_id, md5(text) AS h, 0 AS pri FROM documents WHERE source IN ('src0','src1')
        |  UNION ALL
        |  SELECT doc_id, md5(text) AS h, 1 AS pri FROM documents WHERE source IN ('src2','src3'))
        | SELECT doc_id, h, pri FROM u
        | QUALIFY row_number() OVER (PARTITION BY h ORDER BY pri, doc_id) = 1""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      def corpus(srcs: Seq[String], pri: Int) = t(s, d, "documents")
        .filter(col("source").isin(srcs: _*))
        .select(col("doc_id"), md5(col("text").cast(BinaryType)).as("h"), lit(pri).as("pri"))
      val u = corpus(Seq("src0", "src1"), 0).union(corpus(Seq("src2", "src3"), 1))
      val w = Window.partitionBy(col("h")).orderBy(col("pri"), col("doc_id"))
      u.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
        .select(col("doc_id"), col("h"), col("pri"))
    },

    // ---- exact-moment correlation -------------------------------------
    // Pearson r per group without corr() — Spark's corr folds doubles in
    // partition order (nondeterministic bits). The five moments are
    // exact order-independent decimal sums; the correlation formula then
    // runs as ONE fixed IEEE op sequence per group, so both engines
    // agree bitwise (the q_outliers technique, two variables).
    // Moments convert decimal -> string -> double: DuckDB's direct
    // decimal->double cast computes double(unscaled)/double(10^s) — TWO
    // roundings, off-by-one-ulp once the unscaled value passes 2^53 (the
    // price-squared sum does) — while string->double is correctly
    // rounded in both engines.
    Q("q_correlation", Some(
      """WITH st AS (SELECT l_returnflag, count(*) AS n,
        |   CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sx,
        |   CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sy,
        |   CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sxy,
        |   CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sxx,
        |   CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS syy
        |   FROM lineitem GROUP BY 1)
        | SELECT l_returnflag, n,
        |   (n * sxy - sx * sy) / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS corr_qty_price
        | FROM st""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      val dec = DecimalType(18, 2)
      val x = col("l_quantity").cast(dec)
      val y = col("l_extendedprice").cast(dec)
      def d2(c: org.apache.spark.sql.Column) = c.cast(StringType).cast(DoubleType)
      val st = t(s, d, "lineitem").groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          d2(sum(x)).as("sx"), d2(sum(y)).as("sy"),
          d2(sum(x * y)).as("sxy"),
          d2(sum(x * x)).as("sxx"), d2(sum(y * y)).as("syy"))
      st.select(col("l_returnflag"), col("n"),
        ((col("n") * col("sxy") - col("sx") * col("sy")) /
          (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
            sqrt(col("n") * col("syy") - col("sy") * col("sy")))).as("corr_qty_price"))
    },

    // ---- ranking-function family (rank/dense_rank/percent_rank/cume) --
    // All four are functions of the VALUE order only (ties share ranks),
    // so they are deterministic without a tie-break; percent_rank and
    // cume_dist are single divisions of exact integers. One per-group
    // sort, same shape as every ranking window.
    Q("q_rank_stats", Some(
      """SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
        | rank() OVER w AS rnk, dense_rank() OVER w AS drnk,
        | percent_rank() OVER w AS prank, cume_dist() OVER w AS cdist
        | FROM lineitem WINDOW w AS (PARTITION BY l_returnflag ORDER BY l_quantity)""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      val w = Window.partitionBy(col("l_returnflag")).orderBy(col("l_quantity"))
      t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"), col("l_quantity"),
          rank().over(w).cast(LongType).as("rnk"), dense_rank().over(w).cast(LongType).as("drnk"),
          percent_rank().over(w).as("prank"), cume_dist().over(w).as("cdist"))
    },

    // ---- scalar string-function coverage ------------------------------
    // The per-row string toolkit (case, substring, replace, pad, concat)
    // — pure codegen projections, shuffle-free, ASCII semantics identical
    // across engines.
    Q("q_string_fns", Some(
      """SELECT p_partkey, upper(p_brand) AS brand_u, lower(p_type) AS type_l,
        | substr(p_name, 1, 8) AS name8, replace(p_type, ' ', '_') AS type_id,
        | length(p_name) AS name_len, lpad(CAST(p_size AS VARCHAR), 3, '0') AS size3,
        | p_brand || ':' || p_type AS brand_type
        | FROM part""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      t(s, d, "part").select(col("p_partkey"),
        upper(col("p_brand")).as("brand_u"), lower(col("p_type")).as("type_l"),
        substring(col("p_name"), 1, 8).as("name8"),
        regexp_replace(col("p_type"), " ", "_").as("type_id"),
        length(col("p_name")).cast(LongType).as("name_len"),
        lpad(col("p_size").cast(StringType), 3, "0").as("size3"),
        concat(col("p_brand"), lit(":"), col("p_type")).as("brand_type"))
    },

    // ---- calendar rollup (date_trunc + extract) -----------------------
    // Monthly order volume: date parts are TZ-free here (naive
    // timestamps; Spark session TZ pinned UTC), isodow avoids the
    // engines' differing dayofweek origins. One aggregation shuffle on
    // the month key.
    Q("q_date_rollup", Some(
      """SELECT epoch_us(date_trunc('month', o_orderdate)) AS month_us,
        | CAST(year(o_orderdate) AS BIGINT) AS yr, count(*) AS n_orders,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        | FROM orders GROUP BY 1, 2""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      val dec = DecimalType(18, 2)
      t(s, d, "orders")
        .groupBy(unix_micros(date_trunc("month", col("o_orderdate"))).as("month_us"),
          year(col("o_orderdate")).cast(LongType).as("yr"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(dec)).cast(DoubleType).as("revenue"))
    },

    // ---- incremental EXACT dedup against a persisted fingerprint index
    // The exact twin of q_incr_dedup and the commonest continuous-
    // ingestion op: a persisted (doc_id, fp) content-hash repo outlives
    // every job; each arriving batch fingerprints ONCE, finds exact-
    // content duplicates against (1) the index — batch side BROADCAST,
    // so the 100 TB index side never shuffles — and (2) itself (first-
    // occurrence-wins min window over the small batch only), keeps the
    // EARLIEST duplicate source per doc (min / min_by over the union of
    // candidates), then extends the index with the batch's SURVIVORS so
    // the next batch dedups against this one too. The index read is
    // checkpointed before the extend, so the emitted verdict is a
    // consistent pre-extend snapshot. The batch plants deterministic
    // duplicates — a re-crawl slice of the corpus and an echo slice of
    // itself under fresh ingest ids — so the verdict is non-trivial at
    // every SF and the oracle can replay the identical construction.
    Q("q_incr_dedup_exact", Some {
      val norm = "md5(array_to_string(regexp_split_to_array(trim(lower(text)), '\\s+'), ' '))"
      s"""WITH corp AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
         | batch AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
         |   UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 4 = 0
         |   UNION ALL SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 8 = 1),
         | fi AS (SELECT doc_id, $norm AS fp FROM corp),
         | fb AS (SELECT doc_id, $norm AS fp FROM batch),
         | fbm AS (SELECT doc_id, fp, min(doc_id) OVER (PARTITION BY fp) AS bmin FROM fb),
         | cand AS (
         |   SELECT b.doc_id AS batch_doc, i.doc_id AS cand, 'index' AS origin
         |     FROM fb b JOIN fi i ON b.fp = i.fp
         |   UNION ALL
         |   SELECT doc_id, bmin, 'batch' FROM fbm WHERE doc_id > bmin)
         | SELECT batch_doc, min(cand) AS dup_of, min_by(origin, cand) AS origin
         | FROM cand GROUP BY batch_doc""".stripMargin.replaceAll("\n", "")
    }) { (s, d) =>
      val docs = t(s, d, "documents")
      val index = new TableRepo(freshRoot("q_incr_dedup_exact"), s)
      incrExactSeed(index, docs.filter(col("doc_id") % 2 === 0))
      incrExactRound(index, docs.filter(col("doc_id") % 2 === 1).select(col("doc_id"), col("text"))
        .union(docs.filter(col("doc_id") % 4 === 0)
          .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
        .union(docs.filter(col("doc_id") % 8 === 1)
          .select((col("doc_id") + 2000000).as("doc_id"), col("text"))))
    },

    // ---- B1/A9: incremental exact dedup, footer-pruned probe ----------
    // Same verdict semantics as q_incr_dedup_exact, but the persisted
    // index is CLUSTERED by fingerprint and the probe goes through
    // readWhereIn — only index files whose footer fp-range intersects
    // the batch's fingerprints are scanned, so at a 100 TB index the
    // probe reads O(batch) files, not O(index). The oracle replays the
    // identical dedup SQL: pruning must never change the verdict.
    Q("q_incr_dedup_pruned", Some {
      val norm = "md5(array_to_string(regexp_split_to_array(trim(lower(text)), '\\s+'), ' '))"
      s"""WITH corp AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
         | batch AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 1
         |   UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 6 = 0
         |   UNION ALL SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 9 = 1),
         | fi AS (SELECT doc_id, $norm AS fp FROM corp),
         | fb AS (SELECT doc_id, $norm AS fp FROM batch),
         | fbm AS (SELECT doc_id, fp, min(doc_id) OVER (PARTITION BY fp) AS bmin FROM fb),
         | cand AS (
         |   SELECT b.doc_id AS batch_doc, i.doc_id AS cand, 'index' AS origin
         |     FROM fb b JOIN fi i ON b.fp = i.fp
         |   UNION ALL
         |   SELECT doc_id, bmin, 'batch' FROM fbm WHERE doc_id > bmin)
         | SELECT batch_doc, min(cand) AS dup_of, min_by(origin, cand) AS origin
         | FROM cand GROUP BY batch_doc""".stripMargin.replaceAll("\n", "")
    }) { (s, d) =>
      val docs = t(s, d, "documents")
      val index = new TableRepo(freshRoot("q_incr_dedup_pruned"), s,
        maxRecordsPerFile = 2000, clusterCols = Seq("fp"))
      incrExactSeed(index, docs.filter(col("doc_id") % 3 === 0))
      incrExactRoundPruned(index, docs.filter(col("doc_id") % 3 === 1)
        .select(col("doc_id"), col("text"))
        .union(docs.filter(col("doc_id") % 6 === 0)
          .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
        .union(docs.filter(col("doc_id") % 9 === 1)
          .select((col("doc_id") + 2000000).as("doc_id"), col("text"))))
    },

    // ---- Z-order clustered layout + 2-D box pruning -------------------
    // The lakehouse data-skipping lever (Delta OPTIMIZE ZORDER BY,
    // Iceberg sort orders): rows are written sorted by the Morton
    // interleave of (user_id, v_bin), so every rolled file covers a
    // compact 2-D bounding box and the parquet footer min/max on EITHER
    // column is selective. The box predicate then prunes at file, row-
    // group, and page granularity before a data page of a non-matching
    // region is read; ZOrderPruneSpec asserts the footer boxes really do
    // exclude most files — and that a lexicographic layout cannot skip
    // on the trailing dimension. The oracle checks the read path end to
    // end: clustering must never change query results.
    Q("q_zorder_prune", Some(
      """SELECT event_id, user_id, CAST(floor(value) AS BIGINT) AS v_bin, event_type
        | FROM events
        | WHERE user_id BETWEEN 3 AND 9 AND CAST(floor(value) AS BIGINT) BETWEEN 20 AND 200""".stripMargin.replaceAll("\n", "")
    )) { (s, d) =>
      val ev = t(s, d, "events").select(col("event_id"), col("user_id"),
        floor(col("value")).cast(LongType).as("v_bin"), col("event_type"))
      val repo = new TableRepo(freshRoot("q_zorder_prune"), s,
        maxRecordsPerFile = 2500, zOrderCols = Seq("user_id", "v_bin"))
      repo.extend(ev)
      repo.getFullDf
        .filter(col("user_id").between(3, 9) && col("v_bin").between(20, 200))
        .select(col("event_id"), col("user_id"), col("v_bin"), col("event_type"))
    }
  )

  /** q_profile's body, parameterized on the distinct-count strategy:
    * `approx = false` (the oracle mode, and the registry entry) plans the
    * multi-distinct aggregate as one Expand(×columns) pass — exact, the
    * right answer at verification scale; `approx = true` is the 100 TB
    * drop-in: `approx_count_distinct` (HyperLogLog++ at rsd 0.02 — the
    * default 0.05 measured 6.7% on one sf0.1 column, outside the 5%
    * contract; 0.02 costs a ~4 KB sketch and lands ~2%) keeps the
    * profile to ONE scan with NO Expand — the shuffle carries fixed-size
    * sketches instead of (group, value) pairs per column, so profile
    * cost stops scaling with per-column cardinality. Null and row
    * counts are exact in both modes; only n_distinct trades.
    * `ProfileApproxSpec` pins the trade: relative error < 5% per column
    * against the exact mode at sf0.1.
    */
  def profile(s: SparkSession, d: String, approx: Boolean = false): DataFrame = {
    val cols = Seq("event_id", "ts_us", "user_id", "event_type", "value", "props")
    val e = eventsUs(s, d).select(col("event_id"), col("ts_us"), col("user_id"),
      col("event_type"), col("value"), col("props"))
    val aggCols = Seq(count(lit(1)).as("n_rows")) ++ cols.flatMap { c =>
      val nd = if (approx) approx_count_distinct(col(c), 0.02) else countDistinct(col(c))
      Seq(sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nn_$c"), nd.as(s"nd_$c"))
    }
    val stackArgs = cols.zipWithIndex
      .map { case (c, i) => s"CAST($i AS BIGINT), '$c', n_rows, nn_$c, nd_$c" }
      .mkString(", ")
    e.agg(aggCols.head, aggCols.tail: _*)
      .select(expr(s"stack(${cols.size}, $stackArgs) AS (ord, column_name, n_rows, n_nulls, n_distinct)"))
  }

  def all: Map[String, Fn] = registry.map(q => q.name -> q.fn).toMap
  def oracles: Map[String, String] = registry.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
