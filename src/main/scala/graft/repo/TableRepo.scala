package graft.repo

import java.net.URI

import scala.collection.mutable

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A partitioned-Parquet table repository — the Spark-native re-expression of
  * the reference's `TableRepo` (/root/reference/parquetranger/core.py:47-281).
  *
  * Layout policy (core.py:47-56):
  *   - `groupCols = Nil, maxRecordsPerFile = 0`  -> one unpartitioned dataset
  *   - `maxRecordsPerFile = N`                   -> files capped at N rows
  *   - `hashBucket = Some(...)`                  -> md5-bucket partition dirs
  *     (the reference's `HashPartitioner` as group_cols, core.py:25-44,62)
  *   - `groupCols = Seq(...)`                    -> Hive-style `col=val/` dirs
  *     (the reference's one-directory-per-group tree, core.py:358-372; Spark
  *     drops group cols from the files and re-materializes them on read,
  *     which is the reference's `drop_group_cols=True` mode, core.py:216-223)
  *   - `keepGroupCols = true`                    -> reference-DEFAULT parity
  *     (`drop_group_cols=False`, core.py:440-441): group columns stay in the
  *     leaf Parquet files so a foreign reader opening a single file sees
  *     them. Implemented by partitioning on typed helper copies
  *     (`__graft_grp_<col>__=val/` dirs) — partition pruning is unchanged,
  *     the helper columns never surface from any read API, and the data
  *     columns ride in the files untouched.
  *
  * The pandas row index (the reference's primary key, core.py:114-133)
  * becomes explicit `keyCols`; "RangeIndex means no key" becomes
  * `keyCols = Nil`.
  *
  * Schema behavior mirrors core.py:374-422: first write pins the schema
  * (sidecar `_graft_schema.json`, the analog of the `empty.meta` sentinel);
  * later writes are harmonized — pinned columns cast, missing columns
  * null-backfilled, unknown columns dropped (core.py:547-558). With
  * `allowSchemaExtension = true`, new columns widen the pinned schema and all
  * existing data is rewritten with null backfill (core.py:405-421).
  *
  * Scale notes: all mutation paths are single Spark jobs over DataFrames —
  * appends are plain file additions (no read-modify-write), upserts and
  * group replacements land new files for the affected partitions and then
  * retire the old ones ([[landThenRetire]]), and reads are one
  * partition-pruned, predicate-pushed Parquet scan. There is no
  * driver-side row materialization anywhere.
  */
class TableRepo(
    val rootPath: String,
    val spark: SparkSession,
    val groupCols: Seq[String] = Nil,
    val keyCols: Seq[String] = Nil,
    val maxRecordsPerFile: Long = 0L,
    val fixedSchema: Option[StructType] = None,
    val allowSchemaExtension: Boolean = false,
    val envParents: Map[String, String] = Map.empty,
    val hashBucket: Option[HashBucketLayout] = None,
    val keepGroupCols: Boolean = false,
    val clusterCols: Seq[String] = Nil,
    val zOrderCols: Seq[String] = Nil,
    val snapshotRetention: Int = 1
) {
  require(snapshotRetention >= 1, "snapshotRetention keeps at least the one grace version")
  require(zOrderCols.isEmpty || (zOrderCols.length >= 2 && zOrderCols.length <= 6),
    "zOrderCols interleaves 2 to 6 numeric columns (a signed 64/k-bit window per " +
      "dimension; beyond ~4 the resolution is usually too coarse to prune well)")
  require(zOrderCols.isEmpty || clusterCols.isEmpty,
    "zOrderCols and clusterCols are alternative clustering policies")

  private val name: String = new Path(rootPath).getName
  @volatile private var currentParent: Option[String] = None

  /** Synthetic partition column for [[hashBucket]] layout — named like the
    * reference's `HashPartitioner.key` (`__pqr-hash-{col}-{n}__`,
    * core.py:41-43) so the directory tree is recognizably a hash layout.
    */
  private val bucketColName: Option[String] =
    hashBucket.map(hb => s"__graft_hash_${hb.col}_${hb.numGroups}__")

  /** `keepGroupCols` partitions on helper COPIES of the group columns so the
    * originals stay in the leaf files (reference default, core.py:440-441).
    */
  private val grpHelpers: Seq[(String, String)] =
    if (keepGroupCols) groupCols.map(c => c -> s"__graft_grp_${c}__") else Nil

  /** Effective layout partitioning: user group cols (or their keep-mode
    * helpers) plus the hash bucket.
    */
  private def layoutCols: Seq[String] =
    (if (keepGroupCols) grpHelpers.map(_._2) else groupCols) ++ bucketColName

  /** Physical partition column answering for a user-facing column name. */
  private def physOf(c: String): String =
    grpHelpers.collectFirst { case (o, h) if o == c => h }.getOrElse(c)

  /** Helper partition columns that must never surface from a read. */
  private def helperCols: Seq[String] = grpHelpers.map(_._2) ++ bucketColName

  /** Materialize the derived layout columns — the bucket (a pure function
    * of the source column) and the keep-mode group helpers (copies) — where
    * `df` doesn't carry them yet.
    */
  private def withLayout(df: DataFrame): DataFrame = {
    val withHelpers = grpHelpers.foldLeft(df) { case (d, (c, h)) =>
      if (d.columns.contains(h)) d else d.withColumn(h, col(c))
    }
    (hashBucket, bucketColName) match {
      case (Some(hb), Some(b)) if !withHelpers.columns.contains(b) =>
        withHelpers.withColumn(b, HashBucket.bucketStr(col(hb.col), hb.numGroups))
      case _ => withHelpers
    }
  }

  /** Co-locate each bucket into one write task. Without this, every input
    * partition opens a file in every bucket dir it touches — k tasks × n
    * buckets small files per append (measured 7x slower at 32 tasks × 16
    * buckets). One shuffle on the bucket column caps it at one file per
    * bucket per append.
    */
  private def routeToBuckets(df: DataFrame): DataFrame =
    bucketColName.map(b => df.repartition(col(b))).getOrElse(df)

  /** Route a SMALL grouped append to its partition dirs. The write
    * otherwise runs at the input's partitioning, and a small batch is
    * ONE task writing every dir's contract-sized files serially — the
    * parquet writer costs ~10 ms per file open/close, so a seed append
    * that rolls ~75 files (q_upsert_pruned_grouped at sf0.1) spent
    * ~0.9 s of a 1.1 s write job on one core. One exchange keyed by the
    * layout cols caps it at one task per dir (the same co-location
    * rationale as [[routeToBuckets]]). Explicit-N so AQE cannot coalesce
    * the tiny exchange back into one task. LARGE batches — not
    * [[graft.Sizing.isSmallPlan]]; UNKNOWN size counts as large — keep the
    * current shape, where every input task writes the dirs it touches:
    * collapsing a real append to one task per low-cardinality group
    * value would be the opposite trade (buckets route unconditionally
    * above because the bucket count scales by design; group cardinality
    * does not).
    */
  private def routeToGroups(df: DataFrame): DataFrame =
    // only when a sizing contract forces file ROLLS: without
    // maxRecordsPerFile a small batch writes one file per dir however it
    // is partitioned, and the exchange is pure cost (measured +35% on
    // q_partition_prune before this guard)
    if (bucketColName.nonEmpty || layoutCols.isEmpty || maxRecordsPerFile <= 0) df
    else if (graft.Sizing.isSmallPlan(df))
      df.repartition(spark.sparkContext.defaultParallelism, layoutCols.map(col): _*)
    else df

  /** Cluster rows at rest so Parquet row-group/file min-max statistics
    * become selective — the lakehouse data-skipping lever (zorder-lite).
    * Without layout dirs, a range repartition gives files DISJOINT
    * `clusterCols` ranges; with dirs, rows are sorted within each write
    * task so every rolled file covers a narrow slice. A filtered read then
    * skips whole row groups via the pushed predicate against footer stats
    * — at 100 TB, the difference between scanning a partition and scanning
    * the few files whose range matches.
    */
  private val zColName = "__graft_z__"

  /** Attach the clustering sort key: the cluster columns themselves, or —
    * for z-order — the Morton interleave of all k dimensions, so files
    * cover compact k-D boxes (a lexicographic sort clusters only the
    * leading column). The code column exists only inside the write plan;
    * dropped before the write, it never reaches disk.
    */
  private def clusterKeyed(df: DataFrame): (DataFrame, Seq[String]) =
    if (zOrderCols.nonEmpty)
      (df.withColumn(zColName, ZOrder.codeK(zOrderCols.map(col))), Seq(zColName))
    else (df, clusterCols)

  private def clustered(df: DataFrame): DataFrame =
    if (clusterCols.isEmpty && zOrderCols.isEmpty) df
    else {
      val (keyed, sortCols) = clusterKeyed(df)
      val base =
        if (layoutCols.isEmpty) keyed.repartitionByRange(sortCols.map(col): _*) else keyed
      base.sortWithinPartitions((layoutCols ++ sortCols).map(col): _*).drop(zColName)
    }

  /** Active root, honoring the selected environment (core.py:196-201). */
  def root: String = currentParent.map(p => s"$p/$name").getOrElse(rootPath)
  // ------------------------------------------------- snapshot versions
  //
  // Full-rewrite operations (replaceAll, compact, embedMetadata, schema
  // backfill) are SNAPSHOT-ISOLATED: each writes a fresh committed version
  // directory (`data-v<N>` + `_GRAFT_COMMIT` marker — our own marker, so a cluster
  // that disables the committer's _SUCCESS files changes nothing) and
  // readers resolve the highest committed version at PLAN time. The
  // superseded version stays on disk as a GRACE version until the next
  // full rewrite, so a reader planned before a swap keeps scanning intact
  // files — the delete-then-rename race this replaces would yank them mid
  // scan. Contract: a scan must finish within one full-rewrite cycle
  // (versions older than the grace one are GC'd at the next commit).
  //
  // WRITER coordination (the reference serializes every write under named
  // per-table locks, core.py:18,97,111):
  //   - Intra-process: every mutating op holds the per-root JVM monitor
  //     ([[TableRepo.monitorFor]]) — an `extend` can never interleave with
  //     a `compact`/`replaceAll` version swap in the same process, so an
  //     append cannot land its files in a superseded version dir (which
  //     the next commit would silently GC — lost rows).
  //   - Cross-process: version numbers are claimed atomically (exclusive
  //     create of a `_graft_claim-v<N>` sibling marker carrying a holder
  //     id, heartbeat-stamped for the whole attempt), so two racing
  //     full rewrites land in DIFFERENT dirs and the HIGHEST-claimed
  //     version wins (readers resolve the max committed number — a rewrite
  //     that claimed a lower number but committed later is superseded, and
  //     commitNewVersion warns when that happens) — no writer ever
  //     clobbers another's in-flight directory. A CRASHED claimant's
  //     orphan dir (a full-size table copy) is auto-reclaimed once its
  //     heartbeat is stale (sweepExpiredClaims, at every later commit):
  //     commit and expiry are two atomic renames of the same claim file,
  //     so exactly one wins and a reclaimed dir can never be blessed. In-place
  //     writes (appends, group replacements, partition and file-pruned
  //     upserts) run their job in a private staging dir, land the files by
  //     rename and re-resolve the current version afterwards
  //     ([[landThenRetire]]): if a concurrent external rewrite superseded
  //     their target, they end in a PROVEN carry or FAIL LOUDLY with a typed
  //     ConcurrentModificationException, never silent loss. CONTENT-PRESERVING
  //     rewrites (compact, embedMetadata, schema backfill) are additionally
  //     source-guarded: their content plan lists AFTER the version
  //     claim, a re-list before the commit marker aborts-and-retries
  //     when an external appender landed files mid-rewrite, and a
  //     POST-marker verify revokes a commit the pre-marker re-list
  //     raced — an append that already returned success is never
  //     silently dropped by a racing rewrite, with NO residual gap
  //     (the proof is in commitNewVersion's doc; GuardedRewriteSpec
  //     drives the former gap deterministically, MultiProcessSpec
  //     hammers it from a real second JVM). Lost-update-prone UPSERTS
  //     are serialized by an ENFORCED writer lease (exclusive create +
  //     heartbeat + ttl takeover, [[Lease]]) — a second process fails
  //     loudly instead of silently dropping the other's update; the
  //     reference's lock scope was one process (core.py:18), so this
  //     exceeds parity. See SCALE.md "Cross-process contracts".
  //
  // A plain `data` dir (pre-versioning layout, or a repo that has only
  // ever been appended to) acts as version -1.
  private val VersionRe = "data-v(\\d+)".r

  /** Run `body` holding this repo's intra-process write monitor. Public
    * mutating ops wrap themselves in this; JVM monitors are reentrant, so
    * ops composing other ops (schema backfill inside extend) are safe.
    */
  private def withWriteLock[T](body: => T): T =
    TableRepo.monitorFor(root).synchronized(body)

  private def committedVersions: Seq[Int] = {
    val rp = new Path(root)
    if (!fs.exists(rp)) return Nil
    fs.listStatus(rp).toSeq.filter(_.isDirectory)
      .flatMap(s => s.getPath.getName match {
        case VersionRe(n) => Some(n.toInt)
        case _            => None
      })
      .filter(v => fs.exists(new Path(s"$root/data-v$v/_GRAFT_COMMIT")))
      .sorted
  }

  /** Write a full replacement into the next version dir via `write`, mark
    * it committed, then GC everything older than the version it
    * supersedes (one grace version for in-flight readers).
    *
    * The version number is CLAIMED atomically first — an exclusive create
    * of a `_graft_claim-v<N>` sibling marker (inside the dir itself would
    * not survive the writer's own mode("overwrite") delete). A concurrent
    * rewrite that claimed the same number forces this one to the next free
    * slot, so neither deletes the other's in-flight directory and a commit
    * marker can never bless a half-clobbered dir. A crashed claimant
    * leaves a claim without a commit — readers never see it (no marker) —
    * and once its heartbeat is stale past [[TableRepo.ClaimTtlMs]] the
    * next commit reclaims the orphan dir and retires the number with a
    * `.swept` tombstone ([[sweepExpiredClaims]]); `purge()` removes the
    * tombstones with the table.
    */
  /** With `guardSource = true` (content-preserving rewrites: compact,
    * embedMetadata, schema backfill) the commit is guarded against
    * CROSS-PROCESS appenders: the current version's file-set snapshot is taken right
    * after the claim, `write` must list its source AFTER that snapshot
    * (its plan is constructed inside the callback), and the set is
    * re-listed TWICE — right before the commit marker (cheap early
    * abort, invisible to readers) and again right AFTER it. Files landed
    * since the snapshot (a concurrent extend in another process;
    * same-process writers are serialized by the write monitor) ABORT the
    * attempt, which deletes its marker/target/claim and retries with a
    * fresh listing. Without the guard, every file an external appender
    * landed during the rewrite job was silently absent from the
    * committed version even though the append had already reported
    * success — a silent-loss window as wide as the rewrite job.
    *
    * The POST-marker re-list is what closes the former re-list→marker
    * gap COMPLETELY: an appender only reports success if its version
    * check passed, which requires the commit marker absent at check
    * time; its files are visible strictly before that check (the write
    * job has committed), so they exist strictly before the marker — and
    * a listing taken after the marker must see them. Every concurrent
    * append therefore either (a) is already in the snapshot and carried
    * forward, (b) aborts the rewrite (pre- or post-marker detection), or
    * (c) observes the committed marker and fails LOUDLY with a retry
    * contract. No interleaving loses rows silently (deterministically
    * driven by the gap hook in GuardedRewriteSpec; hammered cross-JVM in
    * MultiProcessSpec). The abort-after-marker path can yank a
    * just-committed version from a reader that planned against it inside
    * that ~ms window — a loud, retryable scan failure, the price of the
    * closure.
    *
    * The snapshot compares BOTH the raw file set and the reader-visible
    * one: an exactly-once batch's landed prefix is invisible while its
    * manifest pends, so raw-set changes catch its files the moment they
    * land and visible-set changes catch its manifest-delete commit —
    * whichever side of the protocol the rewrite overlaps.
    */
  private def commitNewVersion(write: String => Unit, guardSource: Boolean = false): Unit = {
    var attempt = 0
    var committed = false
    while (!committed) {
      attempt += 1
      if (attempt > TableRepo.MaxGuardedRewriteAttempts)
        throw new java.util.ConcurrentModificationException(
          s"content-preserving rewrite under $root aborted ${attempt - 1} times: external " +
            "appenders keep landing files mid-rewrite; quiesce them or run maintenance " +
            "from the single writer that owns the table")
      committed = commitNewVersionOnce(write, guardSource)
    }
  }

  /** One [[commitNewVersion]] attempt; false = guarded abort (retry). */
  private def commitNewVersionOnce(write: String => Unit, guardSource: Boolean): Boolean = {
    val prior = committedVersions
    // SEAL the outgoing current dir's reader schema before the swap: a
    // time-travel read of the grace version must see the schema its data
    // was written under, not whatever the sidecar later evolves to. The
    // sidecar still holds that schema here — the evolution backfill pins
    // the widened schema only AFTER its rewrite commits (resolveSchema),
    // so a pre-evolution snapshot is sealed pre-evolution (the
    // reference's contract, tests/test_diff_cols.py:15-30). A seal left
    // by a crashed rewrite is overwritten at the next successful commit
    // and never read while the dir is still current.
    sealSchema(dataPath)
    fs.mkdirs(new Path(root))
    var next = prior.lastOption.getOrElse(-1) + 1
    // The claim carries a holder id and is heartbeat-stamped for the whole
    // attempt, so a LIVE rewrite (however slow) is never mistaken for a
    // crashed one; a crashed holder's claim goes stale after ClaimTtlMs
    // and a later writer reclaims its orphan dir (sweepExpiredClaims).
    // The COMMIT is an atomic rename of the claim file INTO the commit
    // marker; expiry is an atomic rename of the same file to a `.swept`
    // tombstone — one source, two destinations, exactly one winner — so a
    // swept dir can never be blessed and a blessed dir can never be swept.
    // The tombstone is permanent (purge removes it), so an expired number
    // is never reused: a suspended holder that wakes finds its claim gone
    // (or the tombstone present) and aborts LOUDLY before the bless point.
    val claimId = s"${TableRepo.ProcessToken}:${java.util.UUID.randomUUID()}"
    TableRepo.testClaimHook.foreach { h =>
      // spec seam: run inside the listing→claim window (another process
      // commits a version between our `prior` read and the claim loop)
      TableRepo.testClaimHook = None
      h()
    }
    var claimed = false
    while (!claimed) {
      // a `.swept` tombstone retires its number forever (reclaiming it
      // could race the expired claimant's own write job, still in flight)
      if (fs.exists(claimSweptPath(next))) next += 1
      else if (Lease.tryCreateExclusive(fs, claimPath(next), claimId)) {
        // The bless rename REMOVES the winning claim, so a number
        // committed between our `prior` listing and this create is
        // re-claimable — and blindly proceeding would `fs.delete` a LIVE
        // committed version (the old protocol's persistent claim file
        // blocked exactly this). Holding the claim makes the re-check
        // race-free: blessing `next` requires renaming its only claim
        // file — ours — so no new marker can appear after this check.
        if (fs.exists(new Path(s"$root/data-v$next/_GRAFT_COMMIT"))) {
          fs.delete(claimPath(next), false)
          next += 1
        } else claimed = true
      }
      else next += 1 // confirmed collision; FS faults propagate out of the create
    }
    val beat = new FileHeartbeat(fs, claimPath(next), claimId,
      TableRepo.ClaimTtlMs, s"graft-claim-heartbeat-v$next")
    try {
      // reclaim OTHER writers' crash leftovers while we are here: a crashed
      // full rewrite's orphan dir is a full-size table copy, and waiting
      // for purge() means carrying ~2x storage at scale
      sweepExpiredClaims(excludeVersion = next,
        committedMax = prior.lastOption.getOrElse(-1))
      val target = s"$root/data-v$next"
      fs.delete(new Path(target), true) // leftover of our own failed predecessor job
      // the guard snapshot comes AFTER the claim, and `write`'s source plan
      // is constructed after this line — so its content is a superset of
      // this set, and any file missing from it is caught by the re-lists.
      // `oldData` is pinned here: after the commit marker lands, dataPath
      // resolves to `target`, and the post-marker verify must re-list the
      // SOURCE dir, not the new version.
      val oldData = dataPath
      val preFiles = if (guardSource) guardSnapshot(oldData) else null
      def abortAttempt(when: String): Boolean = {
        // order matters: the heartbeat first (a stamp must not recreate the
        // claim we are about to delete), then the marker (readers fall back
        // to the intact old version), the half-blessed dir, and the claim
        beat.stop()
        fs.delete(new Path(s"$target/_GRAFT_COMMIT"), false)
        fs.delete(new Path(target), true)
        fs.delete(claimPath(next), false)
        org.slf4j.LoggerFactory.getLogger(classOf[TableRepo]).warn(
          s"full rewrite of $root aborted ($when); retrying")
        false
      }
      try write(target)
      catch {
        case scala.util.control.NonFatal(e) =>
          // our claim file GONE (renamed to a tombstone — possibly already
          // GC'd) means a sweeper reclaimed this attempt mid-write (we
          // stalled past the claim ttl and the dir was deleted under the
          // job) — the same event the bless point handles; retry at a
          // fresh number instead of leaking the raw job error through the
          // typed-failure contract. Nothing else removes a held claim.
          val reclaimed =
            try fs.exists(claimSweptPath(next)) || !fs.exists(claimPath(next))
            catch { case scala.util.control.NonFatal(_) => false }
          abortAttempt(s"write job failed: ${e.getMessage}")
          if (reclaimed) {
            TableRepo.claimExpiredAborts.incrementAndGet()
            return false
          }
          // genuine job failure: nothing is blessed — our claim and dir
          // were cleaned eagerly instead of waiting for a later sweep
          throw e
      }
      if (guardSource && guardSnapshot(oldData) != preFiles) {
        // an external appender landed (or a crashed batch's replay surfaced)
        // files mid-rewrite: committing would silently drop them — abort
        // this attempt and retry against a fresh listing
        TableRepo.guardedAbortsPreCommit.incrementAndGet()
        return abortAttempt("pre-marker re-list: the source file set changed during " +
          "the rewrite job (external appender); a fresh listing will carry its files")
      }
      if (guardSource) TableRepo.testGapHook.foreach { h =>
        // spec seam: land a file inside the exact former loss window — the
        // instants between the pre-marker re-list and the commit marker
        TableRepo.testGapHook = None
        h()
      }
      if (guardSource) {
        // CARRIED manifest: the exact source file set this rewrite's
        // content includes (the snapshot, verified unchanged by both
        // re-lists). A concurrent appender whose post-job check finds
        // itself superseded proves its rows were carried by comparing the
        // old dir's listing against this set — without it, a carried
        // append would falsely report "rows lost, retry" and the
        // documented blind retry would DUPLICATE the rows.
        val out = fs.create(new Path(s"$target/_GRAFT_CARRIED"), true)
        try out.write(preFiles._1.toSeq.sorted.mkString("\n").getBytes("UTF-8"))
        finally out.close()
      }
      // BLESS = rename the claim into the commit marker. Stop the heartbeat
      // first (stop shares the stamp monitor, so after it returns no stamp
      // can recreate the claim), then decide: a `.swept` tombstone, or a
      // failed rename (claim gone), means this attempt stalled past the
      // claim ttl and a sweeper reclaimed it — the dir may be deleted, so
      // blessing is forbidden; abort and retry at a fresh number. The
      // tombstone check precedes the rename: a sweeper renames BEFORE it
      // deletes the dir, so a rename that wins against an un-tombstoned
      // claim proves no sweeper has touched (or will ever touch) this dir.
      beat.stop()
      if (fs.exists(claimSweptPath(next)) ||
          !fs.rename(claimPath(next), new Path(s"$target/_GRAFT_COMMIT"))) {
        TableRepo.claimExpiredAborts.incrementAndGet()
        return abortAttempt("claim expired: this rewrite stalled past the claim ttl " +
          s"(${TableRepo.ClaimTtlMs} ms) and a concurrent writer reclaimed it")
      }
      if (guardSource && guardSnapshot(oldData) != preFiles) {
        // POST-COMMIT VERIFY: any append that PASSED its version check did
        // so before this marker existed, with its files already on disk —
        // so this re-list provably sees them. Un-commit and retry; the
        // appended rows stay visible in the still-current old version.
        TableRepo.guardedAbortsPostCommit.incrementAndGet()
        return abortAttempt("post-marker verify: the source file set changed during " +
          "the rewrite job (external appender); a fresh listing will carry its files")
      }
      // Readers resolve the HIGHEST committed version: if a concurrent
      // rewrite claimed a higher number and committed before us, our rewrite
      // is superseded on arrival. Make the discarded rewrite observable.
      committedVersions.lastOption.filter(_ > next).foreach { winner =>
        org.slf4j.LoggerFactory.getLogger(classOf[TableRepo]).warn(
          s"full rewrite committed as data-v$next is already superseded by " +
            s"data-v$winner (highest-claimed version wins)")
      }
      // GC: keep the newest `snapshotRetention` superseded snapshots (the
      // grace versions time travel can reach); the legacy plain `data` dir
      // acts as the oldest link of the chain (version -1)
      dropOldSnapshots(prior, snapshotRetention)
      true
    } finally beat.stop() // idempotent; covers every exit of the attempt
  }

  private def claimPath(v: Int) = new Path(s"$root/_graft_claim-v$v")
  private def claimSweptPath(v: Int) = new Path(s"$root/_graft_claim-v$v.swept")

  /** Reclaim crash leftovers of the version-claim protocol: a bare
    * `_graft_claim-v<N>` (no commit marker in its dir) whose heartbeat is
    * stale past [[TableRepo.ClaimTtlMs]] belongs to a DEAD rewrite — a
    * live one re-stamps every ttl/4 — and its `data-v<N>` dir is an
    * orphan full-size table copy. Expiry renames the claim to a permanent
    * `.swept` tombstone (the atomic decider against the holder's own
    * commit rename — see commitNewVersionOnce) and only the rename WINNER
    * deletes the dir, so a racing sweeper, a racing committer, and a
    * suspended-but-alive holder all resolve safely: the holder finds the
    * tombstone at its bless point and aborts loudly.
    *
    * Also converges the secondary crash shape: a tombstoned number whose
    * dir re-appeared (the expired holder's write job was still running
    * when the dir was deleted) is re-deleted once stale — that dir can
    * never be blessed, its claim is tombstoned.
    *
    * Tombstones are GC'd once fully spent: a number at or below
    * `committedMax` (the caller's committed head) is unreachable by the
    * bump loop (it starts above the head), and with no bare claim left no
    * suspended holder can ever bless it — so the tombstone guards nothing
    * and would only add FS round trips to every later sweep.
    *
    * Runs at every full-rewrite commit and from [[vacuum]]; one root
    * listing per call. Returns the number of reclaimed versions.
    */
  private[repo] def sweepExpiredClaims(excludeVersion: Int = -1,
      committedMax: Int = -1): Int = {
    val rp = new Path(root)
    if (!fs.exists(rp)) return 0
    val now = System.currentTimeMillis()
    val ttl = TableRepo.ClaimTtlMs
    var swept = 0
    val log = org.slf4j.LoggerFactory.getLogger(classOf[TableRepo])
    fs.listStatus(rp).foreach { st =>
      val name = st.getPath.getName
      name match {
        case TableRepo.ClaimRe(n) if !st.isDirectory =>
          val v = n.toInt
          val dir = new Path(s"$root/data-v$v")
          val committed = fs.exists(new Path(s"$root/data-v$v/_GRAFT_COMMIT"))
          val age = now - st.getModificationTime
          if (v != excludeVersion && !committed && age > ttl) {
            val tomb = claimSweptPath(v)
            // a tombstone already present means an earlier sweep won and
            // this bare claim is a heartbeat's dying recreation — drop it;
            // the dir branch below handles any leftovers
            val won =
              if (fs.exists(tomb)) { fs.delete(claimPath(v), false); false }
              else fs.rename(claimPath(v), tomb)
            if (won) {
              fs.delete(dir, true)
              swept += 1
              TableRepo.claimsExpired.incrementAndGet()
              log.warn(s"expired crashed rewrite claim _graft_claim-v$v under $root " +
                s"(heartbeat $age ms old > ttl $ttl ms): orphan data-v$v reclaimed; " +
                "the version number stays retired (.swept tombstone)")
            }
          }
        case TableRepo.SweptRe(n) if !st.isDirectory =>
          val v = n.toInt
          val dir = new Path(s"$root/data-v$v")
          if (v != excludeVersion && !fs.exists(claimPath(v)) &&
              !fs.exists(new Path(s"$root/data-v$v/_GRAFT_COMMIT"))) {
            val dirStat =
              try Some(fs.getFileStatus(dir))
              catch { case _: java.io.FileNotFoundException => None }
            dirStat match {
              case Some(ds) if now - ds.getModificationTime > ttl =>
                fs.delete(dir, true): Unit
                log.warn(s"re-reclaimed data-v$v under $root: its number is tombstoned " +
                  "but the expired holder's write job re-created the dir before dying")
              case None if v <= committedMax =>
                // GC the tombstone: the bump loop starts above the
                // committed head, so this number is unreachable for reuse;
                // with no bare claim left, no suspended holder can ever
                // bless it (its bless rename has no source) — the
                // tombstone has nothing left to guard, and keeping it
                // costs this scan 3 FS round trips at EVERY later commit
                fs.delete(claimSweptPath(v), false): Unit
              case _ => ()
            }
          }
        case TableRepo.DataDirRe(n) if st.isDirectory =>
          // the last crash shape: an UNCLAIMED, UNTOMBSTONED, uncommitted
          // version dir at or below the committed head — an expired
          // holder's write job re-created it after its tombstone was GC'd
          // (tombstone GC requires the dir absent, so only a suspended
          // job's later re-materialization produces this). Provably dead:
          // blessing needs a claim, and a claim at or below the head is
          // deleted by its own marker re-check before any write — so once
          // stale, the dir is reclaimable garbage.
          val v = n.toInt
          if (v != excludeVersion && v <= committedMax &&
              !fs.exists(new Path(st.getPath, "_GRAFT_COMMIT")) &&
              !fs.exists(claimPath(v)) && !fs.exists(claimSweptPath(v)) &&
              now - st.getModificationTime > ttl) {
            fs.delete(st.getPath, true): Unit
            log.warn(s"reclaimed unclaimed orphan data-v$v under $root: no claim, no " +
              "tombstone, no commit marker, at or below the committed head — a dead " +
              "rewrite's write job re-created it after its tombstone was collected")
          }
        case g if Lease.isGraveName(g) && !st.isDirectory =>
          // a crash between the lease takeover/release rename and its
          // follow-up delete strands `.expired-*`/`.released-*` grave
          // copies; only purge() used to remove them, so crashy writers
          // accumulated them forever. The healthy paths delete graves
          // within ms — anything older than the generous per-file floor
          // (10x the ttl the copy was made under, encoded in the name;
          // never below GraveSweepMs) is provably a crash leftover (a
          // restorable FRESH copy is at most its caller's ttl old).
          if (now - st.getModificationTime > Lease.graveSweepThresholdMs(g)) {
            fs.delete(st.getPath, false): Unit
            log.warn(s"reclaimed stale lease grave file $g under $root (crash leftover)")
          }
        case _ => ()
      }
    }
    swept
  }

  /** The guard's view of `dir`: (raw parquet listing, reader-visible
    * subset). The visible subset is the exact set a content-preserving
    * rewrite must carry forward; the raw set additionally catches an
    * exactly-once batch's landed-but-still-pending prefix the moment it
    * hits disk (invisible to readers, so the visible set alone would
    * miss a batch whose manifest commits only after the rewrite).
    */
  private def guardSnapshot(dir: String): (Set[String], Set[String]) = {
    // the recursive walk can race a CONCURRENT writer's committer (its
    // `_temporary` task files vanish between list and stat, and local
    // FileSystem throws FileNotFound mid-iteration) — exactly the
    // situation the guard exists for; retry until a walk completes
    // (bounded: each retry means the set changed, which the guard's
    // compare handles anyway)
    var attempt = 0
    while (true) {
      attempt += 1
      try {
        val raw = listParquetFiles(dir).toSet
        val inv = pendingDeleteSet() ++ pendingLandedFiles(dir)
        return (raw, raw.diff(inv))
      } catch {
        case scala.util.control.NonFatal(e) =>
          if (attempt >= 10) throw e
          Thread.sleep(50L * attempt)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Delete every superseded snapshot older than the newest `keep` of
    * `priorVersions` (the plain `data` dir counted as the oldest).
    */
  private def dropOldSnapshots(priorVersions: Seq[Int], keep: Int): Unit = {
    // never delete a version dir a pending exactly-once manifest still
    // pins: the crashed batch's landed files live ONLY there until the
    // replay moves them forward — deleting it would silently land a
    // partial batch. The dir is GC'd at a later commit, once the replay
    // has consumed the manifest.
    val pinned = pendingLedgerManifests().map(_._1).toSet
    val chain: Seq[Int] =
      (if (fs.exists(new Path(s"$root/data"))) Seq(-1) else Nil) ++ priorVersions
    chain.dropRight(keep).foreach { v =>
      val dir = if (v == -1) s"$root/data" else s"$root/data-v$v"
      if (pinned.contains(dir))
        org.slf4j.LoggerFactory.getLogger(classOf[TableRepo]).warn(
          s"keeping superseded $dir: a pending exactly-once manifest pins it " +
            "(crashed batch awaiting replay)")
      else if (v == -1) fs.delete(new Path(dir), true)
      else {
        fs.delete(new Path(dir), true)
        fs.delete(new Path(s"$root/_graft_claim-v$v"), false)
      }
    }
  }

  /** Trim time-travel history NOW: drop all but the newest `keepLast`
    * snapshots (current included in the count — the current version is
    * never deleted). The lakehouse VACUUM verb: reclaims superseded
    * version dirs that a `snapshotRetention` > 1 repo accumulates,
    * without waiting for the next full rewrite's GC. Readers planned
    * against the current version are untouched; time-travel reads of the
    * dropped versions fail loudly at `getDfAt`'s existence check.
    */
  def vacuum(keepLast: Int = 1): Unit = withWriteLock {
    require(keepLast >= 1, "vacuum keeps at least the current snapshot")
    // the chain passed down ends with the CURRENT version (or the plain
    // `data` dir when nothing is versioned), so keepLast >= 1 always
    // preserves the live table
    val versions = committedVersions
    dropOldSnapshots(versions, keepLast)
    // crashed rewrites' orphan dirs are reclaimed at every commit too;
    // vacuum lets an operator force the reclaim without writing
    sweepExpiredClaims(committedMax = versions.lastOption.getOrElse(-1))
    sweepAppendStaging()
  }

  private def dataPath: String =
    committedVersions.lastOption.map(v => s"$root/data-v$v").getOrElse(s"$root/data")
  private def schemaPath: String = s"$root/_graft_schema.json"
  private def metaPath: String = s"$root/_repo_meta.json"

  /** FileSystem handle for the active root. Hadoop's global cache makes
    * `FileSystem.get` correct but not free (URI parse + cache lock per
    * call, and this class calls `fs` on every metadata step) — one
    * volatile read serves the steady state; an env switch (new root
    * string) re-resolves.
    */
  @volatile private var fsCache: (String, FileSystem) = null
  private def fs: FileSystem = {
    val r = root
    val c = fsCache
    if (c != null && c._1 == r) c._2
    else {
      val f = FileSystem.get(URI.create(r), spark.sparkContext.hadoopConfiguration)
      fsCache = (r, f)
      f
    }
  }

  // ---------------------------------------------------------------- envs

  /** Switch to a named environment — same table name under a different
    * parent directory (core.py:196-201; tests/test_envs.py:6-47).
    *
    * CONCURRENCY CONTRACT: the switch mutates this handle's resolved root
    * in place (the reference's single-threaded semantics). It is NOT safe
    * concurrently with in-flight operations on the SAME instance — an op
    * resolves root/dataPath as it goes, under the monitor of the env
    * current at its entry, so a mid-op switch would make it straddle two
    * roots. Threads working different envs concurrently should each hold
    * their own TableRepo instance (monitors are keyed by resolved root,
    * shared process-wide, so per-env instances still serialize correctly
    * against each other).
    */
  def setEnv(env: String): Unit = {
    require(envParents.contains(env), s"unknown env '$env'")
    currentParent = Some(envParents(env))
  }

  def setEnvToDefault(): Unit = currentParent = None

  /** Context-managed environment switch (core.py:245-250). Same
    * concurrency contract as [[setEnv]]: per-instance, not thread-safe —
    * it saves and restores THIS handle's current env around `body`.
    */
  def envCtx[T](env: String)(body: => T): T = {
    val prev = currentParent
    setEnv(env)
    try body
    finally currentParent = prev
  }

  // ------------------------------------------------------------- schema

  /** Deep-nullable normalization. Spark's file sources force every read
    * column nullable (nested element/value nullability included), so a
    * pinned schema carrying `containsNull=false` — e.g. pinned from a
    * first extend whose in-memory frame had non-null array elements —
    * would make harmonize's cast unresolvable (array<float,false> cannot
    * be cast FROM array<float,true>). Normalizing at the pin choke point
    * makes the pin describe what a read can actually produce.
    */
  private def deepNullable(dt: DataType): DataType = dt match {
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = deepNullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(deepNullable(a.elementType), containsNull = true)
    case m: MapType =>
      MapType(deepNullable(m.keyType), deepNullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  private def deepNullable(st: StructType): StructType =
    deepNullable(st: DataType).asInstanceOf[StructType]

  /** Pinned schema: fixed > sidecar > none (core.py:388-404). Always
    * deep-nullable (see [[deepNullable]] — covers legacy sidecars too).
    *
    * The sidecar parse (JSON -> StructType + deep-nullable rewrite) sits
    * on every read/write hot path, several times per op — cached keyed
    * on the sidecar's (mtime, length), so steady state pays ONE
    * getFileStatus instead of open+read+parse, while a cross-process
    * schema widening (new sidecar bytes) still invalidates naturally.
    * Own-process pins invalidate explicitly ([[pinSchema]]).
    *
    * (mtime, length) alone has one hole: a FOREIGN overwrite with
    * equal-length bytes inside one mtime granule (second-granular on
    * NFS-style mounts) is invisible to the quick check — the cache would
    * serve the stale parse forever. The guard: a parse is only
    * quick-servable once it was taken comfortably AFTER the sidecar's
    * last write (mtime + one granule < parse time); until then every call
    * re-reads the tiny file. Any later foreign write then carries a
    * NEWER mtime than the cached one and invalidates normally.
    */
  @volatile private var schemaCache: (String, Long, Long, Long, StructType) = null
  def pinnedSchema: Option[StructType] =
    fixedSchema.map(deepNullable).orElse {
      val st =
        try Some(fs.getFileStatus(new Path(schemaPath)))
        catch { case _: java.io.FileNotFoundException => None }
      st.map { s =>
        val c = schemaCache
        if (c != null && c._1 == root && c._2 == s.getModificationTime &&
            c._3 == s.getLen && c._4 > s.getModificationTime + TableRepo.MtimeGranuleMs) c._5
        else {
          // the guard timestamp is taken BEFORE the read: a foreign
          // equal-length overwrite landing between read and stamp would
          // otherwise be cached as comfortably-fresh. Client-vs-server
          // clock skew shifts the comparison by the skew — a skewed-ahead
          // client re-opens the stale window only for writes within
          // (granule + skew) of the parse, and a skewed-behind client
          // merely re-reads the tiny sidecar until the mtime is older
          // than the skew (self-healing with time either way).
          val parseStart = System.currentTimeMillis()
          val in = fs.open(s.getPath)
          val parsed =
            try deepNullable(
              DataType.fromJson(new String(in.readAllBytes(), "UTF-8")).asInstanceOf[StructType])
            finally in.close()
          schemaCache = (root, s.getModificationTime, s.getLen, parseStart, parsed)
          parsed
        }
      }
    }

  private def pinSchema(st: StructType): Unit = {
    if (fixedSchema.isDefined) return
    val out = fs.create(new Path(schemaPath), true)
    try out.write(st.json.getBytes("UTF-8"))
    finally out.close()
    schemaCache = null // mtime granularity can hide a same-ms re-pin
  }

  /** Freeze the current reader schema inside `dir` (underscore-prefixed —
    * invisible to data scans). Written when the dir is superseded.
    */
  private def sealSchema(dir: String): Unit =
    pinnedSchema.foreach { p =>
      if (fs.exists(new Path(dir))) {
        val out = fs.create(new Path(s"$dir/_GRAFT_SCHEMA.json"), true)
        try out.write(p.json.getBytes("UTF-8"))
        finally out.close()
      }
    }

  /** The schema `dir` was sealed with, if any (absent on dirs superseded
    * before sealing existed, and on the live current dir).
    */
  private def sealedSchema(dir: String): Option[StructType] = {
    val p = new Path(s"$dir/_GRAFT_SCHEMA.json")
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(deepNullable(
        DataType.fromJson(new String(in.readAllBytes(), "UTF-8")).asInstanceOf[StructType]))
      finally in.close()
    }
  }

  /** Project `df` onto `target`: cast pinned columns, null-backfill missing
    * ones, drop unknown ones (core.py:547-558; tests/test_diff_cols.py:33-58).
    */
  private def harmonize(df: DataFrame, target: StructType): DataFrame = {
    val have = df.columns.toSet
    df.select(target.fields.toIndexedSeq.map { f =>
      if (have.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)
  }

  /** Resolve the schema for an incoming batch: pin on first write; widen +
    * rewrite history when extension is allowed (core.py:374-422).
    */
  private def resolveSchema(df: DataFrame): StructType =
    pinnedSchema match {
      case None =>
        pinSchema(df.schema); df.schema
      case Some(pinned) =>
        val newFields = df.schema.fields.filter(f => !pinned.fieldNames.contains(f.name))
        if (newFields.nonEmpty && allowSchemaExtension) {
          val widened = StructType(pinned.fields ++ newFields)
          if (exists) {
            // Backfill rewrite of all existing files (core.py:411-421).
            // Content-preserving, so the cross-process source guard
            // applies (the by-name plan lists after the version claim).
            writeData(harmonize(scan(), widened), overwrite = true, guardSource = true)
          }
          pinSchema(widened)
          widened
        } else pinned
    }

  // --------------------------------------------------------------- write

  private def configuredWriter(df: DataFrame, mode: String) = {
    // committer algorithm v2: task commit renames files straight into the
    // job's output dir instead of a second job-commit rename pass — one
    // fewer rename (and permission shell-out) per file. Visibility
    // semantics are the REPO's, not the committer's: in-place writes land
    // from a private staging dir file-by-file and full rewrites only become
    // readable at the _GRAFT_COMMIT marker, so v2's
    // partial-files-on-job-failure window is invisible either way
    // (staging leftovers are vacuumed; uncommitted version dirs are GC'd).
    var w = df.write.mode(mode)
      .option("mapreduce.fileoutputcommitter.algorithm.version", "2")
    if (layoutCols.nonEmpty) w = w.partitionBy(layoutCols: _*)
    if (maxRecordsPerFile > 0) w = w.option("maxRecordsPerFile", maxRecordsPerFile)
    w
  }

  /** Write harmonized data: an append lands through [[landThenRetire]]
    * (retiring nothing); `overwrite` commits a full replacement as a new
    * snapshot version, so the input plan may freely read the current one
    * (different paths — no "cannot overwrite a path being read from").
    */
  private def writeData(dfIn: => DataFrame, overwrite: Boolean,
      guardSource: Boolean = false): Unit =
    if (!overwrite) landThenRetire(dfIn, "append")((_, _) => Nil)
    // `dfIn` is BY-NAME: for guarded snapshot rewrites the plan (and its
    // parquet file listing) must be constructed INSIDE commitNewVersion's
    // callback — after the version claim — or the source-guard re-list
    // could not vouch for it
    else commitNewVersion(target => configuredWriter(prepared(dfIn), "overwrite").parquet(target),
      guardSource = guardSource)

  /** The write-side shape of every data write: derived layout columns,
    * bucket and group routing, clustering.
    */
  private def prepared(df: DataFrame): DataFrame =
    clustered(routeToGroups(routeToBuckets(withLayout(df))))

  /** Materialize a frame several consumers read (the upsert's update set
    * and affected-partition set, the pruned merge): `localCheckpoint`
    * pins the rows in executor block storage, bounded by the update batch
    * and the affected partitions, not the table.
    */
  // staged frames are localCheckpoint blocks; ContextCleaner only
  // reclaims them on driver GC, so a long-running driver doing many
  // upserts slowly accumulates executor storage. Every stage() records
  // the checkpointed RDD (all staging happens under the write monitor);
  // each public staging op releases ITS OWN tail in a finally — marks
  // keep reentrant compositions (an op staging inside another) from
  // releasing a parent's frames early. A global persistent-RDD sweep
  // would be wrong here: concurrent repos in one session may hold live
  // checkpoints whose lineage is truncated — unpersisting those mid-job
  // is unrecoverable.
  private val stagedRdds = new mutable.ArrayBuffer[org.apache.spark.rdd.RDD[_]]

  private def stage(df: DataFrame): DataFrame = {
    val ck = df.localCheckpoint(eager = true)
    ck.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }.foreach(stagedRdds += _)
    ck
  }

  private def stagedMark: Int = stagedRdds.length

  private def releaseStagedFrom(mark: Int): Unit = {
    stagedRdds.drop(mark).foreach(_.unpersist(blocking = false))
    stagedRdds.dropRightInPlace(stagedRdds.length - mark): Unit
  }

  /** The one in-place write protocol — appends, [[replaceGroups]] and the
    * partition and file-pruned upserts all go through it. LAND new files,
    * then RETIRE the ones they replace:
    *  1. the rows are written to a PRIVATE staging dir
    *     (`_graft_staging/_append-<uuid>`): the job may read the current
    *     version freely, and nothing touches the staging dir while it is
    *     fresh, so a concurrent external rewrite cannot fail the job;
    *  2. before anything lands, `retire(target, rels)` names the files
    *     being replaced — given the staged files' relative paths, whose
    *     dirs are the partitions being written, already Hive-escaped;
    *  3. each staged file is renamed into the current version (pure
    *     metadata: one atomic rename per file, names carry the staging
    *     job's uuid so they collide with nothing), which gives the batch
    *     EXACT file identity for the supersede verdict;
    *  4. one pending-delete manifest names the retired files (readers
    *     exclude them at once; a crash before the deletes finish is
    *     replayed by the next mutating op), the verdict
    *     ([[verifyAppendVisibilityExact]]) runs, the files are deleted and
    *     partition dirs left empty are removed.
    * Readers between steps 3 and 4 see old and new rows side by side —
    * duplicated keys, never missing ones. A crash mid-land leaves a
    * partially landed batch (for a mutation, with its originals still
    * visible) plus a staging leftover that [[vacuum]] reclaims. Callers
    * never retire an invisible file ([[visibleFilesUnder]]), so an
    * uncommitted exactly-once batch's landed prefix survives every
    * mutation and its replay lands the rest exactly once.
    */
  private def landThenRetire(dfIn: DataFrame, op: String)(
      retire: (String, Seq[String]) => Seq[String]): Unit = {
    val staging = s"$root/_graft_staging/_append-${java.util.UUID.randomUUID()}"
    try {
      configuredWriter(prepared(dfIn), "overwrite").parquet(staging)
      val rels = relativeFiles(staging)
      val target = dataPath
      val doomed = retire(target, rels)
      if (rels.isEmpty && doomed.isEmpty) { fs.mkdirs(new Path(target)); return } // dir side effect only
      rels.map(r => new Path(s"$target/$r").getParent).distinct.foreach(fs.mkdirs)
      var landed = 0
      rels.foreach { rel =>
        if (!fs.rename(new Path(s"$staging/$rel"), new Path(s"$target/$rel"))) {
          // a rename onto a fresh uuid name only fails when the target
          // tree vanished: a concurrent external rewrite superseded
          // `target` AND a later commit GC'd it mid-land. The landed
          // prefix's fate decides the verdict: if a guarded rewrite's
          // carry chain provably includes NONE of it, withdraw (a no-op
          // when the dir is truly gone) and throw the retry-safe typed
          // failure; if the chain carried (or MIGHT have carried) any of
          // it, the blind retry would duplicate those rows — fail loudly
          // without the retry contract instead. Nothing is retired yet.
          if (dataPath != target) {
            val landedMine = rels.take(landed)
              .map(r => s"${fs.makeQualified(new Path(target))}/$r").toSet
            resolveCarry(target, dataPath, landedMine) match {
              case CarryNone =>
                rels.take(landed).foreach(r => fs.delete(new Path(s"$target/$r"), false))
                throw new java.util.ConcurrentModificationException(
                  s"$op to $target raced concurrent full rewrites: the target version " +
                    s"was superseded (current is now $dataPath) and GC'd mid-land; no rows " +
                    "are visible — retry against the new version")
              case _ =>
                throw new java.util.ConcurrentModificationException(
                  s"$op to $target lost its dir mid-land AND part of the landed " +
                    s"prefix ($landed of ${rels.size} files) was (or may have been) " +
                    "carried into the current version by a concurrent guarded rewrite — " +
                    "inspect before retrying (a blind retry would duplicate the carried " +
                    "rows)")
            }
          }
          throw new java.io.IOException(
            s"failed to land staged $op file $rel into still-current $target " +
              s"($landed of ${rels.size} files landed and ARE visible — inspect; do " +
              "not blindly retry)")
        }
        landed += 1
      }
      if (doomed.nonEmpty) writePendingDeletes(doomed)
      verifyAppendVisibilityExact(target, op, rels, doomed)
      if (doomed.nonEmpty) {
        doomed.foreach(f => fs.delete(new Path(f), false))
        removeEmptyDirs(target, doomed)
        fs.delete(pendingDeletePath, false): Unit
      }
    } finally fs.delete(new Path(staging), true): Unit
  }

  /** The partition dirs (relative to the data dir) that staged files
    * `rels` land in.
    */
  private def partitionDirsOf(rels: Seq[String]): Seq[String] =
    rels.collect { case r if r.contains('/') => r.substring(0, r.lastIndexOf('/')) }.distinct

  /** Reader-visible data files under `dirs` of the current version `cur`
    * — the retire set of a partition replacement, the pruned upsert's
    * candidates and [[paths]]. Hidden files ([[hiddenFiles]]) are never
    * retired or merged: an uncommitted exactly-once batch's replay still
    * needs its landed prefix.
    */
  private def visibleFilesUnder(cur: String, dirs: Seq[String]): Seq[String] = {
    val hidden = hiddenFiles(cur, current = true)
    dirs.flatMap(listParquetFiles).distinct.filterNot(hidden.contains)
  }

  /** Remove the dirs under `target` that retiring `files` left empty,
    * walking up each partition path (nested layouts: group then bucket).
    * A dir still holding anything — an uncommitted batch's landed file, a
    * concurrent landing — stays.
    */
  private def removeEmptyDirs(target: String, files: Seq[String]): Unit = {
    val top = fs.makeQualified(new Path(target))
    files.map(f => fs.makeQualified(new Path(f)).getParent).distinct.foreach { d =>
      var dir = d
      var removed = true
      while (removed && dir != null && dir != top) {
        removed =
          try fs.listStatus(dir).isEmpty && fs.delete(dir, false)
          catch { case _: java.io.IOException => false } // gone already, or refilled
        dir = dir.getParent
      }
    }
  }

  /** Carry-chain resolution for [[verifyAppendVisibilityExact]]: is
    * `mine` (a batch's exact qualified file set, landed in `origin`)
    * part of `cur`'s content? A guarded rewrite's `_GRAFT_CARRIED` is
    * the VERIFIED full snapshot of its source dir, so content carried
    * into dir k is carried into every later guarded dir — the walk
    * follows manifests backwards (each names its source dir's files)
    * until it finds the batch, proves its absence, or hits an unreadable
    * link (GC'd grace dir / chain deeper than retention), which must be
    * CONSERVATIVE: "unprovable" means the blind retry is NOT safe.
    */
  private sealed trait CarryVerdict
  private case object CarryFull extends CarryVerdict
  private case object CarryNone extends CarryVerdict
  private final case class CarryPartial(why: String) extends CarryVerdict

  private def resolveCarry(origin: String, cur: String, mine: Set[String]): CarryVerdict = {
    if (mine.isEmpty) return CarryNone
    val originQual = fs.makeQualified(new Path(origin)).toString
    // the chain can be as deep as the retained snapshots plus the current
    // version; a fixed bound below that would misreport a fully-readable
    // deeper chain as unprovable
    val maxHops = math.max(8, snapshotRetention + 2)
    var dir = cur
    var hops = 0
    while (hops < maxHops) {
      carriedManifest(dir) match {
        case None =>
          // hop 0: an unguarded replaceAll — content deliberately
          // replaced, provably nothing carried. Deeper: the chain broke
          // (a pre-manifest version or a GC'd link) — unprovable.
          return if (hops == 0) CarryNone
            else CarryPartial(s"the carry chain is unreadable at $dir")
        case Some(c) =>
          if (mine.subsetOf(c)) return CarryFull
          if (mine.exists(c.contains))
            return CarryPartial("a rewrite snapshot split the batch")
          if (c.isEmpty)
            return if (hops == 0) CarryNone
              else CarryPartial(s"empty snapshot mid-chain at $dir")
          // zero intersection: the batch may have been carried into the
          // dir this manifest snapshots — walk one dir back. Reaching the
          // batch's own landing dir proves absence: its files would have
          // been IN this manifest had they landed before the snapshot.
          dataDirOf(c.head) match {
            case Some(src) if src == originQual => return CarryNone
            case Some(src) => dir = src; hops += 1
            case None => return CarryPartial(s"manifest entry outside any data dir at $dir")
          }
      }
    }
    CarryPartial("carry chain deeper than snapshot retention")
  }

  /** The `data-v<N>`/`data` dir a qualified repo file path lives under
    * (the path component whose parent is the repo root), or None for a
    * path outside this repo.
    */
  private def dataDirOf(file: String): Option[String] = {
    val rootQual = fs.makeQualified(new Path(root)).toString
    var p = new Path(file)
    while (p.getParent != null && p.getParent.toString != rootQual) p = p.getParent
    if (p.getParent == null) None else Some(p.toString)
  }

  /** POST-LAND visibility verdict with exact per-batch file identity.
    * Success ⇔ the current content is this write's result: either
    * `target` is still the current version, or the superseding CARRY
    * CHAIN provably includes every file of this batch and none of the
    * files it `retired` ([[resolveCarry]] — the chain walk also proves a
    * batch carried by rewrite 1 and superseded again by rewrite 2 while
    * the writer was suspended, which a single-manifest check would
    * misreport as retry-safely lost and DUPLICATE on retry). Anything
    * else is the LOUD typed failure; the retry contract is attached ONLY
    * when the chain proves no file of this batch is part of the current
    * content and the retired files are carried whole or not at all — an
    * unprovable chain (GC'd link, split snapshot) or a rewrite that
    * carried the originals alongside their replacements fails loudly
    * WITHOUT it.
    */
  private[repo] def verifyAppendVisibilityExact(target: String, op: String,
      rels: Seq[String], retired: Seq[String] = Nil): Unit = {
    val tQual = fs.makeQualified(new Path(target)).toString
    val mine: Set[String] = rels.map(r => s"$tQual/$r").toSet
    var probes = 0
    while (dataPath != target) {
      val cur = dataPath
      (resolveCarry(target, cur, mine), resolveCarry(target, cur, retired.toSet)) match {
        case (CarryFull, CarryNone) => return // the chain carries exactly the result
        case (CarryNone, CarryNone | CarryFull) if probes >= 4 =>
          // make the "rows not visible" verdict SELF-FULFILLING before
          // throwing: delete this batch's files from the superseded dir
          // and drop the retire manifest, so the dir holds exactly its
          // pre-write content again. Without this, a post-marker revoke
          // landing just after the throw (a slow verify listing on a
          // loaded box) would resurrect the old dir WITH these files —
          // visible rows behind a "retry" verdict, and the documented
          // blind retry would duplicate them. After the deletes every
          // interleaving is safe: rewrite stands → the files were
          // invisible grace leftovers; rewrite revokes → the restored dir
          // is the pre-write state and the retry applies the write once.
          // The throw is then UNCONDITIONAL (never checkVersionStable,
          // which would stay silent if the revoke landed a µs before the
          // deletes — success reported on rows just deleted).
          rels.foreach(r => fs.delete(new Path(s"$target/$r"), false))
          if (retired.nonEmpty) fs.delete(pendingDeletePath, false)
          throw new java.util.ConcurrentModificationException(
            s"$op to $target raced a concurrent full rewrite (current version is " +
              s"now $cur); the batch was not carried and its files have been " +
              "withdrawn — no rows are visible; retry against the new version")
        case (landed, gone) if probes >= 4 =>
          // some of the batch is (or may be) in the current content, or
          // the originals it replaces are — loud, never silent, and
          // WITHOUT the retry contract
          val why = Seq(landed, gone).collectFirst { case CarryPartial(w) => w }
            .getOrElse("the rewrite carried the replaced files alongside their replacements")
          throw new java.util.ConcurrentModificationException(
            s"$op to $target raced concurrent full rewrites and its carry is " +
              s"PARTIAL or unprovable ($why; current is $cur). Part of the batch " +
              "may be visible — inspect before retrying (a blind retry could " +
              "duplicate the carried part)")
        case _ =>
      }
      probes += 1
      Thread.sleep(50L) // a pending post-marker revoke lands within ms
    }
  }

  /** [[verifyAppendVisibilityExact]] over every data file now in `target`
    * (a caller that only knows the dir it wrote to).
    */
  private[repo] def verifyAppendVisibility(target: String, op: String): Unit =
    verifyAppendVisibilityExact(target, op, relativeFiles(target))

  /** Data files under `dir`, as paths relative to it. */
  private def relativeFiles(dir: String): Seq[String] = {
    val q = fs.makeQualified(new Path(dir)).toString
    listParquetFiles(dir).map { abs =>
      require(abs.startsWith(q + "/"), s"listed file $abs outside $q")
      abs.stripPrefix(q + "/")
    }
  }

  /** Reclaim crash-stranded plain-append staging dirs
    * (`_graft_staging/_append-<uuid>`): a crashed appender freezes its
    * staging tree, and nothing else ever deletes it. Liveness is judged
    * by the NEWEST mtime in the tree (a live append's write job keeps
    * landing task files; the post-job land loop empties it within
    * seconds), with a generous TTL so a stalled-but-alive job is never
    * eaten. Runs from [[vacuum]].
    */
  private def sweepAppendStaging(): Unit = {
    val sroot = new Path(s"$root/_graft_staging")
    if (!fs.exists(sroot)) return
    val now = System.currentTimeMillis()
    fs.listStatus(sroot).foreach { st =>
      if (st.isDirectory && st.getPath.getName.startsWith("_append-")) {
        // each node's FileStatus comes from its parent's listing — one
        // listStatus per directory, no re-stat
        def newest(s: org.apache.hadoop.fs.FileStatus): Long = {
          val kids = try fs.listStatus(s.getPath) catch {
            case _: java.io.FileNotFoundException => Array.empty[org.apache.hadoop.fs.FileStatus]
          }
          (s.getModificationTime +: kids.toSeq.map(k =>
            if (k.isDirectory) newest(k) else k.getModificationTime)).max
        }
        val fresh = try newest(st) catch {
          case _: java.io.FileNotFoundException => now // being deleted right now
        }
        if (now - fresh > TableRepo.AppendStagingSweepMs) {
          fs.delete(st.getPath, true): Unit
          org.slf4j.LoggerFactory.getLogger(classOf[TableRepo]).warn(
            s"reclaimed crash-stranded append staging ${st.getPath} " +
              s"(untouched for over ${TableRepo.AppendStagingSweepMs} ms)")
        }
      }
    }
  }

  /** The `_GRAFT_CARRIED` manifest of a committed guarded rewrite: the
    * source file set its content provably includes. Absent on unguarded
    * rewrites (replaceAll — content deliberately replaced) and on
    * pre-manifest versions.
    */
  private def carriedManifest(dir: String): Option[Set[String]] =
    try {
      val in = fs.open(new Path(s"$dir/_GRAFT_CARRIED"))
      try Some(new String(in.readAllBytes(), "UTF-8").split("\n").filter(_.nonEmpty).toSet)
      finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }

  private def checkVersionStable(target: String, op: String): Unit = {
    val now = dataPath
    if (now != target)
      throw new java.util.ConcurrentModificationException(
        s"$op to $target raced a concurrent full rewrite (current version is now $now); " +
          "the written rows are not visible and will be GC'd — retry against the new version " +
          "(cross-process writers need a single writer per table)")
  }

  /** Append a batch (the reference's `extend`, core.py:91-112). Pure file
    * addition — no read-modify-write, no lease; safe under concurrent
    * callers because each append's write job runs in a PRIVATE staging
    * dir and lands via per-file renames of uniquely-named files
    * ([[landThenRetire]]), with an exact-manifest verdict against
    * concurrent full rewrites. A crashed append may leave a partially
    * landed batch plus a staging leftover that [[vacuum]] reclaims;
    * replayable writers wanting exactly-once use [[extendExactlyOnce]].
    */
  def extend(df: DataFrame): Unit = withWriteLock {
    replayPendingDeletes()
    val schema = resolveSchema(df)
    writeData(harmonize(df, schema), overwrite = false)
  }

  /** Batch ingest (the reference's `batch_extend`, core.py:135-136). The
    * reference runs k worker processes under named locks; in Spark the
    * idiomatic equivalent is ONE append job over the union — task
    * parallelism covers all batches at once, and concurrent independent
    * jobs appending to one directory would race on the committer's shared
    * `_temporary` dir.
    */
  def batchExtend(dfs: Seq[DataFrame]): Unit = withWriteLock {
    replayPendingDeletes()
    require(dfs.nonEmpty, "batchExtend needs at least one batch")
    val schema = resolveSchema(dfs.head)
    val union = dfs.map(harmonize(_, schema)).reduce(_.unionByName(_))
    writeData(union, overwrite = false)
  }

  /** Rewrite the repo into ~`targetRecordsPerFile`-row files — the
    * compaction counterpart of `maxRecordsPerFile` sizing (the reference
    * tops up small files in place, core.py:307-321; at scale, periodic
    * compaction is the idiomatic equivalent).
    *
    * SNAPSHOT-ISOLATED for concurrent readers: the rewrite lands in a
    * fresh committed version dir and the superseded version survives as
    * the grace version (see the snapshot-versions block above) — a reader
    * planned before the swap keeps scanning intact files. The reference
    * rewrites files in place under a per-table lock (core.py:488-497);
    * lockless version-swap is the distributed equivalent.
    */
  def compact(targetRecordsPerFile: Long): Unit = withWriteLock {
    replayPendingDeletes()
    // sizing only (`parts` below): an exact count from parquet footer
    // metadata over the same visible-file set scan() reads — no
    // table-scan job (at a 100 TB table the scan-count alone would cost
    // a full pass before the rewrite even starts)
    val n = FileStats.rowCount(spark, paths)
    if (n == 0) return
    val parts = math.max(1L, (n + targetRecordsPerFile - 1) / targetRecordsPerFile).toInt
    // the whole content plan is constructed INSIDE the guarded callback —
    // after the version claim — so its parquet listing is one the guard's
    // re-list can vouch for (`n`/`parts` above are sizing hints only)
    commitNewVersion({ target =>
      // the layout scan surfaces the bucket column from the partition
      // DIRECTORIES (free) instead of re-running md5 over every row
      val base = scan(layout = true)
      // partitioned layouts rebalance BY the layout cols so each partition
      // dir is written by one task (round-robin would cross every task with
      // every dir: parts x dirs small files — the opposite of compaction)
      val (keyed, sortCols) = clusterKeyed(base)
      val rebalanced0 =
        if (layoutCols.nonEmpty) keyed.repartition(parts, layoutCols.map(col): _*)
        else if (sortCols.nonEmpty) keyed.repartitionByRange(parts, sortCols.map(col): _*)
        else keyed.repartition(parts)
      // compaction preserves the clustering contract: rewritten files keep
      // narrow min-max ranges (or compact z-order boxes) on the cluster cols
      val rebalanced =
        if (sortCols.isEmpty) rebalanced0
        else rebalanced0.sortWithinPartitions((layoutCols ++ sortCols).map(col): _*).drop(zColName)
      var w = rebalanced.write.mode("overwrite")
        .option("mapreduce.fileoutputcommitter.algorithm.version", "2") // see configuredWriter
        .option("maxRecordsPerFile", targetRecordsPerFile) // not the repo's append sizing
      if (layoutCols.nonEmpty) w = w.partitionBy(layoutCols: _*)
      w.parquet(target)
    }, guardSource = true)
  }

  /** Overwrite everything (core.py:157-160). */
  def replaceAll(df: DataFrame): Unit = withWriteLock {
    replayPendingDeletes()
    val schema = resolveSchema(df)
    writeData(harmonize(df, schema), overwrite = true)
  }

  /** Partition replacement: the partitions `df` writes are replaced,
    * untouched ones survive (core.py:153-155; tests/test_core.py:178-179).
    * A partition is a full layout-column tuple — on a bucketed grouped
    * repo, a (group, bucket) dir. The retire set is the visible files of
    * the dirs the staged output lands in ([[landThenRetire]]).
    */
  def replaceGroups(df: DataFrame): Unit = withWriteLock {
    replayPendingDeletes()
    require(groupCols.nonEmpty, "replaceGroups requires group columns")
    val schema = resolveSchema(df)
    landThenRetire(harmonize(df, schema), "replaceGroups")((target, rels) =>
      visibleFilesUnder(target, partitionDirsOf(rels).map(d => s"$target/$d")))
  }

  /** Drop duplicate keys keeping the first occurrence in batch order
    * (core.py:119; tests/test_core.py:141-146). Spark has no implicit row
    * order, so "first" is pinned with a monotonic id captured before any
    * shuffle.
    */
  private def dedupKeepFirst(df: DataFrame): DataFrame = {
    val ord = "__graft_ord"
    val rn = "__graft_rn"
    df.withColumn(ord, monotonically_increasing_id())
      .withColumn(rn, row_number().over(
        Window.partitionBy(keyCols.map(col): _*).orderBy(col(ord))))
      .filter(col(rn) === 1)
      .drop(ord, rn)
  }

  /** Keyed upsert (the reference's `replace_records`, core.py:114-133).
    * Observable contract (tests/test_core.py:119-179): one row per key in
    * scope after the call, updates win over existing rows, unmatched updates
    * are appended. With `byGroups = true` the key is scoped to the group —
    * the same key may live in different groups (core.py:116-117).
    *
    * Spark plan: MERGE as anti-join ∪ updates. For grouped repos only the
    * affected partitions (those containing matched keys plus those receiving
    * updates) are rewritten, landed then retired like every in-place write
    * ([[landThenRetire]]) — at 100 TB this touches a handful of
    * partitions, not the table.
    */
  def replaceRecords(updates: DataFrame, byGroups: Boolean = false): Unit = withWriteLock {
    // upserts are in-place read-modify-write: two UNCOORDINATED writers
    // can lose an update no matter how the commit is ordered, so the
    // single-writer rule is ENFORCED here (exclusive lease + heartbeat
    // + ttl takeover), not just documented — a second process fails
    // loudly instead of silently dropping the other's update
    Lease.withLease(fs, root, "replaceRecords") {
      val mark = stagedMark
      try replaceRecordsBody(updates, byGroups)
      finally releaseStagedFrom(mark)
    }
  }

  private def replaceRecordsBody(updates: DataFrame, byGroups: Boolean): Unit = {
    replayPendingDeletes()
    require(keyCols.nonEmpty, "replaceRecords requires keyCols (the reference's meaningful index)")
    val schema = resolveSchema(updates)
    val u = dedupKeepFirst(harmonize(updates, schema))
    if (!exists) { writeData(u, overwrite = false); return }
    val keys = if (byGroups && groupCols.nonEmpty) (groupCols ++ keyCols).distinct else keyCols
    if (layoutCols.isEmpty) {
      val merged = getFullDf.join(u.select(keys.map(col): _*).distinct(), keys, "left_anti")
        .unionByName(u)
      writeData(merged, overwrite = true)
    } else {
      // For hash-bucketed repos the bucket column comes from the partition
      // directories of the scan (free) on the existing side and is
      // recomputed from the key column (pure function) on the update side —
      // so the whole merge is scoped to bucket partitions exactly like a
      // user-grouped repo is scoped to its group dirs.
      val existing = scan(layout = true)
      // The update set is read by the scope computation, the anti-join, and
      // the final union — materialize its (small, bounded-by-caller) rows
      // once instead of re-running the dedup window per consumer.
      val u2 = stage(withLayout(u))
      // When the scope is derivable from the updates alone — a group-scoped
      // upsert (keys carry their group cols) or a pure hash-bucket layout
      // (bucket is a function of the key) — the affected-partition set is
      // just the updates' partition values: no scan of existing data, and
      // no partition can end up emptied (every affected partition receives
      // its update rows). Only an UNSCOPED upsert on a user-grouped repo
      // must scan: a key's old row may live in a different group than its
      // update. A hash bucket only defines scope when it hashes a KEY
      // column — bucketing a data column would let an update move a row
      // across buckets, putting the old row outside the updates' buckets.
      val updatesDefineScope = (byGroups || groupCols.isEmpty) &&
        hashBucket.forall(hb => keys.contains(hb.col))
      val affectedDf = stage(
        if (updatesDefineScope) u2.select(layoutCols.map(col): _*).distinct()
        else existing.join(u2.select(keys.map(col): _*).distinct(), keys, "left_semi")
          .select(layoutCols.map(col): _*)
          .union(u2.select(layoutCols.map(col): _*))
          .distinct())
      // When the affected-partition set is small (the overwhelmingly
      // common upsert), collect it and filter the survivors read with
      // LITERAL predicates — Catalyst turns them into PartitionFilters, so
      // at 100 TB the merge lists and reads only the affected directories.
      // Past the cap, fall back to the distributed semi-join: a huge OR
      // tree would blow analysis (deep TreeNode recursion), and with that
      // many partitions touched pruning buys little anyway.
      // one bounded collect decides the cap AND yields the literals (the
      // former count()+collect() pair was two actions over the same
      // staged frame): cap+1 rows suffice to prove "too many"
      val affectedVals: Array[Seq[Any]] = {
        val firstN = affectedDf.limit(TableRepo.MaxPartitionPredicateLiterals + 1).collect()
        if (firstN.length <= TableRepo.MaxPartitionPredicateLiterals) firstN.map(_.toSeq)
        else Array.empty
      }
      def inPartitions(vals: Array[Seq[Any]]): Column = vals
        .map(v => layoutCols.zip(v).map { case (c, x) => col(c) <=> lit(x) }.reduce(_ && _))
        .reduce(_ || _)
      val scopedExisting =
        if (affectedVals.nonEmpty) existing.filter(inPartitions(affectedVals))
        else existing.join(affectedDf, layoutCols, "left_semi")
      val survivors = scopedExisting
        .join(u2.select(keys.map(col): _*).distinct(), keys, "left_anti")
      landThenRetire(survivors.unionByName(u2), "replaceRecords") { (target, rels) =>
        // Every partition the merge writes is replaced. An UNSCOPED upsert
        // can also EMPTY an affected partition (all its keys moved to
        // other groups): nothing lands there, so its dirs are added from
        // the FILES Spark reads (`input_file_name`), not from rendered
        // `col=value` strings — Spark Hive-escapes special chars and uses a
        // null sentinel, so a hand-built path could miss the real dir and
        // the moved key's stale row would survive as a duplicate. On the
        // literal path only the partitions absent from the staged output
        // are scanned (a value whose rendering is not the writer's, e.g. a
        // timestamp, is scanned too — harmless, its dirs are retired
        // anyway); past the literal cap, every affected partition is.
        // input_file_name returns URI-ENCODED strings ('%' → %25); Path(String)
        // would keep the encoding and miss the dir, so decode once through
        // java.net.URI.
        def dirsRead(files: DataFrame): Seq[String] =
          files.distinct().collect()
            .map(r => new Path(new java.net.URI(r.getString(0))).getParent.toString).distinct.toSeq
        val written = partitionDirsOf(rels)
        val emptiedDirs =
          if (updatesDefineScope) Nil
          else if (affectedVals.isEmpty)
            dirsRead(existing.withColumn("__graft_file__", input_file_name())
              .join(affectedDf, layoutCols, "left_semi").select("__graft_file__"))
          else {
            val writtenSet = written.toSet
            val unwritten = affectedVals.filterNot(v => writtenSet.contains(
              layoutCols.zip(v).map { case (c, x) => TableRepo.dirSegment(c, x) }.mkString("/")))
            if (unwritten.isEmpty) Nil
            else dirsRead(existing.filter(inPartitions(unwritten)).select(input_file_name()))
          }
        visibleFilesUnder(target, written.map(d => s"$target/$d") ++ emptiedDirs)
      }
    }
  }

  /** File-granularity keyed upsert — the reference's per-file rewrite
    * (core.py:121-130) re-expressed at Spark scale. `replaceRecords`
    * prunes the merge to affected partition DIRS; on a key-clustered repo
    * the same idea applies one level down: the write path gives every
    * file a narrow key range (`repartitionByRange` +
    * `sortWithinPartitions`), so the merge only needs the files whose
    * footer per-key-column [min,max] boxes intersect an update key tuple
    * ([[filesMeeting]]). Untouched files are never read and
    * never rewritten — they stay byte-identical on disk (asserted in
    * `FilePrunedUpsertSpec`). At 100 TB this is the difference between
    * rewriting a table and rewriting the handful of files a trickle of
    * updates lands in.
    *
    * Layout composition: grouped repos participate with `byGroups = true`
    * (key scoped to its group, exactly like `replaceRecords`) and
    * hash-bucketed repos when the bucket hashes a key column — partition
    * dirs are pruned FIRST from the updates' own layout values, then
    * footer stats prune files within the surviving dirs. Other grouped
    * shapes must use `replaceRecords`: an unscoped key's old row may live
    * outside the updates' partitions.
    *
    * Footer pruning is [[filesMeeting]]: files without usable key
    * statistics are always affected and NaN update keys disable pruning.
    *
    * Sequencing: the shared in-place protocol ([[landThenRetire]]) with
    * the affected files as the retire set — the merged replacement files
    * land first, then the originals are retired through the pending-delete
    * manifest, so a concurrent reader in the gap sees duplicated keys
    * rather than missing ones and a crash mid-delete is replayed.
    */
  def replaceRecordsPruned(updates: DataFrame, byGroups: Boolean = false): Unit = withWriteLock {
    // same enforced single-writer rule as [[replaceRecords]]; the
    // fallback from here into the partition merge re-enters the same
    // lease (per-thread reentrancy), not a second acquisition
    Lease.withLease(fs, root, "replaceRecordsPruned") {
      val mark = stagedMark
      try replaceRecordsPrunedBody(updates, byGroups)
      finally releaseStagedFrom(mark)
    }
  }

  private def replaceRecordsPrunedBody(updates: DataFrame, byGroups: Boolean): Unit = {
    replayPendingDeletes()
    require(keyCols.nonEmpty, "file-pruned upsert requires keyCols")
    val schema = resolveSchema(updates)
    val effKeys = if (byGroups && groupCols.nonEmpty) (groupCols ++ keyCols).distinct else keyCols
    require(layoutCols.isEmpty || ((byGroups || groupCols.isEmpty) &&
        hashBucket.forall(hb => effKeys.contains(hb.col))),
      "on a grouped repo the file-pruned upsert needs byGroups = true (key scoped to its " +
        "group), and a hash bucket must hash a key column — otherwise a key's old row may " +
        "live outside the updates' partitions; use replaceRecords for those shapes")
    val u = stage(dedupKeepFirst(harmonize(updates, schema)))
    if (!exists) { writeData(u, overwrite = false); return }
    // 1) partition scope: grouped/bucketed repos prune DIRS first — the
    //    updates' own layout values define the scope (legal per the
    //    require above); flat repos go straight to footers.
    val candidateFiles: Seq[String] =
      if (layoutCols.isEmpty) paths
      else {
        val lu = withLayout(u).select(layoutCols.map(col): _*)
        // Spark writes partition dirs Hive-escaped (special chars
        // %-encoded, null → __HIVE_DEFAULT_PARTITION__, timestamps
        // formatted), so hand-rendered `col=value` paths are only safe for
        // types whose toString matches the writer's rendering exactly.
        // Anything else falls back to the partition-level merge rather
        // than risk a missed dir (= silently duplicated keys on disk).
        if (!lu.schema.fields.forall(f => TableRepo.DirRenderableTypes.contains(f.dataType))) {
          replaceRecords(updates, byGroups); return
        }
        val dirVals = lu.distinct().collect().map(_.toSeq)
        if (dirVals.length > TableRepo.MaxPartitionPredicateLiterals) {
          // scope too wide for per-dir listing to pay off; the partition
          // merge handles it
          replaceRecords(updates, byGroups); return
        }
        val cur = dataPath
        visibleFilesUnder(cur, dirVals.toIndexedSeq.map { vals =>
          cur + "/" + layoutCols.zip(vals).map { case (c, v) => TableRepo.dirSegment(c, v) }
            .mkString("/")
        })
      }
    // 2) footer pruning within the candidates
    val affected = filesMeeting(u, keyCols, candidateFiles)
    if (affected.isEmpty) {
      // no existing file can hold any updated key: the batch is all-new
      // keys, and an upsert of new keys is a plain append
      writeData(u, overwrite = false)
    } else {
      val merged = stage(scan(files = Some(affected))
        .join(u.select(effKeys.map(col): _*).distinct(), effKeys, "left_anti")
        .unionByName(u))
      landThenRetire(merged, "replaceRecordsPruned")((_, _) => affected)
    }
  }

  /** The one footer-range join: the files of `candidates` whose footer
    * [min,max] box on every column of `cols` can hold at least one tuple
    * of `needles` — one footer read per file ([[FileStats.columnRanges]],
    * all columns at once), the range boxes broadcast and the distinct
    * needle tuples joined into them, so there is no driver pass over
    * needle rows and the collected result is bounded by file count.
    * Files without usable stats on any of `cols` always qualify
    * (pruning correctness never depends on stats presence), and a NaN
    * needle returns every candidate — NaN satisfies no range predicate,
    * while Spark's join equality does match NaN to NaN.
    */
  private def filesMeeting(needles: DataFrame, cols: Seq[String],
      candidates: Seq[String]): Seq[String] = {
    val types = cols.map(c => c -> needles.schema(c).dataType)
    types.foreach { case (c, dt) =>
      require(Seq(IntegerType, LongType, FloatType, DoubleType, StringType).contains(dt),
        s"footer pruning supports int/long/float/double/string, got $dt for $c")
    }
    if (candidates.isEmpty) return Nil
    val nanCols = types.collect { case (c, FloatType | DoubleType) => c }
    if (nanCols.nonEmpty &&
        needles.filter(nanCols.map(c => isnan(col(c))).reduce(_ || _)).limit(1).count() > 0)
      return candidates
    val ranges = FileStats.columnRanges(spark, candidates, cols)
    val statless = ranges.collect { case (p, m) if cols.exists(c => m(c).isEmpty) => p }
    val rangeRows = new java.util.ArrayList[Row]()
    ranges.foreach { case (p, m) =>
      if (cols.forall(c => m(c).isDefined))
        rangeRows.add(Row.fromSeq(p +: cols.flatMap { c => val (lo, hi) = m(c).get; Seq(lo, hi) }))
    }
    val rangesDf = spark.createDataFrame(rangeRows,
      StructType(StructField("__graft_file__", StringType) +: types.flatMap { case (c, dt) =>
        Seq(StructField(s"__graft_min_${c}__", dt), StructField(s"__graft_max_${c}__", dt))
      }))
    val cond = cols.map(c =>
      col(c) >= col(s"__graft_min_${c}__") && col(c) <= col(s"__graft_max_${c}__")).reduce(_ && _)
    needles.select(cols.map(col): _*).distinct()
      .join(broadcast(rangesDf), cond)
      .select(col("__graft_file__")).distinct()
      .collect().map(_.getString(0)).toIndexedSeq ++ statless
  }

  /** Files whose footer [min,max] box on `column` can hold at least one
    * value of `needles` — [[filesMeeting]] over the visible files
    * ([[paths]]).
    */
  def prunedFilesFor(needles: DataFrame, column: String): Seq[String] =
    filesMeeting(needles, Seq(column), paths)

  /** Footer-pruned point-lookup read: rows whose `column` value appears
    * in `needles`, scanning ONLY the files whose footer range intersects
    * the needle set ([[prunedFilesFor]], then one [[scan]] of that
    * subset — the same schema and row surface as [[getFullDf]]). On a
    * repo CLUSTERED by `column` (`clusterCols`/`zOrderCols` keep every
    * file's range narrow) a small needle set
    * touches a small file subset — the bare-Parquet equivalent of an
    * Iceberg/Delta data-skipping point lookup, and the scale path for
    * probing a large persisted index with a small batch: the probe cost
    * follows the BATCH size, not the index size. On an unclustered repo
    * it degrades gracefully to the full-scan join (every file's range is
    * wide — correctness is identical, only the skip rate changes).
    */
  def readWhereIn(needles: DataFrame, column: String): DataFrame = {
    val files = prunedFilesFor(needles, column)
    if (files.isEmpty) getFullDf.limit(0)
    else scan(files = Some(files))
      .join(needles.select(col(column)).distinct(), Seq(column), "left_semi")
  }

  /** Unlink all data and the schema sentinel (core.py:162-167). Removes
    * every snapshot version (committed or not), not just the current one.
    */
  def purge(): Unit = withWriteLock {
    val rp = new Path(root)
    if (fs.exists(rp)) fs.listStatus(rp).foreach { s =>
      if (s.isDirectory && VersionRe.pattern.matcher(s.getPath.getName).matches())
        fs.delete(s.getPath, true)
      else if (!s.isDirectory && (s.getPath.getName.startsWith("_graft_claim-v") ||
          s.getPath.getName.startsWith(Lease.LeaseName)))
        // claims, tombstones, the lease, and any crashed takeover/release
        // rename leftovers (`_graft_lease.expired-*` / `.released-*`)
        fs.delete(s.getPath, false)
    }
    fs.delete(new Path(s"$root/data"), true)
    fs.delete(pendingDeletePath, false)
    // the ledger and staging must go with the data: a re-created repo
    // reusing a writerId would otherwise drop every replayed batch the
    // stale hwm marks committed (silently empty table), and stale
    // .pending manifests would pin same-numbered future version dirs
    fs.delete(new Path(s"$root/_graft_ledger"), true)
    fs.delete(new Path(s"$root/_graft_staging"), true)
    fs.delete(Lease.pathIn(root), false) // a crashed upsert's lease dies with the table
    fs.delete(new Path(schemaPath), false)
    fs.delete(new Path(metaPath), false)
  }

  // ---------------------------------------------------------------- read

  def exists: Boolean = fs.exists(new Path(dataPath))

  /** Recreate the data directory — the writer retry path calls this when a
    * flush found the directory racily deleted (core.py:488-497 analog).
    */
  def mkdirs(): Unit = { fs.mkdirs(new Path(dataPath)): Unit }

  /** The one Parquet scan behind every repo data read. `dir` is a
    * committed version dir (default: the current one, resolved once here).
    *
    * Schema: the current version reads under the pinned schema, a grace
    * version under the schema it was SEALED with (falling back to the pin
    * for dirs superseded before sealing existed). A pinned read skips
    * Parquet schema inference entirely (no footer-merge job — at scale
    * that's a pass over every file's metadata) and decodes
    * partition-directory values as the pinned types; without a pin (first
    * contact with a foreign dataset) the read infers a merged schema.
    *
    * File set: `files` when given (a subset of the visible listing, as
    * [[readWhereIn]] and the pruned upsert pass); else the dir itself when
    * [[hiddenFiles]] is empty, or its listing minus the hidden files.
    * Explicit lists read with `basePath`, so dir-encoded partition values
    * stay visible.
    *
    * `layout = true` also surfaces the derived layout columns — the hash
    * bucket and the keep-mode group helpers — read from the partition
    * DIRECTORIES (free), typed from the schema so they compare cleanly
    * against recomputed update-side values; the merge and bucket-scoped
    * reads filter on them so Catalyst prunes directories. Without a pin
    * they are recomputed from their source columns like the write path:
    * partition-column inference would read a zero-padded bucket dir value
    * like "03" as integer 3, and a later unionByName would coerce it to
    * "3" — a silent duplicate-dir corruption.
    *
    * The result is harmonized to the schema (partition-directory type
    * inference and file-level schema drift never leak to callers); helper
    * layout columns surface only with `layout = true`.
    */
  private def scan(dir: Option[String] = None, files: Option[Seq[String]] = None,
      layout: Boolean = false): DataFrame = {
    val cur = dataPath
    val path = dir.getOrElse(cur)
    val current = path == cur
    val schema = if (current) pinnedSchema else sealedSchema(path).orElse(pinnedSchema)
    def read(rd: org.apache.spark.sql.DataFrameReader): DataFrame = {
      val explicit = files.orElse {
        val hidden = hiddenFiles(path, current)
        if (hidden.isEmpty) None else Some(listParquetFiles(path).filterNot(hidden.contains))
      }
      explicit.fold(rd.parquet(path))(fl => rd.option("basePath", path).parquet(fl: _*))
    }
    schema match {
      case Some(p) =>
        val target = if (!layout) p else StructType(p.fields ++
          grpHelpers.map { case (c, h) => StructField(h, p(c).dataType) } ++
          bucketColName.map(b => StructField(b, StringType)))
        harmonize(read(spark.read.schema(target)), target)
      case None =>
        val df = read(spark.read.option("mergeSchema", "true")).drop(helperCols: _*)
        if (layout) withLayout(df) else df
    }
  }

  /** Full-table scan (core.py:169-175): [[scan]] of the current version. */
  def getFullDf: DataFrame =
    if (exists) scan()
    else pinnedSchema match {
      case Some(pinned) => spark.createDataFrame(new java.util.ArrayList[Row](), pinned)
      case None         => throw new IllegalStateException(s"repo $root is empty")
    }

  /** Committed snapshot versions on disk, oldest first: the current
    * version plus at most one GRACE version — [[commitNewVersion]] GCs
    * anything older at the next full rewrite, so retention is one
    * rewrite cycle, not unbounded history. A pre-versioning plain `data`
    * dir (append-only repos) has no commit marker and is not listed.
    */
  def snapshotVersions: Seq[Int] = committedVersions

  /** Time-travel read: the table AS OF committed snapshot `version`
    * (Delta-style `VERSION AS OF`, bounded by the retention above —
    * `snapshotRetention` grace versions, default 1, trimmable early via
    * [[vacuum]]). Grace versions read under their SEALED per-version
    * schema (see below) — a pre-evolution snapshot genuinely lacks later
    * columns; the current version reads like [[getFullDf]]. A caller can
    * diff the current state against the pre-rewrite snapshot — audit a
    * compact/replaceAll/backfill — without either read touching the
    * other's files.
    */
  def getDfAt(version: Int): DataFrame = {
    val vs = committedVersions
    require(vs.contains(version),
      s"no committed snapshot data-v$version under $root (on disk: ${vs.mkString(", ")})")
    // PER-VERSION schema ([[scan]]): a sealed (grace) snapshot reads
    // under the schema it was superseded with, so time travel across an
    // evolution backfill shows pre-evolution data WITHOUT the later
    // columns — what that version's readers saw. A Delta-style choice
    // layered on the reference's evolution contract (core.py:405-421
    // rewrites all data on extension; it has no snapshots, so it never
    // faces the question).
    scan(dir = Some(s"$root/data-v$version"))
  }

  /** Row-level diff between two committed snapshots — the CDC/audit view
    * of a full rewrite: what did this replaceAll/compact/backfill actually
    * change? Keyed on `keyCols`; returns one row per inserted, deleted, or
    * updated key with `op` + the coalesced key + `old_`/`new_` images of
    * every non-key column (unchanged keys are dropped, null-safely, so
    * the output is the changed subset, not the table). One co-partitioned
    * shuffle join on the table key — the minimum for a keyed diff; both
    * sides are straight snapshot scans, AQE splits key skew, and the
    * changed-subset output is what feeds downstream (incremental index
    * refresh, cache invalidation) instead of a full-table replay.
    */
  def snapshotDiff(from: Int, to: Int): DataFrame = {
    require(keyCols.nonEmpty, "snapshotDiff requires keyCols (the keyed-table contract)")
    val a = getDfAt(from).withColumn("__a", lit(true))
    val b = getDfAt(to).withColumn("__b", lit(true))
    val nonKey = getDfAt(from).columns.filterNot(keyCols.contains).toSeq
    val joined = a.join(b, keyCols.map(k => a(k) <=> b(k)).reduce(_ && _), "full_outer")
    val changed = nonKey.map(c => !(a(c) <=> b(c))).reduceOption(_ || _).getOrElse(lit(false))
    joined
      .withColumn("op",
        when(b("__b").isNull, lit("delete"))
          .when(a("__a").isNull, lit("insert"))
          .when(changed, lit("update")))
      .filter(col("op").isNotNull)
      .select(col("op") +:
        keyCols.map(k => coalesce(a(k), b(k)).as(k)) ++:
        nonKey.flatMap(c => Seq(a(c).as(s"old_$c"), b(c).as(s"new_$c"))): _*)
  }

  /** Partition-restricted read (core.py:184-194). The equality filters hit
    * Catalyst's partition pruning — only matching directories are listed.
    * Filters naming a group column are rewritten onto its keep-mode helper
    * (the directory column) so pruning still applies; filters naming the
    * hash-bucket partition column need the layout read (the bucket col is
    * directory-only; getFullDf drops it).
    */
  def getPartitionDf(values: Map[String, Any]): DataFrame = {
    val needsLayout = values.keys.exists(c => physOf(c) != c) ||
      bucketColName.exists(values.contains)
    val base = if (needsLayout) scan(layout = true) else getFullDf
    val filtered = values.foldLeft(base) { case (d, (c, v)) => d.filter(col(physOf(c)) === lit(v)) }
    if (needsLayout) filtered.drop(helperCols: _*) else filtered
  }

  /** One hash bucket's rows (the reference's `get_partition_df("166")` on a
    * HashPartitioner layout, tests/test_core.py:270-280). The equality
    * filter on the bucket partition column prunes to that directory.
    */
  def getBucketDf(bucket: String): DataFrame = {
    val b = bucketColName.getOrElse(
      throw new IllegalStateException("getBucketDf requires a hashBucket layout"))
    scan(layout = true).filter(col(b) === lit(bucket)).drop(helperCols: _*)
  }

  /** Arbitrary per-group computation — the reference's `map_partitions`
    * (core.py:138-151; tests/test_parallel.py:41-76). Distribution is native:
    * one shuffle on the level columns, then `flatMapGroups` per group.
    *
    * MEMORY CONTRACT (inherent to the arbitrary-function shape, exactly
    * like the reference's per-group pandas frames): `f` receives a
    * one-pass iterator, and any function that must see the whole group
    * before emitting (a mean, a sort) buffers that group in one task.
    * Each group must therefore fit an executor's task memory — use a
    * high-cardinality level, or express aggregable logic as
    * groupBy/window plans instead, where Spark streams and spills.
    */
  def mapGroups(level: Seq[String], out: StructType)(
      f: (Seq[String], Iterator[Row]) => Iterator[Row]): DataFrame = {
    val df = getFullDf
    val sep = "\u0001"
    df.groupByKey(r => level.map(c => String.valueOf(r.getAs[Any](c))).mkString(sep))(Encoders.STRING)
      .flatMapGroups((k: String, it: Iterator[Row]) => f(k.split(sep).toSeq, it))(Encoders.row(out))
  }

  /** All reader-visible data file paths (core.py:260-265): the current
    * version's files minus [[hiddenFiles]].
    */
  def paths: Seq[String] = {
    val cur = dataPath
    visibleFilesUnder(cur, Seq(cur))
  }

  /** Every pending exactly-once manifest across this repo's writers:
    * (pinned target dir, staged-file relative paths). Driver-metadata
    * scale — one list per writer dir, empty outside crash windows. A
    * manifest deleted by a concurrent committer mid-scan is skipped.
    */
  private def pendingLedgerManifests(): Seq[(String, Seq[String])] = {
    val lroot = new Path(s"$root/_graft_ledger")
    if (!fs.exists(lroot)) return Nil
    fs.listStatus(lroot).toSeq.filter(_.isDirectory).flatMap { w =>
      Option(fs.listStatus(w.getPath)).getOrElse(Array.empty).toSeq
        .filter(_.getPath.getName.endsWith(".pending"))
        .flatMap { m =>
          try Some(readManifestAt(m.getPath))
          catch { case _: java.io.FileNotFoundException => None }
        }
    }
  }

  /** Qualified paths (under `target`) of files a crashed exactly-once
    * batch already renamed in — the landed PREFIX of an UNCOMMITTED
    * batch. Readers exclude them (read-committed: a batch is visible only
    * once its ledger marker exists), and that exclusion is what keeps a
    * data-PRESERVING full rewrite (compact, schema backfill) from
    * carrying the prefix into the new version — replay moves the
    * originals back from the grace dir and re-lands the whole batch,
    * which would otherwise double those rows.
    */
  private def pendingLandedFiles(target: String): Set[String] = {
    val tq = fs.makeQualified(new Path(target)).toString
    pendingLedgerManifests().iterator
      .filter(_._1 == target)
      .flatMap(_._2.map(rel => s"$tq/$rel"))
      .toSet
  }

  /** Files every reader of version dir `dir` must skip: a crashed
    * exactly-once batch's landed prefix, plus — when `dir` is the CURRENT
    * version — a crashed mutation's pending deletes (their replacements
    * are already landed). Grace versions are sealed: full rewrites land
    * in fresh dirs and mutating ops replay pending deletes first, so only
    * the current version can carry them.
    */
  private def hiddenFiles(dir: String, current: Boolean): Set[String] = {
    val landed = pendingLandedFiles(dir)
    if (current) pendingDeleteSet() ++ landed else landed
  }

  /** Recursive .parquet listing that never descends into hidden child
    * dirs (`_temporary` committer state, dot-temps) and never returns
    * hidden files — the same visibility rule Spark's reads apply. The
    * BASE itself is exempt (staging dirs are underscore-prefixed by
    * design). Besides matching read semantics, this is what makes the
    * listing safe under a CONCURRENT foreign writer: its `_temporary`
    * task files flicker (listed, then gone before the stat — the local
    * FileSystem throws from deep inside the recursive iterator), and a
    * committed-path walk never touches them.
    */
  private def listParquetFiles(base: String): Seq[String] = {
    val out = mutable.ArrayBuffer[String]()
    val bp = new Path(base)
    if (!fs.exists(bp)) return out.toSeq
    def walk(dir: Path): Unit =
      fs.listStatus(dir).foreach { st =>
        val n = st.getPath.getName
        // Spark's exact visibility rule: hidden prefixes are filtered
        // UNLESS the name carries a partition `=` — underscore-prefixed
        // partition dirs (the grouped keep-layout's `__graft_grp_*__=v`
        // helpers) are legitimate content
        if (!n.startsWith("_") && !n.startsWith(".") || n.contains("=")) {
          if (st.isDirectory) walk(st.getPath)
          else if (n.endsWith(".parquet")) out += st.getPath.toString
        }
      }
    walk(bp)
    out.toSeq
  }

  // ------------------------------------------- pending-delete manifest
  //
  // Every partition-scoped mutation (replaceGroups, the partition and
  // file-pruned upserts) lands its replacement files FIRST and retires the
  // superseded originals after, in one step ([[landThenRetire]] — the only
  // writer of this manifest). Before the deletes, a manifest
  // (`_graft_pending_delete`) names the doomed files: readers exclude
  // manifest files from every scan (their replacements are already
  // landed), and the next mutating op physically replays the deletes, so
  // a crash mid-delete never leaves duplicate keys. The residual window —
  // a crash after the land loop but before the manifest write — leaves
  // old and new rows side by side, one tiny-file write wide.
  private def pendingDeletePath: Path = new Path(s"$root/_graft_pending_delete")

  private def pendingDeleteSet(): Set[String] = {
    val p = pendingDeletePath
    if (!fs.exists(p)) Set.empty
    else {
      val in = fs.open(p)
      try new String(in.readAllBytes(), "UTF-8").split("\n").filter(_.nonEmpty).toSet
      finally in.close()
    }
  }

  private def writePendingDeletes(files: Seq[String]): Unit = {
    // atomic swap (same reason as the ledger's writeBatchManifest): a
    // crash mid-write would persist a PARTIAL doomed-file list — the next
    // op's replay then deletes only that subset and drops the manifest,
    // leaving the unlisted superseded originals as permanent duplicate
    // keys. The temp is dot-prefixed (invisible everywhere) and the
    // destination never exists here (mutating ops replay it at entry).
    val tmp = new Path(s"$root/._graft_pending_delete.tmp")
    val out = fs.create(tmp, true)
    try out.write(files.mkString("\n").getBytes("UTF-8"))
    finally out.close()
    fs.delete(pendingDeletePath, false)
    if (!fs.rename(tmp, pendingDeletePath))
      throw new java.io.IOException(s"failed to commit pending-delete manifest under $root")
  }

  /** Idempotent crash repair: physically delete manifest files, then drop
    * the manifest. Runs at the head of every mutating op (inside the
    * write lock), together with the other crash-artifact sweeps.
    */
  private def replayPendingDeletes(): Unit = {
    val pend = pendingDeleteSet()
    if (pend.nonEmpty) {
      pend.foreach(f => fs.delete(new Path(f), false))
      fs.delete(pendingDeletePath, false): Unit
    }
    sweepStaleLedgerManifests()
  }

  /** A `.pending` manifest whose batch already has its commit marker (or
    * sits below the writer's hwm) is the leftover of a crash between the
    * marker create and the manifest delete: the batch is DURABLY
    * COMMITTED, yet the stale manifest keeps hiding its landed files from
    * every read and pins the target version dir against GC forever. The
    * replay of that same batchId cleans its own leftover; this sweep — at
    * the head of every mutating op, under the write lock — covers writers
    * that never replay (an abandoned or re-homed stream). An in-flight
    * batch is unreachable here: `extendExactlyOnce` holds the same
    * monitor for its whole protocol, so a manifest seen with its marker
    * present is definitively stale.
    */
  private def sweepStaleLedgerManifests(): Unit = {
    val lroot = new Path(s"$root/_graft_ledger")
    if (fs.exists(lroot)) fs.listStatus(lroot).filter(_.isDirectory).foreach { w =>
      val writerId = w.getPath.getName
      Option(fs.listStatus(w.getPath)).getOrElse(Array.empty)
        .filter(_.getPath.getName.endsWith(".pending"))
        .foreach { m =>
          val bid = m.getPath.getName.stripSuffix(".pending")
          // Try, not forall(isDigit) alone: a foreign digit-only name
          // past Long range would throw here and wedge EVERY mutating op
          // on the table — the opposite of this sweep's repair intent.
          // Unparseable manifests are skipped, never fatal.
          scala.util.Try(bid.toLong).toOption
            .filter(b => bid.nonEmpty && bid.forall(_.isDigit) && isBatchCommitted(writerId, b))
            .foreach { b =>
              fs.delete(m.getPath, false)
              fs.delete(new Path(batchStaging(writerId, b)), true): Unit
            }
        }
    }
  }

  // ------------------------------------------ exactly-once append ledger
  //
  // foreachBatch sinks are AT-LEAST-ONCE by default: a crash between a
  // micro-batch's data write and the streaming checkpoint commit replays
  // the batch, and a plain `extend` lands it twice. `extendExactlyOnce`
  // closes the window with a per-(writer, batch) commit protocol built
  // from the same primitives as the snapshot versions and the
  // pending-delete manifest:
  //   1. the harmonized batch is STAGED under `_graft_staging/<w>-<b>`
  //      in overwrite mode (a half-staged predecessor is clobbered;
  //      underscore-prefixed dirs are invisible to every reader);
  //   2. a MANIFEST (`_graft_ledger/<w>/<b>.pending`) pins the staged
  //      file names and the target version dir — from here on the
  //      batch's bytes are frozen and a replay never re-runs the job
  //      (re-execution could shuffle rows into differently-named files,
  //      which is exactly how replayed appends duplicate);
  //   3. each staged file is RENAMED into the target — atomic per file,
  //      and the names carry the staging job's uuid, so they collide
  //      with nothing;
  //   4. a COMMIT marker (`_graft_ledger/<w>/<b>`) makes future replays
  //      no-ops; staging leftovers are dropped and the writer's
  //      high-water mark (`_hwm-<b>`) subsumes + trims every marker at or
  //      below it — the ledger holds O(1) entries per writer, and
  //      `isBatchCommitted` answers from the hwm for trimmed ids (the
  //      streaming engine only replays batches since its last checkpoint,
  //      with monotonic batchIds).
  // Recovery is FORWARD: a replay that finds the manifest skips staging
  // and re-runs the renames (an already-moved file is simply absent from
  // staging — a no-op). If a concurrent full rewrite superseded the
  // pinned target during the crash window, the already-renamed files
  // still exist in the superseded GRACE version dir and are first moved
  // back into staging, then renamed into the current target — so recovery
  // shares the snapshot contract's bound: it must run within ONE full
  // rewrite cycle (the grace dir is GC'd at the next commit), which a
  // restarting streaming query does by construction. Readers during a
  // crash window may observe a PREFIX of the batch (renames are
  // per-file); recovery always resolves to exactly-once, never twice.

  private def ledgerDir(writerId: String): Path = {
    // a leading underscore is reserved for the repo's own machinery: a
    // writerId like `_append-x` would stage under `_graft_staging/
    // _append-x-<batch>`, matching sweepAppendStaging's plain-append
    // prefix — vacuum could then reclaim a crashed-but-replayable
    // exactly-once writer's staging under the wrong (shorter-ttl) policy
    require(writerId.nonEmpty && !writerId.startsWith("_") &&
        !writerId.exists(c => c == '/' || c == '\\'),
      s"writerId must be a plain name not starting with '_': '$writerId'")
    new Path(s"$root/_graft_ledger/$writerId")
  }

  /** Does a commit ledger already exist under `writerId` for this repo?
    * Sink-side writer-identity resolution uses this to keep resuming an
    * existing ledger rather than silently starting a fresh identity
    * (which would replay the crash-window batch the ledger guards).
    */
  def hasLedger(writerId: String): Boolean = fs.exists(ledgerDir(writerId))

  private def batchStaging(writerId: String, batchId: Long): String =
    s"$root/_graft_staging/$writerId-$batchId"

  /** Has `batchId` from `writerId` been durably committed? Either its
    * own marker exists, or it sits at/below the writer's high-water mark
    * (`_hwm-<n>`) — the trimmed prefix. BatchIds are monotonic per writer
    * (the streaming engine's contract the ledger is built for); a writer
    * replaying ids out of order below a later hwm would see them reported
    * committed.
    */
  def isBatchCommitted(writerId: String, batchId: Long): Boolean =
    batchId <= ledgerHwm(writerId) ||
      fs.exists(new Path(ledgerDir(writerId), batchId.toString))

  /** Highest batchId whose marker prefix was trimmed: max over `_hwm-<n>`
    * files (two can coexist for the tiny window between writing the new
    * one and deleting the old — max wins; there is never a window with
    * neither once one exists).
    */
  private def ledgerHwm(writerId: String): Long = {
    val dir = ledgerDir(writerId)
    if (!fs.exists(dir)) -1L
    else Option(fs.listStatus(dir)).getOrElse(Array.empty).toSeq
      .map(_.getPath.getName).filter(_.startsWith("_hwm-"))
      .map(_.stripPrefix("_hwm-").toLong)
      .maxOption.getOrElse(-1L)
  }

  /** Steps 1–2 of the protocol: stage the batch and pin its manifest.
    * Package-visible so crash-window states are constructible in specs.
    */
  private[repo] def stageBatchOnly(df: DataFrame, writerId: String, batchId: Long): Unit = {
    val staging = batchStaging(writerId, batchId)
    val schema = resolveSchema(df)
    val data = clustered(routeToBuckets(withLayout(harmonize(df, schema))))
    configuredWriter(data, "overwrite").parquet(staging)
    writeBatchManifest(writerId, batchId, dataPath, relativeFiles(staging))
  }

  private def manifestPath(writerId: String, batchId: Long): Path =
    new Path(ledgerDir(writerId), s"$batchId.pending")

  private def writeBatchManifest(writerId: String, batchId: Long,
      target: String, rels: Seq[String]): Unit = {
    // Atomic swap, never an in-place truncating create: a crash mid-write
    // would leave a partial manifest that the replay TRUSTS — it skips the
    // re-stage (manifest exists), renames only the listed prefix, creates
    // the marker, and deletes the staging dir with the unlisted files
    // still in it, silently and permanently losing part of the batch. The
    // temp name matches no reader (pendingLedgerManifests wants ".pending",
    // the marker check wants all-digits); the delete-before-rename exists
    // for HDFS-like renames that refuse an existing destination, and the
    // manifest-absent instant it opens just re-stages from the replayed
    // df — same bytes by the foreachBatch contract.
    val p = manifestPath(writerId, batchId)
    val tmp = new Path(p.getParent, s"${p.getName}.tmp")
    val out = fs.create(tmp, true)
    try out.write((target +: rels).mkString("\n").getBytes("UTF-8"))
    finally out.close()
    fs.delete(p, false)
    if (!fs.rename(tmp, p))
      throw new java.io.IOException(s"failed to commit batch manifest $p")
  }

  /** Drop a batch's manifest AND any crashed write's temp sibling. */
  private def deleteBatchManifest(writerId: String, batchId: Long): Unit = {
    val p = manifestPath(writerId, batchId)
    fs.delete(p, false)
    fs.delete(new Path(p.getParent, s"${p.getName}.tmp"), false): Unit
  }

  private def readBatchManifest(writerId: String, batchId: Long): (String, Seq[String]) =
    readManifestAt(manifestPath(writerId, batchId))

  private def readManifestAt(p: Path): (String, Seq[String]) = {
    val in = fs.open(p)
    val bytes = try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](8192)
      var n = in.read(chunk)
      while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
      buf.toByteArray
    } finally in.close()
    val lines = new String(bytes, "UTF-8").split("\n", -1).toSeq
    (lines.head, lines.tail.filter(_.nonEmpty))
  }

  /** Idempotent append for replayable micro-batch writers: lands `df`
    * exactly once per (writerId, batchId) across arbitrary crash/replay
    * cycles (protocol above). Returns false when the batch was already
    * committed — the replayed `df` is then IGNORED by contract, matching
    * foreachBatch's replay semantics (same batchId ⇒ same data).
    * The keyed-upsert sink path needs none of this: `replaceRecords` is
    * replay-idempotent by construction (same keys replace again).
    */
  def extendExactlyOnce(df: DataFrame, writerId: String, batchId: Long): Boolean = withWriteLock {
    replayPendingDeletes()
    val marker = new Path(ledgerDir(writerId), batchId.toString)
    val staging = batchStaging(writerId, batchId)
    if (isBatchCommitted(writerId, batchId)) {
      // Observable contract check: a batchId STRICTLY below the hwm with
      // no marker is subsumed by the monotonic-batchId trim — the
      // streaming engine only ever replays the single batch at the hwm
      // (the crash-window batch, a legitimate no-op); anything older is
      // an out-of-order or gapped id whose data gets dropped here, so
      // say so loudly instead of failing silent.
      if (batchId < ledgerHwm(writerId) &&
          !fs.exists(new Path(ledgerDir(writerId), batchId.toString)))
        org.slf4j.LoggerFactory.getLogger(classOf[TableRepo]).warn(
          s"extendExactlyOnce($writerId, $batchId): batchId is below the " +
            s"ledger high-water mark (${ledgerHwm(writerId)}) with no marker — " +
            "treated as an already-committed replay and DROPPED. BatchIds must " +
            "be monotonic per writer; an out-of-order or gapped id here is a " +
            "caller contract violation.")
      // leftovers of a crashed attempt: the staging dir, and — for a crash
      // BETWEEN the marker create and the manifest delete — the stale
      // .pending manifest itself, which would otherwise hide the
      // committed batch's files from every read forever and pin its
      // version dir against GC (the batch IS durably committed: the
      // marker exists)
      deleteBatchManifest(writerId, batchId)
      fs.delete(new Path(staging), true)
      false
    } else {
      if (!fs.exists(manifestPath(writerId, batchId))) stageBatchOnly(df, writerId, batchId)
      val (pinned, rels) = readBatchManifest(writerId, batchId)
      // backstop: manifests are written atomically (temp + rename), so a
      // torn one cannot come from this code — but trusting a foreign or
      // corrupt manifest would land a partial batch and delete the rest,
      // so refuse a manifest with no target rather than "recover" from it
      require(pinned.nonEmpty,
        s"corrupt batch manifest ${manifestPath(writerId, batchId)}: empty target — " +
          "refusing to recover from it; inspect or delete the manifest (its staging dir " +
          "holds the batch's staged files)")
      val target = dataPath
      if (target != pinned) {
        // the crashed attempt's landed files live in the (now grace)
        // superseded version dir — pull them back into staging first
        rels.foreach { rel =>
          val old = new Path(s"$pinned/$rel")
          val st = new Path(s"$staging/$rel")
          if (!fs.exists(st) && fs.exists(old)) {
            fs.mkdirs(st.getParent)
            if (!fs.rename(old, st))
              throw new java.io.IOException(s"failed to recover $old into staging")
          }
        }
        writeBatchManifest(writerId, batchId, target, rels)
      }
      rels.foreach { rel =>
        val st = new Path(s"$staging/$rel")
        if (fs.exists(st)) {
          val dst = new Path(s"$target/$rel")
          fs.mkdirs(dst.getParent)
          if (!fs.rename(st, dst))
            throw new java.io.IOException(s"failed to commit staged file $st to $dst")
        }
      }
      // fail BEFORE the marker if a concurrent external rewrite superseded
      // the target mid-flight: the manifest stays pinned to the grace dir,
      // so the retry's move-back loop recovers every landed file
      checkVersionStable(target, "exactly-once append")
      fs.create(marker, true).close()
      deleteBatchManifest(writerId, batchId)
      fs.delete(new Path(staging), true)
      // advance the high-water mark and trim the prefix: batchIds are
      // monotonic per writer, so one _hwm-<n> file subsumes every marker
      // <= n — the ledger stays O(1) per writer instead of a marker per
      // batch forever. Crash order is safe: the marker above is the
      // commit point; a crash before the new hwm lands leaves the marker,
      // a crash mid-trim leaves markers the hwm already covers.
      if (batchId > ledgerHwm(writerId)) {
        fs.create(new Path(ledgerDir(writerId), s"_hwm-$batchId"), true).close()
        Option(fs.listStatus(ledgerDir(writerId))).getOrElse(Array.empty)
          .filter { s =>
            val n = s.getPath.getName
            (n.startsWith("_hwm-") && n.stripPrefix("_hwm-").toLong < batchId) ||
              (n.nonEmpty && n.forall(_.isDigit) && n.toLong <= batchId)
          }
          .foreach(s => fs.delete(s.getPath, false))
      }
      true
    }
  }

  def nFiles: Int = paths.size

  /** One-file read (the reference's `read_df_from_path`, core.py:225-228),
    * harmonized to the pinned schema like every other read.
    */
  def readFileDf(path: String): DataFrame = {
    val raw = spark.read.parquet(path)
    pinnedSchema.map(p => harmonize(raw, StructType(p.filter(f => raw.columns.contains(f.name)))))
      .getOrElse(raw)
  }

  /** Lazy per-file DataFrames (the reference's `dfs`/`tables` iterators,
    * core.py:271-277). Each element is a plan over one file — nothing is
    * read until acted on.
    */
  def perFileDfs: Iterator[DataFrame] = paths.iterator.map(readFileDf)

  /** Directory paths holding a partition's files (the reference's
    * `get_partition_paths`, core.py:177-182).
    */
  def partitionPaths(values: Map[String, Any]): Seq[String] = {
    // callers name user-facing columns; directories are named by the
    // physical layout columns (keep-mode helpers included), rendered
    // with the writer's own Hive escaping so values containing ':'/'='/
    // null still match their on-disk dirs
    val needles = (groupCols ++ bucketColName)
      .flatMap(c => values.get(c).map(v => TableRepo.dirSegment(physOf(c), v)))
    paths // absolute URIs (file:/...); match on the col=val path segments
      .filter(p => needles.forall(n => p.contains(s"/$n/")))
      .map(p => p.substring(0, p.lastIndexOf('/')))
      .distinct
  }

  // writer factories (the reference's get_*_batch_writer family,
  // core.py:230-243)
  def extendingRecordWriter(schema: StructType, recordLimit: Int = 1000000): RecordWriter =
    new RecordWriter(this, schema, recordLimit)
  /** Fixed-column variant (`get_extending_fixed_dict_batch_writer`,
    * core.py:233-234; `FixedRecordWriter` core.py:508-513): the writer's
    * schema is restricted to `cols` — absent record keys become null,
    * anything else is dropped (RecordWriter's projection contract).
    */
  def extendingFixedRecordWriter(schema: StructType, cols: Seq[String],
      recordLimit: Int = 1000000): RecordWriter =
    new RecordWriter(this, StructType(schema.filter(f => cols.contains(f.name))), recordLimit)
  def replacingRecordWriter(schema: StructType, recordLimit: Int = 1000000): RecordWriter =
    new RecordWriter(this, schema, recordLimit, replace = true)
  def extendingDfWriter(rowLimit: Long = 1000000L): DfBatchWriter =
    new DfBatchWriter(this, rowLimit)
  def replacingDfWriter(rowLimit: Long = 1000000L): DfBatchWriter =
    new DfBatchWriter(this, rowLimit, replace = true)

  /** Row count — Catalyst answers this from Parquet footers (the reference's
    * metadata-only count, core.py:543-544).
    */
  def count(): Long = if (exists) scan().count() else 0L

  // ------------------------------------------------------------ metadata

  /** Sidecar key-value metadata — the analog of the reference's pickled
    * Parquet key-value metadata (core.py:294-301,431-438). Parquet KV meta
    * is not writable through the DataFrame API, so this is a JSON sidecar.
    */
  def setMetadata(meta: Map[String, String]): Unit = {
    val out = fs.create(new Path(metaPath), true)
    val json = meta.map { case (k, v) => s"${TableRepo.jq(k)}: ${TableRepo.jq(v)}" }
      .mkString("{", ", ", "}")
    try out.write(json.getBytes("UTF-8"))
    finally out.close()
  }

  def fullMetadata: Map[String, String] = {
    val p = new Path(metaPath)
    if (!fs.exists(p)) return Map.empty
    val in = fs.open(p)
    val raw = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    TableRepo.parseFlatJson(raw)
  }

  /** Push the sidecar metadata INTO every data file's parquet footer
    * (reference parity: core.py:294-301 stores metadata in-file, so
    * foreign readers see it without knowing about the sidecar). Row
    * groups are byte-copied — see [[ParquetMeta.embed]]. Keys are
    * prefixed like the reference's scheme to avoid colliding with
    * engine-owned KV entries.
    *
    * A content-preserving full rewrite with [[compact]]'s shape: every
    * visible file is copied to the same relative path in a fresh
    * `data-v<N>` and the version commits source-guarded, so readers see
    * all-old or all-new footers, a failed or crashed copy is discarded
    * with its unblessed dir, and cross-process appenders get the
    * carry/abort verdicts of the snapshot-versions block. The price is
    * compact's: the superseded version holds a second copy of the
    * table's bytes until the next full rewrite or [[vacuum]] drops it.
    * Empty metadata (or an empty repo) commits nothing.
    */
  def embedMetadata(prefix: String = "graft."): Unit = withWriteLock {
    replayPendingDeletes()
    val meta = fullMetadata.map { case (k, v) => (prefix + k, v) }
    if (meta.nonEmpty && exists) {
      val conf = spark.sparkContext.hadoopConfiguration
      commitNewVersion({ target =>
        // the copy plan lists INSIDE the guarded callback, after the
        // claim, like compact's: the guard's re-lists vouch for this set
        val src = dataPath
        val q = fs.makeQualified(new Path(src)).toString
        val hidden = hiddenFiles(src, current = true)
        relativeFiles(src).filterNot(r => hidden.contains(s"$q/$r")).foreach { r =>
          ParquetMeta.embed(conf, new Path(s"$src/$r"), new Path(s"$target/$r"), meta)
        }
      }, guardSource = true)
    }
  }
}

object TableRepo {
  /** This JVM's identity: the prefix of every version-claim and
    * writer-lease holder id (each acquisition appends its own UUID), so a
    * claim or lease file names the process that holds it.
    */
  private[repo] val ProcessToken: String = java.util.UUID.randomUUID().toString

  /** Cap on the OR-of-literals partition filter in `replaceRecords` —
    * above this the merge uses a distributed semi-join instead.
    */
  val MaxPartitionPredicateLiterals: Int = 512

  /** Attempts a source-guarded rewrite makes before concluding external
    * appenders will never let it commit (each abort means the visible
    * file set changed during the rewrite job — legitimate concurrent
    * ingestion, so the failure names the fix: quiesce or single-writer).
    */
  val MaxGuardedRewriteAttempts: Int = 5

  /** Observability for the guard's two abort points (specs assert the
    * machinery fires; operators can watch churn): attempts aborted at
    * the pre-marker re-list vs un-committed by the post-marker verify.
    */
  val guardedAbortsPreCommit = new java.util.concurrent.atomic.AtomicLong()
  val guardedAbortsPostCommit = new java.util.concurrent.atomic.AtomicLong()

  /** Age past which a version claim with no commit marker counts as a
    * crashed rewrite. The claim is heartbeat-stamped every ttl/4 for the
    * whole attempt (claim → write job → bless), so a LIVE rewrite of any
    * duration never goes stale; a holder suspended past the ttl loses its
    * claim to a sweeper and fails LOUDLY at its bless point instead of
    * blessing a reclaimed dir. `var` only so specs can shrink the window;
    * production code never writes it.
    */
  @volatile private[repo] var ClaimTtlMs: Long = Lease.DefaultTtlMs

  /** Age (of the NEWEST mtime in the tree) past which a plain-append
    * staging dir counts as a crashed appender's leftover — generous,
    * because a live append's staging only goes quiet for the seconds
    * between its write job and its land loop. `var` only so specs can
    * shrink the window.
    */
  @volatile private[repo] var AppendStagingSweepMs: Long = 60L * 60 * 1000

  /** Version numbers reclaimed from crashed rewrites (orphan dir deleted,
    * number retired) / attempts that found themselves expired at the
    * bless point. Observability + spec anchors, like the guard counters.
    */
  val claimsExpired = new java.util.concurrent.atomic.AtomicLong()
  val claimExpiredAborts = new java.util.concurrent.atomic.AtomicLong()

  private[repo] val ClaimRe = "_graft_claim-v(\\d+)".r
  private[repo] val SweptRe = "_graft_claim-v(\\d+)\\.swept".r
  private[repo] val DataDirRe = "data-v(\\d+)".r

  /** Worst-case filesystem mtime granularity the schema cache's quick
    * check must assume (NFS-style mounts round to whole seconds): a parse
    * younger than one granule past the sidecar's mtime is never
    * quick-served, because an equal-length foreign overwrite inside the
    * same granule would be invisible to (mtime, length).
    */
  private[repo] val MtimeGranuleMs: Long = 1000L

  /** Spec seam: runs once between the pre-marker re-list and the commit
    * marker of the next guarded rewrite — the exact former loss window —
    * then clears itself. One volatile read per guarded commit.
    */
  @volatile private[repo] var testGapHook: Option[() => Unit] = None

  /** Spec seam: runs once inside the next commit's listing→claim window
    * (after `prior` is read, before the claim loop) — where another
    * process's bless can land a committed version the listing missed —
    * then clears itself. One volatile read per commit attempt.
    */
  @volatile private[repo] var testClaimHook: Option[() => Unit] = None

  /** Partition-dir value types whose `toString` matches Spark's writer-side
    * dir rendering exactly (dates render ISO `yyyy-MM-dd`). Timestamps,
    * decimals and fractional types are excluded — their rendering is
    * session-dependent, so path-based pruning must not trust it.
    */
  private[repo] val DirRenderableTypes: Set[DataType] =
    Set(StringType, IntegerType, LongType, ShortType, ByteType, BooleanType, DateType)

  /** One `col=value` path segment rendered with the writer's own rule:
    * Hive path-escaping for special chars plus the Hive null sentinel
    * (`ExternalCatalogUtils` is the exact code Spark's `partitionBy`
    * writer uses, so escaped group values resolve to the real dir).
    */
  private[repo] def dirSegment(c: String, v: Any): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .getPartitionPathString(c, if (v == null) null else v.toString)

  /** Per-root intra-process write monitors — the JVM analog of the
    * reference's named per-table locks (core.py:18,97,111). Keyed by the
    * RESOLVED root (env switches included), shared across every TableRepo
    * instance in the process, so two handles on the same table serialize
    * their writes. Monitors are never removed: one Object per table root
    * touched by the process is noise next to a SparkSession.
    */
  private val writeMonitors = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private[repo] def monitorFor(root: String): Object =
    writeMonitors.computeIfAbsent(root, _ => new Object)

  private[graft] def jq(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Minimal parser for the flat string->string JSON objects `setMetadata`
    * emits (no external JSON dependency is available offline).
    */
  private[graft] def parseFlatJson(raw: String): Map[String, String] = {
    val out = mutable.LinkedHashMap[String, String]()
    var i = 0
    def skipWs(): Unit = while (i < raw.length && raw(i).isWhitespace) i += 1
    def parseString(): String = {
      val sb = new StringBuilder
      require(raw(i) == '"'); i += 1
      while (raw(i) != '"') {
        if (raw(i) == '\\') {
          i += 1
          raw(i) match {
            case '"' => sb += '"'
            case '\\' => sb += '\\'
            case 'n' => sb += '\n'
            case 'u' => sb += Integer.parseInt(raw.substring(i + 1, i + 5), 16).toChar; i += 4
            case c => sb += c
          }
        } else sb += raw(i)
        i += 1
      }
      i += 1
      sb.toString
    }
    skipWs()
    if (i >= raw.length || raw(i) != '{') return out.toMap
    i += 1
    skipWs()
    while (i < raw.length && raw(i) != '}') {
      val k = parseString()
      skipWs(); require(raw(i) == ':'); i += 1; skipWs()
      val v = parseString()
      out(k) = v
      skipWs()
      if (i < raw.length && raw(i) == ',') { i += 1; skipWs() }
    }
    out.toMap
  }
}
