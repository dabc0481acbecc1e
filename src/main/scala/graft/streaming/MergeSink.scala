package graft.streaming

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Envelope
import graft.operators.Materialize

/** Parquet-backed MERGE sink — the engine's stand-in for the reference's
  * JDBC upsert/delete sink (reference
  * `debezium-connector-jdbc/.../JdbcChangeEventSink.java:89-186`): per
  * micro-batch, reduce to last-event-per-key, then merge into durable table
  * state with position precedence (a stale replayed event can never
  * overwrite newer state — reference `HistoryRecordComparator` semantics).
  * Delete events tombstone the key; tombstones are retained so replays of
  * older upserts cannot resurrect deleted rows.
  *
  * State layout: `<dir>/current/` holds reduced envelopes (key, after, op,
  * pos). Each merge writes `<dir>/v<epoch>/` then atomically swaps the
  * `current` pointer (a file naming the live version) — crash-safe and
  * idempotent per epoch: re-running an epoch produces the same state
  * because merging is associative/idempotent on (key, pos).
  *
  * Scale note: this full-state rewrite is the local-mode materialization of
  * what Delta/Iceberg `MERGE INTO` does with file-level pruning; the merge
  * itself is one shuffle keyed by PK (map-side max_by combine), so the plan
  * is the same shape a 1000-executor MERGE would run — only the commit
  * protocol is simplified.
  */
/** Common contract of the MERGE sinks (full-state and bucketed). */
trait CdcSink {
  /** Merge one micro-batch of envelope rows as epoch `epochId`.
    * Returns true iff THIS call committed the epoch; false when it was
    * dropped by the replay guard (epoch already committed — a
    * foreachBatch retry, or a rival default-epoch writer won the epoch
    * between the caller's resolution and this merge) or when the batch
    * produced nothing to commit. A default-epoch caller that gets
    * false must re-resolve the tip before retrying
    * ([[graft.sinks.v2.GraftSinkCatalog.commitWithRetry]]).
    * Throws [[ConcurrentEpochCommitException]] when a concurrent writer
    * holds the in-flight claim on the same epoch.
    */
  def merge(batch: DataFrame, epochId: Long): Boolean
  def view(spark: SparkSession): DataFrame

  /** Newest committed epoch, if any. The replay guard silently no-ops any
    * `merge` whose epochId is ≤ this (a foreachBatch retry of a durable
    * epoch) — so a caller RESUMING over an existing sink dir must seed its
    * epoch counter ABOVE this value (see `SnapshotCoordinator.run`), or
    * every one of its merges is dropped as a phantom replay.
    */
  def committedEpoch: Option[Long]

  /** Reduced envelope state (key, after, op, pos), if any committed. */
  def state(spark: SparkSession): Option[DataFrame]

  /** `state` AS OF a committed epoch (VERSION AS OF semantics). */
  def stateAt(spark: SparkSession, epochId: Long): Option[DataFrame]

  /** Committed epoch ids still readable, ascending — the time-travel
    * index. Implementations MUST bound this by the CURRENT pointer's
    * epoch (artifacts past the pointer are a swap-crash's uncommitted
    * leftovers).
    */
  def versions: Seq[Long]

  /** Keys present in `stateAt(prevEpochId)` but GONE at `epochId`, as
    * `(key, pos)` rows where `pos` is the position that removed them —
    * the diff-based changefeed synthesizes `op='d'` tombstones from
    * this. Default None: the merge sinks RETAIN tombstones as `op='d'`
    * state rows, so keys never silently vanish between versions; scd2
    * overrides (there a delete CLOSES the open version, leaving no
    * state row at all).
    */
  def droppedAt(spark: SparkSession, epochId: Long,
                prevEpochId: Long): Option[DataFrame] = None

  /** Epoch-LOCAL change derivation for the changefeed: the raw changed
    * envelope rows of `epoch` — `(key, after, op, pos)`, deletes
    * included as `op='d'` rows with null `after` — derived from the
    * epoch's OWN artifacts (LSM delta dirs, bucketed touched-bucket
    * versions, scd2 epoch partitions, the full kind's opt-in
    * `c<epoch>/` change-delta sidecars), so per-epoch changefeed I/O
    * tracks the CHANGE RATE, never the table size. None when the sink
    * keeps no epoch-local artifacts (the full-rewrite [[MergeSink]]
    * without `changefeed=true`) or they were vacuumed/rebucketed away —
    * [[graft.sinks.v2.SinkChanges]] then falls back to the
    * state-vs-state diff + [[droppedAt]].
    */
  def changesAt(spark: SparkSession, epoch: Long,
                prevEpoch: Option[Long]): Option[DataFrame] = None

  /** Reduced state restricted to ONE key-hash bucket — the point-lookup
    * read path: a full-key equality predicate resolves to exactly one
    * bucket, so the scan reads that bucket's files instead of the
    * table (at 100 TB: one bucket + its deltas, not 10k buckets).
    *
    * The read pins ONE manifest (CURRENT for live reads, the newest
    * committed ≤ `asOf` for pinned ones) and takes everything from it:
    * `bucketOf` receives THAT manifest's layout count (its `K` line,
    * never a configured value that might have drifted) and the bucket
    * it returns is read from the same manifest. Resolving the count and
    * the bucket entry from two separate pointer reads would let a
    * rebucket that commits between them (16→4) hash the key under one
    * layout and probe the other — a silently missing row; the same
    * holds for a `VERSION AS OF` read across a rebucket.
    *
    * None = cannot prune soundly (no bucket layout, nothing committed,
    * vacuumed artifacts) — the caller falls back to the full state; a
    * bucket that simply holds no rows returns an EMPTY frame, not None.
    */
  def stateBucket(spark: SparkSession, asOf: Option[Long],
                  bucketOf: Int => Int): Option[DataFrame] = None

  /** The commit artifact a read pins: the CURRENT pointer's target for
    * live reads (one pointer read), the newest committed version ≤
    * `asOf` for time travel. None when nothing is committed (as of it).
    */
  protected final def pinnedArtifact(rootDir: HPath, pointerFile: HPath,
                                     asOf: Option[Long]): Option[HPath] =
    asOf match {
      case None =>
        if (!SinkFs.exists(pointerFile)) None
        else Some(new HPath(rootDir, SinkFs.readPointer(pointerFile)))
      case Some(e) => versions.filter(_ <= e).lastOption.map(commitArtifact)
    }

  /** Oldest epoch whose `$changes` rows are still derivable after
    * retention erosion, if the sink TRACKS erosion (None = no erosion
    * recorded). Kinds that retain every manifest don't need it — an
    * eroded epoch's read fails on the missing data files — but a sink
    * whose committed-version LISTING erodes (the full kind's version
    * dirs) must record the floor, or a resuming changefeed stream
    * would silently skip epochs it can no longer enumerate.
    */
  def changefeedFloor: Option[Long] = None

  /** Highest merge position the committed table has seen — the
    * watermark a DML epoch must outrank under latest-by-pos: the
    * committed epoch's `.maxpos` sidecar (O(1) driver metadata, see
    * [[recordMaxPos]]).
    */
  def tipPos(spark: SparkSession): Option[Long] =
    committedEpoch.flatMap(storedMaxPos)

  /** The filesystem artifact that marks `epoch`'s commit (written
    * microseconds before the atomic CURRENT swap). Its PERSISTED
    * sidecar timestamp — not its mtime — is the commit time of record.
    * A Hadoop path: sink roots live wherever the cluster's tables do
    * (see [[SinkFs]]).
    */
  protected def commitArtifact(epoch: Long): HPath

  /** Sidecar file persisting `epoch`'s commit timestamp. Reference
    * table formats record the commit time IN the metadata (Delta's
    * commitInfo, Iceberg's snapshot `timestamp-ms`) precisely because
    * file mtimes don't survive copy/restore/rsync of a table directory
    * — a restored table would otherwise silently remap every
    * `TIMESTAMP AS OF` to wrong epochs.
    */
  private def commitTsFile(epoch: Long): HPath = {
    val a = commitArtifact(epoch)
    new HPath(a.getParent, a.getName + ".committs")
  }

  /** Persist the commit timestamp for `epoch`. Called by every sink's
    * commit path immediately before the atomic CURRENT swap, so the
    * sidecar is on disk for any epoch the pointer can ever name (a
    * crash in between leaves a sidecar for an uncommitted epoch —
    * harmless, `versions` is pointer-bounded).
    */
  protected final def recordCommitTs(epoch: Long): Unit =
    SinkFs.writeString(commitTsFile(epoch),
      System.currentTimeMillis().toString)

  /** Commit time of a committed epoch: its persisted sidecar. */
  def commitTimeMillis(epoch: Long): Long =
    CdcSink.requiredSidecar(commitTsFile(epoch)).toLong

  /** Newest committed epoch whose commit time ≤ `tsMillis` (TIMESTAMP
    * AS OF). Lazy from the newest version down — the common
    * recent-timestamp lookup reads O(1) sidecars, not every retained
    * manifest (commit times are monotonic with epoch).
    */
  def epochAt(tsMillis: Long): Option[Long] =
    versions.reverseIterator.find(e => commitTimeMillis(e) <= tsMillis)

  /** Sidecar persisting the sink's TIP POSITION (the max merge position
    * every DML statement must outrank — see [[tipPos]]) as of `epoch`'s
    * commit. Written at commit time from the PREVIOUS epoch's sidecar +
    * the epoch's OWN write job's observed max, so `tipPos` is O(1)
    * driver metadata instead of O(#files) footer opens — the Iceberg
    * manifest-stats design (snapshot summaries carry file-level bounds
    * so planning never re-opens footers).
    */
  private def maxPosFile(epoch: Long): HPath = {
    val a = commitArtifact(epoch)
    new HPath(a.getParent, a.getName + ".maxpos")
  }

  /** Persist the tip-position sidecar for `epoch` — on EVERY commit; an
    * empty payload records a table that has no positions yet.
    */
  protected final def recordMaxPos(epoch: Long, tip: Option[Long]): Unit =
    SinkFs.writeString(maxPosFile(epoch), tip.fold("")(_.toString))

  /** Persist `epoch`'s tip as the max of the committed tip it builds on
    * and the positions the epoch itself wrote (`added`, its write job's
    * observed max) — every rewrite keeps each key's newest position,
    * so the max never needs the files again.
    */
  protected final def recordTip(epoch: Long, committed: Option[Long],
                                added: Option[Long]): Unit =
    recordMaxPos(epoch, (committed.flatMap(storedMaxPos) ++ added).maxOption)

  /** The persisted tip position of a committed epoch (None = no
    * positions yet); a committed epoch without the sidecar is refused.
    */
  protected final def storedMaxPos(epoch: Long): Option[Long] =
    CdcSink.requiredSidecar(maxPosFile(epoch)).toLongOption

  /** On-disk claim file marking an IN-FLIGHT commit of `epoch` (next to
    * the commit artifact; deleted on commit or failure, so its presence
    * means a live concurrent writer or a crashed one — see
    * [[EpochClaim]]).
    */
  private def claimFile(epoch: Long): HPath = {
    val a = commitArtifact(epoch)
    new HPath(a.getParent, s"epoch$epoch.claim")
  }

  /** Exclusively claim `epoch` (throws [[ConcurrentEpochCommitException]]
    * when another writer holds it), then decide against the committed
    * tip read UNDER the claim, which no rival can move for this epoch: a
    * tip already at or past `epoch` goes to `committed` (a merge's
    * replay no-op, a maintenance call's refusal), anything else to
    * `body`. The claim is released however either ends — a claim that
    * escapes its commit wedges the epoch until the stale window.
    */
  protected final def claimed[T](epoch: Long, committed: Long => T)
                                (body: Option[Long] => T): T = {
    val f = claimFile(epoch)
    SinkFs.mkdirs(f.getParent)
    EpochClaim.acquire(f, s"${getClass.getSimpleName}(${f.getParent})", epoch)
    try committedEpoch match {
      case Some(c) if c >= epoch => committed(c)
      case tip => body(tip)
    } finally EpochClaim.release(f)
  }

  /** A merge's replay branch: foreachBatch retries an epoch when the job
    * crashed between the sink's commit and Spark's checkpoint commit.
    * The epoch is already durable then — re-merging would overwrite its
    * artifacts WHILE reading the state that lives in them. Epochs are
    * monotonic, so "committed version >= epoch" means such a replay: a
    * logged no-op.
    */
  protected final def replayed(epoch: Long)(committed: Long): Boolean = {
    CdcSink.warnReplay(
      s"${getClass.getSimpleName}(${commitArtifact(epoch).getParent})",
      epoch, committed)
    false
  }

  /** Persist `rows` as `epoch`'s `c<epoch>/` change-delta sidecar — the
    * `.ddl` file first (it pins every later read's schema: an epoch with
    * an empty change set leaves a schemaless dir inference would throw
    * on), then the parquet — and return the sidecar read back, so the
    * feed and the merge share ONE evaluation (reducing over a tied pos
    * is free to pick either event; two evaluations could diverge).
    */
  protected final def writeChangeSidecar(epoch: Long,
                                         rows: DataFrame): DataFrame = {
    val root = commitArtifact(epoch).getParent
    val cdir = new HPath(root, s"c$epoch").toString
    SinkFs.mkdirs(root)
    SinkFs.writeString(new HPath(root, s"c$epoch.ddl"), rows.schema.toDDL)
    rows.write.mode("overwrite").options(CdcSink.writeOptions).parquet(cdir)
    rows.sparkSession.read.schema(rows.schema).parquet(cdir)
  }

  /** Changefeed fast path from `epoch`'s `c<epoch>/` sidecar, read under
    * the schema its required `.ddl` file pins. Only valid when
    * `prevEpoch` is the epoch's TRUE predecessor or the epoch is the
    * table's first commit (epoch 0): after old versions are vacuumed
    * away, `prevEpoch=None` means "serve a snapshot", and an incremental
    * sidecar is not one. None = no sidecar to serve.
    */
  protected final def sidecarChanges(spark: SparkSession, epoch: Long,
                                     prevEpoch: Option[Long])
      : Option[DataFrame] = {
    val root = commitArtifact(epoch).getParent
    val cdir = new HPath(root, s"c$epoch")
    if ((prevEpoch.isEmpty && epoch != 0L) || !SinkFs.isDirectory(cdir)) None
    else Some(spark.read.schema(org.apache.spark.sql.types.StructType.fromDDL(
      CdcSink.requiredSidecar(new HPath(root, s"c$epoch.ddl"))))
      .parquet(cdir.toString))
  }

  /** Publish `epoch`: persist the commit timestamp and atomically swap
    * the CURRENT pointer to `content` — AFTER re-checking the pointer
    * still names `observed`, the committed epoch this merge read its
    * state from. Under the epoch claim two default-epoch writers can
    * never both get here; the check catches the remaining interleaving
    * (a rival committing a DIFFERENT explicit epoch mid-merge), turning
    * a silently-hidden epoch into a loud
    * [[ConcurrentEpochCommitException]] — the epoch's artifacts stay on
    * disk past the pointer, where `versions`' pointer bound already
    * treats them as uncommitted.
    */
  protected final def publishEpoch(rootDir: HPath, pointerFile: HPath,
                                   epoch: Long, observed: Option[Long],
                                   content: String): Unit = {
    // the claim must STILL be ours at the swap: an eager rival that
    // broke it mid-commit (stale window shorter than this commit) may
    // have scribbled the epoch's artifacts — the owner fails loudly,
    // the breaker's commit stands (see EpochClaim.verifyHeld)
    EpochClaim.verifyHeld(claimFile(epoch), getClass.getSimpleName, epoch)
    recordCommitTs(epoch)
    val now = committedEpoch
    if (now != observed)
      throw new ConcurrentEpochCommitException(
        s"${getClass.getSimpleName}($rootDir): committed tip moved from " +
          s"$observed to $now while epoch $epoch was being written (a " +
          "concurrent writer committed a different explicit epoch) — " +
          "refusing the pointer swap; epoch " + epoch + "'s artifacts " +
          "are left uncommitted past the pointer")
    SinkFs.swapPointer(pointerFile, s"CURRENT.tmp$epoch", content)
  }
}

object CdcSink {
  /** Write options for every sink parquet write: Hadoop
    * FileOutputCommitter ALGORITHM 2 (task commits move files straight
    * into the destination — no serial driver-side job-commit merge
    * pass over task directories) and no `_SUCCESS` marker (one less
    * driver write per epoch). Algorithm 2's weaker crash contract
    * (partially-moved files after a mid-job failure) is safe here by
    * construction: a version/delta dir is INVISIBLE until the CURRENT
    * pointer swap, a failed epoch's retry rewrites it `overwrite`, and
    * artifacts past the pointer are already treated as uncommitted.
    * Small-epoch streaming pays this commit protocol once per epoch,
    * so it is part of the per-epoch fixed cost floor.
    */
  private[streaming] val writeOptions: Map[String, String] = Map(
    "mapreduce.fileoutputcommitter.algorithm.version" -> "2",
    "mapreduce.fileoutputcommitter.marksuccessfuljobs" -> "false")

  /** One visible line when a merge is dropped as an epoch replay: a
    * correct retry is silent in effect but should not be silent in the
    * log — a caller whose epoch numbering restarted at 0 over existing
    * state would otherwise see every merge vanish with no trace.
    */
  private[streaming] def warnReplay(sink: String, epochId: Long,
                                    committed: Long): Unit =
    Console.err.println(
      s"[graft] $sink: skipping merge of epoch $epochId — already committed " +
        s"through v$committed (foreachBatch replay, or a caller whose epoch " +
        s"counter restarted below the sink's committed version)")

  /** The loud refusal of an on-disk format only earlier builds wrote —
    * one rejection instead of one reader fallback per retired feature
    * (Delta's protocol-version rule: a reader refuses a table version it
    * does not know).
    */
  private[streaming] def retiredFormat(dir: HPath, what: String): Nothing =
    throw new IllegalStateException(
      s"$dir: $what — an on-disk format only earlier builds wrote, which " +
        "this build does not read; re-materialize the table into a fresh " +
        "directory")

  /** A commit sidecar every current commit writes (`.maxpos`,
    * `.committs`, `c<epoch>.ddl`), trimmed; absent = a directory an
    * earlier build wrote.
    */
  private[streaming] def requiredSidecar(f: HPath): String =
    try SinkFs.readString(f).trim
    catch {
      case _: java.io.FileNotFoundException =>
        retiredFormat(f.getParent, s"committed sidecar ${f.getName} is missing")
    }

  /** The max position a write job observed (`observe(obs, max(..) as
    * "maxpos")`); None for an empty write.
    */
  private[streaming] def observedMax(
      obs: org.apache.spark.sql.Observation): Option[Long] =
    obs.get.get("maxpos").collect { case l: java.lang.Long => l.longValue() }

  /** Reclaim `c<epoch>/` change-delta sidecars (and their `.ddl`
    * files) below `floorEpoch` — the feed-retention half of vacuum for
    * sinks whose sidecars otherwise accumulate for the table's lifetime
    * (bucketed/scd2; the full kind's own vacuum reclaims them with the
    * version dirs). The erosion `_feed_floor` is written BEFORE any
    * deletion (taxonomy class 1: a crash in between leaves a floor over
    * intact sidecars — conservative-loud — never eroded sidecars with
    * no floor), and the floor only ever RISES: epochs below it read
    * loudly as vacuumed in the feed paths
    * ([[graft.sinks.v2.SinkChanges]]), even where a manifest-diff
    * derivation could still serve them — a retention promise that
    * silently un-erodes is not one. The FEED floor is a separate file
    * from the VERSION vacuum's `_floor`: a feed-only retention vacuum
    * must not make `stateAt`/`VERSION AS OF` claim version erosion
    * that never happened (versions and sidecars erode independently).
    */
  private[streaming] def vacuumSidecars(root: HPath,
                                        floorEpoch: Long): Int = {
    val C = """c(\d+)""".r
    val dead = SinkFs.listDirNames(root).filter {
      case C(e) => e.toLong < floorEpoch
      case _ => false
    }
    if (dead.nonEmpty)
      raiseFloor(new HPath(root, "_feed_floor"), floorEpoch)
    dead.foreach { n =>
      SinkFs.deleteRecursive(new HPath(root, n))
      SinkFs.deleteIfExists(new HPath(root, n + ".ddl"))
    }
    dead.size
  }

  /** Raise a floor file to `floorEpoch` (floors only ever rise). */
  private[streaming] def raiseFloor(f: HPath, floorEpoch: Long): Unit = {
    val existing =
      if (SinkFs.exists(f)) SinkFs.readString(f).trim.toLong
      else Long.MinValue
    SinkFs.writeString(f, math.max(existing, floorEpoch).toString)
  }

  /** A floor file's value, absent when never written. */
  private[streaming] def readFloor(f: HPath): Option[Long] =
    if (SinkFs.exists(f)) Some(SinkFs.readString(f).trim.toLong) else None

  /** The FEED erosion floor: the max of the version vacuum's `_floor`
    * (version dirs backing diff-derivation are gone below it) and the
    * feed vacuum's `_feed_floor` (sidecars are gone below it) — either
    * erosion makes epochs below unreadable as changes.
    */
  private[streaming] def feedFloor(root: HPath): Option[Long] = {
    val vs = Seq(readFloor(new HPath(root, "_floor")),
      readFloor(new HPath(root, "_feed_floor"))).flatten
    if (vs.isEmpty) None else Some(vs.max)
  }

  /** Data-sized bucket count for the bucket-partitioned sinks: one
    * bucket per ~`targetRowsPerBucket` rows, rounded UP to a power of
    * two and clamped to [16, 65536] — the r7 10× caveat promoted to
    * code: a PINNED count means per-bucket bytes grow with the table,
    * so every touched-bucket rewrite inflates ∝ table/buckets (measured
    * sink_io 30× for 10× data at buckets=128). Size the target so one
    * bucket lands around a few hundred MB (the default assumes
    * ordinary ~100 B rows; pass an explicit target for narrow or wide
    * rows). An EXISTING sink follows growth with `rebucket(...)` — the
    * count is part of the on-disk layout and must never drift silently.
    */
  def heuristicBuckets(rows: Long,
                       targetRowsPerBucket: Long = 4000000L): Int = {
    require(targetRowsPerBucket > 0, "targetRowsPerBucket must be positive")
    val raw = math.max(1L,
      (rows + targetRowsPerBucket - 1) / targetRowsPerBucket)
    val p2 = java.lang.Long.highestOneBit(raw)
    val rounded = if (p2 == raw) raw else p2 * 2
    math.max(16L, math.min(65536L, rounded)).toInt
  }
}

/** @param changefeedDelta when true, every epoch also persists its
  *   mode-filtered reduced batch as a `c<epoch>/` CHANGE DELTA sidecar
  *   (the Delta Lake `enableChangeDataFeed` analog: `_change_data`
  *   files written alongside the version), so the `$changes` feed
  *   derives each epoch from O(|batch|) bytes instead of the
  *   state-vs-state diff (O(table) per epoch). Opt-in like Delta's CDF
  *   because on the full-rewrite kind the sidecar is EXTRA write I/O —
  *   the other sink kinds keep epoch-local artifacts anyway. Epochs
  *   written while the flag was off (or by a handle without it) simply
  *   fall back to the diff derivation.
  */
class MergeSink(dir: String, changefeedDelta: Boolean = false)
    extends CdcSink {
  private val root = new HPath(dir)
  private val pointer = new HPath(root, "CURRENT")

  private def currentVersion: Option[String] =
    if (SinkFs.exists(pointer)) Some(SinkFs.readPointer(pointer))
    else None

  override def committedEpoch: Option[Long] = currentVersion
    .flatMap(v => scala.util.Try(v.stripPrefix("v").toLong).toOption)

  /** Reduced state as envelope rows (including tombstones). */
  def state(spark: SparkSession): Option[DataFrame] =
    currentVersion.map(v => spark.read.parquet(new HPath(root, v).toString))

  /** Committed epoch ids whose version dirs are still on disk, ascending
    * — each merge leaves its full `v<epoch>/` state, so the full-rewrite
    * sink time-travels for free (until old dirs are pruned manually).
    * Bounded by the CURRENT pointer's epoch: merge writes `v<epoch>/`
    * BEFORE the atomic swap, so a crash in between leaves an
    * uncommitted — possibly partial — version dir that must never be
    * time-travel-readable (epochs are monotonic, so dirs past the
    * pointer are exactly the uncommitted ones).
    */
  def versions: Seq[Long] = {
    val tip = committedEpoch.getOrElse(return Nil)
    val V = """v(\d+)""".r
    SinkFs.listDirNames(root)
      .collect { case V(e) => e.toLong }
      .filter(_ <= tip).sorted
  }

  override protected def commitArtifact(epoch: Long): HPath =
    new HPath(root, s"v$epoch")

  /** Full state AS OF `epochId`: the newest retained version ≤ it
    * (Delta/Iceberg VERSION AS OF semantics, like the bucketed sinks).
    * Strict about erosion, like the manifest kinds' stateAt: an epoch
    * below the vacuum floor with no retained version to serve it RAISES
    * — returning None would make the catalog serve an empty frame for
    * state that existed and was reclaimed (silent-wrong, taxonomy
    * class 1's read-side twin).
    */
  def stateAt(spark: SparkSession, epochId: Long): Option[DataFrame] =
    versions.filter(_ <= epochId).lastOption match {
      case Some(v) =>
        Some(spark.read.parquet(new HPath(root, s"v$v").toString))
      case None =>
        // the VERSION floor only — `_feed_floor` (sidecar retention)
        // must not make AS OF reads claim version erosion that never
        // happened (see CdcSink.vacuumSidecars)
        CdcSink.readFloor(new HPath(root, "_floor")).foreach { floor =>
          if (epochId < floor)
            throw new IllegalStateException(
              s"$dir: version data vacuumed away for epoch $epochId — " +
                s"the vacuum erosion floor is $floor; older versions were " +
                "reclaimed and cannot be read")
        }
        None
    }

  /** Latest-row view AS OF `epochId` (tombstoned deletes excluded). */
  def viewAt(spark: SparkSession, epochId: Long): DataFrame =
    stateAt(spark, epochId).getOrElse(
      throw new IllegalStateException(s"no committed state at epoch $epochId"))
      .filter(col("op") =!= Envelope.OpDelete).select(col("after.*"))

  /** Latest live rows (tombstones dropped, payload flattened). */
  def view(spark: SparkSession): DataFrame = {
    val s = state(spark).getOrElse(
      throw new IllegalStateException(s"no committed state in $dir"))
    s.filter(col("op") =!= Envelope.OpDelete).select(col("after.*"))
  }

  override def merge(batch: DataFrame, epochId: Long): Boolean =
    merge(batch, epochId, "upsert")

  /** Merge one micro-batch of envelope rows.
    *
    * `mode` mirrors the reference JDBC sink's insert modes
    * (`JdbcSinkConnectorConfig.java:333`):
    *   - "upsert" (default): newer position wins, deletes tombstone
    *   - "insert": append-only — keys already in state are never replaced
    *   - "update": matched-only — keys NOT already in state are dropped
    */
  def merge(batch: DataFrame, epochId: Long, mode: String): Boolean =
    // the epoch claim serializes concurrent writers that resolved the
    // same epoch number (stream foreachBatch racing ad-hoc SQL DML);
    // the replay guard runs UNDER it
    claimed(epochId, replayed(epochId)) { committed =>
      mergeClaimed(batch, epochId, mode, committed)
      true
    }

  private def mergeClaimed(batch: DataFrame, epochId: Long, mode: String,
                           committed: Option[Long]): Unit = {
    val spark = batch.sparkSession
    val prevState = state(spark)
    // raw-event fast path (r16, guide §2.4): with committed prev state,
    // default upsert mode, and no change-delta sidecar to persist, the
    // pre-reduce shuffle is redundant — the latest-by-pos aggregate in
    // `merged` below reduces raw events and prev rows in the SAME
    // exchange (the aggregate is associative; pos ties resolve
    // arbitrarily in both forms, and feed positions are collision-free
    // by contract). The batch payload crosses one shuffle, not two.
    // insert/update modes key their semi/anti joins on one-row-per-key
    // batches, a first epoch's state IS the reduced batch, and a
    // change-delta sidecar must persist exactly the reduced rows — all
    // three keep the pre-reduce.
    val rawUpsert =
      mode == "upsert" && !changefeedDelta && prevState.isDefined
    val reduced0 =
      if (rawUpsert)
        batch.filter(col("op") =!= Envelope.OpTombstone)
          .select(col("key"), col("after"), col("op"),
            col("source.pos").as("pos"))
      else Materialize.reduceByKey(batch)
        .select(col("key"), col("after"), col("op"), col("source.pos").as("pos"))
    // the epoch's own change rows: the reduced batch AFTER mode
    // filtering — exactly what rides into the merge below, and (when
    // changefeedDelta is on) what the `$changes` feed serves for this
    // epoch, so feed and state derive from the same rows by construction
    val incoming0 = prevState match {
      case None => if (mode == "update") reduced0.limit(0) else reduced0
      case Some(prev) => mode match {
        case "insert" =>
          // append-only: keys already in state never replace it
          reduced0.join(prev.select(col("key")), Seq("key"), "left_anti")
        case "update" =>
          // matched-only: keys NOT already in state are dropped
          reduced0.join(prev.select(col("key")), Seq("key"), "left_semi")
        case _ => reduced0
      }
    }
    // persist the change delta FIRST and merge from the written files:
    // the feed is bit-identical to the merge input
    val incoming =
      if (!changefeedDelta) incoming0
      else writeChangeSidecar(epochId, incoming0)
    val merged = prevState match {
      case None => incoming
      case Some(prev) =>
        graft.expressions.GraftFunctions.register(spark)
        mode match {
          case "insert" =>
            // by-name union so evolved batch schemas merge like upsert
            prev.unionByName(incoming, allowMissingColumns = true)
          case _ =>
            // unionByName + allowMissingColumns: a batch written under an
            // evolved payload schema (added columns) merges into older
            // state, old rows reading the new columns as null — the sink
            // half of K4 schema evolution (Delta mergeSchema semantics)
            prev.unionByName(incoming, allowMissingColumns = true)
              .groupBy(col("key"))
              .agg(graft.expressions.GraftFunctions.latestByPos(
                struct(col("after"), col("op"), col("pos")), col("pos")).as("e"))
              .select(col("key"), col("e.after").as("after"),
                col("e.op").as("op"), col("e.pos").as("pos"))
        }
    }
    val vname = s"v$epochId"
    // the full kind rewrites its whole state, so the write job's own
    // observed max(pos) IS the table tip (CollectMetrics — zero extra
    // I/O), recorded once so tipPos never re-opens footers
    val obs = org.apache.spark.sql.Observation()
    merged.observe(obs, max(col("pos")).as("maxpos"))
      .write.mode("overwrite").options(CdcSink.writeOptions).parquet(new HPath(root, vname).toString)
    SinkFs.mkdirs(root)
    recordMaxPos(epochId, CdcSink.observedMax(obs))
    publishEpoch(root, pointer, epochId, committed, vname)
  }

  /** Changefeed fast path from the `c<epoch>/` change-delta sidecar
    * (present iff the epoch was written with `changefeedDelta`; see
    * [[CdcSink.sidecarChanges]]) — otherwise the diff fallback.
    */
  override def changesAt(spark: SparkSession, epoch: Long,
                         prevEpoch: Option[Long]): Option[DataFrame] =
    sidecarChanges(spark, epoch, prevEpoch)

  /** Delete version dirs (and their change-delta sidecars and commit
    * sidecars) BELOW the committed tip — the full-kind analog of the
    * manifest-referenced vacuum on lsm/bucketed/scd2. Erodes time
    * travel and the batch `$changes` read to the current version (the
    * feed then serves the tip as one snapshot batch); the tip's own
    * `c<epoch>/` delta is kept so subsequent epochs keep their
    * epoch-local derivation. Returns the number of dirs deleted.
    */
  def vacuum(): Int = {
    val tip = committedEpoch.getOrElse(return 0)
    val N = """[vc](\d+)""".r
    val dead = SinkFs.listDirNames(root).filter {
      case N(e) => e.toLong < tip
      case _ => false
    }
    // the erosion FLOOR: epochs below it existed but were vacuumed. The
    // other kinds keep every manifest, so a changefeed read of an eroded
    // epoch fails on the missing data — here the version dirs ARE the
    // history, and without the marker a RESUMING `$changes` stream whose
    // offset predates the vacuum would silently skip the eroded epochs
    // (`versions` simply no longer lists them) instead of failing.
    // Written BEFORE any deletion: a crash in between leaves a floor
    // over still-intact dirs (conservative-loud — a predating stream
    // fails although it could have read); the reverse order would leave
    // eroded dirs with no floor, the silent-skip window this exists to
    // close.
    if (dead.nonEmpty)
      SinkFs.writeString(new HPath(root, "_floor"), tip.toString)
    dead.foreach { n =>
      SinkFs.deleteRecursive(new HPath(root, n))
      // the commit-ts, schema, and tip-position sidecars of a vacuumed
      // dir are dead metadata
      SinkFs.deleteIfExists(new HPath(root, n + ".committs"))
      SinkFs.deleteIfExists(new HPath(root, n + ".ddl"))
      SinkFs.deleteIfExists(new HPath(root, n + ".maxpos"))
    }
    dead.size
  }

  /** Feed-retention vacuum (`CALL vacuum(..., retain_feed_epochs)`):
    * reclaim change-delta sidecars below `floorEpoch` without touching
    * version dirs — see [[CdcSink.vacuumSidecars]]. Mostly redundant on
    * the full kind (its [[vacuum]] reclaims sidecars with versions) but
    * uniform across the sidecar-writing kinds.
    */
  def vacuumFeed(floorEpoch: Long): Int =
    CdcSink.vacuumSidecars(root, floorEpoch)

  /** Oldest epoch whose changes are still derivable, when a vacuum has
    * eroded history (None = never vacuumed): max of the version floor
    * and the feed-retention floor (see [[CdcSink.feedFloor]]).
    */
  override def changefeedFloor: Option[Long] = CdcSink.feedFloor(root)
}
