package graft.streaming

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets.UTF_8

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileContext, FileSystem, Options, Path => HPath}

import org.apache.spark.sql.SparkSession

/** Metadata I/O of the MERGE-sink family through the Hadoop FileSystem
  * API, so a sink root can live wherever the cluster's tables do —
  * `file:`, `hdfs://`, or an object store with a Hadoop connector —
  * instead of being wired to the driver's local disk through
  * `java.nio.file`. The DATA files (parquet state, deltas, sidecars)
  * always went through Spark's own Hadoop-based readers/writers; this
  * moves the COMMIT machinery — manifests, version listings, the
  * atomic CURRENT swap, `.committs`/`.ddl`/`_floor` sidecars, and the
  * `EpochClaim` claim files — onto the same abstraction, the way the
  * lakehouse formats commit (Delta's LogStore, Iceberg's
  * HadoopTableOperations; reference sinks are JDBC/Kafka and have no
  * filesystem commit at all, `JdbcChangeEventSink.java`).
  *
  * Metadata I/O is CHECKSUM-FREE. Hadoop's default local filesystem is
  * a `ChecksumFileSystem` that shadows every file with a `.crc`
  * sibling and renames the pair in TWO non-atomic steps — a reader of
  * the CURRENT pointer landing between them throws
  * `ChecksumException` (observed ~50% under a 12-writer race). So this
  * object keeps its own per-(scheme, authority) cache of
  * NON-Hadoop-cached `FileSystem` instances with
  * `setWriteChecksum(false)` + `setVerifyChecksum(false)`: no `.crc`
  * sibling is ever written for a pointer/claim/manifest file, the
  * rename collapses to its single atomic data step, and a reader never
  * verifies a stale sidecar. (Data files — parquet state, deltas —
  * are written by Spark's own writers and carry their own integrity;
  * the manifests the sinks write here are line-oriented text whose
  * parse is its own validation.)
  *
  * Atomicity contract (same as the lakehouse analogs):
  *   - [[swapPointer]] (the commit point) is write-temp + atomic
  *     rename-with-overwrite: `java.nio` `ATOMIC_MOVE` on the `file:`
  *     scheme, `FileContext.rename(OVERWRITE)` on schemes with an
  *     `AbstractFileSystem` binding (hdfs, viewfs — atomic there).
  *     Schemes with neither (plain `s3a://`) fall back to
  *     delete+rename, which is NOT atomic there — S3 needs a
  *     rename-atomic layer (S3Guard-era committers, a consistent
  *     HCFS implementation, or an external commit service), exactly
  *     the documented constraint Delta's S3SingleDriverLogStore and
  *     Iceberg's lock-manager catalogs exist to solve.
  *   - [[createNew]] (claim files) is `java.nio` `CREATE_NEW` on the
  *     `file:` scheme (O_EXCL — atomic across PROCESSES sharing the
  *     local/NFS root, not just across threads) and
  *     `create(overwrite=false)` elsewhere — atomic create-if-absent
  *     on HDFS. The in-process claim registry ([[EpochClaim]])
  *     additionally covers the intra-JVM race (local[n] writers share
  *     the JVM).
  *
  * FileSystem configuration comes from the active SparkSession when
  * one exists — so `fs.*` settings (credentials, endpoints) flow to
  * the sinks exactly as they do to Spark's scans.
  */
private[graft] object SinkFs {

  def conf: Configuration =
    SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration())

  /** scheme+authority -> a checksum-free FileSystem (never closed; one
    * per distinct root authority for the life of the JVM, mirroring
    * Hadoop's own cache policy).
    */
  private val fsCache =
    new java.util.concurrent.ConcurrentHashMap[String, FileSystem]()

  def fs(p: HPath): FileSystem = {
    val u = p.toUri
    val key = s"${u.getScheme}://${Option(u.getAuthority).getOrElse("")}"
    // conf is built only on a cache MISS: newHadoopConf() copies the
    // whole Spark conf, far too heavy for per-metadata-op use — the
    // same settle-once policy as Hadoop's own FileSystem cache
    fsCache.computeIfAbsent(key, _ => {
      val f = FileSystem.newInstance(u, conf)
      // ChecksumFileSystem honors both; other schemes no-op or manage
      // integrity internally (HDFS block checksums are unaffected)
      try { f.setWriteChecksum(false); f.setVerifyChecksum(false) }
      catch { case NonFatal(_) => () }
      f
    })
  }

  /** The default filesystem's scheme (what a scheme-less sink root
    * resolves to), settled once.
    */
  private lazy val defaultScheme: String =
    Option(FileSystem.getDefaultUri(conf).getScheme).getOrElse("file")

  /** The local `java.nio` form of `p` when it lives on the `file:`
    * scheme — the branch where POSIX atomicity (O_EXCL create,
    * ATOMIC_MOVE rename) is available and cheaper than the Hadoop
    * layer.
    */
  private def localPath(p: HPath): Option[java.nio.file.Path] = {
    val u = qualified(p).toUri
    if (u.getScheme == "file") Some(java.nio.file.Paths.get(u.getPath))
    else None
  }

  /** Fully-qualified form (scheme + authority made explicit) — the
    * stable identity used as the in-process claim-registry key.
    */
  def qualified(p: HPath): HPath = fs(p).makeQualified(p)

  def exists(p: HPath): Boolean = fs(p).exists(p)

  def isDirectory(p: HPath): Boolean = {
    val f = fs(p)
    f.exists(p) && f.getFileStatus(p).isDirectory
  }

  def mkdirs(p: HPath): Unit = fs(p).mkdirs(p): Unit

  def readString(p: HPath): String =
    new String(readBytes(p), UTF_8)

  private def readBytes(p: HPath): Array[Byte] = {
    val in = fs(p).open(p)
    try in.readAllBytes() finally in.close()
  }

  def readLines(p: HPath): Seq[String] = {
    val r = new BufferedReader(new InputStreamReader(fs(p).open(p), UTF_8))
    try Iterator.continually(r.readLine()).takeWhile(_ != null).toSeq
    finally r.close()
  }

  /** Overwrite `p` with `s`. NOT atomic against concurrent readers —
    * use [[swapPointer]] for anything a reader may race (the sinks'
    * non-pointer writes are all epoch-claimed or immutable-once-named).
    */
  def writeString(p: HPath, s: String): Unit = {
    val out = fs(p).create(p, true)
    try out.write(s.getBytes(UTF_8)) finally out.close()
  }

  /** Create `p` with content `s` iff it does not exist. Throws Hadoop's
    * `FileAlreadyExistsException` when it does — the claim-file
    * primitive. On the `file:` scheme this is `java.nio` `CREATE_NEW`
    * (O_EXCL), so two PROCESSES claiming the same epoch on a shared
    * local/NFS root serialize at the kernel, not at a check-then-create
    * window; on HDFS `create(overwrite=false)` is itself atomic.
    */
  def createNew(p: HPath, s: String): Unit = localPath(p) match {
    case Some(nio) =>
      try java.nio.file.Files.write(nio, s.getBytes(UTF_8),
        java.nio.file.StandardOpenOption.CREATE_NEW,
        java.nio.file.StandardOpenOption.WRITE): Unit
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          throw new FileAlreadyExistsException(p.toString)
      }
    case None =>
      val f = fs(p)
      // some schemes surface an existing file as a generic IOException
      // from create(overwrite=false); normalize to ONE exception type
      if (f.exists(p)) throw new FileAlreadyExistsException(p.toString)
      val out =
        try f.create(p, false)
        catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException |
               _: java.nio.file.FileAlreadyExistsException =>
            throw new FileAlreadyExistsException(p.toString)
          case e: java.io.IOException if f.exists(p) =>
            throw new FileAlreadyExistsException(p.toString + s" ($e)")
        }
      try out.write(s.getBytes(UTF_8)) finally out.close()
  }

  def deleteIfExists(p: HPath): Unit = {
    try fs(p).delete(p, false)
    catch { case NonFatal(_) => () }
    ()
  }

  def deleteRecursive(p: HPath): Unit = fs(p).delete(p, true): Unit

  /** Child names of a directory (files and dirs), empty when absent. */
  def listNames(p: HPath): Seq[String] = {
    val f = fs(p)
    if (!f.exists(p)) Nil
    else f.listStatus(p).toSeq.map(_.getPath.getName)
  }

  /** Child names that are directories, empty when absent. */
  def listDirNames(p: HPath): Seq[String] = {
    val f = fs(p)
    if (!f.exists(p)) Nil
    else f.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath.getName)
  }

  /** True when [[rename]] is atomic for `p`'s scheme: the `file:` nio
    * fast path and schemes with an `AbstractFileSystem` binding (hdfs,
    * viewfs). Object-store schemes (s3a and friends) are not. Force
    * with `-Dgraft.sink.rename.atomic=false` to exercise the
    * no-atomic-rename commit path on any scheme (the test hook).
    */
  def renameAtomic(p: HPath): Boolean =
    sys.props.get("graft.sink.rename.atomic") match {
      case Some("false") => false
      case Some("true") => true
      case _ =>
        Option(p.toUri.getScheme).getOrElse(defaultScheme) match {
          case "file" | "hdfs" | "viewfs" => true
          case other => schemeAtomicCache.computeIfAbsent(other, _ =>
            try {
              FileContext.getFileContext(qualified(p).toUri, conf)
              // an AbstractFileSystem binding exists; Hadoop's contract
              // for FileContext.rename(OVERWRITE) is atomicity
              true
            } catch { case NonFatal(_) => false })
        }
    }

  /** scheme -> has an AbstractFileSystem binding (settled once; this
    * sits on the per-pointer-read path for object-store schemes).
    */
  private val schemeAtomicCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  /** Frame a pointer payload with a trailing CRC line, so a reader can
    * tell a COMPLETE payload from a torn one on schemes where the
    * pointer is overwritten in place (no atomic rename). The frame is
    * part of the commit layer for object stores — the readers'
    * validate-and-retry makes the overwrite effectively atomic to them.
    */
  private[graft] def frame(content: String): String = {
    val body = if (content.endsWith("\n")) content else content + "\n"
    val c = new java.util.zip.CRC32
    c.update(body.getBytes(UTF_8))
    body + f"#crc32:${c.getValue}%08x\n"
  }

  /** The framed payload's content when the frame validates; None =
    * torn, corrupt or unframed.
    */
  private[graft] def unframe(raw: String): Option[String] = {
    val idx = raw.lastIndexOf("#crc32:")
    if (idx < 0) None
    else {
      val body = raw.substring(0, idx)
      val c = new java.util.zip.CRC32
      c.update(body.getBytes(UTF_8))
      if (raw.substring(idx).trim == f"#crc32:${c.getValue}%08x") Some(body)
      else None
    }
  }

  /** Read a CURRENT-pointer payload (trimmed). All pointer READS go
    * through this: it requires a valid [[frame]] and retries briefly on
    * a torn or transiently unreadable payload — on atomic-rename
    * schemes the first read always succeeds (an unframed payload there
    * is refused at once as a retired format); on
    * overwrite-in-place schemes this is the reader half of the commit
    * protocol. A genuinely missing pointer still surfaces as the
    * underlying FileNotFoundException (callers `exists`-guard — absence
    * means "no commit yet", never a mid-swap state, because the swap
    * overwrites and never unlinks).
    */
  def readPointer(p: HPath): String = {
    val atomic = renameAtomic(p)
    val maxAttempts = 200
    var attempt = 0
    while (true) {
      attempt += 1
      val raw =
        try Some(readString(p))
        catch {
          case e: java.io.FileNotFoundException => throw e
          case NonFatal(_) if attempt < maxAttempts => None
        }
      raw.flatMap(unframe) match {
        case Some(content) => return content.trim
        case None if atomic && raw.exists(!_.contains("#crc32:")) =>
          // an atomic-rename swap cannot tear, so an unframed payload is
          // a pointer an earlier build wrote
          CdcSink.retiredFormat(p.getParent, "unframed CURRENT pointer")
        case None if attempt >= maxAttempts =>
          throw new java.io.IOException(
            s"pointer $p torn or unreadable after $attempt attempts — " +
              "a writer crashed mid-overwrite on a no-atomic-rename " +
              "scheme, the store is eventually consistent, or the " +
              "pointer is unframed (written by an earlier build)")
        case None =>
          // first misses spin (the common mid-swap window is µs), the
          // tail backs off to ~5ms — worst case ~1s before the loud
          // crashed-mid-overwrite error
          if (attempt > 3) Thread.sleep(math.min(5L, attempt.toLong))
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Atomically publish `content` at `pointer` — the COMMIT POINT of
    * every sink. Two protocols by scheme capability:
    *   - atomic rename ([[renameAtomic]]): write a sibling temp file,
    *     rename-with-overwrite — readers see old or new, never torn,
    *     never missing.
    *   - no atomic rename (object stores): framed OVERWRITE-IN-PLACE +
    *     read-back-verify, under the epoch claim that already
    *     serializes same-epoch writers (the Delta
    *     S3SingleDriverLogStore / Iceberg lock-manager role). A real
    *     object-store PUT is atomic per object, so readers see old or
    *     new; on stores where an overwrite CAN tear, the frame +
    *     [[readPointer]] retry closes the gap. Residual caveat, same
    *     as the lakehouse analogs: concurrent DIFFERENT-epoch writers
    *     in SEPARATE drivers can still interleave between write and
    *     verify — run one driver per table on such schemes, or front
    *     the root with a rename-atomic layer.
    */
  def swapPointer(pointer: HPath, tmpName: String, content: String): Unit =
    if (renameAtomic(pointer)) {
      val tmp = new HPath(pointer.getParent, tmpName)
      writeString(tmp, frame(content))
      rename(tmp, pointer)
    } else {
      val framed = frame(content)
      var attempt = 0
      var ok = false
      while (!ok) {
        attempt += 1
        writeString(pointer, framed)
        ok = try readString(pointer) == framed
        catch { case NonFatal(_) => false }
        if (!ok && attempt >= 5)
          throw new java.io.IOException(
            s"pointer swap at $pointer failed read-back-verify " +
              s"$attempt times — concurrent writer or store fault")
      }
    }

  /** Rename `src` over `dst` (replacing it): `java.nio` `ATOMIC_MOVE`
    * on the `file:` scheme (one rename(2) syscall — atomic, and no
    * `FileContext` construction per call), `FileContext` OVERWRITE
    * rename where the scheme has an AbstractFileSystem binding (hdfs,
    * viewfs — atomic there), delete+rename elsewhere (loudly
    * non-atomic; see class doc).
    */
  def rename(src: HPath, dst: HPath): Unit = localPath(dst) match {
    case Some(nioDst) =>
      java.nio.file.Files.move(
        java.nio.file.Paths.get(fs(src).makeQualified(src).toUri.getPath),
        nioDst,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
    case None =>
      val f = fs(dst)
      val qSrc = f.makeQualified(src)
      val qDst = f.makeQualified(dst)
      try {
        FileContext.getFileContext(qDst.toUri, conf)
          .rename(qSrc, qDst, Options.Rename.OVERWRITE)
      } catch {
        case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
          // no AbstractFileSystem for this scheme (e.g. s3a): fall back
          // to delete+rename — a reader can observe the gap, and a crash
          // in it loses the pointer; such stores need a rename-atomic
          // layer for production commit safety (class doc)
          f.delete(qDst, false)
          if (!f.rename(qSrc, qDst))
            throw new java.io.IOException(s"rename $qSrc -> $qDst failed")
      }
  }
}
