package graft.ingest

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, FileUtil, LocalFileSystem,
  Options, Path, RawLocalFileSystem}

/** Bounded driver-side retry with exponential backoff for transient sink
  * failures — the reference retries its bulk/ledger HTTP calls 3 times at
  * 1s/2s/4s before failing the unit (opensearch_base_manager.py:97-132).
  * Spark task retries already cover executor-side work; this covers the
  * DRIVER-side ledger/DLQ/target writes, where a transient FS hiccup would
  * otherwise fail the whole file/group.
  *
  * Safety: ALL driver-side appends (target, DLQ, ledger) go through
  * `StagedAppend`, so a retried attempt can never duplicate rows even if
  * the failed attempt partially committed (commitJob publishes task files
  * one by one — a mid-commit failure leaves some visible). Staging also
  * gives each attempt its own output directory, so two concurrent ingest
  * drivers appending to one shared table (e.g. the ledger) never share a
  * `_temporary` dir — with plain `mode("append")`, one job's commit
  * cleanup deletes the other's in-flight task output.
  */
object Retry {

  /** Test-only fault injection: return true to make (label, attempt)
    * throw before the body runs. Null in production.
    */
  @volatile var injectFault: (String, Int) => Boolean = null

  def apply[T](label: String, attempts: Int = 3)(f: => T): T = {
    val base = sys.props.get("graft.ingest.retryBaseMs").map(_.toLong).getOrElse(1000L)
    var attempt = 1
    var out: Option[T] = None
    while (out.isEmpty) {
      try {
        val inj = injectFault
        if (inj != null && inj(label, attempt))
          throw new RuntimeException(s"injected fault: $label attempt $attempt")
        out = Some(f)
      } catch {
        case e: Exception =>
          if (attempt >= attempts) throw e
          Thread.sleep(base << (attempt - 1)) // 1s, 2s, 4s at the default base
          attempt += 1
      }
    }
    out.get
  }
}

/** Filesystem probes through Spark's Hadoop FS layer — `java.io.File`
  * checks silently report false on hdfs:// / s3a:// paths, turning guards
  * into unconditional aborts (and resume into a ledger-ignoring no-op).
  */
object Fs {
  private def conf = org.apache.spark.sql.SparkSession.getActiveSession
    .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
    .map(_.sparkContext.hadoopConfiguration)
    .getOrElse(new org.apache.hadoop.conf.Configuration())

  /** `f` over `path` and the FS it lives on. `raw` picks, on the local FS,
    * the raw FS beneath the checksummed one: a write through it leaves no
    * `.crc` sidecar, and a rename is one rename(2).
    */
  private def on[T](path: String, raw: Boolean = false)(f: (FileSystem, Path) => T): T = {
    val p = new Path(path)
    f(p.getFileSystem(conf) match {
      case local: LocalFileSystem if raw => local.getRaw
      case fs => fs
    }, p)
  }

  def exists(path: String): Boolean = on(path)(_.exists(_))

  /** Small sidecar writes/reads (e.g. a layout's stats.json) through the
    * same FS the data uses — java.nio would silently target the LOCAL fs
    * for an hdfs:///s3a:// layout and fail only after the heavy writes.
    */
  def writeString(path: String, s: String): Unit = on(path) { (fs, p) =>
    val out = fs.create(p, true)
    try out.write(s.getBytes(UTF_8))
    finally out.close()
  }

  def readString(path: String): String = on(path) { (fs, p) =>
    val in = fs.open(p)
    try new String(in.readAllBytes(), UTF_8)
    finally in.close()
  }

  /** `readString`, or None when the file does not exist. */
  def readIfExists(path: String): Option[String] =
    try Some(readString(path)) catch { case _: java.io.FileNotFoundException => None }

  def mkdirs(path: String): Unit = on(path)(_.mkdirs(_))

  def delete(path: String): Boolean = on(path)(_.delete(_, false))

  def rename(src: String, dst: String): Boolean = on(src)(_.rename(_, new Path(dst)))

  def modTimeMs(path: String): Option[Long] = on(path) { (fs, p) =>
    try Some(fs.getFileStatus(p).getModificationTime)
    catch { case _: java.io.FileNotFoundException => None }
  }

  /** Create-fail exclusive file creation. Returns false when the path
    * already exists. Scheme-aware because the atomicity primitive
    * differs: on HDFS `create(overwrite = false)` is enforced by the
    * namenode, but Hadoop's LOCAL filesystem implements it as a
    * check-then-create — two drivers can both pass the existence check
    * and both believe they hold the lock (observed as interleaved seq
    * reservations in the two-driver test). Local paths therefore go
    * through the kernel's O_CREAT|O_EXCL via `Files.createFile`. Object
    * stores without conditional create remain best-effort, the same
    * caveat as every Hadoop lock file.
    */
  def createExclusive(path: String, content: String): Boolean = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val scheme = Option(p.toUri.getScheme).getOrElse(fs.getUri.getScheme)
    if (scheme == null || scheme == "file") {
      val local = java.nio.file.Paths.get(p.toUri.getPath match {
        case null | "" => path.stripPrefix("file:")
        case s         => s
      })
      try {
        java.nio.file.Files.createFile(local) // O_EXCL — atomic create-fail
        java.nio.file.Files.writeString(local, content)
        true
      } catch { case _: java.nio.file.FileAlreadyExistsException => false }
    } else
      try {
        val out = fs.create(p, false)
        try out.write(content.getBytes(UTF_8))
        finally out.close()
        true
      } catch {
        case e: java.io.IOException => if (fs.exists(p)) false else throw e
      }
  }

  /** Replace a small file's content by one atomic rename of `<path>.tmp`
    * over it, so a reader sees the old content or the new, never a torn
    * file. On the local FS the rename is rename(2); elsewhere it is
    * `FileContext.rename(OVERWRITE)`, atomic on HDFS and best-effort on
    * object stores (the same caveat as `createExclusive`). Never
    * `FileSystem.rename(OVERWRITE)`: it deletes the target, then renames.
    */
  def replace(path: String, content: String): Unit = on(path, raw = true) { (fs, p) =>
    val tmp = new Path(s"$path.tmp")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes(UTF_8))
    finally out.close()
    fs match {
      case _: RawLocalFileSystem =>
        if (!fs.rename(tmp, p)) throw new java.io.IOException(s"rename $tmp -> $p failed")
      case _ => FileContext.getFileContext(fs.getUri, conf)
        .rename(fs.makeQualified(tmp), fs.makeQualified(p), Options.Rename.OVERWRITE)
    }
  }

  /** Bytes of every file under `path`, hidden ones too (0 when missing). */
  def treeBytes(path: String): Long = on(path, raw = true) { (fs, p) =>
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }

  /** Copy one file; fails when `dst` exists. */
  def copy(src: String, dst: String): Unit = on(src, raw = true) { (srcFs, s) =>
    on(dst, raw = true)((dstFs, d) => FileUtil.copy(srcFs, s, dstFs, d, false, false, conf))
  }

  /** First line of a file (None when empty); non-UTF-8 bytes throw. */
  def firstLine(path: String): Option[String] = on(path) { (fs, p) =>
    val in = new java.io.BufferedReader(
      new java.io.InputStreamReader(fs.open(p), UTF_8.newDecoder()))
    try Option(in.readLine()) finally in.close()
  }

  /** Immediate children's names of a directory (empty if missing). */
  def childNames(dir: String): Seq[String] = on(dir) { (fs, p) =>
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
  }

  /** True when ANY entry in the path's tree (the root dir, every
    * descendant dir, every file) has a modtime at or after `cutoffMs` —
    * activity detection for in-flight write trees. A directory's OWN
    * mtime freezes once its direct children exist (task files land
    * levels below), so "is anything still writing here" must consider
    * the whole tree, not the root. Short-circuits on the first fresh
    * entry (an in-flight stage proves itself live after a handful of
    * entries — never a full O(files) walk per probe), and treats a
    * vanished entry or listing failure as ACTIVITY (a concurrent writer
    * or cleaner is mutating the tree right now — the conservative answer
    * for a caller deciding whether it is safe to delete). A missing root
    * is NOT activity: there is nothing to delete.
    */
  def anyMtimeAtOrAfter(path: String, cutoffMs: Long): Boolean = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    // ONLY a not-found mid-walk maps to "activity" — that is precisely a
    // concurrent writer/cleaner mutating the tree. A missing ROOT is no
    // activity (nothing left to act on — the caller's delete is a no-op).
    // Other failures (permissions, FS outages) PROPAGATE: mapping them to
    // "live forever" would silently disable GC with no signal.
    def walk(st: FileStatus): Boolean =
      st.getModificationTime >= cutoffMs || (st.isDirectory && {
        val kids =
          try fs.listStatus(st.getPath)
          catch { case _: java.io.FileNotFoundException => return true }
        kids.exists(walk)
      })
    try walk(fs.getFileStatus(p))
    catch { case _: java.io.FileNotFoundException => false }
  }

  def deleteRecursive(path: String): Boolean = on(path)(_.delete(_, true))
}

/** Retry-safe parquet append: `mode("append")` + `Retry` can duplicate
  * rows when a failed attempt PARTIALLY commits (failure partway through
  * commitJob publishes some task files; the retry then appends everything
  * again) — LWW repairs only id-keyed targets, and a count check cannot
  * see it. Here each attempt writes to a fresh STAGING directory beside
  * the target (same filesystem, so publish is rename); only a
  * fully-committed attempt publishes, by moving its part files into the
  * target. A failed attempt leaves nothing visible, so the retry is
  * duplication-free for ANY schema. Part names carry the write's job UUID
  * (never collide with existing target files); each publish rename is
  * retried (idempotently — a rename whose source is already gone is
  * counted done), and a publish that still fails partway leaves the stage
  * directory INTACT (an inert `.__stage-*` sibling, never read — stages
  * are outside the target directory) so the unpublished part files stay
  * inspectable, plus at worst a partial append — the same exposure as a
  * crashed plain append, now only reachable through a crash or an
  * exhausted retry. Orphaned stages are GARBAGE for correctness (a failed
  * append reports its unit failed, so resume re-ingests the whole unit);
  * `vacuumStages` reclaims them past a grace window at every ingest
  * entry, so repeated failures cannot leak disk unboundedly.
  */
object StagedAppend {
  private lazy val log = org.slf4j.LoggerFactory.getLogger(StagedAppend.getClass)
  def apply(df: org.apache.spark.sql.DataFrame, targetPath: String, label: String): Unit = {
    val stage = targetPath.stripSuffix("/") +
      s".__stage-${java.util.UUID.randomUUID().toString.take(8)}"
    var published = false
    var publishStarted = false
    try {
      Retry(label)(df.write.mode("overwrite").parquet(stage))
      Fs.mkdirs(targetPath)
      publishStarted = true
      Fs.childNames(stage)
        .filterNot(n => n.startsWith("_") || n.startsWith("."))
        .foreach { n =>
          Retry(s"$label-publish") {
            val src = s"$stage/$n"
            // rename first — the happy path pays ONE metadata op per part;
            // only a failed rename consults exists (absent source = a
            // prior attempt's rename already landed, counted done)
            if (!Fs.rename(src, s"${targetPath.stripSuffix("/")}/$n") && Fs.exists(src))
              throw new IllegalStateException(s"publish rename failed for $src")
          }
        }
      published = true
    } finally {
      // a stage is cleaned up when fully published, or when the stage
      // WRITE itself failed (nothing valuable in it). A PARTIAL publish
      // keeps the stage: deleting it would destroy the not-yet-visible
      // part files while some siblings are already in the target.
      if (published || !publishStarted)
        try Fs.deleteRecursive(stage) catch { case _: Exception => () }
    }
  }

  /** Reclaim orphaned `.__stage-*` siblings of `targetPath` older than
    * the grace window (`graft.ingest.stageGraceMs`, default 6h). A stage
    * outlives its append only through a crash or an exhausted publish
    * retry — in both cases the unit was reported FAILED and resume
    * re-ingests it, so the stage's contents are never needed again. The
    * grace window exists solely to spare a CONCURRENT driver's in-flight
    * stage; staleness is the newest modtime across the stage's WHOLE
    * tree (the root dir's own mtime freezes once `_temporary` is
    * created, while task files keep landing levels below — judging by
    * the root would let one driver delete another's long-running write
    * out from under it).
    */
  def vacuumStages(targetPath: String, minAgeMs: Long = sys.props
      .get("graft.ingest.stageGraceMs").map(_.toLong).getOrElse(6L * 3600 * 1000)): Unit = {
    val dir = targetPath.stripSuffix("/")
    val cut = dir.lastIndexOf('/')
    if (cut <= 0) return // no parent to scan (bare relative name)
    val parent = dir.substring(0, cut)
    val prefix = dir.substring(cut + 1) + ".__stage-"
    val now = System.currentTimeMillis()
    // GC must never kill the ingest it runs inside of: every per-stage
    // failure (and a failed parent listing) degrades to a WARNED skip —
    // loud enough that a persistently failing probe (permissions, FS
    // outage) is visible instead of silently sparing garbage forever.
    // InterruptedException stays fatal (NonFatal excludes it).
    val names =
      try Fs.childNames(parent)
      catch {
        case scala.util.control.NonFatal(e) =>
          log.warn(s"stage vacuum: cannot list $parent — skipped", e)
          return
      }
    names.filter(_.startsWith(prefix)).foreach { n =>
      val stage = s"$parent/$n"
      try {
        // the probe short-circuits on the first fresh entry and reports
        // ACTIVITY when an entry vanishes mid-walk (a concurrent
        // writer/cleaner) — both mean "not garbage yet"; a vanished root
        // reports no activity and the delete is then a no-op
        if (!Fs.anyMtimeAtOrAfter(stage, now - minAgeMs))
          Fs.deleteRecursive(stage)
      } catch {
        case scala.util.control.NonFatal(e) =>
          log.warn(s"stage vacuum: skipped $stage", e)
      }
    }
  }
}
