package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** File-ingestion façade mirroring the reference's `ingest_data` flow
  * (reference bulkupdate.py:482-531 + file_processor.py:584-633):
  * source discovery → parse (CSV with header / JSON single-or-array) →
  * coercion → id-based upsert → quarantine of malformed rows (DLQ) →
  * ledger skip under resume → count verification → per-file summary.
  *
  * Scale shape: file listing is metadata-only; parsing is the parallel
  * scan; the only shuffle is the upsert dedupe (and only when an `id`
  * column exists). Malformed rows ride Spark's PERMISSIVE corrupt-record
  * channel instead of failing the batch — the reference's per-item bulk
  * error semantics (file_processor.py:441-457).
  */
object FileIngest {

  case class FileReport(file: String, totalRows: Long, failedRows: Long, status: String)
  case class IngestSummary(
      files: Seq[FileReport],
      totalRows: Long,
      processedRows: Long,
      failedRows: Long,
      verified: Boolean)

  private val Corrupt = "_corrupt_record"
  private val SeqCol = "__seq"

  /** Reserve `n` values from the target's monotonic write-sequence counter
    * (sidecar `_graft_seq` inside the target dir — underscore-prefixed, so
    * parquet readers ignore it). The counter advances BEFORE any rows are
    * written, so no two writes — including a crash-replayed one — ever
    * share a sequence value. Each ingested file stamps its rows with one
    * reserved value (`base + fileIndex`, the caller's file order), which
    * is what makes the target's LWW resolution (`resolveLww`) reproduce
    * the reference's `_id` overwrite semantics: a later write of the same
    * id wins, and a crash-window replay of an identical file resolves to
    * identical content (file_processor.py:248-257, README.md:192-198).
    *
    * Counter I/O goes through the Hadoop FS layer (`Fs`), so the counter
    * lives WITH the target on hdfs:///s3a:// deployments — a java.nio
    * sidecar would silently land in a local directory that does not
    * travel with the data, and a new driver would then see base=0 and
    * invert LWW for every future write.
    *
    * Single-writer is ENFORCED, not just documented: reservation holds an
    * exclusive create-fail lock file (`_graft_seq.lock`), so two
    * concurrent ingest drivers can never read the same base and stamp
    * overlapping sequence values (which would make LWW ambiguous). A
    * competing driver spins briefly, then aborts loudly; a lock older
    * than `graft.ingest.seqLockStaleMs` (crashed owner — reservation
    * itself is milliseconds) is broken. Crash-safety of the advance: the
    * new value is written to `_graft_seq.tmp` BEFORE the old file is
    * replaced, and readers take max(counter, tmp), so every crash point
    * resumes at-or-above the reserved range (skipping values is safe —
    * only monotonicity matters).
    */
  private def reserveSeqRange(targetPath: String, n: Int): Long = {
    val dir = targetPath.stripSuffix("/")
    val f = s"$dir/_graft_seq"
    val tmp = s"$dir/_graft_seq.tmp"
    val lock = s"$dir/_graft_seq.lock"
    Fs.mkdirs(dir)
    def prop(k: String, d: Long) = sys.props.get(k).map(_.toLong).getOrElse(d)
    val timeoutMs = prop("graft.ingest.seqLockTimeoutMs", 10000L)
    val staleMs = prop("graft.ingest.seqLockStaleMs", 60000L)
    val deadline = System.currentTimeMillis() + timeoutMs
    val token = s"${java.util.UUID.randomUUID()} ${System.currentTimeMillis()}"
    var held = false
    while (!held) {
      held = Fs.createExclusive(lock, token)
      if (!held) {
        val age = Fs.modTimeMs(lock).map(System.currentTimeMillis() - _)
        // local-clock age is only a cheap PRE-FILTER — breakStaleLock
        // re-measures against the filesystem's own clock before breaking
        if (age.exists(_ > staleMs)) breakStaleLock(lock, staleMs)
        // deadline and sleep apply on EVERY contended iteration — a
        // stale-looking lock that repeatedly fails to break (permissions,
        // clock skew, races) must abort at the timeout, not hot-spin
        if (System.currentTimeMillis() > deadline)
          throw new IllegalStateException(
            s"seq-counter lock $lock is held by another ingest driver " +
              s"(age ${age.getOrElse(-1L)} ms) — concurrent ingest into one target " +
              "is single-writer; if the owner crashed, the lock breaks after " +
              s"$staleMs ms or can be removed manually")
        Thread.sleep(50)
      }
    }
    try {
      // When main is ABSENT, the orphan tmp is the counter's ONLY copy and
      // therefore authoritative — read it strictly (a corrupt sole copy
      // must abort loudly, exactly like a corrupt main; lenient would
      // silently yield base 0 and invert LWW). A torn tmp can only coexist
      // with a live main (the write order below guarantees it), so the
      // lenient read stays correct for that case.
      val mainExists = Fs.exists(f)
      val base = math.max(readSeqFile(f, lenient = false),
        readSeqFile(tmp, lenient = mainExists))
      // A prior owner that crashed between delete(main) and rename(tmp→main)
      // left the TMP as the ONLY copy of the counter. Promote it back to
      // main BEFORE overwriting tmp — Fs.writeString truncates in place, so
      // writing the new tmp first would open a window where a second crash
      // leaves main absent AND tmp empty, silently resetting the counter to
      // 0 (the exact LWW inversion readSeqFile's corruption abort guards).
      // The rename result is CHECKED: proceeding past a failed promotion
      // would truncate the sole copy in place and reopen that window.
      if (!mainExists && Fs.exists(tmp))
        require(Fs.rename(tmp, f), s"seq-counter promotion rename failed: $tmp -> $f")
      Fs.writeString(tmp, (base + n).toString)
      Fs.delete(f)
      Fs.rename(tmp, f)
      base
    } finally {
      // verify-then-delete: if some waiter spuriously broke OUR lock and a
      // new owner re-created it, deleting blindly would unlock THEM too.
      // The verify read retries transient failures — concluding "not mine"
      // on a single FS hiccup would strand our own lock and force every
      // later driver through the 10s-timeout/60s-stale-break path.
      val mine = {
        var res: Option[Boolean] = None
        var attempt = 0
        while (res.isEmpty && attempt < 3) {
          res =
            try Some(Fs.readString(lock) == token)
            catch {
              case _: java.io.FileNotFoundException => Some(false) // broken by a waiter
              case _: Exception =>
                attempt += 1
                if (attempt < 3) Thread.sleep(20L)
                None
            }
        }
        res.getOrElse(false) // still unreadable: the stale-break will clear it
      }
      if (mine) Fs.delete(lock)
    }
  }

  /** Break a stale lock without the delete-TOCTOU: two waiters that both
    * observed staleness must not BOTH end up deleting (the loser's queued
    * delete would remove the winner's FRESH lock and admit a third driver).
    *
    * The content snapshot is taken HERE and staleness re-verified AFTER
    * the read — a waiter that re-acquired in the meantime wrote a fresh
    * modtime, so a successful re-check proves the content read belongs to
    * the stale owner (a 60s-stale file cannot share its modtime with a
    * replacement written now). The re-check measures age against the
    * FILESYSTEM'S clock (a probe file's modtime), not the driver's — on a
    * shared hdfs/s3a target, a waiter whose local clock runs ahead of the
    * storage service by more than staleMs would otherwise break a LIVE
    * owner's lock and double-reserve. The break itself is claimed
    * by an atomic rename to a unique tombstone — only one waiter wins it —
    * and the tombstone's content is verified against the stale snapshot:
    * if the rename actually grabbed a FRESH lock (replaced in the
    * check-to-rename instant), it is restored. If the restore collides
    * with yet another newly-created lock, the BREAKER aborts loudly; the
    * displaced owner cannot be signaled on a plain FS, so that residual
    * (fresh acquisition in the sub-ms check-to-rename window AND a third
    * driver acquiring in the restore window) is narrowed, not eliminated —
    * it is the inherent limit of advisory lock files without compare-and-
    * swap. The displaced owner's own unlock is token-verified, so it never
    * compounds the damage by deleting the third driver's lock.
    */
  private def breakStaleLock(lock: String, staleMs: Long): Unit = {
    val seen = try Some(Fs.readString(lock)) catch { case _: Exception => None }
    val now = fsNowMs(lock).getOrElse(System.currentTimeMillis())
    val stillStale = Fs.modTimeMs(lock).exists(now - _ > staleMs)
    if (seen.isEmpty || !stillStale) return // replaced under us — no break
    val tomb = s"$lock.broken-${java.util.UUID.randomUUID().toString.take(8)}"
    if (Fs.rename(lock, tomb)) {
      val got = try Some(Fs.readString(tomb)) catch { case _: Exception => None }
      if (got == seen) Fs.delete(tomb) // broke the stale lock; loop re-acquires
      else {
        // we grabbed a lock that was replaced under us — put it back. If
        // its owner raced through unlock during the gap (saw the lock
        // missing, concluded "broken by a waiter", exited), the restored
        // lock is an orphan — but a fresh-mtime one, so it self-heals via
        // this same stale-break after staleMs; waiters in the interim hit
        // the timeout abort with the manual-removal hint
        if (Fs.exists(lock) || !Fs.rename(tomb, lock)) {
          Fs.delete(tomb)
          throw new IllegalStateException(
            s"seq-counter lock $lock changed owners while breaking a stale " +
              "lock and could not be restored — aborting rather than risk " +
              "two concurrent sequence reservations")
        }
      }
    }
  }

  /** The filesystem's own current time, measured as a freshly-written
    * probe file's modtime — comparing a lock's modtime against THIS clock
    * is skew-free (both timestamps come from the same storage service),
    * unlike comparing against `System.currentTimeMillis()` on the driver.
    * None when the probe fails (caller falls back to the local clock).
    * Only called on the contended stale-break path, never per-reservation.
    */
  private def fsNowMs(near: String): Option[Long] = {
    val probe = s"$near.clock-${java.util.UUID.randomUUID().toString.take(8)}"
    try {
      Fs.writeString(probe, "")
      Fs.modTimeMs(probe)
    } catch { case _: Exception => None }
    finally Fs.delete(probe)
  }

  /** Last-write-wins resolution over a seq-stamped id-keyed target: one
    * row per id, the highest write sequence winning — the read-side half
    * of the reference's `_id` overwrite. One hash shuffle on id; at 100 TB
    * this is the same shape as the exact-dedup operator.
    */
  def resolveLww(df: DataFrame): DataFrame =
    if (df.columns.contains("id") && df.columns.contains(SeqCol)) {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("id")).orderBy(col(SeqCol).desc)
      df.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
    } else df

  /** The target as a user reads it: id-resolved (LWW), bookkeeping column
    * dropped. Physical duplicate ids from the write-then-ledger crash
    * window resolve away here; `compactTarget` removes them physically.
    */
  def readResolved(spark: SparkSession, targetPath: String): DataFrame = {
    recoverCompact(targetPath)
    resolveLww(spark.read.parquet(targetPath)).drop(SeqCol)
  }

  /** Auto-recovery for `compactTarget`'s crash window: a crash between its
    * two directory moves leaves the target ABSENT with the full data (and
    * seq counter) preserved in `.__compact_old` — roll it back. A crash
    * after the second move but before cleanup leaves BOTH present, with
    * the live target already the compacted copy — the leftover old dir is
    * superseded garbage, removed here. Every read/ingest entry point calls
    * this, so the window heals on the next touch instead of requiring the
    * manual rename the round-5 comment documented.
    */
  private[ingest] def recoverCompact(targetPath: String): Unit = {
    val dir = targetPath.stripSuffix("/")
    val old = dir + ".__compact_old"
    if (Fs.exists(old)) {
      if (!Fs.exists(dir)) {
        // roll back move 1 — concurrency-tolerant: N drivers entering
        // ingest after the crash all attempt this rename, one wins, and
        // the losers must treat "dir exists now" as healed-by-peer, not
        // as a failure that aborts their whole ingest
        val ok = Fs.rename(old, dir)
        require(ok || Fs.exists(dir), s"compact rollback rename failed: $old -> $dir")
      } else // swap completed; old is superseded — finish the cleanup
        Fs.deleteRecursive(old)
    }
    // a dead .__compact_tmp (crash before move 1) is inert: the next
    // compaction overwrites it
  }

  /** Counter-file read shared by reservation and compaction. The MAIN
    * counter must parse or the ingest aborts loudly — silently treating a
    * corrupt counter as 0 would hand out low seq values and invert LWW
    * for every future write. The reservation TMP is different: the
    * advance protocol (write tmp fully, then delete main, then rename)
    * means a torn tmp can only exist while the main file still holds the
    * authoritative value, so an unparseable tmp safely reads as 0 —
    * callers therefore pass `lenient = <main exists>`: an ORPHAN tmp
    * (main absent) is the counter's sole copy and must abort if corrupt.
    */
  private def readSeqFile(path: String, lenient: Boolean): Long =
    try Fs.readIfExists(path).fold(0L)(_.trim.toLong) // absent or raced delete: 0
    catch {
      // NumberFormatException = unparseable bytes; ChecksumException =
      // the local/checksum FS detected out-of-band modification — both
      // are corruption of the authoritative counter
      case e @ (_: NumberFormatException | _: org.apache.hadoop.fs.ChecksumException)
          if !lenient =>
        throw new IllegalStateException(
          s"sequence counter $path is corrupt — refusing to reset to 0 " +
            "(a reset would invert last-write-wins for every future write); " +
            "restore it to the highest previously-issued value", e)
      case _: NumberFormatException | _: org.apache.hadoop.fs.ChecksumException => 0L
    }

  /** Compaction-time LWW: physically rewrite the target to one row per id
    * (keeping the seq column so later appends still resolve), preserving
    * the sequence counter. Maintenance op — the swap is not atomic for
    * concurrent readers (run it like `_forcemerge`, without readers).
    * All moves go through the Hadoop FS layer (atomic directory rename on
    * local/HDFS), so the swap — like the counter — stays WITH the data on
    * hdfs:// targets instead of silently degrading to java.nio relative
    * paths. Returns the resolved row count.
    */
  def compactTarget(spark: SparkSession, targetPath: String): Long = {
    recoverCompact(targetPath)
    val resolved = resolveLww(spark.read.parquet(targetPath))
    val dir = targetPath.stripSuffix("/")
    val tmp = dir + ".__compact_tmp"
    resolved.write.mode("overwrite").parquet(tmp)
    val n = spark.read.parquet(tmp).count()
    // the sequence counter travels INSIDE the swapped directory (written
    // into tmp BEFORE any move, via its own tmp + atomic rename): every
    // crash point leaves the counter either in the live dir or in the
    // preserved .__compact_old — it can never be lost, which matters
    // because a reset counter would hand out LOW seq values and invert
    // LWW for every future write. A crash between the two directory moves
    // leaves the target absent with the full data in .__compact_old —
    // `recoverCompact` (called by every read/ingest entry point) rolls it
    // back automatically on the next touch.
    // the live value is max(counter, reservation tmp) — a crashed
    // reservation may have advanced only the tmp (see reserveSeqRange);
    // as there, the tmp is only read leniently while a main exists (an
    // orphan tmp is the sole authoritative copy — corrupt must abort)
    val cur = math.max(readSeqFile(s"$dir/_graft_seq", lenient = false),
      readSeqFile(s"$dir/_graft_seq.tmp", lenient = Fs.exists(s"$dir/_graft_seq")))
    if (cur > 0L) {
      Fs.writeString(s"$tmp/_graft_seq.tmp", cur.toString)
      Fs.delete(s"$tmp/_graft_seq")
      require(Fs.rename(s"$tmp/_graft_seq.tmp", s"$tmp/_graft_seq"),
        s"counter publish rename failed in $tmp")
    }
    val old = dir + ".__compact_old"
    require(Fs.rename(dir, old), s"compact swap rename failed: $dir -> $old")
    require(Fs.rename(tmp, dir), s"compact swap rename failed: $tmp -> $dir")
    Fs.deleteRecursive(old)
    n
  }

  /** Explicit file-order key: `monotonically_increasing_id()` is
    * (partitionIndex << 33 | offset), and for a single file's scan the
    * partition index follows byte-offset split order — so the value is
    * monotone in the file's physical row order, the only property the
    * upsert tiebreak needs (contiguity is not). Stays in the Dataset API
    * and costs zero extra jobs, unlike rdd.zipWithIndex (which runs a
    * whole pass just to count partition sizes).
    */
  private def withRowOrder(df: DataFrame, colName: String): DataFrame =
    df.withColumn(colName, monotonically_increasing_id())

  /** Parse one file (csv/json by extension, case-insensitive — the
    * reference's extension predicate, file_processor.py:85-86) into
    * (goodRows, failedCount). Thin wrapper over the record-level form.
    */
  def parseFile(spark: SparkSession, path: String): (DataFrame, Long) = {
    val (good, failed, cache) = parseFileWithFailures(spark, path)
    val bad = failed.count()
    // always release the parse cache: the failure count is materialized
    // above, and the good-rows frame re-reads the source lazily — keeping
    // the handle persisted (as a bad-rows-only release once did) leaks
    // block-manager state for the life of the session
    cache.foreach(_.unpersist(blocking = false))
    (good, bad)
  }

  /** Parse one file into (goodRows, failedRecords, cacheHandle). The
    * failed-records frame carries the malformed rows THEMSELVES
    * (sourceFile, docJson, errorType, errorReason) — the reference routes
    * failed documents with their error payloads into the DLQ
    * (file_processor.py:263-413), never just a count. CSV reads force the
    * corrupt-record channel by re-reading with inferred-schema + corrupt
    * column (inference alone may silently widen instead of flagging).
    * The caller must unpersist `cacheHandle` after consuming both frames.
    */
  def parseFileWithFailures(
      spark: SparkSession, path: String): (DataFrame, DataFrame, Option[DataFrame]) = {
    import org.apache.spark.sql.types.{StringType, StructType}
    val lower = path.toLowerCase(java.util.Locale.ROOT)
    val (raw, kind) =
      if (lower.endsWith(".csv")) {
        val inferred = spark.read.option("header", "true").option("inferSchema", "true")
          .csv(path).schema
        (spark.read.option("header", "true")
          .schema(inferred.add(Corrupt, StringType))
          .option("mode", "PERMISSIVE").option("columnNameOfCorruptRecord", Corrupt)
          .csv(path), "csv")
      } else if (lower.endsWith(".json"))
        (spark.read.option("multiLine", "true") // object or array-of-objects
          .option("mode", "PERMISSIVE").option("columnNameOfCorruptRecord", Corrupt)
          .json(path), "json")
      else throw new IllegalArgumentException(s"unsupported file type: $path")
    if (raw.columns.contains(Corrupt)) {
      val cached = raw.cache()
      val failed = cached.filter(col(Corrupt).isNotNull).select(
        lit(path).as("sourceFile"),
        col(Corrupt).cast(StringType).as("docJson"),
        lit("parse_error").as("errorType"),
        lit(s"malformed $kind row").as("errorReason"))
      (cached.filter(col(Corrupt).isNull).drop(Corrupt), failed, Some(cached))
    } else {
      val failedSchema = new StructType()
        .add("sourceFile", StringType).add("docJson", StringType)
        .add("errorType", StringType).add("errorReason", StringType)
      (raw,
        spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](), failedSchema),
        None)
    }
  }

  /** Full ingestion of a set of files into a parquet "index" table.
    * `resume`: files present in the ledger table are skipped; processed
    * files are appended to the ledger (reference bulkupdate.py:258-314).
    * Malformed rows are quarantined to `dlqPath` with error metadata.
    */
  def ingest(
      spark: SparkSession,
      files: Seq[String],
      targetPath: String,
      ledgerPath: String,
      dlqPath: String,
      resume: Boolean = false): IngestSummary = {
    val done = prepare(spark, targetPath, ledgerPath, dlqPath, resume)
    // one write-sequence value per file, reserved up-front (caller order)
    val seqBase = reserveSeqRange(targetPath, files.size)
    // a path repeated WITHIN one call ingests once; later occurrences are
    // skipped like resume (re-processing the same bytes twice in one run
    // is never what the caller meant, and the batched path reads each
    // distinct path once — this keeps the two paths report-identical)
    val seen = scala.collection.mutable.Set.empty[String]
    val reports = files.zipWithIndex.map { case (f, fi) =>
      if (done.contains(f) || !seen.add(f)) FileReport(f, 0L, 0L, "skipped")
      else ingestOne(spark, f, seqBase + fi, targetPath, ledgerPath, dlqPath)
    }
    summarize(spark, reports, targetPath)
  }

  /** What every ingest run does first: finish a crashed compaction of the
    * target, reclaim orphaned append stages past the grace window (a
    * failed staged append reports its unit failed and resume re-does it,
    * so aged stages are pure garbage), and read the resume ledger. Returns
    * the ledgered files — none unless `resume`.
    */
  private def prepare(spark: SparkSession, targetPath: String, ledgerPath: String,
      dlqPath: String, resume: Boolean): Set[String] = {
    import spark.implicits._
    recoverCompact(targetPath)
    Seq(targetPath, ledgerPath, dlqPath).foreach(StagedAppend.vacuumStages(_))
    if (resume && Fs.exists(ledgerPath))
      spark.read.parquet(ledgerPath).select("file").as[String].collect().toSet
    else Set.empty
  }

  /** Ingest one file on its own: parse, coerce, last-write-wins on `id`,
    * stamp write-sequence `seq`, stage into the target, quarantine its
    * failed records, then ledger it. A failure reports the file failed.
    */
  private def ingestOne(spark: SparkSession, f: String, seq: Long, targetPath: String,
      ledgerPath: String, dlqPath: String): FileReport = {
    import spark.implicits._
    try {
      val (good, failedRecs, cacheHandle) = parseFileWithFailures(spark, f)
      val coerced = Coerce.documents(good)
      val deduped =
        if (coerced.columns.contains("id"))
          Upsert.lastWriteWins(withRowOrder(coerced, "__ord"), "id", Seq("__ord"))
            .drop("__ord")
        else coerced
      val n = deduped.count()
      StagedAppend(deduped.withColumn(SeqCol, lit(seq)), targetPath, "target")
      // quarantine the failed RECORDS (content + error metadata,
      // 230 KB-chunked), not a count row — a user debugging a bad
      // batch needs the documents back (file_processor.py:263-413)
      val bad = failedRecs.count()
      if (bad > 0) Dlq.writeRecords(failedRecs, dlqPath)
      cacheHandle.foreach(_.unpersist(blocking = false))
      // staged, not a plain append: concurrent drivers share the
      // ledger table, and two plain append jobs to one directory
      // clobber each other's _temporary task output
      StagedAppend(Seq(f).toDF("file"), ledgerPath, "ledger")
      FileReport(f, n + bad, bad, if (bad == 0) "success" else "partial")
    } catch {
      case e: Exception => FileReport(f, 0L, 0L, s"failed: ${e.getMessage}")
    }
  }

  /** The run's summary from its file reports. Count verification
    * (reference bulkupdate.py:92-135): the target table must contain at
    * least the rows processed in this run.
    */
  private def summarize(spark: SparkSession, reports: Seq[FileReport],
      targetPath: String): IngestSummary = {
    val total = reports.iterator.map(_.totalRows).sum
    val failed = reports.iterator.map(_.failedRows).sum
    IngestSummary(reports, total, total - failed, failed,
      verified = targetCount(spark, targetPath) >= total - failed)
  }

  /** Target row count for verification; a target that was never created
    * (every file failed before its first write) counts as 0 rather than a
    * read error — verification then fails exactly when rows were lost.
    * Missing-path detection goes through the read itself (any Hadoop
    * filesystem), not a local-FS existence check.
    */
  private def targetCount(spark: SparkSession, targetPath: String): Long =
    try spark.read.parquet(targetPath).count()
    catch {
      // PATH_NOT_FOUND: never created. UNABLE_TO_INFER_SCHEMA: the dir
      // exists but holds no parquet (only the `_graft_seq` sidecar — every
      // row write failed). Both mean 0 rows, not a read error.
      case e: org.apache.spark.sql.AnalysisException
          if Option(e.getCondition).exists(c =>
            c.startsWith("PATH_NOT_FOUND") || c.startsWith("UNABLE_TO_INFER_SCHEMA")) => 0L
    }

  /** input_file_name() returns a URI ("file:///tmp/a.csv"); the ledger and
    * reports key on the caller's plain path — normalize to compare.
    */
  private[ingest] def fileUriToPath(uri: String): String =
    uri.replaceFirst("^file:/+", "/")

  private def normFileCol =
    regexp_replace(input_file_name(), "^file:/+", "/")

  /** Throughput form of `ingest`: same per-file ledger / report / DLQ
    * semantics, but same-format files are read in ONE multi-path Spark
    * pass instead of a serial driver loop (~3 jobs per file — at 10k
    * small files the loop, not the cluster, bounds throughput; the
    * reference works around the same bound with a 4-worker thread pool,
    * file_processor.py:473-502). Per-file attribution rides
    * `input_file_name()`:
    *   - reports/ledger: one groupBy over the parsed batch
    *   - DLQ: sourceFile comes from the row's own file
    *   - upsert: last-write-wins within (file, id), so duplicate ids
    *     across files append exactly as the serial loop appends them
    * CSV files batch by identical header line (read driver-side, no job);
    * JSON batches whole. A group whose read fails falls back to the
    * serial per-file path, so a single poisoned file degrades only its
    * own group's speed, never correctness.
    */
  def ingestBatched(
      spark: SparkSession,
      files: Seq[String],
      targetPath: String,
      ledgerPath: String,
      dlqPath: String,
      resume: Boolean = false): IngestSummary = {
    import org.apache.spark.sql.types.StringType
    import spark.implicits._

    val done = prepare(spark, targetPath, ledgerPath, dlqPath, resume)
    // within-call duplicate paths ingest once (same rule as the serial
    // loop); the final report maps later occurrences to "skipped"
    val (skipped, pending) = files.distinct.partition(done.contains)
    // same write-sequence assignment as the serial loop: one value per
    // file in caller order, reserved before anything is written; a
    // duplicated path keeps its FIRST occurrence's value (the occurrence
    // that actually ingests — the serial loop skips the later ones)
    val seqBase = reserveSeqRange(targetPath, files.size)
    val seqOf: Map[String, Long] =
      files.zipWithIndex.reverse.map { case (f, i) => f -> (seqBase + i) }.toMap

    // group by parse recipe: (kind, header). Header reads are driver-side
    // metadata-only (first line, through the FS the data is read from), no
    // Spark job; an unreadable header takes the serial per-file path
    def headerOf(p: String): Option[String] =
      try Fs.firstLine(p) catch { case _: Exception => None }

    // at 1M files a serial first-line loop is driver-bound (each probe is
    // an open+read+close round-trip); a bounded pool overlaps the I/O —
    // probe time goes sublinear in wall-clock while order is preserved
    def headersOf(ps: Seq[String]): Seq[(String, Option[String])] =
      if (ps.size < 64) ps.map(p => p -> headerOf(p))
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(16)
        try {
          val futures = ps.map(p => p -> pool.submit(
            new java.util.concurrent.Callable[Option[String]] {
              def call(): Option[String] = headerOf(p)
            }))
          futures.map { case (p, fut) => p -> fut.get() }
        } finally pool.shutdown()
      }

    val reports = scala.collection.mutable.LinkedHashMap.empty[String, FileReport]
    skipped.foreach(f => reports(f) = FileReport(f, 0L, 0L, "skipped"))

    // ledger rows land as each unit (file / group) COMPLETES — a crash
    // mid-run then re-does at most the in-flight unit under resume, the
    // same exposure as the serial loop's per-file ledger appends
    // staged (see the serial loop's ledger comment): concurrent drivers
    // share the ledger table, and plain appends clobber each other
    def ledgerWrite(fs: Seq[String]): Unit =
      if (fs.nonEmpty) StagedAppend(fs.toDF("file"), ledgerPath, "ledger")

    // serial fallback: the single-file path itself
    def serialOne(f: String): Unit =
      reports(f) = ingestOne(spark, f, seqOf(f), targetPath, ledgerPath, dlqPath)

    def processGroup(paths: Seq[String], kind: String, parse: () => DataFrame): Unit = {
      // phase A — read-only (parse, cache, per-file counts). A failure
      // here has written NOTHING, so falling back to the serial per-file
      // path cannot duplicate data.
      val prepared =
        try {
          val raw = parse()
          val hasCorrupt = raw.columns.contains(Corrupt)
          val cached = raw.withColumn("__file", normFileCol).persist()
          val badCol =
            if (hasCorrupt) sum(when(col(Corrupt).isNotNull, 1L).otherwise(0L))
            else sum(lit(0L))
          val perFile = cached.groupBy("__file")
            .agg(count(lit(1)).as("total"), badCol.as("bad"))
            .collect()
            .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
            .toMap
          Some((cached, hasCorrupt, perFile))
        } catch { case _: Exception => None }

      prepared match {
        case None => paths.foreach(serialOne) // group poisoned: per-file
        case Some((cached, hasCorrupt, perFile)) =>
          // phase B — writes. A failure past this point must NOT retry
          // (rows may already be appended): the group's files report
          // failed and stay un-ledgered — the serial loop's own
          // post-write exposure, never a double-ingest.
          try {
            // DLQ rows carry the CALLER's spelling of each path (the
            // ledger/report key), not the scan's normalized URI
            val byNorm = paths
              .map(p => fileUriToPath(new java.io.File(p).toURI.toString) -> p).toMap
            if (hasCorrupt && perFile.valuesIterator.map(_._2).sum > 0) {
              val spell = typedlit(byNorm)
              val failedRecs = cached.filter(col(Corrupt).isNotNull).select(
                coalesce(element_at(spell, col("__file")), col("__file")).as("sourceFile"),
                col(Corrupt).cast(StringType).as("docJson"),
                lit("parse_error").as("errorType"),
                lit(s"malformed $kind row").as("errorReason"))
              Dlq.writeRecords(failedRecs, dlqPath)
            }
            val good =
              (if (hasCorrupt) cached.filter(col(Corrupt).isNull).drop(Corrupt) else cached)
            val coerced = Coerce.withMapping(good,
              Map("__file" -> Coerce.KeywordField)) // keep the key untouched
            val deduped =
              if (coerced.columns.contains("id")) {
                // per-file LWW exactly as the serial loop: the window
                // partitions by (file, id), so cross-file duplicates append
                import org.apache.spark.sql.expressions.Window
                val w = Window.partitionBy(col("__file"), col("id"))
                  .orderBy(col("__ord").desc)
                withRowOrder(coerced, "__ord")
                  .withColumn("__rn", row_number().over(w))
                  .filter(col("__rn") === 1).drop("__rn", "__ord")
              } else coerced
            // persisted: the target write and the per-file accounting both
            // consume it — without this the window dedup runs twice
            val dedupedP = deduped.persist()
            try {
              // per-file write-sequence stamp, same values the serial loop
              // would assign. Keyed on BOTH the java.io-normalized form
              // (local paths — what `normFileCol` yields) and the caller's
              // own spelling (remote URIs like hdfs:// survive untouched
              // in input_file_name, where java.io.File would mangle them).
              // An unmapped path must fail the group LOUDLY (raise_error),
              // never stamp null — a null seq would silently lose LWW
              // resolution to any older write
              val normSeq = paths.reverse.flatMap { p =>
                val v = seqOf(p)
                Seq(fileUriToPath(new java.io.File(p).toURI.toString) -> v, p -> v)
              }.toMap
              // an unmapped spelling must fail the group BEFORE the write
              // (and outside the retry — it's deterministic, not
              // transient); stamping it null would silently lose LWW
              // resolution to any older write of the same id
              val unmapped = dedupedP.select("__file").distinct().collect()
                .map(_.getString(0)).filterNot(normSeq.contains)
              require(unmapped.isEmpty,
                s"unmapped ingest path spelling(s): ${unmapped.take(3).mkString(", ")}")
              val stamped = dedupedP.withColumn(SeqCol,
                element_at(typedlit(normSeq), col("__file")))
              StagedAppend(stamped.drop("__file"), targetPath, "target")
              val writtenPerFile = dedupedP.groupBy("__file").agg(count(lit(1)).as("n"))
                .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
              paths.foreach { p =>
                val norm = fileUriToPath(new java.io.File(p).toURI.toString)
                val (_, bad) = perFile.getOrElse(norm, (0L, 0L))
                val n = writtenPerFile.getOrElse(norm, 0L)
                reports(p) = FileReport(p, n + bad, bad, if (bad == 0) "success" else "partial")
              }
              ledgerWrite(paths)
            } finally dedupedP.unpersist(blocking = false)
          } catch {
            case e: Exception =>
              paths.foreach(p => reports(p) = FileReport(p, 0L, 0L, s"failed: ${e.getMessage}"))
          } finally cached.unpersist(blocking = false)
      }
    }

    val (csvs, rest) = pending.partition(_.toLowerCase(java.util.Locale.ROOT).endsWith(".csv"))
    val (jsons, others) = rest.partition(_.toLowerCase(java.util.Locale.ROOT).endsWith(".json"))
    others.foreach(serialOne) // unsupported extensions fail per file, as serial

    // CSV: one batch per distinct header (schema recipe); headerless files
    // take the serial path
    val (headed, headless) = headersOf(csvs).partition(_._2.isDefined)
    headless.map(_._1).foreach(serialOne)
    headed.groupBy(_._2.get).foreach { case (_, grp) =>
      val paths = grp.map(_._1)
      processGroup(paths, "csv", () => {
        val inferred = spark.read.option("header", "true").option("inferSchema", "true")
          .csv(paths: _*).schema
        spark.read.option("header", "true")
          .schema(inferred.add(Corrupt, StringType))
          .option("mode", "PERMISSIVE").option("columnNameOfCorruptRecord", Corrupt)
          .csv(paths: _*)
      })
    }

    if (jsons.nonEmpty) processGroup(jsons, "json", () =>
      spark.read.option("multiLine", "true")
        .option("mode", "PERMISSIVE").option("columnNameOfCorruptRecord", Corrupt)
        .json(jsons: _*))

    // emit reports in the caller's file order; only a path's FIRST
    // occurrence carries its real report (later occurrences were skipped)
    val emitted = scala.collection.mutable.Set.empty[String]
    val ordered = files.map { f =>
      if (emitted.add(f)) reports.getOrElse(f, FileReport(f, 0L, 0L, "skipped"))
      else FileReport(f, 0L, 0L, "skipped")
    }
    summarize(spark, ordered, targetPath)
  }
}
