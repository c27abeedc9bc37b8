package graft.index

import scala.collection.mutable
import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}

import graft.ingest.Fs

/** One committed build slice: a contiguous docID-segment range with its
  * lineage + metrics (the north rule's per-partition checkpoint record).
  * `segLocal` records that each of the slice's postings files holds whole
  * segments (no segment's blocks span two files), which lets a Spark-path
  * query score each segment inside the partition that scans it; a
  * manifest entry without the field reads as false.
  */
case class SliceMeta(
    sliceId: Int,
    segLo: Int,
    segHi: Int,
    docs: Long,
    postings: Long,
    blocks: Long,
    bytes: Long,
    committedAtMs: Long,
    segLocal: Boolean = false)

/** Parquet-backed index storage with a JSON manifest committed by atomic
  * rename. `root` is any Hadoop path (a plain path, `file:`, `hdfs://`,
  * `s3a://`); every file of the store goes through the FS its parquet
  * uses (`graft.ingest.Fs`). The commit primitive is `Fs.replace`: one
  * rename(2) on the local FS, `FileContext.rename(OVERWRITE)` on HDFS
  * (atomic), best-effort on object stores. Layout:
  * {{{
  *   <root>/manifest.json
  *   <root>/postings/slice=<id>/  (parquet)
  *   <root>/docs/slice=<id>/      (parquet)
  *   <root>/norms/slice=<id>/     (parquet)
  * }}}
  * Term df/cf are sums over the postings (`TermStat.of`); a store written
  * with a per-slice `terms/` table still opens, and no reader reads it.
  * Only slices listed in the manifest are visible to readers — a crashed
  * build leaves orphan files that the next run overwrites. This is the
  * resume ledger (reference bulkupdate.py:137-219 semantics): completed
  * slices are skipped on restart, in-flight slices are rebuilt.
  */
final class IndexStore(val root: String) {
  private val manifestPath = s"$root/manifest.json"

  def exists: Boolean = Fs.exists(manifestPath)

  private def manifest: (Seq[SliceMeta], Map[String, String]) =
    Fs.readIfExists(manifestPath).map(ManifestJson.parse).getOrElse((Nil, Map.empty))

  def committedSlices: Seq[SliceMeta] = manifest._1

  /** Key-value facts that must commit ATOMICALLY with a slice (e.g. the
    * streaming replay guard's `stream.lastBatchId`) ride the manifest
    * itself — one rename covers both the slice list and the props, so no
    * crash window can separate them (unlike the settings file, a second
    * rename).
    */
  def manifestProps: Map[String, String] = manifest._2

  /** Commit a slice: append to the manifest via write-tmp + atomic rename.
    * `props` merge into the manifest's props map in the SAME commit.
    */
  def commitSlice(meta: SliceMeta, props: Map[String, String] = Map.empty): Unit = {
    requireUnreservedKeys(props)
    val (slices, oldProps) = manifest
    val updated = slices.filterNot(_.sliceId == meta.sliceId) :+ meta
    // committing an id REVIVES it: drop any dead-list entry for it in the
    // SAME rename. A fixed-id rebuild over a previously-merged store (the
    // builder always allocates slice ids 0..n-1) overwrites the dead
    // slice's files with live data — leaving the stale dead entry would
    // let a later vacuum ripen it and delete the LIVE slice's files.
    writeManifest(updated.sortBy(_.sliceId),
      (oldProps ++ props) - s"$DeadPrefix${meta.sliceId}")
  }

  /** Keys under `dead.` are RESERVED for the slice GC's dead-list (see
    * `deadSlices`): a caller prop like `dead.7` would read as "slice 7
    * superseded at t=…" and make `vacuum` delete a LIVE slice's files.
    * Every caller-facing prop entry point (`commitSlice`,
    * `setManifestProps`) routes through this guard; only the GC itself
    * (`mergeSlices` via `commitReplaceSlices`, `vacuum`) writes dead keys.
    */
  private def requireUnreservedKeys(props: Map[String, String]): Unit = {
    val reserved = props.keys.filter(_.startsWith(DeadPrefix))
    require(reserved.isEmpty,
      s"manifest prop keys under '$DeadPrefix' are reserved for the slice " +
        s"GC dead-list: ${reserved.mkString(", ")}")
  }

  /** Replace the manifest's slice list (merge/compaction commit); props
    * survive the rewrite and `addProps` merge in the SAME atomic rename —
    * the dead-list entries for superseded slices must become visible in
    * exactly the commit that supersedes them.
    */
  private[index] def commitReplaceSlices(
      metas: Seq[SliceMeta], addProps: Map[String, String] = Map.empty): Unit =
    // same revive rule as commitSlice: the manifest must never hold an id
    // both committed and dead (vacuum would delete a live slice's files)
    writeManifest(metas.sortBy(_.sliceId),
      (manifestProps ++ addProps) -- metas.map(m => s"$DeadPrefix${m.sliceId}"))

  /** Merge props into the manifest without touching the slice list.
    * `dead.` keys are rejected — see `requireUnreservedKeys`.
    */
  def setManifestProps(props: Map[String, String]): Unit = {
    requireUnreservedKeys(props)
    val (slices, oldProps) = manifest
    writeManifest(slices, oldProps ++ props)
  }

  private def writeManifest(slices: Seq[SliceMeta], props: Map[String, String]): Unit =
    Fs.replace(manifestPath, ManifestJson.render(slices, props))

  /** Segment-merge compaction — the `_forcemerge` analogue (reference
    * opensearch_base_manager.py:379-387): all committed slices become one
    * snapshot, so a term lookup opens one slice instead of N. Slices
    * partition docID segments, so this is a file union (see
    * `mergeSlices`), not a re-block. Commit is atomic via manifest rename;
    * old slice files are NOT deleted here (concurrent readers hold
    * pre-compaction snapshots — see `mergeSlices`): they land on the
    * manifest dead-list, and callers reclaim the disk with
    * `vacuum(minAgeMs)` once in-flight readers have drained. A batch
    * caller that never vacuums keeps every superseded generation on disk.
    */
  def compact(): SliceMeta =
    mergeSlices(committedSlices.map(_.sliceId))

  /** Merge a SUBSET of committed slices into one — the tiered-merge
    * primitive a continuously-indexed corpus needs (every micro-batch
    * append lands a fresh slice; unmerged, a term query touches N× more
    * files and serving holds N× more block objects). Slices partition
    * docID segments, so any subset's postings, norms and docs are
    * disjoint: the merged slice's files are the union of theirs, copied
    * as they are (each file keeps its sort order and its segments, so the
    * merged slice holds whole segments per file when every merged slice
    * did). No Spark job runs: blocks are never re-encoded, norms never
    * recomputed, and the merged counts are the sums of the slices'
    * manifest counts. Commit is atomic (manifest rename).
    *
    * Superseded slice FILES are NOT deleted here: a concurrent reader —
    * a distributed-path `OpenIndex` whose lazy Datasets still point at the
    * old slice paths, or a `ServingNode` mid-refresh — may hold a
    * pre-merge snapshot, and deleting under it fails its queries mid-
    * flight (the reference's OpenSearch holds deleted segments open until
    * readers drain). Instead the superseded ids land on a dead-list
    * carried in the SAME manifest commit; `vacuum(minAgeMs)` reclaims
    * them once every snapshot older than the grace window has drained.
    */
  def mergeSlices(sliceIds: Seq[Int]): SliceMeta = {
    val all = committedSlices
    require(all.nonEmpty, s"nothing to compact at $root")
    val idSet = sliceIds.toSet
    val old = all.filter(s => idSet.contains(s.sliceId))
    require(old.map(_.sliceId).toSet == idSet,
      s"mergeSlices: not all of $sliceIds are committed at $root")
    val newId = all.map(_.sliceId).max + 1

    Seq("postings", "norms", "docs").foreach(unionFiles(_, old.map(_.sliceId), newId))

    val now = System.currentTimeMillis()
    val meta = SliceMeta(newId, old.map(_.segLo).min, old.map(_.segHi).max,
      old.map(_.docs).sum, old.map(_.postings).sum, old.map(_.blocks).sum,
      postingBytes(newId), now, segLocal = old.forall(_.segLocal))
    // supersede + dead-list in ONE atomic commit; files stay on disk for
    // in-flight readers until vacuum's grace window passes
    commitReplaceSlices(
      all.filterNot(s => idSet.contains(s.sliceId)) :+ meta,
      old.map(s => s"$DeadPrefix${s.sliceId}" -> now.toString).toMap)
    meta
  }

  /** Copy the data files of `table` in slices `from` into slice `to`'s
    * directory, cleared first (a crashed merge leaves an orphan). Names
    * gain their source slice id, so two slices' parts never collide;
    * Spark's hidden files (`_SUCCESS`, `.crc`) are not data and stay.
    */
  private def unionFiles(table: String, from: Seq[Int], to: Int): Unit = {
    val dst = slicePath(table, to)
    Fs.deleteRecursive(dst)
    Fs.mkdirs(dst)
    for {
      id <- from
      name <- Fs.childNames(slicePath(table, id))
      if !name.startsWith("_") && !name.startsWith(".")
    } Fs.copy(s"${slicePath(table, id)}/$name", s"$dst/s$id-$name")
  }

  /** Real on-disk posting bytes of a slice — a zero here would let any
    * index slip past serving memory budgets.
    */
  private[index] def postingBytes(sliceId: Int): Long =
    Fs.treeBytes(slicePath("postings", sliceId))

  private val DeadPrefix = "dead."

  /** Superseded-but-undeleted slices: sliceId → supersededAtMs. Parses
    * defensively — only `dead.<int>` → `<long>` entries count, so a
    * malformed key that slipped past `setManifestProps`' guard (e.g. a
    * hand-edited manifest) degrades to "not a dead entry" instead of
    * crashing every vacuum tick of the streaming loop.
    */
  def deadSlices: Map[Int, Long] =
    manifestProps.iterator.flatMap { case (k, v) =>
      if (!k.startsWith(DeadPrefix)) None
      else for {
        id <- k.stripPrefix(DeadPrefix).toIntOption
        at <- v.toLongOption
      } yield id -> at
    }.toMap

  /** Grace-period GC: delete the files of dead slices superseded at least
    * `minAgeMs` ago, then drop them from the dead-list. Any reader whose
    * manifest snapshot is younger than the grace window completes against
    * intact files; the streaming loop calls this each tick with a window
    * sized to the deployment's longest query. Returns (slices reclaimed,
    * bytes reclaimed). Crash-safe: deletion happens BEFORE the dead-list
    * entry is dropped, so a crash in between re-deletes a no-op next time.
    * Same single-writer model as merge/append: vacuum runs on the ONE
    * maintenance thread (the streaming loop), so the dead-list rewrite
    * here cannot race a merge commit — a second concurrent manifest
    * writer could lose dead-list entries added between this method's
    * re-read and its write.
    */
  def vacuum(minAgeMs: Long, nowMs: Long = System.currentTimeMillis()): (Int, Long) = {
    // Defense-in-depth against a manifest holding an id both committed and
    // dead (commit paths strip revived ids, but a pre-fix or hand-edited
    // manifest may still carry one): NEVER delete a committed id's files —
    // they are live data (a fixed-id rebuild overwrote the dead slice) —
    // just heal the manifest by dropping the stale dead entry.
    val live = committedSlices.map(_.sliceId).toSet
    val dead = deadSlices
    val revived = dead.keySet.filter(live)
    val ripe = dead.filter { case (id, at) => !live(id) && nowMs - at >= minAgeMs }
    var bytes = 0L
    ripe.keys.foreach { id =>
      // "terms": the per-slice table of a store written before term stats
      // came from the postings
      Seq("postings", "terms", "norms", "docs").foreach { t =>
        bytes += Fs.treeBytes(slicePath(t, id))
        Fs.deleteRecursive(slicePath(t, id))
      }
    }
    if (ripe.nonEmpty || revived.nonEmpty) {
      val (slices, props) = manifest
      writeManifest(slices,
        props -- (ripe.keys ++ revived).map(id => s"$DeadPrefix$id"))
    }
    (ripe.size, bytes)
  }

  /** Tiered merge policy: when more than `maxSlices` slices are committed,
    * repeatedly merge the `mergeFactor` smallest-by-bytes slices into one
    * until at most `maxSlices` remain. Like Lucene's TieredMergePolicy,
    * the big base slice is only rewritten when it is itself among the
    * smallest, so total rewrite work stays O(N log N) bytes over the life
    * of a continuously-appended index, while query-visible slice count —
    * and with it files-per-term-lookup and serving block objects — stays
    * bounded.
    */
  def maybeMerge(maxSlices: Int = 16, mergeFactor: Int = 8): Seq[SliceMeta] = {
    require(maxSlices >= 1 && mergeFactor >= 2, "maxSlices >= 1, mergeFactor >= 2")
    val merged = scala.collection.mutable.ArrayBuffer.empty[SliceMeta]
    while (committedSlices.size > maxSlices) {
      val victims = committedSlices.sortBy(s => (s.bytes, s.sliceId))
        .take(math.min(mergeFactor, committedSlices.size - maxSlices + 1))
      merged += mergeSlices(victims.map(_.sliceId))
    }
    merged.toSeq
  }

  def dropAll(): Unit = Fs.deleteRecursive(root)

  def slicePath(table: String, sliceId: Int): String =
    s"$root/$table/slice=$sliceId"

  /** One table of `slices`, read with its row type's schema: no
    * schema-inference job. Every reader of a slice set reads through it.
    */
  private[graft] def readTable[T <: Product : TypeTag](
      spark: SparkSession, table: String, slices: Seq[SliceMeta]): Dataset[T] = {
    val enc = Encoders.product[T]
    spark.read.schema(enc.schema).parquet(slices.map(s => slicePath(table, s.sliceId)): _*)
      .as[T](enc)
  }

  def open(spark: SparkSession): OpenIndex = {
    // ONE manifest read pins every table to the same committed slice set
    val slices = committedSlices
    require(slices.nonEmpty, s"index at $root has no committed slices")
    val postings = readTable[PostingBlock](spark, "postings", slices)
    // norms and term stats are tiny relative to postings (one row per seg /
    // per distinct term); cache them so the stats fold, serving opens and
    // per-query idf lookups don't re-scan parquet (queries read the norms
    // files beside their segments' postings instead)
    val norms = readTable[SegNorms](spark, "norms", slices).cache()
    OpenIndex(this, postings, norms, TermStat.of(postings).cache(),
      readTable[DocMeta](spark, "docs", slices).toDF(), slices)
  }

  // ---- settings / mappings management surface (the reference's
  // get-settings / get-mappings / get-aliases getters,
  // opensearch_base_manager.py:484-534; aliases live in AliasCatalog).
  // Stored as flat JSON next to the manifest, committed by atomic rename,
  // so drop-and-recreate can round-trip user settings through
  // `Cleanup.recreateSettings` without the caller re-supplying them. ----

  private def kvPath(kind: String) = s"$root/$kind.json"

  private def writeKv(kind: String, m: Map[String, String]): Unit =
    Fs.replace(kvPath(kind), FlatJson.render(m))

  private def readKv(kind: String): Map[String, String] =
    Fs.readIfExists(kvPath(kind)).map(FlatJson.parse).getOrElse(Map.empty)

  /** Engine-assigned identity settings, stamped at first write (the
    * reference's creation_date/uuid/provided_name class — exactly what
    * `Cleanup.recreateSettings` must strip on recreate).
    */
  def setSettings(settings: Map[String, String]): Unit = {
    val existing = readKv("settings")
    // engine-assigned identity: stamped once at first write, never
    // caller-writable afterwards (the reference's immutable class)
    val identity =
      if (existing.isEmpty) Map(
        "creation_date" -> System.currentTimeMillis().toString,
        "uuid" -> java.util.UUID.randomUUID().toString,
        "provided_name" -> new org.apache.hadoop.fs.Path(root).getName)
      else existing.view.filterKeys(immutableKey).toMap
    // merge semantics (the reference's PUT-settings): supplied keys update,
    // unmentioned user keys survive, immutable keys are never writable
    val user = existing.view.filterKeys(k => !immutableKey(k)).toMap ++
      settings.view.filterKeys(k => !immutableKey(k)).toMap
    writeKv("settings", user ++ identity)
  }

  private def immutableKey(k: String) =
    graft.ingest.Cleanup.ImmutableSettings.contains(k)

  def settings: Map[String, String] = readKv("settings")

  /** Field-name → mapping-type-name table (the reference's mappings
    * getter; the type names are the `Coerce.FieldType` vocabulary).
    */
  def setMappings(mappings: Map[String, String]): Unit = writeKv("mappings", mappings)
  def mappings: Map[String, String] = readKv("mappings")

}

/** A snapshot of a store: its tables pinned to one manifest read, with
  * the state its queries fill once and share — corpus and term stats, and
  * the planned postings scan with each file's per-row-group term ranges and
  * each unit's norms files (`postingsScan`), so a warm Spark-path query
  * prunes row groups on the driver and runs one job without planning SQL.
  * A query task reads its segments' norms beside their postings; no path
  * broadcasts the norms or collects them to the driver.
  */
case class OpenIndex(
    store: IndexStore,
    postings: Dataset[PostingBlock],
    norms: Dataset[SegNorms],
    terms: Dataset[TermStat],
    docs: DataFrame,
    slices: Seq[SliceMeta]) {
  /** Corpus stats of THIS snapshot, from its own pinned norms (never the
    * store's manifest, which may have moved on since): one fold over the
    * cached norms, plus the term count, shared with `termsLocal`.
    */
  lazy val stats: IndexStats = IndexStats.fromNorms(norms, termCount)

  private lazy val termCount: Long = terms.count()

  /** Driver-side term→df lookup for the low-latency query path: resolves
    * query-term stats without a per-query Spark job (one cached collect at
    * first use). Bounded: past 2^20 terms (web-scale vocabularies don't
    * fit driver memory) queries fall back to a filtered collect over the
    * cached term stats.
    */
  lazy val termsLocal: Option[Map[String, Long]] =
    if (termCount <= (1L << 20))
      Some(terms.collect().map(t => t.term -> t.df).toMap)
    else None

  /** The planned postings scan of the Spark query path
    * (`Segments.perSegment`), positions pruned unless `positions`: the
    * scan units of the pinned slices with their footers' per-row-group
    * term ranges and paired norms files, read once per open index, and one
    * pair of parquet read functions per variant. The read functions follow
    * the session's settings, so both variants are planned again only when
    * a setting changes.
    */
  private[graft] def postingsScan(positions: Boolean): PostingsScan = {
    val key = postings.sparkSession.conf.getAll
    val memo = planned
    val scans = if (memo != null && memo.key == key) memo else {
      val fresh = new PlannedScans(key)
      planned = fresh
      fresh
    }
    if (positions) scans.positional else scans.terms
  }

  private lazy val scanUnits: IndexedSeq[ScanUnit] =
    PostingsScan.units(postings.sparkSession, store, slices)

  private final class PlannedScans(val key: Map[String, String]) {
    lazy val terms = new PostingsScan(postings.sparkSession, scanUnits, positions = false)
    lazy val positional = new PostingsScan(postings.sparkSession, scanUnits, positions = true)
  }
  @volatile private var planned: PlannedScans = null
}

/** Flat string→string JSON object (settings/mappings files and
  * `Verify`'s oracle_sql.json, no deps).
  */
private[graft] object FlatJson {
  private def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  private def unesc(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case '"' => sb += '"'; i += 2
          case '\\' => sb += '\\'; i += 2
          case 'n' => sb += '\n'; i += 2
          case 'r' => sb += '\r'; i += 2
          case 't' => sb += '\t'; i += 2
          case 'u' =>
            sb += Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar; i += 6
          case o => sb += o; i += 2
        }
      } else { sb += c; i += 1 }
    }
    sb.toString
  }

  def render(m: Map[String, String]): String =
    m.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }
      .mkString("{", ",", "}")

  private val pair = """"((?:[^"\\]|\\.)*)"\s*:\s*"((?:[^"\\]|\\.)*)"""".r
  def parse(json: String): Map[String, String] =
    pair.findAllMatchIn(json).map(m => unesc(m.group(1)) -> unesc(m.group(2))).toMap
}

/** Minimal hand-rolled JSON for the manifest (flat schema, no deps). */
private[index] object ManifestJson {
  def render(slices: Seq[SliceMeta], props: Map[String, String] = Map.empty): String = {
    val items = slices.map { s =>
      s"""{"sliceId":${s.sliceId},"segLo":${s.segLo},"segHi":${s.segHi},"docs":${s.docs},""" +
        s""""postings":${s.postings},"blocks":${s.blocks},"bytes":${s.bytes},"committedAtMs":${s.committedAtMs},""" +
        s""""segLocal":${s.segLocal}}"""
    }
    val propsPart = if (props.isEmpty) "" else s""""props":${FlatJson.render(props)},"""
    s"""{"format":"graft-index-v1",$propsPart"slices":[${items.mkString(",")}]}"""
  }

  private val num = """"(\w+)"\s*:\s*(-?\d+)""".r
  private val segLocal = """"segLocal"\s*:\s*true""".r
  def parse(json: String): (Seq[SliceMeta], Map[String, String]) = {
    // props object (flat string map) sits between "props":{ and its
    // matching } — scan string-aware so a '}' inside a value can't truncate
    val (props, propsEnd) = {
      val tag = "\"props\":{"
      val at = json.indexOf(tag)
      if (at < 0) (Map.empty[String, String], 0)
      else {
        var i = at + tag.length
        var inStr = false
        var esc = false
        var end = -1
        while (end < 0 && i < json.length) {
          val c = json.charAt(i)
          if (esc) esc = false
          else if (inStr && c == '\\') esc = true
          else if (c == '"') inStr = !inStr
          else if (!inStr && c == '}') end = i
          i += 1
        }
        (FlatJson.parse(json.substring(at + tag.length - 1, end + 1)), end + 1)
      }
    }
    // anchor the slice array AFTER the props object — a prop VALUE is an
    // open caller-extensible string and may itself contain the literal
    // "slices": (render order is format, props, slices, so the first
    // post-props occurrence is the real one)
    val body = json.substring(json.indexOf('[', json.indexOf("\"slices\":", propsEnd)),
      json.lastIndexOf(']') + 1)
    val objs = mutable.ArrayBuffer.empty[SliceMeta]
    var depth = 0
    var start = -1
    var i = 0
    while (i < body.length) {
      body.charAt(i) match {
        case '{' => if (depth == 0) start = i; depth += 1
        case '}' =>
          depth -= 1
          if (depth == 0) {
            val obj = body.substring(start, i + 1)
            val fields = num.findAllMatchIn(obj).map(m => m.group(1) -> m.group(2).toLong).toMap
            objs += SliceMeta(
              fields("sliceId").toInt, fields("segLo").toInt, fields("segHi").toInt,
              fields("docs"), fields("postings"), fields("blocks"), fields("bytes"),
              fields("committedAtMs"), segLocal.findFirstIn(obj).nonEmpty)
          }
        case _ =>
      }
      i += 1
    }
    (objs.toSeq, props)
  }
}

/** Alias = atomic indirection pointer (reference switch_alias.py:306-329):
  * a tiny JSON manifest mapping alias → index root, switched by atomic
  * rename so readers never observe a half-switch. `dir` is any Hadoop
  * path; the switch is `IndexStore`'s commit primitive, `Fs.replace`
  * (atomic on the local FS and HDFS, best-effort on object stores).
  */
final class AliasCatalog(dir: String) {
  private def path(alias: String) = s"$dir/$alias.alias.json"

  def resolve(alias: String): Option[String] = Fs.readIfExists(path(alias))
    .flatMap(""""target"\s*:\s*"([^"]*)"""".r.findFirstMatchIn(_)).map(_.group(1))

  def set(alias: String, target: String): Unit =
    Fs.replace(path(alias), s"""{"alias":"$alias","target":"$target"}""")

  def delete(alias: String): Unit = Fs.delete(path(alias))
}
