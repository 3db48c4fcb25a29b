package graft.sources

import java.nio.file.{Files, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** A minimal manifest-log table format: SNAPSHOT ISOLATION and TIME TRAVEL
  * over plain parquet — the two properties raw `mode("overwrite")` paths
  * lack (and the reason Delta/Iceberg exist; StreamOps.upsertBatch documents
  * exactly this gap and works around it with a persist pin).
  *
  * Layout:
  * {{{
  *   table/
  *     data/c<version>-<pid>-<uuid>/part-*.parquet   — IMMUTABLE, never edited
  *     _log/v00001.json, v00002.json, …              — one manifest per commit
  *     _log/_head.hint, _log/_oldest.hint            — advisory O(1) lookups
  * }}}
  * A manifest is the COMPLETE list of live data directories at that version.
  * Commits never mutate data files — a commit writes new data dirs, derives
  * the next manifest from the previous one (keep + add − drop), and
  * publishes it ATOMICALLY AND EXCLUSIVELY to the next version number via a
  * hard link (POSIX rename would silently replace a racing winner's
  * manifest). A taken version fails the publish, so racing writers
  * serialize by retrying against the refreshed head: optimistic
  * concurrency, no lost updates (TableLogSpec races 8 appenders and counts
  * 8 surviving commits).
  *
  * Readers resolve ONE manifest (head or a pinned `version`) and read only
  * the files it lists — a reader is immune to any commit that lands
  * mid-query, and any historical version stays exactly reproducible until
  * `vacuum` reclaims it (the one deleting operation; `compact` only adds a
  * rewritten version). Partition-tagged entries give readers MANIFEST-level
  * pruning (`readWhere`) and make version pairs diffable row-level for free
  * (`changeFeed`).
  *
  * PORTABILITY: the exclusive publish uses a POSIX hard link (createLink
  * fails with EEXIST on a taken version). Object stores have no link — the
  * equivalent primitive there is conditional put (S3 If-None-Match, GCS
  * x-goog-if-generation-match: 0, Azure If-None-Match: *), a one-call swap
  * in tryCommit; everything else here is plain immutable-object I/O.
  *
  * Per-DIRECTORY column min/max stats (r16): commits can record long-encoded
  * min/max for chosen columns into the manifest entry (`statsCols`), and
  * `readWhereRange` prunes on VALUE predicates — Delta-style data skipping
  * at the manifest, one grain coarser than Delta's per-file stats (a
  * TableLog "add" is a directory, so the stats live at the same grain as
  * the adds). Entries without stats for the queried column are always kept:
  * conservative, never wrong, so stats can be adopted incrementally.
  *
  * Schema evolution (r16): every commit records its frame's DDL in
  * the manifest entry, and reads resolve drift FROM THE LOG (`readEntries`)
  * — per-schema scan groups folded with unionByName, a column added by a
  * later commit reading as NULL from older directories, never a parquet
  * footer merge. ADD-COLUMN only; renames/retypes are a rewrite, as in
  * Delta without column mapping.
  *
  * What this deliberately leaves out (and where the real formats earn their
  * complexity): per-FILE stats (directory grain here; finer skipping stays
  * with parquet row-group stats) and multi-table transactions.
  */
object TableLog {

  private def logDir(table: String)  = new java.io.File(table, "_log")
  private def dataDir(table: String) = new java.io.File(table, "data")

  private def manifestFile(table: String, v: Int) =
    new java.io.File(logDir(table), f"v$v%05d.json")

  // ---- O(1) version resolution: checkpoint hints (Delta's _last_checkpoint
  //      pattern). Without them, head/oldest lookup LISTS the whole _log
  //      directory — O(versions) per call, which a streaming consumer pays
  //      on every micro-batch and a 10⁴-commit table pays everywhere. A
  //      hint is ADVISORY, never trusted blind: the reader verifies it
  //      against the manifests that actually exist and probes past it, so
  //      a stale, corrupt, missing, or torn hint can only cost speed (fall
  //      back to the listing), never correctness. Writes are best-effort
  //      (temp + atomic move; any failure is swallowed) — the hint is a
  //      CACHE of log state, not log state.

  private def headHintFile(table: String)   = new java.io.File(logDir(table), "_head.hint")
  private def oldestHintFile(table: String) = new java.io.File(logDir(table), "_oldest.hint")

  private def readHint(f: java.io.File): Int =
    try {
      if (!f.isFile) 0
      else new String(Files.readAllBytes(f.toPath), "UTF-8").trim.toInt
    } catch { case _: Exception => 0 } // torn/corrupt hint = no hint

  private def writeHint(f: java.io.File, v: Int): Unit = {
    val tmp = new java.io.File(f.getParentFile,
      s".hint-${ProcessHandle.current().pid()}-${java.util.UUID.randomUUID.toString.take(8)}")
    try {
      Files.write(tmp.toPath, v.toString.getBytes("UTF-8"))
      try Files.move(tmp.toPath, f.toPath,
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      catch {
        case _: java.nio.file.AtomicMoveNotSupportedException =>
          Files.move(tmp.toPath, f.toPath, StandardCopyOption.REPLACE_EXISTING)
      }
    } catch { case _: Exception => () } // best-effort: readers verify anyway
    finally { try Files.deleteIfExists(tmp.toPath) catch { case _: Exception => () } }
  }

  /** Diagnostic: how many times version resolution fell back to the full
    * `_log` listing, PER TABLE (parallel suites touch other tables
    * concurrently — a global counter would be flaky). Spec-facing only
    * (TableLogSpec asserts hinted lookups at a 1000-commit log never
    * list); zero runtime behavior hangs off it.
    */
  private val listingScans =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()
  private[graft] def listingScansFor(table: String): Long = {
    val a = listingScans.get(table)
    if (a == null) 0L else a.get()
  }

  private def scanVersions(table: String)(fold: (Int, Int) => Int): Int = {
    listingScans.computeIfAbsent(table,
      _ => new java.util.concurrent.atomic.AtomicLong(0)).incrementAndGet()
    val fs = logDir(table).listFiles()
    if (fs == null) 0
    else fs.iterator.flatMap(f =>
      """^v(\d+)\.json$""".r.findFirstMatchIn(f.getName).map(_.group(1).toInt))
      .foldLeft(0)(fold)
  }

  /** Highest committed version, 0 if none. O(1 + commits-since-hint): the
    * head hint (written after every successful commit) is verified to exist
    * and probed FORWARD past any commits by racing writers; only a missing
    * or invalid hint falls back to listing `_log`. The fallback match is
    * `v(\d+)` — NOT a fixed five digits: manifestFile's %05d zero-padding
    * widens to six digits at version 100000, and a five-digit-only regex
    * would pin the head at 99999 forever (every commit would then retry the
    * same taken version — an infinite loop, not a wrap). Zero-padded names
    * still sort correctly for ls aesthetics; resolution is numeric here
    * regardless.
    */
  def headVersion(table: String): Int = {
    val hinted = readHint(headHintFile(table))
    if (hinted >= 1 && manifestFile(table, hinted).isFile) {
      // probe FORWARD from the verified hint: sound because the commit
      // protocol makes versions gap-free (every commit publishes head+1),
      // so the first absent successor IS the head
      var v = hinted
      while (manifestFile(table, v + 1).isFile) v += 1
      // re-verify the landing: a vacuum racing this probe can reclaim
      // manifests BETWEEN the isFile(hinted) verification and the v+1
      // probes, stopping the probe at a version that no longer exists —
      // downstream would then fail on a missing manifest the pre-hint
      // listing fallback never handed out. A reclaimed landing falls back
      // to the listing, so a concurrent vacuum can only cost speed (the
      // hints' stated contract), never correctness.
      if (manifestFile(table, v).isFile) v else scanVersions(table)(math.max)
    } else scanVersions(table)(math.max)
  }

  /** Oldest RETAINED version, 0 if none — after a vacuum this is
    * `keepFromVersion`, not 1. Consumers that bootstrap from history
    * (changeFeedIvm) must start here; a literal 1 fails forever on any
    * table that has ever been vacuumed. O(1) via the oldest hint (written
    * by vacuum; version 1 implied for never-vacuumed tables once any head
    * hint exists): valid iff the hinted manifest exists and its predecessor
    * does not — a LATER vacuum invalidates the second check and falls back
    * to the listing (which that vacuum's own hint write normally prevents).
    */
  def oldestVersion(table: String): Int = {
    val hinted = {
      val h = readHint(oldestHintFile(table))
      // a committed table without an oldest hint has never been vacuumed:
      // oldest is 1 by construction (commits only ever add versions)
      if (h >= 1) h else if (manifestFile(table, 1).isFile) 1 else 0
    }
    if (hinted >= 1 && manifestFile(table, hinted).isFile &&
        !manifestFile(table, hinted - 1).isFile) hinted
    else scanVersions(table)((a, b) => if (a == 0) b else math.min(a, b))
  }

  /** Live data directories (relative to the table root) at `version`. */
  def manifest(table: String, version: Int): Seq[String] = {
    require(version >= 1, s"version=$version")
    val f = manifestFile(table, version)
    require(f.isFile, s"no committed version $version at $table")
    val s = new String(Files.readAllBytes(f.toPath), "UTF-8")
    """"([^"]+)"""".r.findAllMatchIn(s).map(_.group(1)).toSeq
  }

  /** Write `df` as a new immutable data directory; returns its relative
    * path. Not yet visible — only a committed manifest exposes it.
    */
  private def writeData(df: DataFrame, table: String, version: Int): String = {
    val rel = s"data/c$version-${ProcessHandle.current().pid()}-" +
      java.util.UUID.randomUUID.toString.take(8)
    df.write.parquet(new java.io.File(table, rel).getAbsolutePath)
    rel
  }

  /** Publish `files` as the next version after `base`. Returns the committed
    * version, or -1 if another writer took it first (caller retries with a
    * refreshed head — the data dir written for the attempt stays orphaned
    * and invisible, exactly like a failed Delta commit's files).
    */
  private def tryCommit(table: String, base: Int, files: Seq[String]): Int = {
    logDir(table).mkdirs()
    val v = base + 1
    val body = files.map(f => "\"" + f + "\"").mkString("[", ",", "]")
    val tmp = new java.io.File(logDir(table),
      s".tmp-${ProcessHandle.current().pid()}-${java.util.UUID.randomUUID.toString.take(8)}")
    Files.write(tmp.toPath, body.getBytes("UTF-8"))
    // Publication must be atomic AND exclusive — see createExclusive for
    // the primitive and its portability mapping. ONLY "version taken"
    // (false) means retry. Every other failure — a filesystem without
    // hard-link support, permissions, ENOSPC — is a PERSISTENT error that
    // retrying cannot fix: swallowing it as -1 would spin the optimistic
    // loop forever, writing a fresh orphan data directory per iteration
    // (an unbounded disk-fill). Those propagate to the caller.
    try {
      if (createExclusive(manifestFile(table, v).toPath, tmp.toPath)) {
        writeHint(headHintFile(table), v) // O(1) head lookup for every reader
        v
      } else -1
    } finally Files.deleteIfExists(tmp.toPath)
  }

  /** The EXCLUSIVE-PUBLISH seam: make `dst` exist with `src`'s (complete)
    * content iff no `dst` exists; return false when the version was taken.
    * Two implementations, selected by `graft.tablelog.publish`:
    *
    * - `hardlink` (default): POSIX createLink — atomic no-overwrite
    *   publication; fails EEXIST if dst exists. A plain rename would
    *   silently REPLACE a racing winner's manifest (last-writer-wins, the
    *   lost update this log exists to prevent; TableLogSpec's
    *   racing-appenders test catches exactly that).
    * - `rename`: the portable shape for stores with no link primitive. On
    *   an object store this step maps one-for-one to CONDITIONAL PUT,
    *   where the store itself guarantees exclusive-or-fail (S3
    *   `If-None-Match: *`, GCS `x-goog-if-generation-match: 0`, Azure
    *   `If-None-Match: *`) — ONE atomic call, no claim needed. The LOCAL
    *   emulation cannot use a bare no-replace Files.move: the UNIX
    *   provider implements it as check-exists-then-rename(2), and
    *   rename(2) silently REPLACES — two racers can both pass the check
    *   and one manifest vanishes (the r16 full-suite run caught exactly
    *   that, racing 8 appenders under parallel-suite load). So the
    *   emulation claims the version first with an atomic-exclusive mkdir
    *   (`v<N>.json.claim/` — EEXIST = taken), then moves the complete tmp
    *   into place unraced. Claim dirs persist as commit tombstones
    *   (vacuum reclaims them with their manifests); a crash between claim
    *   and move orphans the claim and parks that version number — the
    *   recovery is removing the claim by hand, a liveness caveat the real
    *   conditional put does not have (and hardlink does not either, which
    *   is why it stays the local default).
    *
    * Both consume-or-keep `src` safely: the caller deletes any leftover.
    */
  private def createExclusive(dst: java.nio.file.Path,
                              src: java.nio.file.Path): Boolean =
    sys.props.getOrElse("graft.tablelog.publish", "hardlink") match {
      case "hardlink" =>
        try { Files.createLink(dst, src); true }
        catch { case _: java.nio.file.FileAlreadyExistsException => false }
      case "rename" =>
        val claim = dst.resolveSibling(dst.getFileName.toString + ".claim")
        try {
          Files.createDirectory(claim) // atomic-exclusive: the winner's claim
          Files.move(src, dst)         // unraced — the claim is held
          true
        } catch { case _: java.nio.file.FileAlreadyExistsException => false }
      case m => throw new IllegalArgumentException(
        s"graft.tablelog.publish=$m — expected hardlink|rename")
    }

  /** Contention bound for the optimistic-commit loops. Losing a race means
    * ANOTHER writer committed (system-wide progress), so livelock needs this
    * many consecutive losses — far beyond plausible single-table writer
    * counts. The bound turns a pathological storm (or a future bug that
    * makes tryCommit always lose) into a clean error instead of an
    * orphan-dir-per-iteration disk fill.
    */
  private val MaxCommitAttempts = 64

  private def exhausted(table: String): Nothing =
    throw new IllegalStateException(
      s"TableLog commit on $table lost $MaxCommitAttempts consecutive " +
        "optimistic races — contention storm or a stuck head; aborting " +
        "rather than filling the disk with orphaned attempt directories")

  /** Reserved stats key carrying the entry's ROW COUNT as a degenerate
    * (n, n) triple — Delta's per-file numRecords in the existing stats
    * encoding, so no manifest format change. Written whenever statsCols
    * are requested (the count rides the same aggregate — zero extra
    * jobs); read by selectivityBound. User stats columns may not take the
    * name.
    */
  private val RowCountKey = "__n"

  /** Whole-frame min/max stats for `statsCols` (+ the row count under
    * RowCountKey), one aggregate job (ignores nulls; an all-null column is
    * omitted — conservative keep at read).
    */
  private def frameStats(df: DataFrame, statsCols: Seq[String]): Map[String, (Long, Long)] =
    if (statsCols.isEmpty) Map.empty
    else {
      import org.apache.spark.sql.functions.{count, lit, max, min}
      require(!statsCols.contains(RowCountKey), s"'$RowCountKey' is reserved")
      val aggs = statsCols.flatMap(c =>
        Seq(min(statLongCol(df, c)), max(statLongCol(df, c)))) :+ count(lit(1))
      val r = df.agg(aggs.head, aggs.tail: _*).head()
      statsCols.zipWithIndex.flatMap { case (c, i) =>
        if (r.isNullAt(2 * i)) None
        else Some(c -> (r.getLong(2 * i), r.getLong(2 * i + 1)))
      }.toMap + (RowCountKey -> {
        val n = r.getLong(2 * statsCols.size); (n, n)
      })
    }

  /** Commit `df` against the head via optimistic retry. `keep` filters the
    * previous manifest's entries into the next one (identity = append;
    * `_ => false` = full overwrite). `statsCols` records per-directory
    * min/max into the new entry for data skipping (readWhereRange).
    */
  private def commit(df: DataFrame, table: String, keep: String => Boolean,
                     statsCols: Seq[String]): Int = {
    val stats = frameStats(df, statsCols)
    var v = -1
    var tries = 0
    while (v < 0) {
      if (tries >= MaxCommitAttempts) exhausted(table)
      tries += 1
      val base = headVersion(table)
      val prev = if (base == 0) Seq.empty else manifest(table, base)
      val rel = writeData(df, table, base + 1)
      val add = s"$rel||${renderStats(stats)}|${renderSchema(df)}"
      v = tryCommit(table, base, prev.filter(keep) :+ add)
    }
    v
  }

  /** Full overwrite: the new version holds only `df`. */
  def overwrite(df: DataFrame, table: String,
                statsCols: Seq[String] = Nil): Int =
    commit(df, table, _ => false, statsCols)

  /** Append: the new version holds everything the head held, plus `df`. */
  def append(df: DataFrame, table: String,
             statsCols: Seq[String] = Nil): Int =
    commit(df, table, _ => true, statsCols)

  /** Manifest entry format: `path[|tag[|stats[|schema]]]` — positional
    * '|'-separated fields. Field 1 (tag) is the partition tag; empty means
    * untagged (an append/overwrite with stats renders `path||stats|…`).
    * Field 2 (stats) is `col:min:max` triples joined with ';', values
    * long-encoded (statLongCol), column names URL-encoded. Field 3
    * (schema, r16) is the committed frame's DDL, URL-encoded — the
    * log-recorded schema that makes reads EVOLUTION-AWARE (readEntries)
    * without ever merging parquet footers. Pre-r16 entries have ≤ 2
    * fields, earlier-r16 entries 3; both parse identically (no stats →
    * conservative keep; no schema → footer-inferred read group).
    */
  private def entryFields(e: String): Array[String] = e.split("\\|", -1)

  /** The committed DDL of a manifest entry's directory, if recorded. */
  def entrySchemaDdl(e: String): Option[String] = {
    val f = entryFields(e)
    if (f.length < 4 || f(3).isEmpty) None
    else Some(java.net.URLDecoder.decode(f(3), "UTF-8"))
  }

  private def renderSchema(df: DataFrame): String =
    java.net.URLEncoder.encode(df.schema.toDDL, "UTF-8")

  /** Partition tag of a manifest entry, if any. Untagged entries (plain
    * append/overwrite data) carry no partition semantics and survive every
    * partition-level commit.
    */
  private def entryTag(e: String): Option[String] = {
    val f = entryFields(e)
    if (f.length < 2 || f(1).isEmpty) None else Some(f(1))
  }
  private def entryPath(e: String): String = entryFields(e)(0)

  /** Long-encoded per-column (min, max) stats of a manifest entry; empty for
    * pre-stats entries and columns the commit didn't record.
    */
  def entryStats(e: String): Map[String, (Long, Long)] = {
    val f = entryFields(e)
    if (f.length < 3 || f(2).isEmpty) Map.empty
    else f(2).split(';').iterator.map { triple =>
      val Array(c, mn, mx) = triple.split(':')
      java.net.URLDecoder.decode(c, "UTF-8") -> (mn.toLong, mx.toLong)
    }.toMap
  }

  private def renderStats(stats: Map[String, (Long, Long)]): String =
    stats.toSeq.sortBy(_._1).map { case (c, (mn, mx)) =>
      s"${java.net.URLEncoder.encode(c, "UTF-8")}:$mn:$mx"
    }.mkString(";")

  /** The column long-encoded for stats: integral as-is, DATE as epoch days,
    * TIMESTAMP as epoch micros. Range predicates at read time use the SAME
    * encoding (`pruneDirsRange` lo/hi). Doubles are deliberately excluded —
    * the engine's convention is exact integer micros/nanos for any value a
    * predicate ranges over (SparkEntry.micros), and IEEE bit-order tricks
    * for negative doubles are a correctness trap.
    */
  private def statLongCol(df: DataFrame, c: String): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, datediff, expr, lit}
    import org.apache.spark.sql.types._
    require(!c.contains('"') && !c.contains('|') && !c.contains(':') &&
      !c.contains(';') && !c.contains('`'),
      s"stats column name '$c' contains a manifest/encoding delimiter")
    df.schema(c).dataType match {
      case DateType      => datediff(col(c), lit("1970-01-01").cast("date")).cast("long")
      case TimestampType => expr(s"unix_micros(`$c`)")
      case ByteType | ShortType | IntegerType | LongType => col(c).cast("long")
      case t => throw new IllegalArgumentException(
        s"stats column '$c' has unsupported type ${t.sql} — long-encodable " +
          "(integral/date/timestamp) columns only; carry doubles as integer " +
          "micros/nanos (the engine-wide convention) to make them skippable")
    }
  }

  /** Per-key (partition tag / cluster bucket) min/max stats: ONE grouped
    * aggregate keyed by the SAME string cast the directory names derive
    * from (null → Spark's default-partition rendering). Bounded driver
    * state: one row per written key. Shared by overwritePartitions and
    * overwriteClustered — the stats encoding must never diverge between
    * the two multi-dir write paths.
    */
  private def statsByKey(df: DataFrame, keyCol: org.apache.spark.sql.Column,
                         statsCols: Seq[String]): Map[String, Map[String, (Long, Long)]] =
    if (statsCols.isEmpty) Map.empty
    else {
      import org.apache.spark.sql.functions.{coalesce, count, lit, max, min}
      require(!statsCols.contains(RowCountKey), s"'$RowCountKey' is reserved")
      val key = coalesce(keyCol.cast("string"),
        lit("__HIVE_DEFAULT_PARTITION__")).as("__pt_key")
      val aggs = statsCols.flatMap(c =>
        Seq(min(statLongCol(df, c)), max(statLongCol(df, c)))) :+ count(lit(1))
      df.groupBy(key).agg(aggs.head, aggs.tail: _*).collect().map { r =>
        r.getString(0) -> (statsCols.zipWithIndex.flatMap { case (c, i) =>
          if (r.isNullAt(1 + 2 * i)) None
          else Some(c -> (r.getLong(1 + 2 * i), r.getLong(2 + 2 * i)))
        }.toMap + (RowCountKey -> {
          val n = r.getLong(1 + 2 * statsCols.size); (n, n)
        }))
      }.toMap
    }

  /** Partition-level overwrite — Delta's `replaceWhere` shape: the new
    * version replaces exactly the `partCol` values present in `df` and
    * keeps every other entry. ONE write job (partitionBy under the commit's
    * data dir); each written partition subdir becomes a TAGGED manifest
    * entry, so later partition commits drop precisely the entries they
    * supersede. `partCol` must be string-rendered stable (dates render as
    * yyyy-MM-dd); it is duplicated into a `__pt` directory column at write
    * so the DATA files keep the original column (manifest readers never
    * parse directory names).
    *
    * Because data files are immutable and visibility is one manifest swap,
    * a read-merge-replace loop over this needs NO persist pin: the
    * read-back reads old dirs, the write creates new dirs, and nothing a
    * reader resolved ever changes underneath it — the isolation the raw
    * dynamic-overwrite upsert (StreamOps.upsertBatch) has to fake with a
    * persist-before-overwrite.
    */
  /** `alsoReplace`: extra partition TAGS to drop from the previous manifest
    * even when `df` holds no rows for them — replace-where semantics with
    * an (possibly) empty source per named partition. This is how a
    * partition BECOMES empty under a merge: a micro-batch that tombstones
    * a day's last row writes no directory for that day, so without the
    * explicit drop the stale entry would survive (exactly the raw
    * dynamic-overwrite gap upsertBatchCdc has to patch with an out-of-band
    * directory delete).
    */
  /** Spec-facing interleave seam: invoked once per overwritePartitions
    * attempt, after the head/manifest snapshot and before publication —
    * lets TableLogSpec inject a concurrent winner at the exact window the
    * conflict detection protects (a real thread race hits the window
    * nondeterministically). KEYED BY TABLE PATH so a parallel suite's
    * writer on an unrelated table never executes another spec's injected
    * interleave (the same cross-suite flakiness the per-table listing
    * scans guard elsewhere in this file). No-op in production; zero
    * behavior hangs off it beyond the call itself.
    */
  @volatile private var interleaveMap: Map[String, () => Unit] = Map.empty
  private[graft] def setInterleaveForTest(table: String, f: () => Unit): Unit =
    synchronized { interleaveMap += (table -> f) }
  private[graft] def clearInterleaveForTest(table: String): Unit =
    synchronized { interleaveMap -= table }
  private def interleaveForTest(table: String): Unit =
    interleaveMap.get(table).foreach(_.apply())

  def overwritePartitions(df: DataFrame, table: String, partCol: String,
                          alsoReplace: Set[String] = Set.empty,
                          statsCols: Seq[String] = Nil,
                          baseVersion: Option[Int] = None): Int = {
    import org.apache.spark.sql.functions.col
    alsoReplace.foreach(t => require(!t.contains('"') && !t.contains('|'),
      s"partition value '$t' contains a manifest delimiter (\" or |)"))
    baseVersion.foreach(bv => require(bv >= 0,
      s"baseVersion=$bv must be ≥ 0 (0 = read before any commit)"))
    val statsByTag = statsByKey(df, col(partCol), statsCols)
    // WRITE-WRITE CONFLICT DETECTION (Delta's replaceWhere rule at
    // partition grain): this writer's logical snapshot is the manifest it
    // read on its FIRST attempt. Losing the optimistic race and rebasing
    // is safe only if the interleaved commits did not touch the partitions
    // this commit replaces — otherwise the rebase would silently drop the
    // concurrent winner's rows for those partitions (a lost update at
    // partition grain: both writers "succeed", one's data vanishes).
    // The replace-set's manifest SLICE (every previous entry whose tag is
    // being replaced) is captured at the snapshot; a retry whose refreshed
    // manifest shows a DIFFERENT slice fails loudly naming the partitions.
    // Disjoint concurrent partition-overwriters leave each other's slices
    // untouched and still serialize cleanly (TableLogSpec races both
    // shapes). Appends and overwrites of OTHER partitions never conflict.
    // KNOWN CONSERVATISM: the slice compares manifest ENTRY STRINGS, which
    // embed data paths — a concurrent COMPACTION (row-identical, re-pathed
    // entries) therefore also conflicts with an in-flight overwrite of a
    // compacted partition. That is the direction a conflict detector must
    // err (a spurious retry-able failure, never a silent lost update), and
    // it is the bargain Delta itself strikes (OPTIMIZE vs replaceWhere
    // raises ConcurrentOptimize); distinguishing "re-pathed but identical"
    // would require reading the data a manifest check exists to avoid.
    // READ-SNAPSHOT (transaction-scoped) MODE: by default the logical
    // snapshot is the manifest at the FIRST COMMIT ATTEMPT — enough for a
    // blind overwrite, but a read-modify-write transaction (MERGE) reads
    // the target BEFORE its first write attempt, and a commit landing in
    // that read→write gap would be invisible to the slice check (a lost
    // update the first-attempt snapshot can never see). A caller that pins
    // `baseVersion` to the version it READ moves the snapshot back to that
    // manifest: Delta's rule — validate against the READ version, not the
    // first write attempt.
    var snapshot: Option[(Set[String], Seq[String])] = None
    def sliceOf(prev: Seq[String], replaced: Set[String]): Seq[String] =
      prev.filter(e => entryTag(e).exists(replaced.contains)).sorted
    def conflict(replaced0: Set[String]): Nothing =
      throw new java.util.ConcurrentModificationException(
        s"overwritePartitions on $table: a concurrent commit modified " +
          s"partition(s) ${replaced0.toSeq.sorted.mkString("[", ", ", "]")} " +
          "between this writer's snapshot and its commit — rebasing would " +
          "silently discard the concurrent writer's data for those " +
          "partitions (lost update). Re-read and re-apply this write " +
          "against the new head.")
    var v = -1
    var tries = 0
    while (v < 0) {
      if (tries >= MaxCommitAttempts) exhausted(table)
      tries += 1
      val base = headVersion(table)
      val prev = if (base == 0) Seq.empty else manifest(table, base)
      snapshot.foreach { case (replaced0, slice0) =>
        if (sliceOf(prev, replaced0) != slice0) conflict(replaced0)
      }
      val rel = s"data/c${base + 1}-${ProcessHandle.current().pid()}-" +
        java.util.UUID.randomUUID.toString.take(8)
      val abs = new java.io.File(table, rel)
      df.withColumn("__pt", col(partCol).cast("string"))
        .write.partitionBy("__pt").parquet(abs.getAbsolutePath)
      val written = abs.listFiles((f: java.io.File) =>
        f.isDirectory && f.getName.startsWith("__pt="))
      val adds = written.toSeq.map { d =>
        val tag = java.net.URLDecoder.decode(
          d.getName.stripPrefix("__pt="), "UTF-8")
        // The manifest is quote-delimited and entries are path|tag, so a
        // tag containing either delimiter would corrupt the NEXT parse
        // (a '"' truncates the entry; a '|' splits the tag). Rather than
        // invent an escaping scheme the readers must all share, reject the
        // value — partition keys are dates/ids in every sane layout, and a
        // loud error beats a silently-mangled manifest. A NULL partition
        // value is allowed and becomes the __HIVE_DEFAULT_PARTITION__ tag
        // (Spark's directory rendering): deliberate and CONSISTENT — the
        // same null maps to the same tag at every commit, so
        // replace-where semantics hold for the null partition too.
        require(!tag.contains('"') && !tag.contains('|'),
          s"partition value '$tag' contains a manifest delimiter " +
            "(\" or |) — unsupported as a TableLog partition key")
        val st = statsByTag.getOrElse(tag, Map.empty)
        // the data files under __pt= subdirs hold df's columns (partitionBy
        // consumes only the derived __pt), so df's DDL IS the dir schema
        s"$rel/${d.getName}|$tag|${renderStats(st)}|${renderSchema(df)}"
      }
      val replaced = adds.map(entryTag(_).get).toSet ++ alsoReplace
      if (snapshot.isEmpty) {
        val baseManifest = baseVersion match {
          case Some(bv) => if (bv == 0) Seq.empty else manifest(table, bv)
          case None     => prev
        }
        snapshot = Some((replaced, sliceOf(baseManifest, replaced)))
        // With a pinned read version the FIRST attempt must validate too:
        // commits between the read and this attempt are exactly the gap
        // the pin exists to close (the top-of-loop check only covers
        // retries). The data dir written above is orphaned by the throw —
        // same as any lost-race attempt's — and never enters a manifest.
        if (baseVersion.isDefined && sliceOf(prev, replaced) != snapshot.get._2)
          conflict(replaced)
      }
      val keep = prev.filter(e => entryTag(e).forall(t => !replaced.contains(t)))
      interleaveForTest(table)
      v = tryCommit(table, base, keep ++ adds)
    }
    v
  }

  /** Read `version` (default: head). The manifest is resolved HERE, once —
    * the returned frame keeps reading these exact files whatever commits
    * land afterwards.
    */
  /** Compaction: rewrite the head's content as one fresh overwrite commit.
    * Purely a file-count/layout optimization — the new version is
    * row-identical to the head, and history BEFORE it stays readable until
    * `vacuum` reclaims it. Pass `statsCols` to re-record per-entry min/max
    * and row counts on the rewrite: a stats-carrying table compacted
    * WITHOUT them loses its manifest stats (readWhere pruning and
    * `selectivityBound` degrade — conservatively, to "scan everything" /
    * bound 1.0 — until the next stats-carrying commit).
    */
  def compact(spark: SparkSession, table: String,
              statsCols: Seq[String] = Nil): Int =
    overwrite(read(spark, table), table, statsCols)

  /** RESTORE — Delta's time-travel WRITE: commit `version`'s manifest
    * entries as the next head, making the historical state current again
    * without copying a byte (data dirs are immutable and shared across
    * manifests). History stays intact: the pre-restore head remains
    * readable, the restore is itself a version, and vacuum keeps every
    * dir a RETAINED manifest references — so a restored head's data
    * survives retention by the same rule as everything else. The one
    * caveat is vacuum's: restoring a version whose manifests were already
    * vacuumed fails loudly at the `manifest` require.
    */
  def restore(table: String, version: Int): Int = {
    val entries = manifest(table, version)
    var v = -1
    var tries = 0
    while (v < 0) {
      if (tries >= MaxCommitAttempts) exhausted(table)
      tries += 1
      v = tryCommit(table, headVersion(table), entries)
    }
    v
  }

  /** CLUSTERED OPTIMIZE — `OPTIMIZE … ZORDER BY` at the TableLog grain:
    * rewrite `df` (typically `read(table)`) as ONE commit of many
    * directories, one per value of `bucket` (a space-filling-curve bucket
    * expression: ZOrder.morton2/hilbert2 over normalized coordinates,
    * top bits as the bucket), REPLACING the whole previous manifest. Each
    * directory gets its own `statsCols` min/max entry — and because the
    * curve keeps every bucket narrow on EVERY clustered dimension, a
    * range predicate on ANY of them prunes at the manifest afterwards
    * (readWhereRange): the multi-dimensional data skipping a 1-D
    * partition tag can't give. The bucket expression is consumed by the
    * write (it becomes the derived `__pt` directory column); data files
    * keep exactly `df`'s columns, so the rewrite is invisible to readers
    * beyond its speed. Row-identical like compact (which this
    * generalizes — compact is overwriteClustered with a constant
    * bucket); history before it stays readable until vacuum.
    */
  def overwriteClustered(df: DataFrame, table: String,
                         bucket: org.apache.spark.sql.Column,
                         statsCols: Seq[String] = Nil): Int = {
    val statsByTag = statsByKey(df, bucket, statsCols)
    var v = -1
    var tries = 0
    while (v < 0) {
      if (tries >= MaxCommitAttempts) exhausted(table)
      tries += 1
      val base = headVersion(table)
      val rel = s"data/c${base + 1}-${ProcessHandle.current().pid()}-" +
        java.util.UUID.randomUUID.toString.take(8)
      val abs = new java.io.File(table, rel)
      df.withColumn("__pt", bucket.cast("string"))
        .write.partitionBy("__pt").parquet(abs.getAbsolutePath)
      val written = abs.listFiles((f: java.io.File) =>
        f.isDirectory && f.getName.startsWith("__pt="))
      val adds = written.toSeq.map { d =>
        val tag = java.net.URLDecoder.decode(
          d.getName.stripPrefix("__pt="), "UTF-8")
        require(!tag.contains('"') && !tag.contains('|'),
          s"bucket value '$tag' contains a manifest delimiter " +
            "(\" or |) — unsupported as a TableLog cluster bucket")
        val st = statsByTag.getOrElse(tag, Map.empty)
        s"$rel/${d.getName}|$tag|${renderStats(st)}|${renderSchema(df)}"
      }
      // REPLACE-ALL: unlike overwritePartitions, no previous entry survives
      v = tryCommit(table, base, adds)
    }
    v
  }

  /** Retention: drop every manifest BELOW `keepFromVersion` and delete every
    * data directory no retained manifest references. This is the ONLY
    * operation that deletes anything; after it, time travel to a vacuumed
    * version fails loudly (`read` requires a manifest) while every retained
    * version — and any reader that already resolved one — is untouched,
    * because retained manifests' data dirs are exactly what is kept.
    * Returns the number of data directories reclaimed.
    *
    * CONCURRENCY: an unreferenced dir is not necessarily garbage — it may
    * be a RACING WRITER's just-written, not-yet-committed attempt (or a
    * commit that landed after this vacuum read the head); deleting it makes
    * the racing commit publish a manifest whose data is gone. `graceMs` is
    * the Delta-style answer: only dirs whose mtime is older than the grace
    * window are reclaimed, so any in-flight attempt younger than the window
    * survives. The default 0 reclaims everything unreferenced and is safe
    * ONLY when the caller guarantees no concurrent writers (the
    * maintenance-window discipline); production callers should pass a
    * window comfortably above their longest write job.
    */
  def vacuum(table: String, keepFromVersion: Int, graceMs: Long = 0L): Int = {
    val head = headVersion(table)
    require(keepFromVersion >= 1 && keepFromVersion <= head,
      s"keepFromVersion=$keepFromVersion outside [1, $head]")
    val live: Set[String] = (keepFromVersion to head).iterator
      .flatMap(v => manifest(table, v).map(entryPath))
      .map(_.stripPrefix("data/").takeWhile(_ != '/')).toSet
    val cutoff = System.currentTimeMillis() - graceMs
    val reclaimed = Option(dataDir(table).listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && !live.contains(d.getName) &&
        d.lastModified() < cutoff)
    reclaimed.foreach { d =>
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles(); if (kids != null) kids.foreach(rm); f.delete()
      }
      rm(d)
    }
    (1 until keepFromVersion).foreach { v =>
      Files.deleteIfExists(manifestFile(table, v).toPath)
      // rename-mode commits leave a claim tombstone per version (see
      // createExclusive) — reclaim it with its manifest
      Files.deleteIfExists(new java.io.File(logDir(table),
        manifestFile(table, v).getName + ".claim").toPath)
    }
    writeHint(oldestHintFile(table), keepFromVersion) // O(1) oldest lookup
    reclaimed.length
  }

  def read(spark: SparkSession, table: String,
           version: Option[Int] = None): DataFrame = {
    val v = version.getOrElse(headVersion(table))
    require(v >= 1, s"$table has no committed version")
    readEntries(spark, table, manifest(table, v))
  }

  /** SCHEMA EVOLUTION (r16, add-column only): read a set of live
    * entries with schema drift resolved FROM THE LOG. Entries group by
    * their recorded DDL (newest first — commit appends adds at the tail),
    * each group scans with exactly that schema (no parquet footer merging,
    * ever: the log is the source of truth, Delta's schema-in-log
    * discipline — `mergeSchema` would re-derive the same answer by
    * footer-reading every file of the table on every read), and groups
    * fold with `unionByName(allowMissingColumns)`: a column added by a
    * later commit reads as NULL from directories written before it, and
    * the NEWEST commit's column order wins. Entries without a recorded
    * DDL (pre-evolution manifests) form one footer-inferred group —
    * incremental adoption, same contract as untagged/stats-less entries.
    * The overwhelmingly common single-schema table takes the plain
    * one-scan path: zero plan change, zero union. Renames and type
    * changes are NOT supported (same-name columns must type-match across
    * groups or the union fails loudly — the honest failure; a rename is
    * semantically a drop+add and needs a rewrite, exactly as in Delta
    * without column mapping).
    */
  private def readEntries(spark: SparkSession, table: String,
                          entries: Seq[String]): DataFrame = {
    require(entries.nonEmpty, s"readEntries on $table: no entries")
    def paths(es: Seq[String]) =
      es.map(e => new java.io.File(table, entryPath(e)).getAbsolutePath)
    val keys = entries.reverse.map(entrySchemaDdl).distinct
    val frames = keys.map { k =>
      val dirs = paths(entries.filter(e => entrySchemaDdl(e) == k))
      k match {
        case Some(ddl) => spark.read.schema(ddl).parquet(dirs: _*)
        case None      => spark.read.parquet(dirs: _*)
      }
    }
    frames.reduce((a, b) => a.unionByName(b, allowMissingColumns = true))
  }

  /** The data directories a tag-predicate read resolves to — MANIFEST-LEVEL
    * partition pruning, the data-skipping the manifest's partition tags
    * (overwritePartitions) already paid for at commit time. Tagged entries
    * whose tag fails `tagPred` are pruned BEFORE Spark ever lists or opens
    * them — at 100 TB the difference between "scan the day you asked for"
    * and "list every live directory of the table". UNTAGGED entries (plain
    * append/overwrite commits) carry no partition semantics, so a tag
    * predicate cannot prune them: they are always kept — conservative,
    * never wrong. Exposed (not just readWhere-internal) so specs and
    * operational tooling can assert exactly what a predicate scans.
    */
  def pruneDirs(table: String, tagPred: String => Boolean,
                version: Option[Int] = None): Seq[String] =
    pruneEntries(table, tagPred, version).map(entryPath)

  private def pruneEntries(table: String, tagPred: String => Boolean,
                           version: Option[Int]): Seq[String] = {
    val v = version.getOrElse(headVersion(table))
    require(v >= 1, s"$table has no committed version")
    manifest(table, v).filter(e => entryTag(e).forall(tagPred))
  }

  /** Read only the partitions whose tag satisfies `tagPred` at `version`
    * (default head). Equivalent to `read(...).filter(partCol pred)` when
    * every live entry is tagged (the overwritePartitions-maintained case),
    * but the pruning happens in the MANIFEST — pruned directories are never
    * listed, never footer-read, never scanned. The returned frame still
    * contains every row of the kept directories; callers keep their row
    * filter for correctness (tags are string-rendered partition VALUES, one
    * per directory — the filter is then a no-op row-wise but guards mixed
    * tagged/untagged tables).
    */
  def readWhere(spark: SparkSession, table: String, tagPred: String => Boolean,
                version: Option[Int] = None): DataFrame = {
    val es = pruneEntries(table, tagPred, version)
    require(es.nonEmpty,
      s"readWhere pruned every entry of $table — no partition matches")
    readEntries(spark, table, es)
  }

  /** DATA SKIPPING on a VALUE predicate: the directories a closed-range
    * predicate `lo ≤ statsCol ≤ hi` (in statLongCol's encoding — raw
    * integral value, epoch days for DATE, epoch micros for TIMESTAMP) can
    * possibly match at `version`. A directory is pruned iff its committed
    * stats PROVE emptiness (`max < lo` or `min > hi`); entries without
    * stats for the column are kept — conservative, never wrong, exactly
    * the tag-pruning contract. This is Delta-style data skipping one level
    * above parquet row-group stats: pruned directories are never listed,
    * never footer-read. Null values can never satisfy a range predicate,
    * so dirs holding only nulls for the column (stats omitted) being kept
    * is conservative, and dirs pruned by their non-null range are safe
    * even if they also hold nulls.
    */
  def pruneDirsRange(table: String, statsCol: String, lo: Long, hi: Long,
                     version: Option[Int] = None): Seq[String] =
    pruneEntriesRange(table, statsCol, lo, hi, version).map(entryPath)

  private def pruneEntriesRange(table: String, statsCol: String,
                                lo: Long, hi: Long,
                                version: Option[Int]): Seq[String] = {
    val v = version.getOrElse(headVersion(table))
    require(v >= 1, s"$table has no committed version")
    manifest(table, v).filter { e =>
      entryStats(e).get(statsCol) match {
        case Some((mn, mx)) => mx >= lo && mn <= hi
        case None           => true
      }
    }
  }

  /** SELECTIVITY UPPER BOUND for a closed-range predicate, from the
    * manifest ALONE — a driver-side file read: no SparkSession in the
    * signature, so "zero estimation jobs" holds by construction. The bound
    * is (row count of the directories whose stats admit the range) /
    * (total row count), using the per-entry RowCountKey counts committed
    * alongside statsCols. Any entry missing a count (a pre-count commit,
    * a table committed without statsCols, or a `compact` that omitted
    * them — pass statsCols to compact to keep the bound through a
    * rewrite) degrades the bound to 1.0 — conservative, never wrong. The intended consumer is
    * Ann.filteredTopK's `selectivityHint`: a caller holding a TableLog
    * corpus pays nothing for its hint, and because this is an UPPER bound
    * the hinted dispatch can only overshoot toward the safe (IVF) side —
    * it can never under-admit a survivor set into the byte-walled exact
    * regime (the one failure mode the hint docs call out). A
    * partition/cluster layout aligned with the predicate column makes the
    * bound tight (each directory is narrow on the column); a scattered
    * layout makes it loose — still an upper bound either way.
    */
  def selectivityBound(table: String, statsCol: String, lo: Long, hi: Long,
                       version: Option[Int] = None): Double = {
    val v = version.getOrElse(headVersion(table))
    require(v >= 1, s"$table has no committed version")
    val es = manifest(table, v)
    if (es.isEmpty) 0.0
    else {
      val stats = es.map(entryStats)
      if (stats.exists(st => !st.contains(RowCountKey))) 1.0
      else {
        val total = stats.map(_(RowCountKey)._1).sum
        if (total == 0L) 0.0
        else {
          val kept = stats.iterator.map { st =>
            val admits = st.get(statsCol) match {
              case Some((mn, mx)) => mx >= lo && mn <= hi
              case None           => true
            }
            if (admits) st(RowCountKey)._1 else 0L
          }.sum
          kept.toDouble / total.toDouble
        }
      }
    }
  }

  /** SURVIVOR upper bound as a COUNT — selectivityBound's numerator, for
    * consumers that want rows, not a ratio (beam sizing: GraphAnn
    * .filteredBeam takes the estimated survivor count directly, and an
    * integer count avoids the ratio's float round-trip entirely). `ranges`
    * is a union of closed ranges, so complement predicates express
    * exactly: `label != 3` is `Seq((Long.MinValue, 2), (4, Long.MaxValue))`.
    * A directory counts iff its stats admit ANY range; entries without
    * stats for the column count too (conservative upper bound, same
    * contract as pruneDirsRange). None when any entry lacks a row count —
    * the caller chooses its own fallback; a ratio-1.0 default would
    * silently masquerade as a real count.
    */
  def survivorBound(table: String, statsCol: String,
                    ranges: Seq[(Long, Long)],
                    version: Option[Int] = None): Option[Long] = {
    require(ranges.nonEmpty, "survivorBound needs at least one range")
    val v = version.getOrElse(headVersion(table))
    require(v >= 1, s"$table has no committed version")
    val stats = manifest(table, v).map(entryStats)
    if (stats.exists(st => !st.contains(RowCountKey))) None
    else Some(stats.iterator.map { st =>
      val admits = st.get(statsCol) match {
        case Some((mn, mx)) => ranges.exists { case (lo, hi) => mx >= lo && mn <= hi }
        case None           => true
      }
      if (admits) st(RowCountKey)._1 else 0L
    }.sum)
  }

  /** Read only the directories whose committed stats admit
    * `lo ≤ statsCol ≤ hi` at `version` (default head). Callers keep their
    * row filter on top for exactness — the stats prune to the directories
    * that CAN match; rows outside the range within a kept directory are
    * the row filter's job (same contract as readWhere's tag guard).
    */
  def readWhereRange(spark: SparkSession, table: String, statsCol: String,
                     lo: Long, hi: Long,
                     version: Option[Int] = None): DataFrame = {
    val es = pruneEntriesRange(table, statsCol, lo, hi, version)
    require(es.nonEmpty,
      s"readWhereRange pruned every entry of $table — no directory can " +
        s"hold $statsCol in [$lo, $hi]")
    readEntries(spark, table, es)
  }

  /** Multi-dimensional data skipping: keep only the directories whose
    * stats admit EVERY `(col, lo, hi)` predicate — the read shape a
    * clustered layout (overwriteClustered) earns, where each directory is
    * narrow on every clustered dimension and a conjunctive box predicate
    * prunes multiplicatively. Per-column contract identical to
    * pruneDirsRange (stats-less columns keep the entry, conservative).
    */
  def readWhereRanges(spark: SparkSession, table: String,
                      preds: Seq[(String, Long, Long)],
                      version: Option[Int] = None): DataFrame = {
    val v = version.getOrElse(headVersion(table))
    require(v >= 1, s"$table has no committed version")
    val es = manifest(table, v).filter { e =>
      val st = entryStats(e)
      preds.forall { case (c, lo, hi) =>
        st.get(c) match {
          case Some((mn, mx)) => mx >= lo && mn <= hi
          case None           => true
        }
      }
    }
    require(es.nonEmpty,
      s"readWhereRanges pruned every entry of $table — no directory can " +
        s"satisfy ${preds.mkString(", ")}")
    readEntries(spark, table, es)
  }

  /** Row-level change feed between two committed versions: what `vB` added
    * (`_change_type = 'insert'`) and removed (`'delete'`) relative to `vA`;
    * an update surfaces as its delete+insert pair. Immutable data dirs +
    * complete manifests make this nearly free to RESOLVE: only directories
    * present in exactly one manifest are read at all (a version that
    * touched 2 of 10 000 partitions diffs by reading 4 dirs), and the
    * except-both-ways is computed over just those rows — so a pure
    * compaction between the versions (same content, new layout) yields an
    * EMPTY feed rather than a spurious full-table rewrite, and a no-op
    * commit diffs for free. exceptAll is multiset difference: duplicate
    * rows are netted per-occurrence, not set-collapsed.
    */
  def changeFeed(spark: SparkSession, table: String, vA: Int, vB: Int): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val entA = manifest(table, vA)
    val entB = manifest(table, vB)
    val a = entA.map(entryPath).toSet
    val b = entB.map(entryPath).toSet
    // entB last: if both versions reference a path, the newer entry (same
    // dir, possibly richer metadata) wins the lookup
    val byPath = (entA ++ entB).map(e => entryPath(e) -> e).toMap
    // Empty-side schema donor: ANY live data dir of either endpoint — NOT
    // `read(vB).limit(0)`, which throws on a zero-path parquet read when
    // vB's manifest is itself empty (a pure-drop commit: alsoReplace
    // tombstoning the table's last partition leaves an empty add-set AND an
    // empty manifest). If neither endpoint references any data at all, scan
    // retained versions head-down for one; a table whose every retained
    // manifest is empty has no schema to diff against and fails loudly.
    lazy val donor: java.io.File = (b ++ a).toSeq.sorted.headOption
      .orElse((headVersion(table) to 1 by -1).iterator
        .flatMap(v => manifest(table, v).map(entryPath).sorted.headOption)
        .nextOption())
      .map(p => new java.io.File(table, p))
      .getOrElse(throw new IllegalStateException(
        s"changeFeed($vA, $vB) on $table: no retained version references " +
          "any data directory — no schema available for the empty side"))
    def rd(dirs: Set[String]): DataFrame =
      if (dirs.nonEmpty) readEntries(spark, table, dirs.toSeq.sorted.map(byPath))
      else spark.read.parquet(donor.getAbsolutePath).limit(0)
    val added0   = rd(b -- a)
    val dropped0 = rd(a -- b)
    // Align both sides to the union schema before the multiset diff: an
    // evolution boundary between vA and vB otherwise feeds exceptAll two
    // different-width frames. A row that only gained NULL columns still
    // nets out (nulls compare equal within exceptAll's grouping), so a
    // pure add-column commit over identical rows diffs EMPTY, like a
    // compaction.
    val added   = added0.unionByName(dropped0.limit(0), allowMissingColumns = true)
    val dropped = dropped0.unionByName(added0.limit(0), allowMissingColumns = true)
      .select(added.columns.map(col): _*)
    added.exceptAll(dropped).withColumn("_change_type", lit("insert"))
      .unionByName(
        dropped.exceptAll(added).withColumn("_change_type", lit("delete")))
  }
}
