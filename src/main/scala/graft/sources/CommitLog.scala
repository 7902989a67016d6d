package graft.sources

import graft.operators.Lake
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Append-only commit log for a versioned parquet table — the missing
  * half of the reference's durability pair: `lake_snapshot` is the
  * FSImage checkpoint (full copies), this is the FSEditLog journal
  * (reference server/namenode/FSEditLog.java:1, FSImage.java:1 —
  * namespace state = image + replayed edits; here table state =
  * replayed add/remove-file actions).
  *
  * Layout under `tableDir`:
  * {{{
  *   _log/000000000.log     one file per committed version
  *   _log/000000001.log
  *   data/<name>/...        parquet data, referenced by log actions
  *   data/ckpt-<N>/...      a data image's copy of the active set
  * }}}
  *
  * Each log file is a tiny text journal: `ts <millis>` then one
  * `add <relpath>` / `remove <relpath>` per line, closed by `end`. A
  * commit of local parquet (`commit`, and through it `writeCommit`,
  * compactions and promoted flushes; a data image, `restore`, `drain`)
  * also records `schema <json>`: the Spark row schema its adds hold,
  * taken on the driver from the footer of each add's first part file,
  * decoded as Spark's own inference decodes it (in the nullable form
  * every parquet read gives its columns), and recorded only when all
  * adds carry the same one under Spark's key. Readers ignore
  * lines they do not know, so journals with and without it stay
  * readable both ways. A version commits by
  * CREATING its log file exclusively (`FileSystem.create(path,
  * overwrite = false)`): two concurrent writers racing for version N
  * cannot both succeed — the loser sees FileAlreadyExists, re-reads
  * the log and retries at N+1 (the optimistic analogue of the
  * reference's single-writer edit log; cf. LeaseManager.java:63 for
  * the lease-based variant used on the streaming state swap).
  *
  * IMAGES. A commit marked `ckpt` is an image: its adds are the full
  * active set after it, so replay may start at it. It takes two forms:
  *  - a METADATA image (`maybeCheckpoint`, `saveNamespace`): one
  *    `add` per active entry, in active order, no removes, and the
  *    schema when every active entry records the same one — the
  *    reference's fsimage, a serialized namespace with no block
  *    copied. 0 Spark jobs, 0 data bytes;
  *  - a DATA image (`checkpoint`): the active set copied into
  *    `data/ckpt-<N>`, committed as `add` of that dir plus `remove` of
  *    every active entry — the explicit verb for rewriting the files
  *    (and for making a shallow clone fully local).
  * `drain` commits the same shape as a metadata image (survivors
  * re-listed) plus its one rewritten dir.
  *
  * Reads reconstruct the active file set at any version (`snapshot`)
  * or wall-clock instant (`snapshotAsOf`) by replaying the log — pure
  * driver-side metadata ops (a NameNode replaying edits), after which
  * the data read is an ordinary pruned parquet scan. Every journal
  * read goes through one reader (`replay`): one `_log` listing, read
  * newest-first down to the newest complete image at or below the
  * version it needs, so state is that image plus the edits after it
  * and the cost is bounded by the commits since that image, not by the
  * history. Head and versioned `snapshot`/`activeFiles`,
  * `snapshotWithInflight`, the cadence's replay count,
  * `saveNamespace`'s head check, the retention cut, the images, `drain`
  * and `restore` read that way; as-of reads, `ship`, vacuum, clone pins,
  * `commits()` and the upgrade ceremonies (whose state lives in tags an
  * image does not carry) read from the start. The ceremonies commit
  * through one compare-and-swap (`cas`). Every data read goes
  * through one reader (`read`): when EVERY entry it reads carries the
  * same recorded schema, that schema is handed to Spark and resolving
  * the snapshot schedules no job (a NameNode never opens a block to
  * learn its shape); otherwise — legacy journals, shallow clones'
  * external references, foreign parquet, mixed schemas, entries
  * written by `tryCommit` without one — Spark infers the schema from
  * a footer, as it
  * would for any parquet read. Both give the same schema: when all
  * footers agree, inference over any of them returns the recorded one.
  * At 100 TB the
  * log stays tiny (it scales with commits, not data), a bounded replay
  * is O(commits since the image it starts at), and no data file is ever
  * rewritten in place: version reads are stable under concurrent
  * appends.
  */
object CommitLog {

  private def logDir(tableDir: String) = new Path(tableDir, "_log")
  private def logFile(tableDir: String, v: Int) =
    new Path(logDir(tableDir), f"$v%09d.log")

  /** One committed version: (version, commit ts millis, adds, removes)
    * with paths relative to the table dir; `isCheckpoint` marks an
    * image commit (its adds are a self-contained snapshot, so replay
    * may start at it). `tags` carries ceremony markers (`upgrade` /
    * `rollback` / `finalize`) — unknown tags replay as no-ops, so old
    * readers skip them instead of failing. `schema` is the recorded
    * Spark schema (JSON) of the data this commit's adds hold, when the
    * commit wrote that data itself. */
  final case class Commit(version: Int, ts: Long, adds: Seq[String], removes: Seq[String],
                          isCheckpoint: Boolean = false, tags: Set[String] = Set.empty,
                          schema: Option[String] = None)

  /** The version files under `_log`, oldest first (one listing). */
  private def logFiles(fs: FileSystem, tableDir: String): Seq[FileStatus] = {
    val dir = logDir(tableDir)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.filter(_.getPath.getName.endsWith(".log")).sortBy(versionOf)
  }

  private def versionOf(st: FileStatus): Int = st.getPath.getName.stripSuffix(".log").toInt

  /** The version a commit claims after `listing`: past every version
    * file in it, committed or burned. */
  private def nextVersion(listing: Seq[FileStatus]): Int =
    listing.lastOption.map(versionOf(_) + 1).getOrElse(0)

  /** The one record format of the table's small files (log files,
    * links, flush and safe-mode markers): one entry per line, closed by
    * `end`. */
  private def record(lines: Seq[String]): Array[Byte] =
    (lines :+ "end").mkString("", "\n", "\n").getBytes("UTF-8")

  /** A record read back: its entry lines when it closes with `end`,
    * None when it is torn (its writer died mid-write) or gone (a tmp
    * renamed away mid-listing) — a torn record never surfaces half its
    * entries. */
  private def readRecord(fs: FileSystem, f: Path): Option[Seq[String]] = {
    val text =
      try {
        val in = fs.open(f)
        try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
        finally in.close()
      } catch { case _: java.io.FileNotFoundException => "" }
    val lines = text.linesIterator.map(_.trim).filter(_.nonEmpty).toSeq
    if (lines.lastOption.contains("end")) Some(lines.init) else None
  }

  /** The values of a record's `<key> <value>` entries, in order. */
  private def field(lines: Seq[String], key: String): Seq[String] =
    lines.collect { case l if l.startsWith(key + " ") => l.drop(key.length + 1) }

  /** Write a record by CREATING `f` exclusively — the atomic claim of
    * log and link files. False ONLY when the file already exists
    * (another writer won it); any other IO failure propagates. A write
    * failing after the create leaves the file without `end`: torn, so
    * readers skip it rather than read half of it. */
  private def createRecord(fs: FileSystem, f: Path, lines: Seq[String]): Boolean = {
    val out =
      try fs.create(f, false)
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => return false
        case _: java.io.IOException if fs.exists(f) => return false // lost the race
      }
    try { out.write(record(lines)); out.close() }
    catch { case e: java.io.IOException =>
      try out.close() catch { case _: java.io.IOException => () }
      throw e
    }
    true
  }

  /** One log file parsed. A log file without the terminal `end` marker
    * is a commit that died mid-write: its version number is burned but
    * it carries NO actions — the unclosed-edit-log-segment rule, so a
    * torn write can never surface as a half-applied commit. */
  private def readCommit(fs: FileSystem, st: FileStatus): Option[Commit] =
    readRecord(fs, st.getPath).map { lines =>
      Commit(versionOf(st), field(lines, "ts").headOption.map(_.toLong).getOrElse(0L),
        field(lines, "add"), field(lines, "remove"), isCheckpoint = lines.contains("ckpt"),
        tags = field(lines, "tag").toSet, schema = field(lines, "schema").headOption)
    }

  /** THE journal reader — the reference's durability rule (FSImage.java:1:
    * state is the newest image plus the edits after it). It reads the
    * version files of one `_log` listing newest-first down to the
    * newest complete image at or below `upTo`, and returns that image
    * and every complete commit after it in the listing, oldest first;
    * with no such image (or `upTo` < 0) it reads to the start. An
    * image's adds are the full active set after it, so what it returns
    * replays to the same state as the full log. A head read opens
    * (commits since the newest image + 1) files whatever the history's
    * length; a read at version v passes the listing cut at v; `restore`
    * passes its target over the whole listing. Burned versions (see
    * `readCommit`) are skipped. */
  private def replay(fs: FileSystem, listing: Seq[FileStatus], upTo: Int): Seq[Commit] = {
    val newestFirst = listing.reverseIterator.flatMap(readCommit(fs, _))
    var oldestFirst = List.empty[Commit]
    var atImage = false
    while (!atImage && newestFirst.hasNext) {
      val c = newestFirst.next()
      oldestFirst = c :: oldestFirst
      atImage = c.isCheckpoint && c.version <= upTo
    }
    oldestFirst
  }

  /** All committed versions in order (driver-side metadata read);
    * burned versions (see `readCommit`) are skipped. */
  def commits(fs: FileSystem, tableDir: String): Seq[Commit] =
    replay(fs, logFiles(fs, tableDir), upTo = -1)

  /** The active entries at `version` (Int.MaxValue: the head),
    * replayed from the newest image at or below it. */
  private def entriesAt(fs: FileSystem, tableDir: String,
                        version: Int): Seq[(String, Option[String])] =
    activeEntries(replay(fs, logFiles(fs, tableDir).takeWhile(versionOf(_) <= version), version))

  /** Versions diagnosed burned by the CAS's in-flight wait, keyed
    * `tableDir#version`, at the (length, mtime) identity their file had
    * (a permanently burned file would otherwise re-pay the full grace
    * wait on EVERY ceremony forever — each checkpoint/restore/drain on
    * that table stalling 2s). A crashed writer's file never changes,
    * so the diagnosis holds; a NEW in-flight file reusing the version
    * number after a dir wipe presents a different identity and gets the
    * full grace wait again — the race guarantee is preserved.
    *
    * Two hardening rules: (1) EVICTION — a diagnosis whose log file is
    * GONE from the listing (dir wiped, history vacuumed, table
    * recreated) is dropped at the next CAS, so the map cannot grow past
    * the live burned files and a same-version successor always starts
    * from a clean slate; (2) the (length, mtime) identity is only as
    * sharp as the filesystem's mtime granularity (1s on some FSs) —
    * eviction closes the delete-then-recreate alias (the file vanishes
    * between reads), and within a single uninterrupted existence a log
    * file is create-exclusive and append-only, so same-length-same-mtime
    * genuinely is the same unchanged burned file. */
  private val burnedDiagnosed =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()

  /** A ceremony's planned commit at the claimed version: its actions,
    * and the dir it staged for them (deleted when the swap loses). */
  private final case class Swap(adds: Seq[String], removes: Seq[String],
                                image: Boolean = false, tags: Seq[String] = Nil,
                                schema: Option[String] = None, staged: Option[String] = None)

  /** THE compare-and-swap of the journal ceremonies (both image forms,
    * `drain`, `restore` and the upgrade trio), named `verb` in its
    * errors. In order:
    *  1. a frozen table is refused before any I/O (safe mode);
    *  2. one `_log` listing claims `next` = its max + 1, BEFORE the state
    *     the swap is computed from is read: any commit landing later
    *     occupies >= next, so the swap below loses instead of acting on
    *     a stale snapshot;
    *  3. the replay the ceremony needs is read from that same listing
    *     (`replay` at `upTo`: Int.MaxValue for the head, -1 for the full
    *     log);
    *  4. IN-FLIGHT WAIT. tryCommit's create-then-write leaves a window
    *     where a version file exists but its body is not yet terminated;
    *     the replay correctly skips it (the burned-version rule for
    *     crashed writers), but a set difference computed without it
    *     would land at `next` ABOVE it and silently resurrect whatever
    *     it removed or drop what it added (caught by the restore/append
    *     race spec: a restore that never saw the racing append's v2
    *     landed at v3 and left the appended file active). So while a
    *     file of the listing inside the replayed range exists but does
    *     not parse, the replay is re-read every 20 ms: a live writer
    *     terminates in milliseconds; a crashed writer never does and,
    *     past the 2 s grace, stays a burned version, remembered in
    *     `burnedDiagnosed` so the wait is paid once. Vacuumed history
    *     (no file at all) never waits;
    *  5. `plan` computes the swap from the replay (and `next`), and may
    *     stage data for it;
    *  6. tryCommit at exactly `next`. Not a blind retry: the swap
    *     reflects the replay above, so committing it higher would
    *     resurrect whatever a winner removed. Losing deletes the staged
    *     dir and throws, and the caller redoes the ceremony.
    * Returns the committed commit. */
  private def cas(fs: FileSystem, tableDir: String, verb: String, upTo: Int, ts: Long)
                 (plan: (Int, Seq[Commit]) => Swap): Commit = {
    refuseFrozen(fs, tableDir, verb)
    val listing = logFiles(fs, tableDir)
    val next = nextVersion(listing)
    val prefix = s"$tableDir#"
    val live = listing.map(versionOf).toSet
    // non-numeric suffix = a DIFFERENT tableDir extending this prefix
    // ("a/b#2" vs "a/b") — never evict those here
    burnedDiagnosed.keySet.removeIf { k =>
      k.startsWith(prefix) && k.stripPrefix(prefix).toIntOption.exists(v => !live(v))
    }
    def replayed(): (Seq[Commit], Seq[FileStatus]) = {
      val cs = replay(fs, listing, upTo)
      val from = cs.headOption.filter(c => c.isCheckpoint && c.version <= upTo)
        .fold(Int.MinValue)(_.version)
      val parsed = cs.map(_.version).toSet
      (cs, listing.filter { st =>
        val v = versionOf(st)
        v > from && !parsed(v) &&
          burnedDiagnosed.get(prefix + v) != ((st.getLen, st.getModificationTime))
      })
    }
    var (cs, pending) = replayed()
    var waitedMs = 0L
    while (waitedMs < 2000L && pending.nonEmpty) {
      Thread.sleep(20L); waitedMs += 20L
      val (reread, still) = replayed()
      cs = reread; pending = still
    }
    pending.foreach(st => burnedDiagnosed.put(prefix + versionOf(st), (st.getLen, st.getModificationTime)))
    val s = plan(next, cs)
    if (!tryCommit(fs, tableDir, next, ts, s.adds, s.removes, s.image, s.tags, s.schema)) {
      s.staged.foreach(p => fs.delete(new Path(tableDir, p), true))
      throw new java.util.ConcurrentModificationException(
        s"$tableDir advanced past version $next during $verb — retry")
    }
    Commit(next, ts, s.adds, s.removes, s.image, s.tags.toSet, s.schema)
  }

  /** Attempt to commit exactly version `v` (create-exclusive). Returns
    * false ONLY when another writer won the race for `v`; any other IO
    * failure (permissions, disk full, torn write) propagates — it is
    * an error, not a version conflict. */
  def tryCommit(fs: FileSystem, tableDir: String, v: Int, ts: Long,
                adds: Seq[String], removes: Seq[String],
                checkpointMarker: Boolean = false,
                tags: Seq[String] = Nil, schema: Option[String] = None): Boolean = {
    refuseFrozen(fs, tableDir, "commit")
    fs.mkdirs(logDir(tableDir))
    createRecord(fs, logFile(tableDir, v),
      Seq(s"ts $ts") ++ (if (checkpointMarker) Seq("ckpt") else Nil) ++ tags.map("tag " + _) ++
        schema.map("schema " + _) ++ adds.map("add " + _) ++ removes.map("remove " + _))
  }

  /** Commit at the next available version, retrying under contention,
    * recording the schema the adds' footers carry (`addsSchema`).
    * Returns the version written. */
  def commit(fs: FileSystem, tableDir: String, ts: Long,
             adds: Seq[String], removes: Seq[String],
             checkpointMarker: Boolean = false,
             tags: Seq[String] = Nil): Int = {
    val schema = addsSchema(fs, tableDir, adds)
    var v = nextVersion(logFiles(fs, tableDir))
    while (!tryCommit(fs, tableDir, v, ts, adds, removes, checkpointMarker, tags, schema)) v += 1
    v
  }

  private def frozenMarker(tableDir: String) = new Path(tableDir, "_frozen")

  /** Refuse a mutation of a frozen table before any journal or data I/O. */
  private def refuseFrozen(fs: FileSystem, tableDir: String, verb: String): Unit =
    if (isFrozen(fs, tableDir))
      throw new java.io.IOException(
        s"$tableDir is frozen (safe mode): $verb refused before any I/O, reads unaffected")

  /** SAFE MODE for a versioned table — the reference's
    * ClientProtocol.setSafeMode (protocol/ClientProtocol.java:648)
    * plus FSNamesystem.SafeModeInfo's threshold machine
    * (server/namenode/FSNamesystem.java:3997): while the `_frozen`
    * marker exists, every commit attempt is refused loudly
    * (SafeModeException analogue —
    * server/namenode/SafeModeException.java:1) BEFORE any journal or
    * data I/O, so a refused write burns no version and replay is
    * byte-identical to a history in which it never happened; reads
    * replay normally throughout.
    *
    * Two modes, as in the reference:
    *  - STARTUP (`enterSafeMode`): carries a per-mille replay
    *    threshold. Verification progress arrives via
    *    `reportVerified` (the block-report analogue: each call
    *    actually READS the named active files — a parquet
    *    footer-count job, metadata-only however large the files —
    *    and accumulates them in the marker). The moment
    *    verified/active ≥ threshold the marker is deleted: automatic
    *    exit, no operator action (SafeModeInfo.canLeave).
    *  - MANUAL (`enterSafeModeManual`): the threshold is
    *    unreachable by construction (the reference sets it to 1.5 —
    *    FSNamesystem.java:4064); only `leaveSafeMode` exits.
    *
    * All state is the one marker file, rewritten per report — a
    * driver-side metadata op like the journal itself; the only
    * cluster work is the verification read, which is one job per
    * report over only the files being reported. */
  final case class SafeModeState(manual: Boolean, thresholdPm: Int,
                                 verified: Set[String])

  /** Enter startup safe mode: frozen until `reportVerified` calls
    * push the verified fraction of active files to `thresholdPm`
    * per-mille (1000 = every active file, the strict default). */
  def enterSafeMode(fs: FileSystem, tableDir: String,
                    thresholdPm: Int = 1000): Unit =
    writeSafeMode(fs, tableDir, SafeModeState(manual = false, thresholdPm, Set.empty))

  /** Enter manual safe mode: no threshold can exit it (reference:
    * manual SafeModeInfo sets threshold 1.5, unreachable); only
    * `leaveSafeMode` does. */
  def enterSafeModeManual(fs: FileSystem, tableDir: String): Unit =
    writeSafeMode(fs, tableDir, SafeModeState(manual = true, 0, Set.empty))

  /** Back-compat alias for the pre-threshold API: manual freeze. */
  def freeze(fs: FileSystem, tableDir: String): Unit =
    enterSafeModeManual(fs, tableDir)

  def leaveSafeMode(fs: FileSystem, tableDir: String): Unit = {
    fs.delete(frozenMarker(tableDir), false); ()
  }

  /** Back-compat alias: manual leave. */
  def unfreeze(fs: FileSystem, tableDir: String): Unit =
    leaveSafeMode(fs, tableDir)

  def isFrozen(fs: FileSystem, tableDir: String): Boolean =
    fs.exists(frozenMarker(tableDir))

  /** Current safe-mode state, None when the table is writable. A
    * marker that is not a complete record — hand-placed, predating the
    * threshold machine, or torn mid-rewrite — parses as MANUAL with
    * nothing verified: the conservative reading, it never self-exits. */
  def safeMode(fs: FileSystem, tableDir: String): Option[SafeModeState] = {
    val f = frozenMarker(tableDir)
    if (!fs.exists(f)) None
    else {
      val lines = readRecord(fs, f).getOrElse(Nil)
      val pm = field(lines, "startup").headOption.map(_.toInt)
      Some(SafeModeState(manual = pm.isEmpty, thresholdPm = pm.getOrElse(0),
        verified = field(lines, "safe").toSet))
    }
  }

  private def writeSafeMode(fs: FileSystem, tableDir: String,
                            st: SafeModeState): Unit = {
    val head = if (st.manual) "manual" else s"startup ${st.thresholdPm}"
    val out = fs.create(frozenMarker(tableDir), true)
    try out.write(record(head +: st.verified.toSeq.sorted.map("safe " + _))) finally out.close()
  }

  /** One verification report: (verified so far, active total, still
    * frozen). Each named relPath must be an ACTIVE journal entry; it
    * counts as verified only after an actual read succeeds — a
    * parquet count() over exactly those files, which Spark answers
    * from footers (no row scan), so a report is cheap at any file
    * size while still proving the footer + schema are intact. In
    * startup mode, crossing the threshold deletes the marker
    * (automatic exit); manual mode records progress but never
    * exits. */
  /** Reporter serialization (ADVICE r9): the marker rewrite is a
    * read-modify-write, so concurrent reporters would lose each
    * other's verified progress, and a report racing `leaveSafeMode`
    * could re-create the marker an admin just deleted. Within one
    * JVM, reports for the same table serialize on this per-table
    * lock and re-read the marker INSIDE the critical section (only
    * the verification reads — the expensive part — run unlocked);
    * the re-read also makes a concurrent `leaveSafeMode` win: a
    * vanished marker means the table was opened, and the report
    * records nothing rather than re-freezing it. Cross-JVM the
    * safe-mode protocol assumes the reference's deployment shape —
    * ONE namenode-role driver issues reports (block reports all
    * land on the active NameNode, FSNamesystem.java:3997); multiple
    * independent report-issuing drivers on one table are out of
    * contract. */
  private val safeModeLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  def reportVerified(spark: SparkSession, tableDir: String,
                     relPaths: Seq[String]): (Int, Int, Boolean) = {
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val pre = safeMode(fs, tableDir).getOrElse(
      return (0, activeFiles(fs, tableDir).size, false))
    val active = activeFiles(fs, tableDir)
    // the actual read — a corrupt footer throws here and the file
    // simply never joins the verified set. Runs OUTSIDE the lock: it
    // is the expensive part of a report. Files the PRE-READ marker
    // already records skip the read (a re-reported full active set
    // must not re-pay O(files) verification I/O every cadence); the
    // lock-protected fold below still merges against the CURRENT
    // marker, so a concurrent reporter's progress is never lost.
    val ok = relPaths.filter(active.contains).filter { rel =>
      pre.verified.contains(rel) || {
        // footers opened directly on the driver, no job (r18). The
        // shared walker recurses into nested (partition) dirs and
        // throws on a foreign non-parquet entry, so such an entry stays
        // unverified, as the old spark.read verification left it; an
        // entry with no part file verifies false, never vacuously.
        try {
          val conf = spark.sparkContext.hadoopConfiguration
          val parts = Lake.dataFiles(fs, new Path(resolve(tableDir, rel)))
          parts.nonEmpty && parts.forall(Lake.partRows(conf, _) >= 0L)
        }
        catch { case scala.util.control.NonFatal(_) => false }
      }
    }
    val lock = safeModeLocks.computeIfAbsent(tableDir, _ => new Object)
    lock.synchronized {
      // re-read under the lock: fold OUR verifications into the
      // CURRENT marker state, not the pre-read snapshot
      val st = safeMode(fs, tableDir).getOrElse(
        return (0, active.size, false)) // table was opened meanwhile
      val next = st.copy(verified = st.verified ++ ok)
      val exit = !next.manual &&
        next.verified.count(active.contains) * 1000L >=
          next.thresholdPm.toLong * active.size
      if (exit) leaveSafeMode(fs, tableDir)
      else writeSafeMode(fs, tableDir, next)
      (next.verified.count(active.contains), active.size, !exit)
    }
  }

  /** Write `df` under `tableDir/<relPath>` and commit the addition. */
  def writeCommit(spark: SparkSession, tableDir: String, df: DataFrame,
                  relPath: String, ts: Long): Int = {
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    refuseFrozen(fs, tableDir, "write")
    df.write.mode("overwrite").parquet(s"$tableDir/$relPath")
    commit(fs, tableDir, ts, adds = Seq(relPath), removes = Seq.empty)
  }

  /** The schema (JSON) a read of `adds` resolves to, for a commit to
    * record: the Spark-keyed row schema in the first part-file footer
    * of each add (`Shims.footerSchema`, no session needed), when every
    * add is a LOCAL file or flat directory and all carry the same one.
    * Otherwise nothing is recorded and the read infers as before:
    * clone references, partitioned entries (their reads add columns no
    * footer holds), foreign footers, mixed schemas, and a missing or
    * unreadable add — recording never fails a commit. */
  private def addsSchema(fs: FileSystem, tableDir: String, adds: Seq[String]): Option[String] =
    if (adds.isEmpty || adds.exists(_.startsWith("/"))) None
    else scala.util.Try(adds.map { a =>
      val entry = fs.makeQualified(new Path(tableDir, a))
      val parts = Lake.dataFiles(fs, entry).sortBy(_.getPath.toString)
      if (parts.exists(f => f.getPath != entry && f.getPath.getParent != entry)) None
      else parts.headOption.flatMap(org.apache.spark.sql.graft.Shims.footerSchema(fs.getConf, _))
        .map(_.json)
    }.distinct).toOption match {
      case Some(Seq(uniform)) => uniform
      case _ => None
    }

  /** The one read path of the commit log: a parquet read of the given
    * active entries (relpath, recorded schema). The recorded schema is
    * handed to Spark only when EVERY entry carries the same one — then
    * no schema-inference job runs; any entry without one (legacy
    * journal, clone references, foreign parquet) or a mix of schemas
    * leaves the read to Spark's inference. */
  private def read(spark: SparkSession, tableDir: String,
                   entries: Seq[(String, Option[String])]): DataFrame = {
    val paths = entries.map { case (p, _) => resolve(tableDir, p) }
    entries.map(_._2).distinct match {
      case Seq(Some(json)) =>
        spark.read.schema(DataType.fromJson(json).asInstanceOf[StructType]).parquet(paths: _*)
      case _ => spark.read.parquet(paths: _*)
    }
  }

  /** Resolve a journal entry to a readable path: entries beginning
    * with '/' are EXTERNAL absolute references (written by shallow
    * clones — the clone's journal points at the source's data files,
    * zero bytes copied); everything else is tableDir-relative. The
    * vacuum/retention passes only ever delete LOCAL `data/` entries,
    * so external references are structurally out of their reach. */
  private def resolve(tableDir: String, p: String): String =
    if (p.startsWith("/")) p else s"$tableDir/$p"

  /** SHALLOW CLONE: start `dstDir` as a new table whose v0 journal
    * references `srcDir`'s currently-active data files by absolute
    * path — a metadata-only commit, no data copied (reference
    * analogue: HDFS snapshots share blocks; FSImage.java:1 — state is
    * what the journal says, not where bytes sit). The clone then
    * evolves independently: its own adds/removes never touch the
    * source, and a later checkpoint() materializes it fully local.
    *
    * The Delta shallow-clone hazard — source retention deleting data
    * files a clone still references — is CLOSED here by back-
    * references: cloneFrom registers the clone in the source's
    * `_clones/` directory (the HDFS-snapshot refcount idea,
    * server/namenode/INodeFile.java:1 — shared blocks are not
    * reclaimable while a snapshot references them), and
    * vacuumOrphans / dropHistoryBefore treat every data file still
    * referenced by a registered live clone's journal as pinned. The
    * pin releases itself: once the clone checkpoints and drops its
    * pre-checkpoint history (or the clone dir is deleted), its
    * journal holds no external references and the marker is swept on
    * the source's next vacuum. The clone's own vacuum can never
    * touch the source regardless (it only deletes LOCAL `data/`
    * entries — see resolve()). */
  def cloneFrom(fs: FileSystem, srcDir: String, dstDir: String, ts: Long): Int = {
    val active = activeSet(commits(fs, srcDir)).map(resolve(srcDir, _))
    require(active.nonEmpty, s"nothing to clone: no active files in $srcDir")
    val v = commit(fs, dstDir, ts, adds = active, removes = Seq.empty)
    val out = fs.create(cloneMarker(srcDir, dstDir), true)
    try out.write(dstDir.getBytes("UTF-8")) finally out.close()
    v
  }

  private def clonesDir(tableDir: String) = new Path(tableDir, "_clones")

  private def cloneMarker(srcDir: String, dstDir: String): Path =
    new Path(clonesDir(srcDir), s"${Lake.dirTag(dstDir)}.ref")

  /** Registered clone dirs of this table (back-reference markers). */
  def registeredClones(fs: FileSystem, tableDir: String): Seq[String] = {
    val dir = clonesDir(tableDir)
    if (!fs.exists(dir)) return Seq.empty
    fs.listStatus(dir).toSeq.filter(_.getPath.getName.endsWith(".ref")).map { st =>
      val in = fs.open(st.getPath)
      try {
        val buf = new Array[Byte](st.getLen.toInt)
        in.readFully(buf); new String(buf, "UTF-8")
      } finally in.close()
    }
  }

  /** Relative paths under `tableDir` still referenced by registered
    * live clones' journals — pinned against vacuum. Stale markers
    * (clone gone, or its journal no longer references this source)
    * are swept as a side effect. */
  private def clonePinned(fs: FileSystem, tableDir: String): Set[String] = {
    registeredClones(fs, tableDir).flatMap { dst =>
      val refs =
        if (!fs.exists(logDir(dst))) Seq.empty
        else commits(fs, dst).flatMap(_.adds)
          .filter(_.startsWith(tableDir + "/"))
          .map(_.drop(tableDir.length + 1))
      if (refs.isEmpty) fs.delete(cloneMarker(tableDir, dst), false)
      refs
    }.toSet
  }

  /** Active (journal-entry) file set at a version — the ORDER-
    * SENSITIVE replay: a remove-then-re-add history resolves to
    * active, which naive all-adds-minus-all-removes set algebra gets
    * wrong. Every consumer of "what files is the table at version N"
    * must come through here (or snapshot), never reimplement replay. */
  def activeFiles(fs: FileSystem, tableDir: String, version: Int = Int.MaxValue): Seq[String] =
    entriesAt(fs, tableDir, version).map(_._1)

  /** Active (relative) file set after replaying the log through the
    * given versions. */
  private def activeSet(cs: Seq[Commit]): Seq[String] = activeEntries(cs).map(_._1)

  /** The active set with each entry's recorded schema: that of the
    * commit which last added it (a re-add without one drops it). */
  private def activeEntries(cs: Seq[Commit]): Seq[(String, Option[String])] = {
    val active = scala.collection.mutable.LinkedHashMap.empty[String, Option[String]]
    cs.foreach { c => c.adds.foreach(active(_) = c.schema); active --= c.removes }
    active.toSeq
  }

  /** One incremental replay over an already-read journal: each commit
    * paired with the active-file count AFTER applying it. Equals
    * `activeFiles(_, _, c.version).size` for every commit (spec-pinned)
    * but costs O(V) total instead of O(V^2) per-version replays — and
    * taking the commit list (not fs+dir) makes "one journal read" a
    * property of the signature, not caller discipline. */
  def journalTimeline(cs: Seq[Commit]): Seq[(Commit, Long)] = {
    val active = scala.collection.mutable.LinkedHashSet.empty[String]
    cs.sortBy(_.version).map { c =>
      active ++= c.adds; active --= c.removes
      (c, active.size.toLong)
    }
  }

  /** Read the table as of a version (default: latest). */
  def snapshot(spark: SparkSession, tableDir: String, version: Int = Int.MaxValue): DataFrame = {
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val entries = entriesAt(fs, tableDir, version)
    require(entries.nonEmpty, s"no active files in $tableDir at version $version")
    read(spark, tableDir, entries)
  }

  /** Read the table as it stood at a wall-clock instant (time travel
    * by timestamp: all commits with ts <= asOfMillis). */
  def snapshotAsOf(spark: SparkSession, tableDir: String, asOfMillis: Long): DataFrame = {
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val entries = activeEntries(commits(fs, tableDir).filter(_.ts <= asOfMillis))
    require(entries.nonEmpty, s"no active files in $tableDir as of $asOfMillis")
    read(spark, tableDir, entries)
  }

  /** DATA IMAGE — the explicit materializing verb: copy the CURRENT
    * active set into one compacted dir `data/ckpt-N`, then commit (add
    * the image, remove every active file) under the image marker.
    * Older versions keep reading their original files, which stay on
    * disk until a retention pass drops their versions. This is the
    * verb that makes a shallow clone fully local, and the one to call
    * when the table's files should be rewritten; the cadence and
    * `saveNamespace` write metadata images instead. Returns the image
    * version. */
  def checkpoint(spark: SparkSession, tableDir: String, ts: Long): Int =
    commitImage(spark, tableDir, ts, materialize = true)

  /** The one commit path of both image forms. A data image
    * (`materialize`) writes the active set into `data/ckpt-N` and
    * commits `add` of it plus `remove` of every active entry, with the
    * schema read back from what it wrote. A METADATA image (the
    * reference's fsimage: the serialized namespace, no block copied)
    * commits `add` of every active entry in active order and no
    * remove, carrying the schema only when every active entry records
    * the same one: 0 Spark jobs, 0 data bytes. Full replay through it
    * is unchanged (a re-add keeps its position), and head replay may
    * start at it. */
  private def commitImage(spark: SparkSession, tableDir: String, ts: Long,
                          materialize: Boolean): Int = {
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    cas(fs, tableDir, "checkpoint", Int.MaxValue, ts) { (next, cs) =>
      val entries = activeEntries(cs)
      val active = entries.map(_._1)
      require(active.nonEmpty, s"nothing to checkpoint in $tableDir")
      if (materialize) {
        val image = s"data/ckpt-$next"
        read(spark, tableDir, entries).write.mode("overwrite").parquet(s"$tableDir/$image")
        Swap(Seq(image), active, image = true, schema = addsSchema(fs, tableDir, Seq(image)),
          staged = Some(image))
      } else Swap(active, Nil, image = true, schema = entries.map(_._2).distinct match {
        case Seq(uniform) => uniform
        case _ => None
      })
    }.version
  }

  /** CHECKPOINT CADENCE — the reference's automatic image policy
    * (server/namenode/Checkpointer.java:1 triggers a checkpoint when
    * the edit log outgrows a threshold; SecondaryNameNode.java:1 is
    * the daemon form): commit a metadata image only when replay cost —
    * commits since the last image (or since v0) — exceeds `maxReplay`.
    * The decision is a head replay, which the cadence itself keeps to
    * at most `maxReplay` + 1 log files, and the image is metadata only,
    * so the cadence never rewrites the table. Returns the image version, or
    * None if replay is still cheap. Idempotent at the cadence level: a
    * call right after a triggered image sees replay length 0 and
    * declines. */
  def maybeCheckpoint(spark: SparkSession, tableDir: String, ts: Long,
                      maxReplay: Int): Option[Int] = {
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val edits = replay(fs, logFiles(fs, tableDir), Int.MaxValue).count(!_.isCheckpoint)
    if (edits > maxReplay) Some(commitImage(spark, tableDir, ts, materialize = false))
    else None
  }

  /** SAVE NAMESPACE — the admin's explicit image-NOW verb (reference
    * protocol/ClientProtocol.java:660 saveNamespace: "Save namespace
    * image" on demand, vs Checkpointer.java's threshold cadence).
    * maybeCheckpoint asks "is replay expensive yet?"; saveNamespace is
    * the operator saying "image now, before I do something risky" at
    * any replay length — EXCEPT zero: when the journal head is already
    * an image the namespace on disk IS the namespace in memory, and
    * the verb declines rather than stamping a redundant image (the
    * reference's no-op when nothing changed since the last
    * checkpoint). The image is a metadata image, like the cadence's.
    * Returns the image version, None when declined. After a
    * successful save, replay-from-image is 0 commits. */
  def saveNamespace(spark: SparkSession, tableDir: String, ts: Long): Option[Int] = {
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    if (replay(fs, logFiles(fs, tableDir), Int.MaxValue).lastOption.exists(_.isCheckpoint)) None
    else Some(commitImage(spark, tableDir, ts, materialize = false))
  }

  // ------------------------------------------------------------------
  // Storage-directory admission (reference ClientProtocol.java:669
  // restoreFailedStorage, FSImage storage-dir state machine): a
  // replica/standby storage location that failed is marked RETIRED —
  // the journal stops shipping to it — until the admin explicitly
  // re-admits it, at which point it resyncs from the journal,
  // delta-proportionally, and rejoins.
  // ------------------------------------------------------------------

  private def retiredMarker(dir: String) = new Path(dir, "_retired")

  /** Mark a standby/replica storage dir RETIRED (failed): ship refuses
    * it until re-admitted. Idempotent. */
  def retireStorage(fs: FileSystem, dir: String): Unit = {
    fs.mkdirs(new Path(dir))
    val out = fs.create(retiredMarker(dir), true)
    out.write("retired\n".getBytes("UTF-8")); out.close()
  }

  def isRetired(fs: FileSystem, dir: String): Boolean =
    fs.exists(retiredMarker(dir))

  /** RESTORE FAILED STORAGE (ClientProtocol.java:669): re-admit a
    * retired storage dir and resync it from the primary's journal.
    * The resync is `ship` — cost proportional to the versions MISSED
    * while retired (their log files + newly-added data dirs), never
    * the table. Returns the versions shipped to catch up. */
  def restoreFailedStorage(spark: SparkSession, primaryDir: String,
                           dir: String): Seq[Int] = {
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(retiredMarker(dir), false)
    ship(spark, primaryDir, dir)
  }

  /** Retention: make history before `v` unreadable and reclaimable.
    * Replay must still reconstruct every retained version from the
    * truncated log, so the cut lands on the latest CHECKPOINT commit
    * at or before `v` (an image commit is a self-contained replay
    * start — the FSImage rule: an image plus the edits after it is
    * the full state). Log files before the cut are deleted and their
    * now-unreferenced data dirs are vacuumed. Returns the dropped
    * version numbers. */
  def dropHistoryBefore(fs: FileSystem, tableDir: String, v: Int,
                        graceMs: Long = 3600000L): Seq[Int] = {
    refuseFrozen(fs, tableDir, "history deletion")
    val listing = logFiles(fs, tableDir)
    val cut = replay(fs, listing.takeWhile(versionOf(_) <= v), v).headOption.filter(_.isCheckpoint)
      .getOrElse(throw new IllegalArgumentException(
        s"no checkpoint at or before version $v in $tableDir — checkpoint() first"))
    // delete every log file below the cut, committed or burned
    val dropped = listing.map(versionOf).takeWhile(_ < cut.version)
    dropped.foreach(d => fs.delete(logFile(tableDir, d), false))
    vacuumOrphans(fs, tableDir, graceMs)
    dropped
  }

  /** HOT-STANDBY SHIP — one tailing step of the reference's backup
    * node (server/namenode/BackupNode.java:1 receives streamed edits,
    * BackupImage.java:1 applies them to its own image): copy every
    * journal version the standby lacks, byte-identical, plus the data
    * dirs those versions add that are not already active on the
    * standby at the version before. Per ship the cost is proportional
    * to the DELTA (new log files + newly-added data), never the table:
    * a ship with no new commits touches only the two log listings,
    * and a metadata-only commit (remove/restore/tag, a metadata image,
    * the survivors `drain` re-lists) ships as one tiny log file. An add
    * the standby does not hold active (new, or removed and re-added)
    * replaces whatever sits at its path: a directory copy onto an
    * existing directory would nest inside it. Data dirs are copied
    * BEFORE their log file so a torn ship can never leave the
    * standby's journal referencing data it does not hold (the closed-segment rule: the log file is
    * the commit point on the standby too). Removes need no I/O — the
    * standby keeps the dropped dirs until its own retention pass,
    * exactly like a backup namenode holding blocks until its own
    * deletion schedule. External absolute references (shallow-clone
    * entries) are NOT copied: they point outside the primary and
    * resolve identically from the standby. Returns the shipped
    * version numbers (empty = already in sync).
    *
    * Torn-file discipline, both directions:
    * - PRIMARY side: a terminator-less log file is either a burned
    *   version (its writer died) or a commit mid-write — including
    *   BELOW the completed head (a writer that lost the version race
    *   can still be writing its file while the winner of a later
    *   version completes). The two are indistinguishable by content,
    *   so ship copies ONLY completed commits. A burned version that
    *   stays burned simply never ships — it carries no actions, so
    *   standby replay is identical without it.
    * - STANDBY side: a ship interrupted mid-copy leaves a
    *   terminator-less log file on the standby. Only COMPLETED
    *   standby files count as already-shipped, so a torn copy is
    *   re-copied (overwrite) on the next cycle instead of silently
    *   burning that version on the standby forever. */
  def ship(spark: SparkSession, primaryDir: String, standbyDir: String): Seq[Int] = {
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    if (isRetired(fs, standbyDir))
      throw new java.io.IOException(
        s"$standbyDir is retired (failed storage): re-admit it via " +
          "restoreFailedStorage before shipping")
    if (!fs.exists(logDir(primaryDir))) return Seq.empty // nothing committed yet
    val held = commits(fs, standbyDir)
    val have = held.map(_.version).toSet
    val conf = spark.sparkContext.hadoopConfiguration
    fs.mkdirs(logDir(standbyDir))
    // completed primary commits only, in version order
    val pending = commits(fs, primaryDir).filterNot(c => have(c.version))
    def copy(from: Path, to: Path): Unit = {
      org.apache.hadoop.fs.FileUtil.copy(fs, from, fs, to, false, true, conf); ()
    }
    // one ordered fold over the standby's journal as it will read: the
    // standby's active set before each shipped version decides its copies
    val active = scala.collection.mutable.Set.empty[String]
    (held ++ pending).sortBy(_.version).flatMap { c =>
      val shipped = !have(c.version)
      if (shipped) {
        c.adds.filterNot(rel => rel.startsWith("/") || active(rel)).foreach { rel =>
          val to = new Path(standbyDir, rel)
          fs.delete(to, true)
          copy(new Path(primaryDir, rel), to)
        }
        copy(logFile(primaryDir, c.version), logFile(standbyDir, c.version))
      }
      active ++= c.adds; active --= c.removes
      if (shipped) Some(c.version) else None
    }
  }

  // ------------------------------------------------------------------
  // Layout upgrade ceremony (reference protocol/ClientProtocol.java:684
  // finalizeUpgrade, :694 distributedUpgradeProgress): an upgrade swaps
  // the active set for a new layout in ONE tagged commit while the
  // pre-upgrade state stays reachable for rollback; finalize closes
  // the rollback window. The state machine is derived purely from
  // replayed tags — no side files, so it inherits the journal's
  // atomicity and survives crashes at any point.
  // ------------------------------------------------------------------

  /** The pending (started, neither rolled back nor finalized) upgrade
    * commit, if any. */
  def pendingUpgrade(fs: FileSystem, tableDir: String): Option[Commit] =
    pendingUpgradeIn(commits(fs, tableDir))

  private def pendingUpgradeIn(cs: Seq[Commit]): Option[Commit] =
    cs.filter(_.tags("upgrade")).lastOption.filter { up =>
      !cs.exists(c => c.version > up.version && (c.tags("rollback") || c.tags("finalize")))
    }

  /** Begin a layout upgrade: write `df` as the new layout and swap it
    * for the entire current active set in one tagged commit. Refused
    * while another upgrade is pending (the reference's one-upgrade-at-
    * a-time rule). Commits through `cas` over the full log (the
    * upgrade state lives in tags an image does not carry): the swap is
    * computed against the active set as of planning, so it may only
    * land at the exact next version — a concurrent commit aborts the
    * ceremony rather than silently resurrecting removed files.
    * Returns the upgrade version. */
  def startUpgrade(spark: SparkSession, tableDir: String, df: DataFrame,
                   relPath: String, ts: Long): Int = {
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    cas(fs, tableDir, "upgrade", -1, ts) { (_, cs) =>
      if (pendingUpgradeIn(cs).isDefined)
        throw new IllegalStateException(
          s"$tableDir has a pending upgrade: rollback or finalize it first")
      val old = activeSet(cs)
      df.write.mode("overwrite").parquet(s"$tableDir/$relPath")
      Swap(Seq(relPath), old, tags = Seq("upgrade"), staged = Some(relPath))
    }.version
  }

  /** Roll back the pending upgrade: one inverse commit (re-add what
    * the upgrade removed, remove its new layout) tagged `rollback`.
    * The upgrade's files stay on disk for history reads until
    * retention drops them — rollback is a metadata flip, O(1) in data
    * size. CAS-pinned against the ceremony state it inspected. */
  def rollbackUpgrade(fs: FileSystem, tableDir: String, ts: Long): Int =
    cas(fs, tableDir, "rollback", -1, ts) { (_, cs) =>
      val up = pendingUpgradeIn(cs).getOrElse(
        throw new IllegalStateException(s"$tableDir: no pending upgrade to roll back"))
      Swap(up.removes, up.adds, tags = Seq("rollback"))
    }.version

  /** Finalize the pending upgrade: close the rollback window with an
    * empty tagged commit. Afterwards rollbackUpgrade refuses and the
    * pre-upgrade layout becomes retention-reclaimable. */
  def finalizeUpgrade(fs: FileSystem, tableDir: String, ts: Long): Int =
    cas(fs, tableDir, "finalize", -1, ts) { (_, cs) =>
      pendingUpgradeIn(cs).getOrElse(
        throw new IllegalStateException(s"$tableDir: no pending upgrade to finalize"))
      Swap(Nil, Nil, tags = Seq("finalize"))
    }.version

  // ------------------------------------------------------------------
  // Symlink / view layer (reference protocol/ClientProtocol.java:839
  // createSymlink, :855 getLinkTarget; FSDirectory symlink INodes): a
  // named alias over a commit-log table, optionally pinned to a
  // version — the lake's view object. Links live under
  // `root/_links/<name>.lnk` and are created CREATE-EXCLUSIVELY, the
  // same atomic-claim discipline as version commits: racing creates
  // cannot both win.
  // ------------------------------------------------------------------

  private def linkFile(root: String, name: String) = new Path(root, s"_links/$name.lnk")

  /** One namespace link: alias -> target (a table dir or another link
    * name, both relative to the root), optionally pinned to a table
    * version. */
  final case class Link(name: String, target: String, version: Option[Int])

  /** Create link `name` -> `target`. Fails if the name exists — the
    * reference's createSymlink contract; remove first to repoint. A
    * link body ends with the same terminal `end` marker as commits: a
    * crash between the exclusive create and the body write leaves a
    * DEAD file (no terminator) that readers skip and a retrying
    * create reclaims — the name can't wedge. */
  def createLink(fs: FileSystem, root: String, name: String, target: String,
                 version: Option[Int] = None): Unit = {
    require(name.nonEmpty && !name.contains("/"), s"link name must be a simple name: '$name'")
    val f = linkFile(root, name)
    fs.mkdirs(f.getParent)
    // reclaim a torn claim: present on disk but unreadable as a link
    if (fs.exists(f) && linkTarget(fs, root, name).isEmpty) fs.delete(f, false)
    if (!createRecord(fs, f, s"target $target" +: version.map(v => s"version $v").toSeq))
      throw new java.io.IOException(s"link exists: $name")
  }

  def removeLink(fs: FileSystem, root: String, name: String): Boolean =
    fs.delete(linkFile(root, name), false)

  /** The raw (unresolved) target of a link — getLinkTarget. A file
    * without the terminal `end` marker is a torn create: treated as
    * absent (and reclaimable by createLink). */
  def linkTarget(fs: FileSystem, root: String, name: String): Option[Link] =
    readRecord(fs, linkFile(root, name)).flatMap { lines =>
      field(lines, "target").headOption
        .map(Link(name, _, field(lines, "version").headOption.map(_.toInt)))
    }

  /** All links under the root (the listing surface — symlinks show up
    * in namespace listings with their targets, as in the reference's
    * FileStatus.isSymlink). */
  def listLinks(fs: FileSystem, root: String): Seq[Link] = {
    val dir = new Path(root, "_links")
    if (!fs.exists(dir)) return Seq.empty
    fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(_.endsWith(".lnk")).map(_.stripSuffix(".lnk")).sorted
      .flatMap(n => linkTarget(fs, root, n))
  }

  /** Resolve a link through chains (a target that is itself a link
    * name) to (table dir relative to root, pinned version). The
    * OUTERMOST version pin along the chain wins — an alias of a pinned
    * view keeps the pin, a pinned alias of a live view adds one.
    * Bounded depth guards cycles. */
  def resolveLink(fs: FileSystem, root: String, name: String,
                  maxDepth: Int = 8): (String, Option[Int]) = {
    var cur = name
    var pin: Option[Int] = None
    var depth = 0
    var next = linkTarget(fs, root, cur)
    if (next.isEmpty) throw new java.io.FileNotFoundException(s"no such link: $name")
    while (next.isDefined) {
      depth += 1
      // depth counts FOLLOWED links, so a valid chain of exactly
      // maxDepth links resolves; only depth > maxDepth (a cycle or a
      // genuinely deeper chain) aborts
      if (depth > maxDepth)
        throw new java.io.IOException(s"link chain too deep (cycle?) resolving $name")
      val l = next.get
      pin = pin.orElse(l.version)
      cur = l.target
      next = linkTarget(fs, root, cur)
    }
    (cur, pin)
  }

  /** Read the table a link points at, honoring a version pin — the
    * open-through-symlink path. */
  def readLink(spark: SparkSession, root: String, name: String): DataFrame = {
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val (table, pin) = resolveLink(fs, root, name)
    snapshot(spark, s"$root/$table", pin.getOrElse(Int.MaxValue))
  }

  /** RESTORE-to-version — undelete as one journal commit (reference
    * FSImage.java:1 rollback semantics; NameNode.java:474 trash: a
    * delete is reversible because the state that mattered is
    * metadata). Makes version `v`'s active file set CURRENT again by
    * committing the set difference (re-add what was dropped since,
    * drop what was added since) — no data file is read, copied, or
    * rewritten, so restore is O(metadata) at any table size. The
    * restored lineage then diverges under new commits, and every
    * pre-restore version stays readable via snapshot(version):
    * restore adds history, never erases it. CAS-pinned like the
    * other ceremonies. Returns the restore commit's version. */
  def restore(fs: FileSystem, tableDir: String, v: Int, ts: Long): Int =
    cas(fs, tableDir, "restore", v, ts) { (_, cs) =>
      val target = activeSet(cs.filter(_.version <= v))
      require(target.nonEmpty, s"nothing to restore: version $v has no active files in $tableDir")
      val current = activeSet(cs)
      val adds = target.filterNot(current.toSet)
      Swap(adds, current.filterNot(target.toSet), tags = Seq("restore"),
        schema = addsSchema(fs, tableDir, adds))
    }.version

  /** DECOMMISSION / DRAIN a storage prefix (reference
    * server/namenode/DecommissionManager.java:1 — retire a node by
    * re-replicating its blocks elsewhere first; ClientProtocol.java:675
    * refreshNodes): rewrite the prefix's ACTIVE rows into
    * `destRelPath` (the only data I/O, proportional to what is being
    * drained, never the table), then swap the references in ONE
    * checkpoint-marked commit whose adds list the full post-drain
    * active set — a self-contained replay start, so a follow-up
    * `dropHistoryBefore(drainVersion)` physically retires the drained
    * dirs while every surviving file keeps its byte identity (nothing
    * else is rewritten). Returns (commit version, drained relpaths). */
  def drain(spark: SparkSession, tableDir: String, prefix: String,
            destRelPath: String, ts: Long): (Int, Seq[String]) = {
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val c = cas(fs, tableDir, "drain", Int.MaxValue, ts) { (_, cs) =>
      val entries = activeEntries(cs)
      val active = entries.map(_._1)
      val isDoomed = (p: String) => p == prefix || p.startsWith(prefix + "/")
      val doomed = active.filter(isDoomed)
      require(doomed.nonEmpty, s"nothing to drain: no active files under $prefix in $tableDir")
      // The overwrite-write below (and the delete on CAS failure) would
      // clobber live data if destRelPath is already an active path — the
      // mirror of the doomed-nonempty check on the other side.
      require(!active.exists(p => p == destRelPath || p.startsWith(destRelPath + "/")
          || destRelPath.startsWith(p + "/")),
        s"drain dest $destRelPath overlaps an active path in $tableDir")
      val survivors = active.filterNot(doomed.toSet)
      read(spark, tableDir, entries.filter { case (p, _) => isDoomed(p) })
        .write.mode("overwrite").parquet(s"$tableDir/$destRelPath")
      Swap(survivors :+ destRelPath, doomed, image = true, tags = Seq("drain"),
        schema = addsSchema(fs, tableDir, survivors :+ destRelPath), staged = Some(destRelPath))
    }
    (c.version, c.removes)
  }

  /** Delete data directories never referenced by any commit (staging
    * leftovers from crashed writers). Paths referenced by ANY version
    * are kept — old versions stay readable. `graceMs` protects a LIVE
    * writer that has staged parquet but not yet committed: only dirs
    * last modified more than the grace window ago are eligible (the
    * Delta-VACUUM retention-window discipline; pass 0 only when no
    * writer can be in flight, e.g. tests). */
  def vacuumOrphans(fs: FileSystem, tableDir: String,
                    graceMs: Long = 3600000L): Seq[String] = {
    val referenced = commits(fs, tableDir).flatMap(_.adds).toSet ++
      clonePinned(fs, tableDir) ++ // shallow-clone back-references pin files
      // hflush-published in-flight files are lease-protected: readable
      // mid-write by opt-in, so never vacuum-eligible however old —
      // they leave through promoteFlush or reclaimFlush, exactly like
      // an under-construction HDFS file leaves through close or lease
      // recovery, never through the block scanner. The PINNED view
      // (marker UNION complete tmp) — mid-replace, either file may be
      // the only reference to staged data
      flushPinned(fs, tableDir).values.flatten
    val dataDir = new Path(tableDir, "data")
    if (!fs.exists(dataDir)) return Seq.empty
    val cutoff = System.currentTimeMillis() - graceMs
    fs.listStatus(dataDir).toSeq
      .filter(_.getModificationTime <= cutoff)
      .map(st => s"data/${st.getPath.getName}")
      // a top-level entry is an orphan only if NO referenced relpath
      // lives at or under it — callers may commit nested relpaths
      // (add "data/2024/jan" must protect "data/2024")
      .filterNot(top => referenced.exists(r => r == top || r.startsWith(top + "/")))
      .map { orphan => fs.delete(new Path(tableDir, orphan), true); orphan }
  }

  // ======== FLUSH VISIBILITY — hflush / fsync ========

  private def inflightDir(tableDir: String) = new Path(tableDir, "_inflight")
  private def flushMarker(tableDir: String, writer: String) =
    new Path(inflightDir(tableDir), s"$writer.flush")

  /** hflush/fsync — mid-write visibility for an in-flight batch
    * (reference DFSOutputStream.java:1399 fsync/hflush +
    * ClientProtocol.java:798 fsync: flushed-but-unclosed bytes become
    * readable to readers that ASK for them, while default readers
    * still see only the closed state). The writer stages parquet
    * under the table dir as usual, then publishes the staged relpaths
    * in a PROVISIONAL marker — `_inflight/<writer>.flush` — outside
    * the journal: `commits()`/`snapshot()` never see it, while
    * [[snapshotWithInflight]] (the opt-in tail read) unions it. Each
    * flush REPLACES the writer's marker via write-tmp + rename, and a
    * marker without the terminal `end` is skipped by readers — a torn
    * flush can never surface half a set (tryCommit's terminator rule).
    * The flushed set leaves the provisional state exactly two ways,
    * mirroring an under-construction HDFS file: [[promoteFlush]] at
    * close (becomes an ordinary journal commit) or [[reclaimFlush]]
    * under lease recovery (crashed writer; staged files deleted).
    * While provisional, the files are vacuum-pinned (see
    * [[vacuumOrphans]]). Metadata-only: markers scale with concurrent
    * writers, never with data. */
  def flush(fs: FileSystem, tableDir: String, writer: String,
            adds: Seq[String], ts: Long): Unit = {
    refuseFrozen(fs, tableDir, "flush")
    fs.mkdirs(inflightDir(tableDir))
    val tmp = new Path(inflightDir(tableDir), s"$writer.flush.tmp")
    val out = fs.create(tmp, true)
    try out.write(record(s"ts $ts" +: adds.map("add " + _))) finally out.close()
    val dst = flushMarker(tableDir, writer)
    fs.delete(dst, false)
    if (!fs.rename(tmp, dst))
      throw new java.io.IOException(s"flush marker swap failed: $dst")
  }

  /** Parse every complete flush file in `_inflight/`: (writer, isTmp,
    * adds). Markers without the terminal `end` (torn mid-swap) parse
    * as absent; a tmp that vanishes mid-listing (renamed over the
    * marker) reads as absent too. */
  private def parsedFlushFiles(fs: FileSystem,
                               tableDir: String): Seq[(String, Boolean, Seq[String])] = {
    val dir = inflightDir(tableDir)
    if (!fs.exists(dir)) return Seq.empty
    fs.listStatus(dir).toSeq.flatMap { st =>
      val name = st.getPath.getName
      if (!name.endsWith(".flush") && !name.endsWith(".flush.tmp")) None
      else readRecord(fs, st.getPath).map(lines =>
        (name.stripSuffix(".tmp").stripSuffix(".flush"), name.endsWith(".tmp"), field(lines, "add")))
    }
  }

  /** The CURRENT flushed-but-unpromoted set, per writer: the newest
    * complete flush file wins — a complete `.tmp` is the SUCCESSOR
    * mid-install (flush()'s replace is write-tmp → delete-dst →
    * rename), so it supersedes the installed marker. This is what
    * readers and promotion must see: each flush REPLACES the writer's
    * set, so a writer that crashed after writing a complete tmp whose
    * staged relpaths differ from its marker's must promote ONLY the
    * tmp's set — unioning would commit old-plus-new adds and duplicate
    * rows (ADVICE r12). A torn tmp is ignored and its installed
    * predecessor, if any, still serves. */
  def flushedAdds(fs: FileSystem, tableDir: String): Map[String, Seq[String]] = {
    parsedFlushFiles(fs, tableDir)
      .groupBy(_._1)
      .map { case (w, xs) =>
        // complete tmp (isTmp=true) sorts after the marker
        w -> xs.sortBy(_._2).last._3.distinct
      }
  }

  /** Every relpath ANY complete flush file still references, per
    * writer — marker UNION tmp. This is the PINNING/RECLAIM view, not
    * the read view: during flush()'s replace there is an instant where
    * only the tmp holds the set, and conversely a crashed writer's
    * superseded marker may reference staged files the tmp dropped —
    * vacuum must not delete either until promoteFlush or reclaimFlush
    * retires them (self-review r12; ADVICE r12 scoped the union to
    * exactly this path). */
  def flushPinned(fs: FileSystem, tableDir: String): Map[String, Seq[String]] = {
    parsedFlushFiles(fs, tableDir)
      .groupBy(_._1)
      .map { case (w, xs) => w -> xs.flatMap(_._3).distinct }
  }

  /** The opt-in tail read: the latest committed snapshot plus every
    * currently flushed (unpromoted) add — what a tailing consumer
    * sees when it asks for flushed data, the reference's
    * open-for-read-with-flushed-length path. */
  def snapshotWithInflight(spark: SparkSession, tableDir: String): DataFrame = {
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val committed = entriesAt(fs, tableDir, Int.MaxValue)
    val flushed = flushedAdds(fs, tableDir).values.flatten.toSeq.distinct
      .filterNot(committed.map(_._1).toSet)
    val all = committed ++ flushed.map(_ -> None)
    require(all.nonEmpty, s"no active or flushed files in $tableDir")
    read(spark, tableDir, all)
  }

  /** Close: promote the writer's flushed set into an ordinary journal
    * commit — the data is now visible to EVERY reader — and retire
    * the provisional marker. Returns the committed version. */
  def promoteFlush(spark: SparkSession, tableDir: String, writer: String,
                   ts: Long): Int = {
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val adds = flushedAdds(fs, tableDir).getOrElse(writer,
      throw new java.io.IOException(s"no flushed set for $writer in $tableDir"))
    val v = commit(fs, tableDir, ts, adds = adds, removes = Seq.empty)
    fs.delete(flushMarker(tableDir, writer), false)
    fs.delete(new Path(inflightDir(tableDir), s"$writer.flush.tmp"), false)
    v
  }

  /** Lease-recovery reclaim of a crashed writer's unpromoted flush:
    * the marker is dropped and its staged files deleted — UNLESS the
    * journal references them (a commit always wins; the recovery then
    * only retires the marker). Returns the deleted relpaths. */
  def reclaimFlush(fs: FileSystem, tableDir: String, writer: String): Seq[String] = {
    // the PINNED view: reclaim deletes everything the crashed writer
    // still references from EITHER flush file — a superseded marker's
    // dropped relpaths are dead staging too
    val adds = flushPinned(fs, tableDir).getOrElse(writer, Seq.empty)
    val referenced = commits(fs, tableDir).flatMap(_.adds).toSet
    val doomed = adds.filterNot(referenced)
    doomed.foreach(rel => fs.delete(new Path(tableDir, rel), true))
    fs.delete(flushMarker(tableDir, writer), false)
    fs.delete(new Path(inflightDir(tableDir), s"$writer.flush.tmp"), false)
    doomed
  }
}
