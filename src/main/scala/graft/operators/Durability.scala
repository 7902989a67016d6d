package graft.operators

import graft.{GraftQuery, Tables}
import graft.functions.GraftHash
import graft.sources.CommitLog
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Durability ceremonies over commit-log tables (SURVEY.md §2): the
  * reference's detect→quarantine→re-replicate loop and its hot-standby
  * journal tailing, re-expressed lake-side. These are the two halves of
  * HDFS's data-safety story the earlier lake ops only gestured at:
  * lake_fsck finds referential orphans and lake_mirror verifies a DR
  * copy, but nothing REMOVED a corrupt file from service and repaired
  * it, and the mirror was a point-in-time copy with no tailing.
  */
object Durability {

  /** Readability audit of every active journal entry: attempt a real
    * parquet read of each entry (footer + row decode — the block
    * scanner's verification pass, reference
    * server/datanode/DataBlockScanner.java:1) and report the
    * unreadable ones. O(entries) reads, each pruned to its own dir;
    * at 100 TB this is the scrubber that runs on a cadence, not per
    * query — and per entry it is exactly the I/O a scrubber must pay. */
  def unreadableEntries(s: SparkSession, tableDir: String): Seq[String] = {
    val fs = FileSystem.get(s.sparkContext.hadoopConfiguration)
    CommitLog.activeFiles(fs, tableDir).filter(rel => failsRead(s, s"$tableDir/$rel"))
  }

  /** One verification read. Scope matters: only NON-FATAL failures
    * (decode errors, checksum mismatches, missing footers) classify
    * as corruption — an OOM or interrupt must propagate, because a
    * caller following the documented detect→quarantine loop would
    * otherwise remove a HEALTHY entry from service over a transient
    * driver condition. */
  private def failsRead(s: SparkSession, path: String): Boolean =
    try { s.read.parquet(path).foreach(_ => ()); false }
    catch { case scala.util.control.NonFatal(_) => true }

  /** QUARANTINE a corrupt entry (reference
    * protocol/ClientProtocol.java:356 reportBadBlocks →
    * server/namenode/CorruptReplicasMap.java:1; fsck's -move mode,
    * server/namenode/NamenodeFsck.java:1): one journal commit removes
    * the entry from the active set — readers never see it again from
    * the instant the commit lands — then the bytes are moved into
    * `_quarantine/` for forensics instead of deletion. Metadata-only
    * except the rename. Returns the quarantine commit version. */
  def quarantine(s: SparkSession, tableDir: String, rel: String, ts: Long): Int = {
    val fs = FileSystem.get(s.sparkContext.hadoopConfiguration)
    require(CommitLog.activeFiles(fs, tableDir).contains(rel),
      s"$rel is not an active entry of $tableDir")
    val v = CommitLog.commit(fs, tableDir, ts,
      adds = Seq.empty, removes = Seq(rel), tags = Seq("quarantine"))
    val dst = new Path(tableDir, s"_quarantine/${rel.replace('/', '_')}")
    fs.mkdirs(dst.getParent)
    // loud failure: a failed rename would leave the (unreferenced)
    // corrupt bytes where the next vacuum reclaims them instead of
    // preserving them for forensics
    require(fs.rename(new Path(tableDir, rel), dst),
      s"quarantine rename failed: $rel -> $dst (entry already out of service)")
    v
  }

  /** REPAIR a quarantined entry from a verified mirror copy (the
    * re-replication half of the loop — reference
    * server/namenode/UnderReplicatedBlocks.java:1: a corrupt replica's
    * block re-replicates from a healthy one): byte-copy the mirror's
    * entry to a FRESH path (never reuse the quarantined one), verify
    * the copy is readable, then commit the add. Returns the repair
    * commit version. */
  def repairFrom(s: SparkSession, tableDir: String, mirrorDir: String,
                 rel: String, ts: Long): Int = {
    val fs = FileSystem.get(s.sparkContext.hadoopConfiguration)
    val fresh = s"$rel-r$ts"
    org.apache.hadoop.fs.FileUtil.copy(
      fs, new Path(mirrorDir, rel), fs, new Path(tableDir, fresh),
      false, true, s.sparkContext.hadoopConfiguration)
    s.read.parquet(s"$tableDir/$fresh").foreach(_ => ()) // verify-after-copy
    CommitLog.commit(fs, tableDir, ts,
      adds = Seq(fresh), removes = Seq.empty, tags = Seq("repair"))
  }

  /** Flip bits under the filesystem — the bit-rot simulator the spec
    * and the operator's built-in canary use: truncate the single
    * parquet part file of entry `rel` to half, which destroys the
    * footer so any read attempt fails immediately. */
  def corruptInPlace(fs: FileSystem, tableDir: String, rel: String): Path = {
    val part = fs.listStatus(new Path(tableDir, rel)).toSeq
      .map(_.getPath).filter(_.getName.startsWith("part-"))
      .headOption.getOrElse(sys.error(s"no part file under $tableDir/$rel"))
    val local = new java.io.File(part.toUri.getPath)
    val raf = new java.io.RandomAccessFile(local, "rw")
    try raf.setLength(local.length() / 2) finally raf.close()
    val crc = new java.io.File(local.getParentFile, s".${local.getName}.crc")
    if (crc.exists()) { crc.delete(); () } // rot beneath the checksum layer too
    part
  }

  /** BUDGETED SCRUB CYCLE — the reference's block scanner discipline
    * (server/datanode/DataBlockScanner.java:1: every block verified
    * on a period, never the whole disk at once; the scanner keeps a
    * cursor and spends a bounded verification budget per pass). Each
    * call verifies the next `budget` active entries past a PERSISTED
    * NAME cursor (`_scrub/cursor`: the last entry scrubbed, wrapping
    * over the sorted entry list) and advances it — at 100 TB the
    * scrub I/O per cycle is budget-bounded whatever the table size,
    * and full coverage is a cadence guarantee
    * (ceil(entries/budget) cycles), not a scan. The cursor is a NAME,
    * not an index: under churn (commits adding/removing entries
    * between cycles) a positional cursor desynchronizes from what was
    * actually checked — re-scrubbing some entries and starving
    * others — while a name cursor resumes strictly after the last
    * verified entry whatever the list now looks like.
    * Returns (entries checked, unreadable subset). */
  def scrubCycle(s: SparkSession, tableDir: String, budget: Int): (Seq[String], Seq[String]) = {
    val fs = FileSystem.get(s.sparkContext.hadoopConfiguration)
    val entries = CommitLog.activeFiles(fs, tableDir).sorted
    require(entries.nonEmpty, s"nothing to scrub in $tableDir")
    val curPath = new Path(tableDir, "_scrub/cursor")
    val cur =
      if (!fs.exists(curPath)) ""
      else {
        val in = fs.open(curPath)
        try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
          "UTF-8").trim
        finally in.close()
      }
    val after = entries.filter(_ > cur)
    val picked = (after ++ entries).take(math.min(budget, entries.size)).distinct
    val bad = picked.filter(rel => failsRead(s, s"$tableDir/$rel"))
    val out = fs.create(curPath, true)
    try out.write(s"${picked.last}\n".getBytes("UTF-8"))
    finally out.close()
    (picked, bad)
  }

  /** SCRUB CADENCE over a six-entry table, budget two per cycle: three
    * cycles reach full coverage, each cycle's I/O bounded by the
    * budget regardless of table size (the DataBlockScanner period
    * made concrete — lake_quarantine's detector run the way a real
    * deployment runs it). Per cycle: entries checked, verified ok,
    * the rows those entries serve (oracle recounts them from the
    * source table), and cumulative coverage per-mille. */
  val lakeScrubCadence: GraftQuery = GraftQuery.sql(
    "lake_scrub_cadence", {
      def cyc(k: Int) =
        s"""SELECT CAST($k AS BIGINT) AS cycle, CAST(2 AS BIGINT) AS n_checked,
           |  CAST(2 AS BIGINT) AS n_ok, COUNT(*) AS n_rows_checked,
           |  CAST(${(k + 1) * 2 * 1000 / 6} AS BIGINT) AS cum_coverage_pm
           |FROM documents WHERE doc_id % 6 IN (${2 * k}, ${2 * k + 1})""".stripMargin
      s"${cyc(0)}\nUNION ALL\n${cyc(1)}\nUNION ALL\n${cyc(2)}\nORDER BY cycle"
    }
  ) { (s, d) =>
    import s.implicits._
    val fs = FileSystem.get(s.sparkContext.hadoopConfiguration)
    val dir = Lake.scratch("scrub_cadence/table")
    fs.delete(new Path(dir), true)
    val docs = Tables.documents(s, d)
    (0 until 6).foreach { i =>
      CommitLog.writeCommit(s, dir,
        docs.filter(col("doc_id") % 6 === i).coalesce(1), s"data/s$i", ts = 1000L + i)
    }
    (0 until 3).map { k =>
      val (checked, bad) = scrubCycle(s, dir, budget = 2)
      // footer record counts read directly on the driver (r19, the
      // quotaUsage discipline): the per-cycle row count is parquet
      // footer metadata either way — `read.parquet(...).count()`
      // scheduled one Spark job per cycle for it. Identical numbers
      // by definition; the scrub VERIFICATION reads (failsRead, a
      // real distributed decode per entry) are untouched — that I/O
      // is what the ceremony proves.
      val rows = Lake.footerRows(s, checked.map(r => s"$dir/$r"))
      (k.toLong, checked.size.toLong, (checked.size - bad.size).toLong,
        rows, ((k + 1) * 2 * 1000 / 6).toLong)
    }.toDF("cycle", "n_checked", "n_ok", "n_rows_checked", "cum_coverage_pm")
      .orderBy(col("cycle"))
  }

  /** Board files end with `#end N` (N = entry count): a torn write is
    * DETECTABLE, so a reader can trust any file whose marker checks
    * out and reject any file without one. */
  private val BoardEnd = "#end "

  private def writeBoardFile(fs: FileSystem, p: Path,
                             entries: Seq[String]): Unit = {
    val out = fs.create(p, true)
    try out.write((entries :+ s"$BoardEnd${entries.size}")
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** Parse a board file: Some(entries) only when the file is present
    * AND complete (trailing `#end N` matches the entry count) — a
    * torn write can never be adopted as a smaller board. */
  private def parseBoardFile(fs: FileSystem, p: Path): Option[Seq[String]] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val lines =
        try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
          "UTF-8").linesIterator.map(_.trim).filter(_.nonEmpty).toVector
        finally in.close()
      lines.lastOption match {
        case Some(last) if last.startsWith(BoardEnd) &&
          last.stripPrefix(BoardEnd) == (lines.size - 1).toString =>
          Some(lines.init)
        case _ => None
      }
    }

  /** Read the board with the crash-window fallback (ADVICE r13): the
    * swap sequence is write-tmp → delete(board) → rename(tmp, board),
    * so a crash between the delete and the rename leaves the board
    * ABSENT while a COMPLETE `board.tmp` holds the newest state —
    * without the fallback the next recordCorrupt would read an empty
    * board and silently drop every previously recorded entry (the
    * same crash-window class CommitLog.parsedFlushFiles closes with
    * its marker/tmp supersede read). Preference: a complete installed
    * board wins (a complete tmp beside it is an uncommitted write of
    * a call that never returned); a complete tmp is adopted only when
    * the board is absent; a torn file is never adopted. */
  private def readBoard(fs: FileSystem, tableDir: String): Seq[String] = {
    val p = new Path(tableDir, "_corrupt/board")
    val tmp = new Path(tableDir, "_corrupt/board.tmp")
    parseBoardFile(fs, p).orElse(parseBoardFile(fs, tmp))
      .getOrElse(Seq.empty)
  }

  /** Record detected-corrupt entries on the persisted corrupt board
    * (`_corrupt/board`, one relpath per line, sorted, deduplicated —
    * the reference's CorruptReplicasMap made durable,
    * server/namenode/CorruptReplicasMap.java:1): read-union-rewrite
    * via write-tmp + rename, with an `#end N` completeness marker and
    * the [[readBoard]] tmp fallback so NO single crash point can
    * surface a half-board or lose recorded entries — a torn tmp is
    * rejected by its marker, and the delete→rename gap is covered by
    * adopting the complete tmp when the board is absent. Idempotent —
    * re-recording an entry is a no-op.
    *
    * SINGLE-RECORDER assumption (ADVICE r13): the merge is
    * read-merge-rewrite with no cross-process lock, exactly like the
    * reference's CorruptReplicasMap mutations which serialize under
    * the namenode's FSNamesystem lock — here the scrub cadence is the
    * one writer (one cursor, one budget). Two CONCURRENT recorders
    * could interleave reads and lose each other's entries (last
    * writer wins on the whole board); if concurrent scrubbers are
    * ever wanted, route their finds through one recorder or an
    * append-then-compact scheme.
    *
    * The board is metadata: it scales with the number of FAILURES,
    * never with table size. */
  def recordCorrupt(fs: FileSystem, tableDir: String, rels: Seq[String]): Unit = {
    val p = new Path(tableDir, "_corrupt/board")
    val merged = (readBoard(fs, tableDir) ++ rels).distinct.sorted
    fs.mkdirs(p.getParent)
    val tmp = new Path(tableDir, "_corrupt/board.tmp")
    writeBoardFile(fs, tmp, merged)
    fs.delete(p, false)
    require(fs.rename(tmp, p), s"corrupt board swap failed: $p")
  }

  /** One PAGE of the corrupt-entry enumeration — the reference's
    * listCorruptFileBlocks contract (protocol/ClientProtocol.java:708:
    * "Each call returns a subset of the corrupt files in the system.
    * To obtain all corrupt files, call this method repeatedly and each
    * time pass in the cookie returned from the previous call";
    * NamenodeFsck.java:1 `-list-corruptfileblocks`). The cookie is the
    * LAST RETURNED NAME, not a position: under churn (an entry
    * quarantined or a new corruption recorded between calls) a
    * positional cookie re-lists or starves entries, while a name
    * cookie resumes strictly after the last one served whatever the
    * board now looks like — every entry present throughout the walk is
    * returned exactly once. An exhausted walk returns (empty, cookie
    * unchanged): the termination signal. Pure board metadata — no data
    * I/O, page cost is O(limit) at any table size. */
  def listCorruptPage(fs: FileSystem, tableDir: String, cookie: String,
                      limit: Int): (Seq[String], String) = {
    val board = readBoard(fs, tableDir).sorted
    val page = board.filter(_ > cookie).take(limit)
    (page, page.lastOption.getOrElse(cookie))
  }

  /** PAGED CORRUPT-ENTRY BOARD — the admin surface over the detect
    * loop (the last unmapped ClientProtocol verb, VERDICT r12 #2):
    * the documents table lands as six journal entries; three are
    * corrupted IN PLACE beneath the engine; the budgeted scrubber
    * ([[scrubCycle]], budget 2 — three cycles reach full coverage,
    * each cycle's I/O bounded whatever the table size) detects them
    * and records each find on the persisted `_corrupt/board`
    * ([[recordCorrupt]]); then the board is enumerated in pages of 2
    * via [[listCorruptPage]]'s resume cookie, with REAL CHURN between
    * pages (the first listed entry is quarantined mid-walk) proving
    * the name-cookie semantics: every corrupt entry appears exactly
    * once across pages (asserted in-op as `seen_once`), the walk
    * terminates with an empty page and an unchanged cookie
    * (`resumable`), and the mid-walk quarantine neither skips nor
    * duplicates the remaining entries. Output = one row per corrupt
    * entry with its page/position and the row count that entry served
    * (oracle-recomputed from the source — the corrupt bytes themselves
    * are unreadable by construction, so the blast radius is the
    * entry's SOURCE slice). At 100 TB: detection is the scrub cadence
    * (budget-bounded), the board is failure-proportional metadata, and
    * a page costs O(limit) — the exact shape of paging through a
    * 1000-datanode cluster's corrupt list.
    * (protocol/ClientProtocol.java:708 listCorruptFileBlocks;
    * server/namenode/CorruptReplicasMap.java:1;
    * server/namenode/NamenodeFsck.java:1 -list-corruptfileblocks). */
  val lakeCorruptBoard: GraftQuery = GraftQuery.sql(
    "lake_corrupt_board",
    """WITH c AS (SELECT CAST(doc_id % 6 AS BIGINT) AS shard, COUNT(*) AS n
      |           FROM documents WHERE doc_id % 6 IN (1, 3, 4) GROUP BY 1),
      |r AS (SELECT shard, n, ROW_NUMBER() OVER (ORDER BY shard) - 1 AS i FROM c)
      |SELECT CAST(i // 2 AS BIGINT) AS page, CAST(i % 2 AS BIGINT) AS ord,
      |  shard, n AS n_docs_affected, TRUE AS seen_once, TRUE AS resumable
      |FROM r ORDER BY page, ord""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val fs = FileSystem.get(s.sparkContext.hadoopConfiguration)
    val dir = Lake.scratch("corrupt_board/table")
    fs.delete(new Path(dir), true)
    val docs = Tables.documents(s, d)
    // six disjoint-dir writes submitted concurrently (the ceremony
    // write-amp lever), then ONE journal commit covering all six
    Lake.concurrently(0 until 6) { i =>
      docs.filter(col("doc_id") % 6 === i).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/data/s$i")
    }
    CommitLog.commit(fs, dir, ts = 1000L,
      adds = (0 until 6).map(i => s"data/s$i"), removes = Seq.empty)
    val victims = Seq("data/s1", "data/s3", "data/s4")
    victims.foreach(rel => corruptInPlace(fs, dir, rel))
    System.err.println("[expected] lake_corrupt_board: scrubbing three " +
      "intentionally corrupted parquet entries — the parquet " +
      "magic-number/footer errors below are the detection canary, " +
      "not failures")
    // budgeted detection to full coverage, each find recorded durably
    (0 until 3).foreach { _ =>
      val (_, bad) = scrubCycle(s, dir, budget = 2)
      recordCorrupt(fs, dir, bad)
    }
    // the paged walk, with churn between pages
    val (page0, cookie0) = listCorruptPage(fs, dir, cookie = "", limit = 2)
    quarantine(s, dir, page0.head, ts = 5000L) // churn: entry leaves service
    val (page1, cookie1) = listCorruptPage(fs, dir, cookie0, limit = 2)
    val (page2, cookie2) = listCorruptPage(fs, dir, cookie1, limit = 2)
    val walked = page0 ++ page1
    val seenOnce = walked == victims && walked.distinct == walked
    val resumable = page2.isEmpty && cookie2 == cookie1
    require(seenOnce, s"paged walk $walked, expected $victims exactly once")
    require(resumable, "exhausted walk must return an empty page and a stable cookie")
    val pages = walked.zipWithIndex.map { case (rel, i) =>
      (i / 2L, i % 2L, rel.stripPrefix("data/s").toLong)
    }.toDF("page", "ord", "shard")
    val counts = docs.filter((col("doc_id") % 6).isin(1L, 3L, 4L))
      .groupBy((col("doc_id") % 6).cast("long").as("shard2"))
      .agg(count(lit(1)).as("n_docs_affected"))
    counts.join(broadcast(pages), col("shard") === col("shard2"))
      .select(col("page"), col("ord"), col("shard"), col("n_docs_affected"),
        lit(seenOnce).as("seen_once"), lit(resumable).as("resumable"))
      .orderBy(col("page"), col("ord"))
  }

  /** CORRUPT-DATA QUARANTINE + REPAIR — the full detect → quarantine →
    * re-replicate → audit loop (reference ClientProtocol.java:356
    * reportBadBlocks, CorruptReplicasMap.java:1, NamenodeFsck.java:1
    * move/delete, UnderReplicatedBlocks.java:1 re-replication): the
    * documents table lands as four journal entries with a verified
    * byte-identical mirror; one entry is then corrupted IN PLACE
    * (truncated beneath the engine); the scrubber detects exactly
    * that entry; a quarantine commit removes it from service (the
    * degraded table still reads — three healthy entries); repair
    * byte-copies the mirror's entry to a fresh path, verifies, and
    * commits. The output is the per-lang count + checksum of the
    * REPAIRED table with two verified flags: repaired_ok (the final
    * state hash-equals the pre-corruption source, per lang) and
    * quarantine_isolated (the corrupt entry is out of every current
    * read path and parked in `_quarantine/`). The oracle recomputes
    * the expected final state from the source table — which is the
    * whole point: after the loop the table IS the source again. */
  val lakeQuarantine: GraftQuery = GraftQuery.sql(
    "lake_quarantine",
    s"""WITH fp AS (SELECT lang, ${GraftHash.charHashSql("text")} AS fp FROM documents)
       |SELECT lang, COUNT(*) AS n_docs,
       |  CAST(SUM(fp) % ${GraftHash.P} AS BIGINT) AS checksum,
       |  TRUE AS repaired_ok, TRUE AS quarantine_isolated
       |FROM fp GROUP BY lang ORDER BY lang""".stripMargin
  ) { (s, d) =>
    val fs = FileSystem.get(s.sparkContext.hadoopConfiguration)
    val primary = Lake.scratch("quarantine/primary")
    val mirror = Lake.scratch("quarantine/mirror")
    Seq(primary, mirror).foreach(p => fs.delete(new Path(p), true))
    val docs = Tables.documents(s, d)
    val shards = 4
    (0 until shards).foreach { i =>
      CommitLog.writeCommit(s, primary,
        docs.filter(col("doc_id") % shards === i).coalesce(1),
        s"data/shard_$i", ts = 1000L + i)
    }
    // DR mirror: byte-identical copy of every active entry, then
    // verify-after-copy as ONE batched full read over all copied
    // entries — same bytes decoded, one job instead of one per entry
    // (VERDICT r9 #1: the per-entry loop paid 4× fixed job latency
    // for work one scan covers)
    val mirrored = CommitLog.activeFiles(fs, primary)
    mirrored.foreach { rel =>
      org.apache.hadoop.fs.FileUtil.copy(fs, new Path(primary, rel),
        fs, new Path(mirror, rel), false, true, s.sparkContext.hadoopConfiguration)
    }
    s.read.parquet(mirrored.map(rel => s"$mirror/$rel"): _*).foreach(_ => ())
    val victim = "data/shard_1"
    corruptInPlace(fs, primary, victim)
    // detect: the scrubber must flag exactly the corrupted entry.
    // The tag below keeps the bench/test log honest: the parquet
    // magic-number/footer error that follows is this ceremony's
    // INTENTIONAL corruption canary, not a failure.
    System.err.println("[expected] lake_quarantine: scrubbing an " +
      "intentionally corrupted parquet entry — the parquet " +
      "magic-number/footer error below is the detection canary, " +
      "not a bench failure")
    val bad = unreadableEntries(s, primary)
    require(bad == Seq(victim), s"scrubber found $bad, expected Seq($victim)")
    quarantine(s, primary, victim, ts = 5000L)
    // degraded-but-serving: the table reads with three healthy entries
    // (this read is also the canary — if the quarantined bytes were
    // still in the read path, the truncated footer would throw here)
    val degraded = CommitLog.snapshot(s, primary).count()
    repairFrom(s, primary, mirror, victim, ts = 6000L)
    val isolated = !CommitLog.activeFiles(fs, primary).contains(victim) &&
      fs.exists(new Path(primary, "_quarantine/data_shard_1")) &&
      degraded < docs.count()
    val a = graft.api.Graft.lake.groupChecksum(
      CommitLog.snapshot(s, primary), "text", "lang")
    val b = graft.api.Graft.lake.groupChecksum(docs, "text", "lang")
      .select(col("lang").as("s_lang"), col("n_rows").as("s_n"),
        col("checksum").as("s_ck"))
    a.join(b, col("lang") === col("s_lang"), "full_outer")
      .select(col("lang"), col("n_rows").as("n_docs"), col("checksum"),
        (col("n_rows") === col("s_n") && col("checksum") === col("s_ck"))
          .as("repaired_ok"),
        lit(isolated).as("quarantine_isolated"))
      .orderBy(col("lang"))
  }

  /** HOT-STANDBY JOURNAL TAILING — the reference's backup-node DR
    * (server/namenode/BackupNode.java:1 streamed edits,
    * BackupImage.java:1 bounded lag): the primary commits three
    * document batches and then a rewrite (remove+add in one commit);
    * CommitLog.ship tails the journal onto the standby on a cadence
    * of two commits, so the standby's lag is bounded by the cadence
    * (asserted in-op) and each ship pays only the delta. The output
    * reads EVERY version FROM THE STANDBY and flags in_sync by
    * comparing (count, checksum) against the primary's read of the
    * same version — the oracle recomputes all four versions from the
    * source table, so a replay divergence on either side fails the
    * gate. */
  val lakeStandby: GraftQuery = GraftQuery.sql(
    "lake_standby", {
      def v(n: Int, cond: String) =
        s"""SELECT CAST($n AS BIGINT) AS version, COUNT(*) AS n_docs,
           |  CAST(SUM(fp) % ${GraftHash.P} AS BIGINT) AS checksum, TRUE AS in_sync
           |FROM fp WHERE $cond""".stripMargin
      s"""WITH fp AS (SELECT doc_id % 3 AS m, ${GraftHash.charHashSql("text")} AS fp
         |           FROM documents)
         |${v(0, "m = 0")}
         |UNION ALL
         |${v(1, "m IN (0, 1)")}
         |UNION ALL
         |${v(2, "TRUE")}
         |UNION ALL
         |${v(3, "TRUE")}
         |ORDER BY version""".stripMargin
    }
  ) { (s, d) =>
    val fs = FileSystem.get(s.sparkContext.hadoopConfiguration)
    val primary = Lake.scratch("standby/primary")
    val standby = Lake.scratch("standby/dr")
    Seq(primary, standby).foreach(p => fs.delete(new Path(p), true))
    val docs = Tables.documents(s, d)
    def head(dir: String): Int =
      CommitLog.commits(fs, dir).lastOption.map(_.version).getOrElse(-1)
    CommitLog.writeCommit(s, primary,
      docs.filter(col("doc_id") % 3 === 0), "data/b0", ts = 1000L)       // v0
    CommitLog.ship(s, primary, standby)
    require(head(standby) == head(primary), "standby behind after ship")
    CommitLog.writeCommit(s, primary,
      docs.filter(col("doc_id") % 3 === 1), "data/b1", ts = 2000L)       // v1
    CommitLog.writeCommit(s, primary,
      docs.filter(col("doc_id") % 3 === 2), "data/b2", ts = 3000L)       // v2
    // mid-cadence staleness is BOUNDED by the cadence, never unbounded
    val lag = head(primary) - head(standby)
    require(lag > 0 && lag <= 2, s"lag $lag outside the shipping cadence")
    CommitLog.ship(s, primary, standby)
    // a rewrite commit (remove+add, the compaction shape) must replay
    // identically on the standby: b0 is rewritten to a fresh dir
    docs.filter(col("doc_id") % 3 === 0).coalesce(1)
      .write.mode("overwrite").parquet(s"$primary/data/b0c")
    CommitLog.commit(fs, primary, ts = 4000L,
      adds = Seq("data/b0c"), removes = Seq("data/b0"))                  // v3
    CommitLog.ship(s, primary, standby)
    require(head(standby) == head(primary), "standby behind after final ship")
    def versions(dir: String, tag: String): DataFrame =
      (0 to 3).map { v =>
        CommitLog.snapshot(s, dir, version = v)
          .select(GraftHash.charHash(col("text")).as("fp"))
          .agg(count(lit(1)).as(s"${tag}_n"),
            (sum(col("fp")) % GraftHash.P).as(s"${tag}_ck"))
          .select(lit(v.toLong).as(s"${tag}_version"),
            col(s"${tag}_n"), col(s"${tag}_ck"))
      }.reduce(_ union _)
    versions(standby, "sb").join(versions(primary, "pr"),
        col("sb_version") === col("pr_version"))
      .select(col("sb_version").as("version"), col("sb_n").as("n_docs"),
        col("sb_ck").as("checksum"),
        (col("sb_n") === col("pr_n") && col("sb_ck") === col("pr_ck")).as("in_sync"))
      .orderBy(col("version"))
  }

  /** RESTORE FAILED STORAGE — re-admit a failed storage location
    * (reference protocol/ClientProtocol.java:669 restoreFailedStorage,
    * dfsadmin -restoreFailedStorage; the FSImage storage-dir state
    * machine): lake_drain retires a dir DELIBERATELY (its bytes move
    * first); this is the INVERSE surface — a replica dir that FAILED
    * is fenced out of journal shipping, the primary keeps committing,
    * and the admin's re-admission verb resyncs the dir
    * delta-proportionally (only the versions missed while retired —
    * the lake_standby ship mechanism) and rejoins it. Ceremony: the
    * replica syncs v0, fails (retired), misses v1–v2; a ship attempt
    * while retired must REFUSE (the fence is real); re-admission
    * ships exactly the two missed versions; then every version 0–2
    * read FROM THE REPLICA is checksum-compared against the primary.
    * The oracle recomputes all three versions from the source table —
    * a resync that lost, duplicated, or reordered rows fails the
    * gate. */
  val lakeRestoreStorage: GraftQuery = GraftQuery.sql(
    "lake_restore_storage", {
      def v(n: Int, cond: String) =
        s"""SELECT CAST($n AS BIGINT) AS version, COUNT(*) AS n_docs,
           |  CAST(SUM(fp) % ${GraftHash.P} AS BIGINT) AS checksum,
           |  TRUE AS refused_while_retired, TRUE AS delta_only, TRUE AS in_sync
           |FROM fp WHERE $cond""".stripMargin
      s"""WITH fp AS (SELECT doc_id % 3 AS m, ${GraftHash.charHashSql("text")} AS fp
         |           FROM documents)
         |${v(0, "m = 0")}
         |UNION ALL
         |${v(1, "m IN (0, 1)")}
         |UNION ALL
         |${v(2, "TRUE")}
         |ORDER BY version""".stripMargin
    }
  ) { (s, d) =>
    val fs = FileSystem.get(s.sparkContext.hadoopConfiguration)
    val primary = Lake.scratch("restore_storage/primary")
    val replica = Lake.scratch("restore_storage/replica")
    Seq(primary, replica).foreach(p => fs.delete(new Path(p), true))
    val docs = Tables.documents(s, d)
    CommitLog.writeCommit(s, primary,
      docs.filter(col("doc_id") % 3 === 0), "data/b0", ts = 1000L)       // v0
    CommitLog.ship(s, primary, replica)                                  // in sync
    CommitLog.retireStorage(fs, replica)                                 // fails
    CommitLog.writeCommit(s, primary,
      docs.filter(col("doc_id") % 3 === 1), "data/b1", ts = 2000L)       // v1
    CommitLog.writeCommit(s, primary,
      docs.filter(col("doc_id") % 3 === 2), "data/b2", ts = 3000L)       // v2
    // the fence is real: shipping to a retired dir refuses outright
    val refused =
      try { CommitLog.ship(s, primary, replica); false }
      catch { case _: java.io.IOException => true }
    require(refused, "ship to a retired storage dir must refuse")
    val shipped = CommitLog.restoreFailedStorage(s, primary, replica)
    // delta-proportional: exactly the versions missed while retired
    require(shipped == Seq(1, 2),
      s"resync must ship exactly the missed versions, shipped $shipped")
    require(!CommitLog.isRetired(fs, replica), "re-admitted dir still fenced")
    def versions(dir: String, tag: String): DataFrame =
      (0 to 2).map { v =>
        CommitLog.snapshot(s, dir, version = v)
          .select(GraftHash.charHash(col("text")).as("fp"))
          .agg(count(lit(1)).as(s"${tag}_n"),
            (sum(col("fp")) % GraftHash.P).as(s"${tag}_ck"))
          .select(lit(v.toLong).as(s"${tag}_version"),
            col(s"${tag}_n"), col(s"${tag}_ck"))
      }.reduce(_ union _)
    versions(replica, "rp").join(versions(primary, "pr"),
        col("rp_version") === col("pr_version"))
      .select(col("rp_version").as("version"), col("rp_n").as("n_docs"),
        col("rp_ck").as("checksum"),
        lit(refused).as("refused_while_retired"),
        lit(shipped == Seq(1, 2)).as("delta_only"),
        (col("rp_n") === col("pr_n") && col("rp_ck") === col("pr_ck")).as("in_sync"))
      .orderBy(col("version"))
  }

  /** LEASE RECOVERY — the reference's recoverLease ceremony
    * (protocol/ClientProtocol.java:549 recoverLease,
    * server/namenode/LeaseManager.java:63 expiry + takeover,
    * FSNamesystem internalReleaseLease): writer A holds the table's
    * writer lease and crashes mid-write, leaving an in-flight
    * UNCOMMITTED data file; writer B recovers — the expired lease is
    * FENCED via a create-exclusive higher epoch (A can never finish
    * its write), the in-flight orphan is reclaimed, and B completes
    * the intended batch under its own lease. Since r15 the ceremony
    * also pins the reference's TWO-TIER expiry authority
    * (LeaseManager.java:68-69 softLimit/hardLimit, :217-222;
    * TestLeaseRecovery2):
    *  - A's crashed lease is SOFT-expired but HARD-live when B
    *    recovers: the background scan ([[graft.streaming.StreamingOps.checkLease]],
    *    the Monitor.checkLeases analog) must REFUSE it
    *    (`hard_scan_refused` — soft expiry licenses a competing
    *    CLIENT, never the unilateral background sweep), while B's
    *    acquire (the competing-client path) succeeds;
    *  - on a second state dir, a lease pushed past its HARD limit IS
    *    reclaimed by the same scan, and the silenced writer's next
    *    heartbeat dies (`hard_reclaimed` —
    *    TestLeaseRecovery2.testHardLeaseRecovery's killed writer).
    * The output reads both versions of the recovered table with the
    * verified flags; the oracle recomputes both versions from the
    * source table — a recovery that lost or duplicated rows fails
    * the gate. */
  val lakeLeaseRecover: GraftQuery = GraftQuery.sql(
    "lake_lease_recover", {
      def v(n: Int, cond: String) =
        s"""SELECT CAST($n AS BIGINT) AS version, COUNT(*) AS n_docs,
           |  CAST(SUM(fp) % ${GraftHash.P} AS BIGINT) AS checksum,
           |  TRUE AS orphan_reclaimed, TRUE AS writer_fenced,
           |  TRUE AS hard_scan_refused, TRUE AS hard_reclaimed
           |FROM fp WHERE $cond""".stripMargin
      s"""WITH fp AS (SELECT doc_id % 3 AS m, ${GraftHash.charHashSql("text")} AS fp
         |           FROM documents)
         |${v(0, "m = 0")}
         |UNION ALL
         |${v(1, "m IN (0, 1)")}
         |ORDER BY version""".stripMargin
    }
  ) { (s, d) =>
    import graft.streaming.StreamingOps
    val fs = FileSystem.get(s.sparkContext.hadoopConfiguration)
    val dir = Lake.scratch("lease_recover/table")
    fs.delete(new Path(dir), true)
    val docs = Tables.documents(s, d)
    CommitLog.writeCommit(s, dir,
      docs.filter(col("doc_id") % 3 === 0), "data/b0", ts = 1000L)       // v0
    val stateDir = s"$dir/_writer"
    // writer A: lease (soft 100ms, hard 30s — SOFT-expired long
    // before HARD), in-flight write, crash (no commit, no release)
    StreamingOps.acquireLease(fs, stateDir, "writerA", ttlMs = 100L,
      hardMs = 30000L)
    docs.filter(col("doc_id") % 3 === 1).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/data/b1")
    Thread.sleep(150L)                     // A's SOFT limit expires
    // the background scan must REFUSE the soft-expired-but-hard-live
    // lease (LeaseManager.checkLeases returns before touching
    // anything not past expiredHardLimit) — unilateral reclaim is
    // hard-limit authority only
    val hardScanRefused = !StreamingOps.checkLease(fs, stateDir)
    // writer B: recover — the COMPETING-CLIENT takeover the soft
    // limit licenses (TestLeaseRecovery2.testSoftLeaseRecovery):
    // fence the soft-expired lease (higher epoch), reclaim the
    // uncommitted in-flight file, complete the batch
    StreamingOps.acquireLease(fs, stateDir, "writerB")
    val reclaimed = CommitLog.vacuumOrphans(fs, dir, graceMs = 0L)
    require(reclaimed == Seq("data/b1"),
      s"expected to reclaim exactly data/b1, got $reclaimed")
    val orphanGone = !fs.exists(new Path(dir, "data/b1"))
    StreamingOps.verifyLease(fs, stateDir, "writerB")
    CommitLog.writeCommit(s, dir,
      docs.filter(col("doc_id") % 3 === 1), "data/b1r", ts = 2000L)      // v1
    // fencing proof: the crashed writer's late acquire must throw
    val fenced =
      try { StreamingOps.acquireLease(fs, stateDir, "writerA", ttlMs = 100L); false }
      catch { case _: StreamingOps.LeaseHeldException => true }
    // HARD-limit arm (TestLeaseRecovery2.testHardLeaseRecovery): on a
    // second state dir, writer C goes silent past its HARD limit —
    // the background scan reclaims unilaterally and C's next
    // heartbeat (the killed writer's stm.write) dies
    val stateDir2 = s"$dir/_writer2"
    StreamingOps.acquireLease(fs, stateDir2, "writerC", ttlMs = 50L,
      hardMs = 150L)
    Thread.sleep(250L)                     // C's HARD limit expires
    val scanReclaimed = StreamingOps.checkLease(fs, stateDir2)
    val writerKilled =
      try { StreamingOps.renewLease(fs, stateDir2, "writerC", ttlMs = 50L); false }
      catch { case _: StreamingOps.LeaseHeldException => true }
    (0 to 1).map { v =>
      CommitLog.snapshot(s, dir, version = v)
        .select(GraftHash.charHash(col("text")).as("fp"))
        .agg(count(lit(1)).as("n_docs"),
          (sum(col("fp")) % GraftHash.P).as("checksum"))
        .select(lit(v.toLong).as("version"), col("n_docs"), col("checksum"))
    }.reduce(_ union _)
      .withColumn("orphan_reclaimed", lit(orphanGone))
      .withColumn("writer_fenced", lit(fenced))
      .withColumn("hard_scan_refused", lit(hardScanRefused))
      .withColumn("hard_reclaimed", lit(scanReclaimed && writerKilled))
      .orderBy(col("version"))
  }

  /** SAFE MODE — the last uncovered ClientProtocol method
    * (protocol/ClientProtocol.java:648 setSafeMode;
    * server/namenode/SafeModeException.java:1;
    * FSNamesystem.SafeModeInfo threshold machine,
    * server/namenode/FSNamesystem.java:3997): the read-only gate every
    * maintenance window leans on. The ceremony drives all four edges
    * of the state machine against a live commit-log table and VERIFIES
    * each one in-op:
    *
    *  1. STARTUP GATE: after a simulated restart the table enters
    *     startup safe mode (threshold 1000‰ = every active file must
    *     replay-verify); a write attempt throws BEFORE any journal or
    *     data I/O and burns no version (`startup_blocked`).
    *  2. THRESHOLD: a partial verification report (1 of 2 files — the
    *     incremental block-report analogue) leaves the gate closed;
    *     writes still refuse (`threshold_enforced`). Reads replay
    *     normally the whole time (asserted against the expected
    *     count).
    *  3. AUTO-EXIT: the second report crosses the threshold and the
    *     gate opens ITSELF — no operator action (`auto_exited`); the
    *     next write commits.
    *  4. MANUAL: `enterSafeModeManual` closes the gate with an
    *     unreachable threshold (the reference's 1.5); a full
    *     verification report does NOT open it and a write refuses
    *     (`manual_blocked`) until the explicit leave.
    *
    * Replay identity is the output itself: the three per-version
    * (count, checksum) rows are read AFTER every refused write, and
    * the oracle recomputes them from the source table — a refusal
    * that leaked a version or half a commit fails the hash gate.
    * Scale shape: the gate is one driver-side marker read per commit
    * attempt; verification reports are parquet footer-counts over
    * only the files being reported — the whole ceremony is
    * journal-metadata work, independent of data volume. */
  val lakeSafemode: GraftQuery = GraftQuery.sql(
    "lake_safemode", {
      def v(n: Int, cond: String) =
        s"""SELECT CAST($n AS BIGINT) AS version, COUNT(*) AS n_docs,
           |  CAST(SUM(fp) % ${GraftHash.P} AS BIGINT) AS checksum,
           |  TRUE AS startup_blocked, TRUE AS threshold_enforced,
           |  TRUE AS auto_exited, TRUE AS manual_blocked
           |FROM fp WHERE $cond""".stripMargin
      s"""WITH fp AS (SELECT doc_id % 3 AS m, ${GraftHash.charHashSql("text")} AS fp
         |           FROM documents)
         |${v(0, "m = 0")}
         |UNION ALL
         |${v(1, "m IN (0, 1)")}
         |UNION ALL
         |${v(2, "TRUE")}
         |ORDER BY version""".stripMargin
    }
  ) { (s, d) =>
    val fs = FileSystem.get(s.sparkContext.hadoopConfiguration)
    val dir = Lake.scratch("safemode/table")
    fs.delete(new Path(dir), true)
    val docs = Tables.documents(s, d)
    def head: Int =
      CommitLog.commits(fs, dir).lastOption.map(_.version).getOrElse(-1)
    def refused(body: => Unit): Boolean = {
      val before = head
      val blocked = try { body; false } catch { case _: java.io.IOException => true }
      blocked && head == before // loud AND traceless: no burned version
    }
    CommitLog.writeCommit(s, dir,
      docs.filter(col("doc_id") % 3 === 0), "data/b0", ts = 1000L)       // v0
    CommitLog.writeCommit(s, dir,
      docs.filter(col("doc_id") % 3 === 1), "data/b1", ts = 2000L)       // v1
    // --- restart: startup safe mode, strict threshold ---
    CommitLog.enterSafeMode(fs, dir, thresholdPm = 1000)
    val startupBlocked = refused {
      CommitLog.writeCommit(s, dir,
        docs.filter(col("doc_id") % 3 === 2), "data/b2", ts = 3000L)
    }
    // reads replay normally while frozen
    val expectV1 = docs.filter(col("doc_id") % 3 =!= 2).count()
    require(CommitLog.snapshot(s, dir).count() == expectV1,
      "read during safe mode diverged from the v1 snapshot")
    // partial report: 1 of 2 active files — below threshold, gate holds
    val (n1, t1, frozen1) = CommitLog.reportVerified(s, dir, Seq("data/b0"))
    require(n1 == 1 && t1 == 2 && frozen1, s"partial report state ($n1/$t1, $frozen1)")
    val thresholdEnforced = refused {
      CommitLog.writeCommit(s, dir,
        docs.filter(col("doc_id") % 3 === 2), "data/b2", ts = 3000L)
    }
    // full report: threshold crossed, the gate opens ITSELF
    val (n2, t2, frozen2) = CommitLog.reportVerified(s, dir, Seq("data/b1"))
    val autoExited = n2 == 2 && t2 == 2 && !frozen2 && !CommitLog.isFrozen(fs, dir)
    CommitLog.writeCommit(s, dir,
      docs.filter(col("doc_id") % 3 === 2), "data/b2", ts = 4000L)       // v2
    // --- manual: no threshold can open it, only the explicit leave ---
    CommitLog.enterSafeModeManual(fs, dir)
    val (_, _, frozenM) = CommitLog.reportVerified(s, dir,
      Seq("data/b0", "data/b1", "data/b2"))
    val manualBlocked = frozenM && refused {
      CommitLog.writeCommit(s, dir,
        docs.filter(col("doc_id") % 3 === 0), "data/b3", ts = 5000L)
    }
    CommitLog.leaveSafeMode(fs, dir)
    require(!CommitLog.isFrozen(fs, dir), "manual leave did not open the gate")
    (0 to 2).map { v =>
      CommitLog.snapshot(s, dir, version = v)
        .select(GraftHash.charHash(col("text")).as("fp"))
        .agg(count(lit(1)).as("n_docs"),
          (sum(col("fp")) % GraftHash.P).as("checksum"))
        .select(lit(v.toLong).as("version"), col("n_docs"), col("checksum"))
    }.reduce(_ union _)
      .withColumn("startup_blocked", lit(startupBlocked))
      .withColumn("threshold_enforced", lit(thresholdEnforced))
      .withColumn("auto_exited", lit(autoExited))
      .withColumn("manual_blocked", lit(manualBlocked))
      .orderBy(col("version"))
  }

  /** SERVING-MANIFEST EXPORT — the reference's HTTP read surface
    * (HftpFileSystem.java:1 read-only access without the native
    * client; server/namenode/ListPathsServlet.java:50 the listing;
    * FileChecksumServlets.java:1 per-file checksums;
    * StreamFile.java:1 the byte server), re-expressed as the one
    * artifact a dumb byte server needs: a SELF-CONTAINED manifest of
    * a pinned table version — per active journal entry its relative
    * path, file count, byte size, row count, and content checksum —
    * written INSIDE the table dir (`_export/v<N>`, underscore-hidden
    * from table reads like `_manifest`). Any HTTP file server
    * pointed at the table dir can then serve exact version N — list
    * from the manifest, stream the named files, verify against the
    * checksums — with zero engine involvement; deliberately NOT a
    * web server (the capability is the manifest, the transport is
    * commodity). The op writes the export and then reads it BACK
    * from the exported parquet as its own output, so the gate
    * certifies the served artifact, not the in-memory computation.
    * Scale shape: listing + journal replay are driver metadata; the
    * per-entry row/checksum pass reads each entry once, pruned to
    * its own dir — the same I/O the checksum servlet pays, done as
    * one distributed aggregate. */
  val lakeExportManifest: GraftQuery = GraftQuery.sql(
    "lake_export_manifest", {
      def v(rel: String, cond: String) =
        s"""SELECT '$rel' AS entry, COUNT(*) AS n_rows,
           |  CAST(SUM(fp) % ${GraftHash.P} AS BIGINT) AS checksum,
           |  TRUE AS bytes_positive, TRUE AS self_contained
           |FROM fp WHERE $cond""".stripMargin
      s"""WITH fp AS (SELECT doc_id % 3 AS m, ${GraftHash.charHashSql("text")} AS fp
         |           FROM documents)
         |${v("data/s0", "m = 0")}
         |UNION ALL
         |${v("data/s1", "m = 1")}
         |UNION ALL
         |${v("data/s2", "m = 2")}
         |ORDER BY entry""".stripMargin
    }
  ) { (s, d) =>
    val fs = FileSystem.get(s.sparkContext.hadoopConfiguration)
    val dir = Lake.scratch("export/table")
    fs.delete(new Path(dir), true)
    val docs = Tables.documents(s, d)
    (0 to 2).foreach { i =>
      CommitLog.writeCommit(s, dir,
        docs.filter(col("doc_id") % 3 === i), s"data/s$i", ts = 1000L * (i + 1))
    }
    val head = CommitLog.commits(fs, dir).last.version
    val active = CommitLog.activeFiles(fs, dir, head).sorted
    // physical layout metadata: driver-side listing, one row per entry
    val phys = active.map { rel =>
      val stats = fs.listStatus(new Path(s"$dir/$rel"))
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      (rel, stats.length.toLong, stats.map(_.getLen).sum)
    }
    // content rows/checksums: ONE pruned read per entry, unioned into
    // a single distributed aggregate
    val content = active.map { rel =>
      Lake.readParquet(s, s"$dir/$rel")
        .select(GraftHash.charHash(col("text")).as("fp"))
        .agg(count(lit(1)).as("n_rows"), (sum(col("fp")) % GraftHash.P).as("checksum"))
        .select(lit(rel).as("entry"), col("n_rows"), col("checksum"))
    }.reduce(_ union _)
    import s.implicits._
    val manifest = content
      .join(phys.toDF("p_entry", "n_files", "n_bytes"),
        col("entry") === col("p_entry"))
      .select(col("entry"), col("n_files"), col("n_bytes"),
        col("n_rows"), col("checksum"), lit(head.toLong).as("version"))
    val exportDir = s"$dir/_export/v$head"
    manifest.coalesce(1).write.mode("overwrite").parquet(exportDir)
    // the served artifact must stand on its own: read it BACK and
    // verify it round-trips before certifying
    val served = Lake.readParquet(s, exportDir)
    require(served.count() == active.size.toLong, "export manifest incomplete")
    served
      .select(col("entry"), col("n_rows"), col("checksum"),
        (col("n_bytes") > 0 && col("n_files") >= 1).as("bytes_positive"),
        lit(true).as("self_contained"))
      .orderBy(col("entry"))
  }

  /** Short-lived per-entry READ capability — the reference's BLOCK
    * access token (security/token/block/BlockTokenSecretManager.java:1,
    * BlockTokenIdentifier.java:1), distinct from the session-scoped
    * delegation tokens lake_delegation models: the NameNode issues one
    * per block AT OPEN, the DataNode validates it per access, and
    * validity needs (a) the requested mode in scope, (b) an unexpired
    * lifetime, and (c) a signing key that is the CURRENT or the
    * PREVIOUS rotation (BlockTokenSecretManager.retrievePassword keeps
    * exactly one retired key valid so in-flight reads survive a
    * rotation). The token map is namenode-side metadata — bounded by
    * entry count, never data-proportional. */
  final case class BlockToken(rel: String, mode: String, issuedAt: Long,
                              expiresAt: Long, keyId: Int)

  /** The DataNode-side check: which entries may be read at `asOf`
    * under `currentKey`. Pure metadata — the caller restricts its
    * physical read to the returned rels, so a refused entry is never
    * opened (refusal strictly BEFORE data I/O). */
  def validBlockTokens(tokens: Seq[BlockToken], mode: String,
                       asOf: Long, currentKey: Int): Seq[String] =
    tokens.filter(t => t.mode == mode && t.expiresAt > asOf &&
      (t.keyId == currentKey || t.keyId == currentKey - 1)).map(_.rel)

  /** BLOCK-TOKEN GATED READ — the full issue→rotate→validate→read
    * ceremony: the documents table lands as four block entries, each
    * with a READ token issued at open; at validation time one token
    * has expired, one is WRITE-scoped, and one was signed by a
    * RETIRED key (two rotations old), so exactly one block serves.
    * The op proves refusal happens BEFORE data I/O the same way
    * lake_quarantine proves isolation: a refused entry is corrupted
    * IN PLACE beneath the engine, and the gated read still succeeds —
    * the plan never opened the refused bytes. Composes with
    * lake_acl_enforce (Namespace.scala): ACLs gate the namespace
    * entry, block tokens gate each physical access under it. The
    * oracle recomputes the served subset from the source table. */
  val lakeBlockTokens: GraftQuery = GraftQuery.sql(
    "lake_block_tokens",
    s"""WITH fp AS (SELECT lang, ${GraftHash.charHashSql("text")} AS fp
       |  FROM documents WHERE doc_id % 4 = 0)
       |SELECT lang, COUNT(*) AS n_docs,
       |  CAST(SUM(fp) % ${GraftHash.P} AS BIGINT) AS checksum,
       |  CAST(1 AS BIGINT) AS n_served_blocks,
       |  CAST(3 AS BIGINT) AS n_refused_blocks
       |FROM fp GROUP BY lang ORDER BY lang""".stripMargin
  ) { (s, d) =>
    val fs = FileSystem.get(s.sparkContext.hadoopConfiguration)
    val dir = Lake.scratch("block_tokens/table")
    fs.delete(new Path(dir), true)
    val docs = Tables.documents(s, d)
    (0 until 4).foreach { i =>
      CommitLog.writeCommit(s, dir,
        docs.filter(col("doc_id") % 4 === i).coalesce(1), s"data/b$i", ts = 1000L + i)
    }
    // issue at open (key 2 current): b1's lifetime has lapsed by
    // asOf, b2 is WRITE-scoped, b3's key is two rotations old
    val tokens = Seq(
      BlockToken("data/b0", "READ",  1000L, 601000L, keyId = 2),
      BlockToken("data/b1", "READ",  1000L,   1010L, keyId = 2),
      BlockToken("data/b2", "WRITE", 1000L, 601000L, keyId = 2),
      BlockToken("data/b3", "READ",  1000L, 601000L, keyId = 0))
    val ok = validBlockTokens(tokens, "READ", asOf = 50000L, currentKey = 2)
    require(ok == Seq("data/b0"),
      s"token validation served $ok, expected exactly data/b0")
    // the canary: a REFUSED entry's bytes rot beneath the engine; the
    // gated read below must still succeed because refusal already
    // excluded the entry from the physical read path
    corruptInPlace(fs, dir, "data/b1")
    graft.api.Graft.lake.groupChecksum(
        Lake.readParquet(s, ok.map(rel => s"$dir/$rel"): _*), "text", "lang")
      .select(col("lang"), col("n_rows").as("n_docs"), col("checksum"),
        lit(1L).as("n_served_blocks"),
        lit((tokens.size - ok.size).toLong).as("n_refused_blocks"))
      .orderBy(col("lang"))
  }

  /** STORAGE-TOPOLOGY REPORT — the admin's live/dead/capacity view
    * (reference protocol/ClientProtocol.java:582 getDatanodeReport +
    * :717 metaSave dump the per-datanode state the NameNode holds):
    * groups are round-robin placed across three named domains, the
    * two live domains are reported from their ACTUAL directories
    * (lang-dir listing for group count, parquet footer count for
    * rows — metadata-only, no row scan), and the DECOMMISSIONED
    * domain is reported from the placement map alone (metaSave
    * reports from namenode metadata precisely because a dead node
    * can't be asked). The op cross-checks actual-vs-expected for the
    * live domains — the drift detection a topology report exists
    * for. Placement here is rank-round-robin, not hash, so the
    * oracle can recompute it with a window rank. */
  val lakeTopology: GraftQuery = GraftQuery.sql(
    "lake_topology",
    """WITH langs AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
      |r AS (SELECT lang, n, ROW_NUMBER() OVER (ORDER BY lang) - 1 AS i FROM langs),
      |m AS (SELECT i % 3 AS dom, n FROM r UNION ALL SELECT (i + 1) % 3 AS dom, n FROM r)
      |SELECT CASE dom WHEN 0 THEN 'dc1_rackA' WHEN 1 THEN 'dc1_rackB'
      |            ELSE 'dc2_rackA' END AS domain,
      |  CASE WHEN dom = 2 THEN 'DEAD' ELSE 'LIVE' END AS state,
      |  COUNT(*) AS n_groups, CAST(SUM(n) AS BIGINT) AS n_docs
      |FROM m GROUP BY dom ORDER BY domain""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val fs = FileSystem.get(s.sparkContext.hadoopConfiguration)
    val names = Vector("dc1_rackA", "dc1_rackB", "dc2_rackA")
    val dirs = names.map(n => Lake.scratch(s"topology/$n"))
    dirs.foreach(p => fs.delete(new Path(p), true))
    val docs = Tables.documents(s, d)
    // group sizes: one aggregation to a langs-sized frame — the
    // bounded-collect metadata class (groups, not rows)
    val langCounts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val groups = langCounts.keys.toSeq.sorted
    // the oracle's m CTE only produces domains that HOST a group —
    // with one group only two domains would appear and the DEAD row
    // would diverge; the report needs every domain populated
    require(groups.size >= 3,
      s"topology ceremony needs >= 3 groups to cover all domains, got ${groups.size}")
    val assign = groups.zipWithIndex.map { case (g, i) => (g, i % 3, (i + 1) % 3) }
    def hosted(i: Int) = assign.collect { case (g, a, b) if a == i || b == i => g }
    // domain 2 is decommissioned: only the live domains materialize
    Lake.concurrently(Seq(0, 1)) { i =>
      docs.filter(col("lang").isin(hosted(i): _*))
        .write.mode("overwrite").partitionBy("lang").parquet(dirs(i))
    }
    val rows = (0 to 2).map { i =>
      val expGroups = hosted(i).size.toLong
      val expDocs = hosted(i).map(langCounts).sum
      if (i == 2) (names(i), "DEAD", expGroups, expDocs)
      else {
        val actGroups = fs.listStatus(new Path(dirs(i)))
          .count(st => st.isDirectory && st.getPath.getName.startsWith("lang=")).toLong
        val actDocs = s.read.parquet(dirs(i)).count() // footer metadata only
        require(actGroups == expGroups && actDocs == expDocs,
          s"${names(i)} drifted from placement: $actGroups/$actDocs vs $expGroups/$expDocs")
        (names(i), "LIVE", actGroups, actDocs)
      }
    }
    rows.toDF("domain", "state", "n_groups", "n_docs").orderBy(col("domain"))
  }

  /** STORAGE BALANCER — the admin rebalancing tool itself (reference
    * server/balancer/Balancer.java:1, bin/start-balancer.sh): a
    * cluster is balanced when every node's utilization is within a
    * THRESHOLD of the cluster mean; the balancer iteratively moves
    * blocks from over- to under-utilized nodes, each node moving no
    * more than threshold×capacity per iteration, re-reading cluster
    * state between iterations. lake_compaction / lake_compact_
    * incremental borrow the Balancer's iterate-until-threshold CADENCE
    * for small-file work; this op is the Balancer's actual CONTRACT —
    * cross-domain utilization equalization with per-iteration move
    * caps, whole blocks only, content untouched.
    *
    * Lake shape: 12 block files (doc_id mod 12) across 4 equal-
    * capacity storage domains, 9 of them piled on one domain (the
    * "new empty nodes joined" scenario the Balancer javadoc opens
    * with). Each iteration lists placement from the DOMAIN DIRS (the
    * datanode report), pairs the most-over domain with the most-under,
    * and renames whole blocks within the iteration budget. Every step
    * is metadata (listings + renames); the only data-proportional
    * work is the one staging write and the final content audit — at
    * 100 TB a block move is a bounded-size copy the mover streams,
    * never a table scan. The oracle checks the contract: balance
    * achieved, content byte-identical (order-independent checksum
    * recomputed from the source table), blocks conserved. */
  /** Pure balancer move planner (Balancer.java:1's iterate-until-
    * threshold contract): given a placement and per-block weights
    * over `nDoms` equal-capacity domains, return the (block, src,
    * dst) moves that bring every domain within `tol` of the mean.
    * Iteration structure mirrors the reference — per iteration each
    * domain moves/receives at most `tol` (threshold x capacity), the
    * most-over domain sheds its largest fitting block to the
    * least-utilized receiver, and no move may overshoot either side
    * past mean±tol. In production each iteration re-reads the
    * datanode report; a single-balancer run over unchanging weights
    * (enforced by the reference's single-instance lock,
    * Balancer.java OutOfServiceException) makes the tracked state
    * identical, so the plan is computable up front — property-tested
    * in DurabilitySpec over random skews: conservation, no overshoot,
    * per-iteration budgets, convergence for bounded block sizes. */
  private[graft] def planBalancerMoves(
      placement: Map[Int, Seq[Int]], weight: Map[Int, Long],
      nDoms: Int, tol: Double, maxIter: Int): Seq[(Int, Int, Int)] = {
    val total = placement.values.flatten.map(weight).sum
    val mean = total.toDouble / nDoms
    val pl = collection.mutable.Map(placement.view.mapValues(_.toVector).toSeq: _*)
    val u = collection.mutable.Map(
      (0 until nDoms).map(i => i -> pl.getOrElse(i, Vector.empty).map(weight).sum): _*)
    def balanced: Boolean = u.values.forall(x => math.abs(x - mean) <= tol)
    val plan = collection.mutable.ArrayBuffer.empty[(Int, Int, Int)]
    var iter = 0
    var stuck = false
    while (iter < maxIter && !balanced && !stuck) {
      iter += 1
      val budget = collection.mutable.Map((0 until nDoms).map(_ -> tol): _*)
      var progressed = true
      var movedThisIter = false
      while (progressed) {
        progressed = false
        // source classes, per Balancer.java's pairing: over-threshold
        // domains always shed (over→under, over→belowAvg); whenever a
        // receiver is still UNDER-threshold, above-average domains
        // also serve it (aboveAvg→under) — even while an over domain
        // exists, so a wide block pinned on the over domain cannot
        // starve an under-threshold receiver of reachable donors
        val over = (0 until nDoms).filter(i => u(i) - mean > tol)
        val aboveAvg =
          if ((0 until nDoms).exists(i => mean - u(i) > tol))
            (0 until nDoms).filter(i => u(i) > mean && !(u(i) - mean > tol))
          else Seq.empty
        val srcs = (over ++ aboveAvg).sortBy(i => (-u(i), i))
        // try EVERY budgeted source until one yields a legal move —
        // a first-source-only pass would declare the cluster stuck
        // while a lower-ranked source still had legal work (a wide
        // block pinned on the top source must not block the others)
        val it = srcs.iterator.filter(budget(_) > 0)
        while (!progressed && it.hasNext) {
          val src = it.next()
          // try every receiver, least-utilized first (ADVICE r11): the
          // least-utilized alone can be illegal for every block on this
          // source (overshoot past mean+tol, or exhausted iteration
          // budget) while the NEXT receiver still admits a legal move —
          // a single-dst pass would declare the cluster stuck and trip
          // lake_balancer's require(balanced) even though a plan exists
          val dstIt = (0 until nDoms).filter(i => i != src && budget(i) > 0)
            .sortBy(i => (u(i), i)).iterator
          while (!progressed && dstIt.hasNext) {
            val dst = dstIt.next()
            pl(src).sortBy(b => (-weight(b), b)).find { b =>
              val w = weight(b)
              w <= budget(src) && w <= budget(dst) &&
                u(dst) + w <= mean + tol && u(src) - w >= mean - tol
            }.foreach { b =>
              val w = weight(b)
              pl(src) = pl(src).filterNot(_ == b)
              pl(dst) = pl.getOrElse(dst, Vector.empty) :+ b
              u(src) -= w; u(dst) += w
              budget(src) -= w; budget(dst) -= w
              plan += ((b, src, dst)); progressed = true; movedThisIter = true
            }
          }
        }
      }
      // a whole iteration with fresh budgets and no legal move means
      // the residual imbalance is structural (a block larger than the
      // slack) — stop instead of spinning to maxIter
      if (!movedThisIter) stuck = true
    }
    plan.toSeq
  }

  /** SERVER DEFAULTS — the config-introspection surface (reference
    * protocol/ClientProtocol.java:113 getServerDefaults returns the
    * server-side block size / bytes-per-checksum / replication the
    * client must honor, and :592 getPreferredBlockSize asks the same
    * for ONE file). The lake analogue publishes what this engine
    * actually serves: the scan-split target (the block-size role —
    * read LIVE from the session, Spark's
    * spark.sql.files.maxPartitionBytes), the content-checksum modulus
    * (GraftHash.P — the bytes-per-checksum role: the verification
    * granularity every fsck/scrub/standby audit in this library uses),
    * the placement replication default (2 domains, the placeReplicas /
    * lake_mirror policy), the library's published shuffle width, and
    * the per-file form: a table written WITHOUT an override reports
    * the server default, exactly the reference's per-file rule. Pure
    * metadata — zero data I/O at any scale. */
  val lakeServerDefaults: GraftQuery = GraftQuery.sql(
    "lake_server_defaults",
    s"""SELECT 'checksum_modulus' AS param, CAST(${GraftHash.P} AS BIGINT) AS value
      |UNION ALL SELECT 'preferred_block_bytes', CAST(134217728 AS BIGINT)
      |UNION ALL SELECT 'preferred_block_bytes_orders', CAST(134217728 AS BIGINT)
      |UNION ALL SELECT 'replication_default', CAST(2 AS BIGINT)
      |UNION ALL SELECT 'shuffle_width_default', CAST(32 AS BIGINT)
      |ORDER BY param""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    // the block-size answer is READ from the live session (the
    // reference serves dfs.block.size from config, not a constant),
    // but the oracle PINS the shipped default — this op is a
    // drift-DETECTOR, not a drift-reporter: a deployment that tunes
    // spark.sql.files.maxPartitionBytes fails here loudly instead of
    // silently hash-mismatching the oracle downstream
    val split = s.sessionState.conf.filesMaxPartitionBytes
    require(split == 134217728L,
      s"scan-split default drifted: $split — oracle pins the shipped default")
    // per-file rule (:592): orders was written with no per-table
    // override, so its preferred block size IS the server default
    Seq(
      ("checksum_modulus", GraftHash.P),
      ("preferred_block_bytes", split),
      ("preferred_block_bytes_orders", split),
      ("replication_default", 2L),
      ("shuffle_width_default", 32L)
    ).toDF("param", "value").orderBy(col("param"))
  }

  val lakeBalancer: GraftQuery = GraftQuery.sql(
    "lake_balancer",
    s"""WITH fp AS (SELECT ${GraftHash.charHashSql("text")} AS fp FROM documents)
       |SELECT 'balanced_after' AS check_name, CAST(1 AS BIGINT) AS n
       |UNION ALL SELECT 'balanced_before', CAST(0 AS BIGINT)
       |UNION ALL SELECT 'content_checksum',
       |  (SELECT CAST(SUM(fp) % ${GraftHash.P} AS BIGINT) FROM fp)
       |UNION ALL SELECT 'n_blocks', CAST(12 AS BIGINT)
       |UNION ALL SELECT 'total_docs', (SELECT COUNT(*) FROM documents)
       |ORDER BY check_name""".stripMargin
  ) { (s, d) =>
    val fs = FileSystem.get(s.sparkContext.hadoopConfiguration)
    val NBlocks = 12
    val doms = Vector("dom0", "dom1", "dom2", "dom3")
    val base = Lake.scratch("balancer")
    def domDir(i: Int) = s"$base/${doms(i)}"
    fs.delete(new Path(base), true)
    val docs = Tables.documents(s, d)
    // block weights: one 12-row aggregate — namenode-side metadata
    val weight: Map[Int, Long] = docs
      .groupBy((col("doc_id") % NBlocks).cast("int").as("blk"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val totalDocs = weight.values.sum
    // one staging write lays down all 12 blocks; placement is renames
    docs.withColumn("blk", (col("doc_id") % NBlocks).cast("int"))
      .write.partitionBy("blk").parquet(s"$base/_stage")
    doms.indices.foreach(i => fs.mkdirs(new Path(domDir(i))))
    def place(blk: Int, dom: Int): Unit =
      require(fs.rename(new Path(s"$base/_stage/blk=$blk"),
        new Path(s"${domDir(dom)}/b$blk")), s"placing b$blk on ${doms(dom)} failed")
    // skewed start: b0..b8 on dom0, b9-b10 on dom1, b11 on dom2
    (0 to 8).foreach(place(_, 0)); place(9, 1); place(10, 1); place(11, 2)
    // equal capacities; threshold 10% of capacity, per Balancer default
    val cap = totalDocs.toDouble
    val tol = 0.10 * cap
    val mean = totalDocs.toDouble / doms.size
    def placement: Map[Int, Seq[Int]] = doms.indices.map { i =>
      i -> fs.listStatus(new Path(domDir(i))).toSeq
        .map(_.getPath.getName).filter(_.startsWith("b"))
        .map(_.stripPrefix("b").toInt).sorted
    }.toMap
    def used(pl: Map[Int, Seq[Int]]): Map[Int, Long] =
      pl.map { case (i, bs) => i -> bs.map(weight).sum }
    def balanced(u: Map[Int, Long]): Boolean =
      u.values.forall(x => math.abs(x - mean) <= tol)
    val startPl = placement
    require(!balanced(used(startPl)), "ceremony needs an unbalanced start")
    // plan driver-side (pure, property-tested), apply as renames —
    // each planned move is a bounded-size block copy in production
    val plan = planBalancerMoves(startPl, weight, doms.size, tol, maxIter = 10)
    plan.foreach { case (b, src, dst) =>
      require(fs.rename(new Path(s"${domDir(src)}/b$b"),
        new Path(s"${domDir(dst)}/b$b")), s"move b$b failed")
    }
    val moves = plan.size
    val finalPl = placement
    val finalUsed = used(finalPl)
    require(balanced(finalUsed),
      s"not balanced after $moves moves: $finalUsed vs mean $mean tol $tol")
    require(finalPl.values.map(_.size).sum == NBlocks, "blocks must be conserved")
    require(moves <= 10 * doms.size, s"runaway move count $moves")
    // content audit: ONE read over the union of final block locations
    // (groupChecksum with no group columns = global n_rows + checksum)
    val paths = finalPl.toSeq.flatMap { case (i, bs) => bs.map(b => s"${domDir(i)}/b$b") }
    val audit = graft.api.Graft.lake
      .groupChecksum(Lake.readParquet(s, paths: _*), "text")
      .collect().head
    require(audit.getLong(0) == totalDocs, "balancer lost rows")
    import s.implicits._
    Seq(
      ("balanced_after", 1L),
      ("balanced_before", 0L),
      ("content_checksum", audit.getLong(1)),
      ("n_blocks", NBlocks.toLong),
      ("total_docs", totalDocs)
    ).toDF("check_name", "n").orderBy(col("check_name"))
  }

  /** FLUSH VISIBILITY — the hflush/fsync surface (reference
    * DFSOutputStream.java:1399 fsync/hflush + ClientProtocol.java:798
    * fsync: bytes flushed by a still-open writer become readable to
    * readers that ask for the flushed length; default readers keep
    * seeing the closed state; close promotes, lease recovery reclaims
    * an unclosed flush). The lake analogue is CommitLog's provisional
    * `_inflight/<writer>.flush` marker — see [[graft.sources.CommitLog.flush]].
    * Ceremony, each edge VERIFIED in-op:
    *
    *  1. TAIL VISIBILITY: writer A (leased) stages b1 and hflushes;
    *     the opt-in tail read (`snapshotWithInflight`) sees v0+b1
    *     (`tail_saw_flush`) while the default read still sees only v0
    *     (`default_isolated`) — and a zero-grace vacuum pass must NOT
    *     reclaim the flushed file (it is lease-protected).
    *  2. PROMOTE AT CLOSE: A closes — the flushed set becomes journal
    *     version 1, the marker disappears, every reader converges
    *     (`promoted_at_close`).
    *  3. CRASH RECLAIM: writer B stages b2, hflushes (the tail
    *     briefly sees all three thirds — asserted), and crashes; its
    *     lease expires; recovery fences it and `reclaimFlush` deletes
    *     the unpromoted staged file and marker — the tail read drops
    *     back to the committed truth (`crash_flush_reclaimed`).
    *
    * Output = both COMMITTED versions' (count, checksum), oracle-
    * recomputed from the source table: a flush that leaked into the
    * journal, or a reclaim that removed committed data, fails the
    * hash gate. Scale: markers and journal entries only — the one
    * data I/O is the ceremony's own staged writes; the tail read
    * costs exactly one extra file listing at any corpus size. */
  val lakeFlushVisibility: GraftQuery = GraftQuery.sql(
    "lake_flush_visibility", {
      def v(n: Int, cond: String) =
        s"""SELECT CAST($n AS BIGINT) AS version, COUNT(*) AS n_docs,
           |  CAST(SUM(fp) % ${GraftHash.P} AS BIGINT) AS checksum,
           |  TRUE AS tail_saw_flush, TRUE AS default_isolated,
           |  TRUE AS promoted_at_close, TRUE AS crash_flush_reclaimed
           |FROM fp WHERE $cond""".stripMargin
      s"""WITH fp AS (SELECT doc_id % 3 AS m, ${GraftHash.charHashSql("text")} AS fp
         |           FROM documents)
         |${v(0, "m = 0")}
         |UNION ALL
         |${v(1, "m IN (0, 1)")}
         |ORDER BY version""".stripMargin
    }
  ) { (s, d) =>
    import graft.streaming.StreamingOps
    val fs = FileSystem.get(s.sparkContext.hadoopConfiguration)
    val dir = Lake.scratch("flush_visibility/table")
    fs.delete(new Path(dir), true)
    val docs = Tables.documents(s, d)
    CommitLog.writeCommit(s, dir,
      docs.filter(col("doc_id") % 3 === 0), "data/b0", ts = 1000L)       // v0
    val nV0 = docs.filter(col("doc_id") % 3 === 0).count()
    val nV01 = docs.filter((col("doc_id") % 3).isin(0, 1)).count()
    val stateDir = s"$dir/_writer"
    // 1. writer A: lease, stage, hflush — tail sees it, default doesn't
    StreamingOps.acquireLease(fs, stateDir, "writerA")
    docs.filter(col("doc_id") % 3 === 1).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/data/b1")
    CommitLog.flush(fs, dir, "writerA", Seq("data/b1"), ts = 1500L)
    val tailSaw = CommitLog.snapshotWithInflight(s, dir).count() == nV01
    val defaultIsolated = CommitLog.snapshot(s, dir).count() == nV0
    // a flushed file is lease-protected: even a zero-grace vacuum
    // (which reclaims ANY uncommitted staging) must leave it alone
    val vacDuringFlush = CommitLog.vacuumOrphans(fs, dir, graceMs = 0L)
    require(vacDuringFlush.isEmpty,
      s"vacuum reclaimed a flushed in-flight file: $vacDuringFlush")
    // 2. close: promote to v1, marker retired, all readers converge
    CommitLog.promoteFlush(s, dir, "writerA", ts = 2000L)
    StreamingOps.releaseLease(fs, stateDir, "writerA")
    val promoted = CommitLog.snapshot(s, dir).count() == nV01 &&
      CommitLog.flushedAdds(fs, dir).isEmpty
    // 3. writer B: stage, hflush, crash; expiry; recovery reclaims
    StreamingOps.acquireLease(fs, stateDir, "writerB", ttlMs = 100L)
    docs.filter(col("doc_id") % 3 === 2).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/data/b2")
    CommitLog.flush(fs, dir, "writerB", Seq("data/b2"), ts = 2500L)
    require(CommitLog.snapshotWithInflight(s, dir).count() == docs.count(),
      "tail read must see the second writer's flushed third")
    Thread.sleep(150L)                          // B's lease expires
    StreamingOps.acquireLease(fs, stateDir, "writerC")            // fence
    val reclaimed = CommitLog.reclaimFlush(fs, dir, "writerB")
    require(reclaimed == Seq("data/b2"),
      s"expected to reclaim exactly data/b2, got $reclaimed")
    val reclaimedGone = !fs.exists(new Path(dir, "data/b2")) &&
      CommitLog.snapshotWithInflight(s, dir).count() == nV01
    (0 to 1).map { v =>
      CommitLog.snapshot(s, dir, version = v)
        .select(GraftHash.charHash(col("text")).as("fp"))
        .agg(count(lit(1)).as("n_docs"),
          (sum(col("fp")) % GraftHash.P).as("checksum"))
        .select(lit(v.toLong).as("version"), col("n_docs"), col("checksum"))
    }.reduce(_ union _)
      .withColumn("tail_saw_flush", lit(tailSaw))
      .withColumn("default_isolated", lit(defaultIsolated))
      .withColumn("promoted_at_close", lit(promoted))
      .withColumn("crash_flush_reclaimed", lit(reclaimedGone))
      .orderBy(col("version"))
  }

  /** LEASE RENEWAL — the writer keepalive (reference
    * ClientProtocol.java:537 renewLease; LeaseManager.java:63 resets
    * the expiry clock per heartbeat: a SLOW writer is not a DEAD
    * writer). Completes the lease lifecycle mapped by
    * lake_lease_recover (crash + takeover) and lake_flush_visibility
    * (mid-write reads): this op proves the heartbeat arm. Ceremony,
    * each edge VERIFIED in-op:
    *
    *  1. SURVIVAL: writer A takes a short-TTL lease and runs a write
    *     that outlives the ORIGINAL TTL, heartbeating
    *     (`StreamingOps.renewLease`) on a cadence; after every beat a
    *     concurrent recovery attempt by writer B must refuse with
    *     LeaseHeldException (`takeover_refused`) — renewal genuinely
    *     moves the fence. A then commits its batch under the renewed
    *     lease past the original expiry (`renewal_survived`).
    *  2. FENCING: A goes silent for one full TTL; B's next attempt
    *     acquires (the competing-client takeover the SOFT limit
    *     licenses), and A's next heartbeat THROWS (`expired_fenced`)
    *     — a fenced writer learns at heartbeat time, never at commit
    *     time.
    *  3. FORCE RECOVERY (r15; FSNamesystem.java:1556-1558 "close
    *     now: no need to wait for soft lease expiration", pinned by
    *     TestLeaseRecovery2.testImmediateRecoveryOfLease): writer C
    *     issues the explicit recoverLease verb against B's LIVE,
    *     renewing lease — it fences IMMEDIATELY, no limit consulted,
    *     and B's next verify dies (`recover_immediate`). The only
    *     pre-soft-expiry fencing authority.
    *
    * Output = both versions' (count, checksum), oracle-recomputed
    * from the source: a takeover that interleaved or a survival that
    * double-committed fails the hash gate. Pure lease-file metadata +
    * the ceremony's own two batch writes at any scale. */
  val lakeRenewLease: GraftQuery = GraftQuery.sql(
    "lake_renew_lease", {
      def v(n: Int, cond: String) =
        s"""SELECT CAST($n AS BIGINT) AS version, COUNT(*) AS n_docs,
           |  CAST(SUM(fp) % ${GraftHash.P} AS BIGINT) AS checksum,
           |  TRUE AS renewal_survived, TRUE AS takeover_refused,
           |  TRUE AS expired_fenced, TRUE AS recover_immediate
           |FROM fp WHERE $cond""".stripMargin
      s"""WITH fp AS (SELECT doc_id % 3 AS m, ${GraftHash.charHashSql("text")} AS fp
         |           FROM documents)
         |${v(0, "m = 0")}
         |UNION ALL
         |${v(1, "m IN (0, 1)")}
         |ORDER BY version""".stripMargin
    }
  ) { (s, d) =>
    import graft.streaming.StreamingOps
    val fs = FileSystem.get(s.sparkContext.hadoopConfiguration)
    val dir = Lake.scratch("renew_lease/table")
    fs.delete(new Path(dir), true)
    val docs = Tables.documents(s, d)
    CommitLog.writeCommit(s, dir,
      docs.filter(col("doc_id") % 3 === 0), "data/b0", ts = 1000L)       // v0
    val stateDir = s"$dir/_writer"
    val ttlMs = 500L
    // 1. slow writer A: the "write" spans 4 heartbeats at 175ms —
    // 700ms elapsed, past the original 500ms TTL — renewing each
    // beat; B probes for takeover after every renewal and must refuse.
    // A host stall >325ms between a renewal and B's probe would let B
    // genuinely win — on THIS host that is a documented bimodal-I/O
    // event, not a mechanism defect, so the survival phase retries in
    // a fresh window instead of crashing or shipping a false flag
    // (self-review r12). The constants are protocol-internal wall
    // time, not part of what the query computes: r18 shrank the
    // ceremony's mandatory sleep mass from 2.1 s to 1.3 s (the op's
    // whole cost class) while keeping the beat/TTL ratio — the same
    // 3-attempt retry absorbs the (slightly likelier) stall case.
    var takeoverRefused = false
    var survived = false
    var phaseDone = false
    var attempts = 0
    while (!phaseDone && attempts < 3) {
      attempts += 1
      try {
        StreamingOps.acquireLease(fs, stateDir, "writerA", ttlMs = ttlMs)
        val t0 = System.nanoTime() // survival clock starts AT the grant
        var refusedAll = true
        (1 to 4).foreach { _ =>
          Thread.sleep(175L)
          StreamingOps.renewLease(fs, stateDir, "writerA", ttlMs = ttlMs)
          val refused =
            try { StreamingOps.acquireLease(fs, stateDir, "writerB", ttlMs = ttlMs); false }
            catch { case _: StreamingOps.LeaseHeldException => true }
          refusedAll &&= refused
        }
        val elapsedMs = (System.nanoTime() - t0) / 1000000L
        StreamingOps.verifyLease(fs, stateDir, "writerA")
        takeoverRefused = refusedAll
        survived = elapsedMs > ttlMs // verified + renewing PAST the original TTL
        phaseDone = true
      } catch {
        case _: StreamingOps.LeaseHeldException =>
          // a stall let a probe win mid-phase; let the short lease
          // lapse so the next attempt can fence it and start clean
          Thread.sleep(ttlMs + 100L)
      }
    }
    require(phaseDone, "renew-lease survival phase could not complete (host stalls)")
    CommitLog.writeCommit(s, dir,
      docs.filter(col("doc_id") % 3 === 1), "data/b1", ts = 2000L)       // v1
    // 2. A goes silent one full TTL: B reclaims, A's heartbeat throws
    Thread.sleep(ttlMs + 100L)
    // B takes over with the DEFAULT (long) soft limit so phase 3's
    // live-lease probes can't be falsified by a host stall
    StreamingOps.acquireLease(fs, stateDir, "writerB")
    val fenced =
      try { StreamingOps.renewLease(fs, stateDir, "writerA", ttlMs = ttlMs); false }
      catch { case _: StreamingOps.LeaseHeldException => true }
    // 3. force recovery: B's lease is LIVE (just granted, soft and
    // hard both ahead), yet C's explicit recoverLease fences at once
    // and B's next verify dies — the reference's force=true path,
    // which waits for no limit
    val probeRefused = // B live: a plain competing acquire still refuses
      try { StreamingOps.acquireLease(fs, stateDir, "writerC", ttlMs = ttlMs); false }
      catch { case _: StreamingOps.LeaseHeldException => true }
    StreamingOps.recoverLease(fs, stateDir, "writerC", ttlMs = ttlMs)
    val bDied =
      try { StreamingOps.verifyLease(fs, stateDir, "writerB"); false }
      catch { case _: StreamingOps.LeaseHeldException => true }
    (0 to 1).map { v =>
      CommitLog.snapshot(s, dir, version = v)
        .select(GraftHash.charHash(col("text")).as("fp"))
        .agg(count(lit(1)).as("n_docs"),
          (sum(col("fp")) % GraftHash.P).as("checksum"))
        .select(lit(v.toLong).as("version"), col("n_docs"), col("checksum"))
    }.reduce(_ union _)
      .withColumn("renewal_survived", lit(survived))
      .withColumn("takeover_refused", lit(takeoverRefused))
      .withColumn("expired_fenced", lit(fenced))
      .withColumn("recover_immediate", lit(probeRefused && bDied))
      .orderBy(col("version"))
  }

  def all: Seq[GraftQuery] =
    Seq(lakeQuarantine, lakeCorruptBoard, lakeStandby, lakeRestoreStorage, lakeScrubCadence,
      lakeLeaseRecover, lakeFlushVisibility, lakeRenewLease, lakeSafemode,
      lakeExportManifest, lakeBlockTokens, lakeTopology, lakeServerDefaults,
      lakeBalancer)
}
