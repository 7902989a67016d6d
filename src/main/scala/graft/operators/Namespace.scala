package graft.operators

import graft.{GraftQuery, Tables}
import graft.functions.GraftHash
import graft.functions.Parity._
import graft.sources.CommitLog
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Namespace features over commit-log tables (SURVEY.md §2): the
  * symlink/view layer, the layout-upgrade ceremony, read-path
  * permission enforcement and metadata touch — the remaining
  * client-protocol surface of the reference namespace
  * (protocol/ClientProtocol.java) re-expressed lake-side.
  */
object Namespace {

  import org.apache.hadoop.fs.{FileSystem, Path}

  /** Namespace RENAME carrying the reference's refusal contract
    * (server/namenode/FSDirectory.java:503 unprotectedRenameTo, pinned
    * by the reference's own test/hdfs/.../TestDFSRename.java): the
    * backing FileSystem alone does NOT give these semantics — POSIX
    * rename(2) silently CLOBBERS an existing destination file, where
    * the reference refuses ("because destination exists",
    * FSDirectory.java:549) — so the contract is enforced here, above
    * the store, exactly where the NameNode enforces it above the
    * DataNodes. Semantics, in the reference's check order:
    *  - source absent → false
    *  - dst an existing DIRECTORY → the move lands at dst/srcName
    *  - dst == src → true, no-op (TestDFSRename: rename /a/b/c /a/b/c)
    *  - dst under src (path-wise, separator-aware: /a/b → /a/b/c
    *    refuses, /testPrefix → /testPrefixfile does not) → false
    *  - dst (after dir resolution) exists → false, never clobbered
    *  - dst's parent absent or not a directory → false
    *    (TestDFSRename: rename to /c/d with /c absent) */
  def renameStrict(fs: FileSystem, src: Path, dst: Path): Boolean = {
    if (!fs.exists(src)) return false
    val target =
      if (fs.exists(dst) && fs.getFileStatus(dst).isDirectory)
        new Path(dst, src.getName)
      else dst
    val (s, t) = (src.toUri.getPath, target.toUri.getPath)
    if (t == s) return true
    if (t.startsWith(s + "/")) return false
    if (fs.exists(target)) return false
    val parent = target.getParent
    if (parent == null || !fs.exists(parent) ||
      !fs.getFileStatus(parent).isDirectory) return false
    fs.rename(src, target)
  }

  /** Namespace DELETE with the reference's non-recursive refusal
    * (server/namenode/FSNamesystem.java:2106: a non-recursive delete
    * of a non-empty directory THROWS "is non empty" and removes
    * nothing — pinned by test/hdfs/.../TestDFSShell.java:145 — while
    * deleting a missing path returns false, never throws). */
  def deleteStrict(fs: FileSystem, p: Path, recursive: Boolean): Boolean = {
    if (!fs.exists(p)) return false
    if (!recursive && fs.getFileStatus(p).isDirectory &&
      fs.listStatus(p).nonEmpty)
      throw new java.io.IOException(s"$p is non empty")
    fs.delete(p, recursive)
  }

  /** Namespace MKDIRS with the reference's contract
    * (server/namenode/FSNamesystem.java:2243 mkdirsInternal, pinned by
    * test/hdfs/.../TestDFSShell.java:937): creates every missing
    * parent; an existing directory answers true ("all the users of
    * mkdirs() are used to expect 'true'"); any existing FILE on the
    * path — the target itself or an ancestor — throws
    * ParentNotDirectoryException (FSDirectory.java:714), never a
    * silent false. */
  def mkdirsStrict(fs: FileSystem, p: Path): Boolean = {
    var anc = p
    while (anc != null && !fs.exists(anc)) anc = anc.getParent
    if (anc != null && !fs.getFileStatus(anc).isDirectory)
      throw new org.apache.hadoop.fs.ParentNotDirectoryException(
        s"$anc (component of $p) is a file, not a directory")
    if (anc != null && anc.toUri.getPath == p.toUri.getPath) true
    else fs.mkdirs(p)
  }

  /** Leave-this-dimension-unchanged sentinel for [[setQuotaStrict]]
    * (the reference's FSConstants.QUOTA_DONT_SET role). */
  val QuotaDontSet: Long = -1L

  private def quotaPath(dir: Path) = new Path(dir, "_quota")

  /** (nsQuota, rowQuota) recorded on a directory; -1 = unset. */
  def readQuota(fs: FileSystem, dir: Path): (Long, Long) = {
    val p = quotaPath(dir)
    if (!fs.exists(p)) (QuotaDontSet, QuotaDontSet)
    else {
      val in = fs.open(p)
      val txt = try new String(
        org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
      finally in.close()
      def malformed = new java.io.IOException(
        s"malformed quota file $p: '${txt.trim.take(64)}'")
      val m = txt.trim.split("\\s+").map { kv =>
        kv.split("=") match {
          case Array(k, v) => k -> v.toLongOption.getOrElse(throw malformed)
          case _ => throw malformed
        }
      }.toMap
      (m.getOrElse("ns", QuotaDontSet), m.getOrElse("rows", QuotaDontSet))
    }
  }

  private def writeQuota(fs: FileSystem, dir: Path, ns: Long, rows: Long): Unit = {
    val out = fs.create(quotaPath(dir), true)
    try out.write(s"ns=$ns rows=$rows\n".getBytes("UTF-8"))
    finally out.close()
  }

  /** SET QUOTA with the reference's refusal contract
    * (protocol/ClientProtocol.java:783 setQuota; pinned by
    * test/hdfs/.../TestQuota.java): the target must EXIST and be a
    * DIRECTORY (cases 14a/14b: set on a non-existent path or on a
    * file is refused); a quota value must be positive (16a/16b: 0
    * and negatives refused) or [[QuotaDontSet]] to leave that
    * dimension unchanged; and — HADOOP-5872, case 11 — setting a
    * quota BELOW current usage SUCCEEDS (enforcement happens at the
    * next write, never retroactively). `rows` is the diskspace
    * dimension with ROWS as the unit: on a columnar store the
    * encoded byte size is layout-dependent, so rows are the
    * deterministic space proxy the oracle can recompute. */
  def setQuotaStrict(fs: FileSystem, dir: Path, ns: Long, rows: Long): Boolean = {
    if (!fs.exists(dir) || !fs.getFileStatus(dir).isDirectory) return false
    if (ns != QuotaDontSet && ns <= 0) return false
    if (rows != QuotaDontSet && rows <= 0) return false
    val (curNs, curRows) = readQuota(fs, dir)
    writeQuota(fs, dir,
      if (ns == QuotaDontSet) curNs else ns,
      if (rows == QuotaDontSet) curRows else rows)
    true
  }

  /** CLEAR QUOTA (ClientProtocol clrQuota via setQuota with the reset
    * sentinel; TestQuota cases 8/9: always succeeds on a directory,
    * 15a/15b: refused on a file or non-existent path). */
  def clrQuotaStrict(fs: FileSystem, dir: Path,
                     ns: Boolean = true, rows: Boolean = true): Boolean = {
    if (!fs.exists(dir) || !fs.getFileStatus(dir).isDirectory) return false
    val (curNs, curRows) = readQuota(fs, dir)
    writeQuota(fs, dir,
      if (ns) QuotaDontSet else curNs,
      if (rows) QuotaDontSet else curRows)
    true
  }

  /** Current usage under a quota directory: (entries, rows) — the
    * entry listing plus parquet FOOTER counts, metadata-proportional
    * at any data size (the ContentSummary read TestQuota's `count -q`
    * exercises). A failed usage read PROPAGATES (ADVICE r14): the
    * quota gate must fail CLOSED — swallowing a transient read error
    * into rows=0 would under-count usage and admit a write past the
    * quota; the reference's verifyQuota has no such bypass (an
    * unreadable namespace is an error, never usage-zero). */
  def quotaUsage(spark: org.apache.spark.sql.SparkSession,
                 dir: Path): (Long, Long) = {
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return (0L, 0L)
    val entries = fs.listStatus(dir).count(_.getPath.getName != "_quota")
    // Footer row counts read DIRECTLY on the driver (r18): the count
    // is parquet footer metadata either way, but `read.parquet(...)
    // .count()` schedules a full Spark job per probe — and this
    // ceremony probes usage ~23 times (15 steps + 8 admissions), so
    // job-scheduling overhead WAS the op's cost. O(entries) footer
    // opens per probe. The walk recurses and THROWS on foreign
    // entries (ADVICE r18: skipping them under-counts usage, the
    // fail-open direction); an EMPTY directory entry is vacuous usage
    // (zero rows), not a read failure — TestQuota's admission arena
    // counts empty entries against the namespace quota with no data.
    val conf = spark.sparkContext.hadoopConfiguration
    val rows = Lake.dataFiles(fs, dir).map(Lake.partRows(conf, _)).sum
    (entries.toLong, rows)
  }

  /** WRITE-TIME quota admission — the FSDirectory.verifyQuota gate
    * (FSDirectory.java:1362, thrown as
    * NSQuotaExceededException/DSQuotaExceededException with the
    * reference's message shapes): an arrival that would push usage
    * past either quota REFUSES by throwing, before any data moves.
    * O(entries) metadata per admission. */
  def admitQuota(spark: org.apache.spark.sql.SparkSession, dir: Path,
                 addEntries: Long, addRows: Long): Unit = {
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val (nsQ, rowQ) = readQuota(fs, dir)
    val (usedNs, usedRows) = quotaUsage(spark, dir)
    if (nsQ != QuotaDontSet && usedNs + addEntries > nsQ)
      throw new java.io.IOException(
        s"The NameSpace quota (directories and files) of directory $dir " +
          s"is exceeded: quota=$nsQ file count=${usedNs + addEntries}")
    if (rowQ != QuotaDontSet && usedRows + addRows > rowQ)
      throw new java.io.IOException(
        s"The DiskSpace quota of $dir is exceeded: quota=$rowQ " +
          s"rows consumed=${usedRows + addRows}")
  }

  /** Symlink / view layer (reference protocol/ClientProtocol.java:839
    * createSymlink, :855 getLinkTarget): named aliases over commit-log
    * tables, optionally pinned to a version — `orders_v0` is a frozen
    * view, `orders_live` follows the head, `orders_alias` chains
    * through another link. Each read resolves the chain (driver-side
    * metadata, O(depth)) then replays the journal — the data scan is
    * an ordinary pruned parquet read. The oracle recomputes each
    * view's expected content from the base table. */
  val lakeLinks: GraftQuery = GraftQuery.sql(
    "lake_links",
    s"""SELECT 'orders_alias' AS link_name, 'orders_log' AS target, FALSE AS pinned,
       |  COUNT(*) AS n_rows, ${sumMSql("o_totalprice")} AS total
       |FROM orders WHERE o_orderkey % 3 IN (0, 1)
       |UNION ALL
       |SELECT 'orders_live', 'orders_log', FALSE, COUNT(*), ${sumMSql("o_totalprice")}
       |FROM orders WHERE o_orderkey % 3 IN (0, 1)
       |UNION ALL
       |SELECT 'orders_v0', 'orders_log', TRUE, COUNT(*), ${sumMSql("o_totalprice")}
       |FROM orders WHERE o_orderkey % 3 = 0
       |ORDER BY link_name""".stripMargin
  ) { (s, d) =>
    val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
    val root = Lake.scratch("links_ns")
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    val o = Tables.orders(s, d)
    CommitLog.writeCommit(s, s"$root/orders_log",
      o.filter(col("o_orderkey") % 3 === 0), "data/mod0", ts = 1000L)  // v0
    CommitLog.writeCommit(s, s"$root/orders_log",
      o.filter(col("o_orderkey") % 3 === 1), "data/mod1", ts = 2000L)  // v1
    CommitLog.createLink(fs, root, "orders_live", "orders_log")
    CommitLog.createLink(fs, root, "orders_v0", "orders_log", version = Some(0))
    CommitLog.createLink(fs, root, "orders_alias", "orders_live")     // chain
    val links = CommitLog.listLinks(fs, root)
    links.map { l =>
      val (target, pin) = CommitLog.resolveLink(fs, root, l.name)
      CommitLog.readLink(s, root, l.name)
        .agg(count(lit(1)).as("n_rows"), sumM(col("o_totalprice")).as("total"))
        .select(lit(l.name).as("link_name"), lit(target).as("target"),
          lit(pin.isDefined).as("pinned"), col("n_rows"), col("total"))
    }.reduce(_ union _).orderBy(col("link_name"))
  }

  /** Layout upgrade/rollback ceremony (reference
    * protocol/ClientProtocol.java:684 finalizeUpgrade, :694
    * distributedUpgradeProgress): the table starts on a narrow layout,
    * upgrades to a widened one in a single tagged swap commit, rolls
    * back (metadata flip — the pre-upgrade files were never touched),
    * re-upgrades and finalizes, closing the rollback window. Each
    * stage's state is an ordinary journal replay; the oracle
    * recomputes every stage from the base table (n_cols pins which
    * layout was live). */
  val lakeUpgrade: GraftQuery = GraftQuery.sql(
    "lake_upgrade",
    s"""SELECT '1_initial' AS stage, COUNT(*) AS n_rows, 2 AS n_cols,
       |  ${sumMSql("o_totalprice")} AS total FROM orders
       |UNION ALL
       |SELECT '2_upgraded', COUNT(*), 3, ${sumMSql("o_totalprice")} FROM orders
       |UNION ALL
       |SELECT '3_rolled_back', COUNT(*), 2, ${sumMSql("o_totalprice")} FROM orders
       |UNION ALL
       |SELECT '4_finalized', COUNT(*), 3, ${sumMSql("o_totalprice")} FROM orders
       |ORDER BY stage""".stripMargin
  ) { (s, d) =>
    val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
    val dir = Lake.scratch("upgrade_orders")
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    val o = Tables.orders(s, d)
    val narrow = o.select(col("o_orderkey"), col("o_totalprice"))
    val wide = o.select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
    CommitLog.writeCommit(s, dir, narrow, "data/narrow", ts = 1000L)
    def stage(name: String): DataFrame = {
      val snap = CommitLog.snapshot(s, dir)
      snap.agg(count(lit(1)).as("n_rows"), sumM(col("o_totalprice")).as("total"))
        .select(lit(name).as("stage"), col("n_rows"),
          lit(snap.columns.length).as("n_cols"), col("total"))
    }
    val s1 = stage("1_initial")
    CommitLog.startUpgrade(s, dir, wide, "data/wide1", ts = 2000L)
    val s2 = stage("2_upgraded")
    CommitLog.rollbackUpgrade(fs, dir, ts = 3000L)
    val s3 = stage("3_rolled_back")
    CommitLog.startUpgrade(s, dir, wide, "data/wide2", ts = 4000L)
    CommitLog.finalizeUpgrade(fs, dir, ts = 5000L)
    val s4 = stage("4_finalized")
    s1.union(s2).union(s3).union(s4).orderBy(col("stage"))
  }

  /** FULL-WALK permission enforcement (reference
    * server/namenode/FSPermissionChecker.java:105 checkPermission;
    * test sweep TestDFSPermission.java:477 — every verb's verifier
    * carries opAncestorPermission = SEARCH_MASK): the namespace is
    * HIERARCHICAL (/data → /data/<source> → /data/<source>/docs),
    * mutated with the reference's verbs (ClientProtocol.java:247
    * setOwner hands the src1* dirs to web-team; :230 setPermission
    * drops their other-x bit to 740 and revokes src3's terminal read
    * to 600), then every read request is routed through
    * api.Graft.lake.checkAccess as principal `ingest` (groups:
    * `ops`) — EXECUTE demanded on every ancestor component, read on
    * the terminal. The decisive case is src1: its terminal `docs`
    * entry is world-readable 604, but its DIRECTORY lost x for the
    * other class, so the walk refuses at the ancestor — the flat
    * per-entry class check (the r13 ceremony) would have admitted
    * it. src3 is the converse: ancestors grant x, the terminal's
    * 600 refuses at the read bit. The checksum proves the surviving
    * rows are exactly the permitted content. */
  val lakeAclEnforce: GraftQuery = GraftQuery.sql(
    "lake_acl_enforce",
    s"""WITH ns AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
       |acl AS (SELECT source,
       |  CASE WHEN source LIKE 'src1%' THEN 'web-team' ELSE 'ingest' END AS dir_owner,
       |  CASE WHEN source LIKE 'src1%' THEN 740 ELSE 750 END AS dir_mode,
       |  CASE WHEN source = 'src3' THEN 600 ELSE 604 END AS file_mode
       |  FROM ns),
       |cls AS (SELECT source,
       |  CASE WHEN dir_owner = 'ingest' THEN (dir_mode // 100) % 10
       |       ELSE dir_mode % 10 END AS dir_digit,
       |  file_mode % 10 AS file_digit
       |  FROM acl),
       |allowed AS (SELECT source FROM cls WHERE
       |  ((755 // 100) % 10) % 2 = 1
       |  AND dir_digit % 2 = 1
       |  AND (file_digit // 4) % 2 = 1),
       |fp AS (SELECT d.source, ${GraftHash.charHashSql("d.text")} AS fp
       |       FROM documents d JOIN allowed a ON d.source = a.source)
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(fp) % ${GraftHash.P} AS BIGINT) AS checksum
       |FROM fp GROUP BY source ORDER BY source""".stripMargin
  ) { (s, d) =>
    import graft.api.Graft
    val docs = Tables.documents(s, d)
    // cached: the namespace skeleton below references this 4-row
    // frame from every manifest arm AND the owner-gate checks
    val srcs = graft.ScopedCache(docs.select(col("source")).distinct())
    // hierarchical namespace manifest: root, per-source dir, terminal
    val root = s.range(1).select(lit("/data").as("entry"),
      lit("ingest").as("owner"), lit("data").as("grp"), lit(755).as("mode"))
    val dirs0 = srcs.select(concat(lit("/data/"), col("source")).as("entry"),
      lit("ingest").as("owner"), lit("data").as("grp"), lit(750).as("mode"))
    val files0 = srcs.select(
      concat(lit("/data/"), col("source"), lit("/docs")).as("entry"),
      lit("web-team").as("owner"), lit("data").as("grp"), lit(604).as("mode"))
    // the mutation verbs, then the walk — the revoke is visible to
    // the NEXT check (testPermissionSetting's set-then-recheck).
    // OWNER-GATED (reference FSPermissionChecker.java:147-151
    // checkOwner, doCheckOwner=true on the setPermission/setOwner
    // paths): the handover runs as superuser (only the superuser may
    // reassign ownership), each chmod runs AS the entry's owner —
    // and an unauthorized caller refuses loudly before anything
    // mutates, never silently no-ops.
    val unauthorized =
      try { // files are web-team's; ingest may not chmod them
        Graft.lake.chmodAs(files0, col("entry") === "/data/src3/docs", 600,
          caller = "ingest")
        false
      } catch { case _: org.apache.hadoop.security.AccessControlException => true }
    require(unauthorized, "non-owner chmod must refuse (checkOwner)")
    val dirs = Graft.lake.chmodAs(
      Graft.lake.chownAs(dirs0, col("entry").startsWith("/data/src1"),
        "web-team", null, caller = "admin", superuser = true),
      col("entry").startsWith("/data/src1"), 740, caller = "web-team")
    val files = Graft.lake.chmodAs(files0, col("entry") === "/data/src3/docs", 600,
      caller = "web-team")
    val manifest = root.unionByName(dirs).unionByName(files)
    val requests = srcs.select(col("source").as("req_id"),
      concat(lit("/data/"), col("source"), lit("/docs")).as("path"),
      lit("r").as("need"))
    val allowed = Graft.lake.checkAccess(manifest, "entry", requests, "ingest", Seq("ops"))
      .filter(col("allowed")).select(col("req_id").as("a_src"))
    docs.join(broadcast(allowed), col("source") === col("a_src"), "left_semi")
      .select(col("source"), GraftHash.charHash(col("text")).as("fp"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), (sum(col("fp")) % GraftHash.P).as("checksum"))
      .orderBy(col("source"))
  }

  /** setTimes metadata touch (reference
    * protocol/ClientProtocol.java:817): the namespace manifest carries
    * mtime/atime derived from content; a touch rewrites mtime on the
    * matched entries while atime = -1 leaves access times unchanged —
    * the reference's leave-unchanged sentinel, as a columnar
    * transform. */
  val lakeSetTimes: GraftQuery = GraftQuery.sql(
    "lake_set_times",
    """WITH ns AS (SELECT source,
      |  CAST(MAX(doc_id) * 1000 AS BIGINT) AS mtime,
      |  CAST(MIN(doc_id) * 1000 AS BIGINT) AS atime,
      |  COUNT(*) AS n_docs FROM documents GROUP BY source)
      |SELECT source,
      |  CAST(CASE WHEN source LIKE 'src1%' THEN 999000 ELSE mtime END AS BIGINT) AS mtime,
      |  atime, n_docs
      |FROM ns ORDER BY source""".stripMargin
  ) { (s, d) =>
    import graft.api.Graft
    val ns = Tables.documents(s, d)
      .groupBy(col("source"))
      .agg((max(col("doc_id")) * 1000).as("mtime"),
        (min(col("doc_id")) * 1000).as("atime"),
        count(lit(1)).as("n_docs"))
    Graft.lake.setTimes(ns, col("source").startsWith("src1"), mtime = 999000L, atime = -1L)
      .select(col("source"), col("mtime"), col("atime"), col("n_docs"))
      .orderBy(col("source"))
  }

  /** Delegation-token lifecycle (reference
    * protocol/ClientProtocol.java:893 getDelegationToken, :903
    * renewDelegationToken, :912 cancelDelegationToken): per-source
    * tokens issued off content metadata, renewable ones extended,
    * two cancelled, then a read at a later instant routed through
    * enforceToken — non-renewed tokens have expired, cancelled ones
    * are gone, so only the renewed survivors return rows. The oracle
    * recomputes the full lifecycle in SQL. */
  val lakeDelegation: GraftQuery = GraftQuery.sql(
    "lake_delegation",
    """WITH tok AS (SELECT source,
      |    CAST(MIN(doc_id) * 1000 AS BIGINT) AS issued_at,
      |    CAST(MIN(doc_id) * 1000 + 30000 AS BIGINT) AS expires_at,
      |    source LIKE 'src1%' AS renewable
      |  FROM documents GROUP BY source),
      |renewed AS (SELECT source, issued_at,
      |    CASE WHEN renewable THEN expires_at + 500000 ELSE expires_at END AS expires_at,
      |    renewable
      |  FROM tok WHERE source NOT IN ('src10', 'src11')),
      |valid AS (SELECT * FROM renewed WHERE expires_at > 40000)
      |SELECT d.source, COUNT(*) AS n_docs, v.expires_at
      |FROM documents d JOIN valid v ON d.source = v.source
      |GROUP BY d.source, v.expires_at ORDER BY d.source""".stripMargin
  ) { (s, d) =>
    import graft.api.Graft
    val docs = Tables.documents(s, d)
    val issued = docs.groupBy(col("source"))
      .agg((min(col("doc_id")) * 1000).as("issued_at"),
        (min(col("doc_id")) * 1000 + 30000).as("expires_at"))
      .withColumn("renewable", col("source").startsWith("src1"))
    val renewed = Graft.lake.renewTokens(issued, lit(true), extendMs = 500000L)
    val tokens = Graft.lake.cancelTokens(renewed, col("source").isin("src10", "src11"))
    Graft.lake.enforceToken(docs, tokens, "source", asOfMillis = 40000L)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"))
      .join(tokens.select(col("source").as("t_src"), col("expires_at")),
        col("source") === col("t_src"))
      .select(col("source"), col("n_docs"), col("expires_at"))
      .orderBy(col("source"))
  }

  /** Retention-bounded commit-log vacuum (reference
    * namenode/NameNode.java:474 startTrashEmptier +
    * FSImage.java:1 checkpoint-then-purge discipline): history builds
    * up (insert / insert / delete / CHECKPOINT / insert), a staged-but-
    * never-committed writer dir plays the crash leftover, then
    * dropHistoryBefore cuts the journal at the checkpoint — the image
    * commit is a self-contained replay start, so every retained
    * version still reconstructs — and vacuums every data dir no
    * retained commit references. The output audits the contract:
    * versions dropped, dirs reclaimed, history floor, and the head
    * row count (which the oracle recomputes from the base table; the
    * counts are write-contract constants like lake_health's
    * n_files). */
  val lakeVacuum: GraftQuery = GraftQuery.sql(
    "lake_vacuum",
    """SELECT 'dirs_vacuumed' AS check_name, CAST(3 AS BIGINT) AS n
      |UNION ALL
      |SELECT 'head_rows',
      |  (SELECT COUNT(*) FROM orders WHERE o_orderkey % 3 IN (1, 2))
      |UNION ALL
      |SELECT 'history_floor', CAST(3 AS BIGINT)
      |UNION ALL
      |SELECT 'versions_dropped', CAST(3 AS BIGINT)
      |ORDER BY check_name""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
    val dir = Lake.scratch("vacuum_orders")
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    val o = Tables.orders(s, d)
    def slice(r: Int) = o.filter(col("o_orderkey") % 3 === r)
    CommitLog.writeCommit(s, dir, slice(0), "data/mod0", ts = 1000L)            // v0
    CommitLog.writeCommit(s, dir, slice(1), "data/mod1", ts = 2000L)            // v1
    CommitLog.commit(fs, dir, ts = 3000L, adds = Nil, removes = Seq("data/mod0")) // v2
    val ckptV = CommitLog.checkpoint(s, dir, ts = 4000L)                        // v3: image
    CommitLog.writeCommit(s, dir, slice(2), "data/mod2", ts = 5000L)            // v4
    // a crashed writer's staged-but-uncommitted dir
    slice(0).limit(1).write.mode("overwrite").parquet(s"$dir/data/staged_orphan")
    def dataDirs: Set[String] = fs.listStatus(new org.apache.hadoop.fs.Path(dir, "data"))
      .map(_.getPath.getName).toSet
    val before = dataDirs
    val dropped = CommitLog.dropHistoryBefore(fs, dir, ckptV, graceMs = 0L)
    val floor = CommitLog.commits(fs, dir).head.version
    val vacuumed = (before -- dataDirs).size.toLong // mod0, mod1, the orphan
    // the contract is asserted, not assumed: what remains on disk must
    // be exactly the image and the post-checkpoint add
    val left = dataDirs.toSeq.sorted
    require(left == Seq(s"ckpt-$ckptV", "mod2"), s"unexpected data dirs after vacuum: $left")
    val headRows = CommitLog.snapshot(s, dir).count()
    Seq(
      ("dirs_vacuumed", vacuumed),
      ("head_rows", headRows),
      ("history_floor", floor.toLong),
      ("versions_dropped", dropped.size.toLong)
    ).toDF("check_name", "n").orderBy(col("check_name"))
  }

  /** DECOMMISSION / DRAIN a storage directory (reference
    * server/namenode/DecommissionManager.java:1 — a node is retired
    * only after its blocks are re-replicated elsewhere;
    * ClientProtocol.java:675 refreshNodes starts the ceremony). Lake
    * analogue: the table's journal references files across several
    * storage dirs; draining one rewrites ITS rows into a surviving
    * location (data I/O proportional to the drained dir, never the
    * table), swaps the references in one checkpoint-marked commit,
    * and retention then physically retires the dir. Every surviving
    * file keeps its byte identity — only the drained bytes move,
    * exactly the decommission re-replication contract. Content is
    * unchanged by construction; the oracle checks exactly that. */
  val lakeDrain: GraftQuery = GraftQuery.sql(
    "lake_drain",
    s"""SELECT o_orderstatus, COUNT(*) AS n, ${sumMSql("o_totalprice")} AS total
       |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin
  ) { (s, d) =>
    val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
    val dir = Lake.scratch("drain_orders")
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    val o = Tables.orders(s, d)
    def slice(r: Int) = o.filter(col("o_orderkey") % 3 === r)
    CommitLog.writeCommit(s, dir, slice(0), "data/store0", ts = 1000L)
    CommitLog.writeCommit(s, dir, slice(1), "data/store1", ts = 2000L)
    CommitLog.writeCommit(s, dir, slice(2), "data/store2", ts = 3000L)
    val (v, _) = CommitLog.drain(s, dir, "data/store1", "data/absorbed1", ts = 4000L)
    CommitLog.dropHistoryBefore(fs, dir, v, graceMs = 0L) // physical retire
    CommitLog.snapshot(s, dir)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sumM(col("o_totalprice")).as("total"))
      .orderBy(col("o_orderstatus"))
  }

  /** RESTORE-to-version — undelete as one metadata commit (reference
    * FSImage.java:1 rollback; NameNode.java:474 trash semantics:
    * deletion is reversible while the metadata survives). Time travel
    * (lake_time_travel) READS an old version; restore makes it
    * CURRENT again — one journal commit of set differences, zero data
    * rewrite at any table size — and the table then diverges from the
    * restored lineage under new commits, with all pre-restore
    * versions still readable. Here: v0..v2 accrete three slices, a
    * bad v2 is unwound by restoring v1, and a post-restore append
    * lands on the restored lineage — final content is slices 0,1,3. */
  val lakeRestore: GraftQuery = GraftQuery.sql(
    "lake_restore",
    s"""SELECT o_orderstatus, COUNT(*) AS n, ${sumMSql("o_totalprice")} AS total
       |FROM orders WHERE o_orderkey % 4 IN (0, 1, 3)
       |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin
  ) { (s, d) =>
    val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
    val dir = Lake.scratch("restore_orders")
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    val o = Tables.orders(s, d)
    def slice(r: Int) = o.filter(col("o_orderkey") % 4 === r)
    CommitLog.writeCommit(s, dir, slice(0), "data/m0", ts = 1000L) // v0
    CommitLog.writeCommit(s, dir, slice(1), "data/m1", ts = 2000L) // v1
    CommitLog.writeCommit(s, dir, slice(2), "data/m2", ts = 3000L) // v2: the bad commit
    CommitLog.restore(fs, dir, v = 1, ts = 4000L)                  // unwind it
    CommitLog.writeCommit(s, dir, slice(3), "data/m3", ts = 5000L) // diverge
    CommitLog.snapshot(s, dir)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sumM(col("o_totalprice")).as("total"))
      .orderBy(col("o_orderstatus"))
  }

  /** CHECKPOINT CADENCE (reference server/namenode/Checkpointer.java:1
    * — the image is rewritten when the edit log outgrows a threshold,
    * not on every commit; SecondaryNameNode.java:1): replay cost is
    * bounded by checkpointing ON A CADENCE. maybeCheckpoint replays
    * the journal head (metadata) and images only when
    * commits-since-image exceed the threshold. The image is a
    * METADATA image — a journal commit re-listing the active set, no
    * data copied (the reference's fsimage) — so at 100 TB the cadence
    * costs one small log file per N commits while head replay stays
    * O(N). Here: 4 slice commits trip a cadence of 3 (one metadata
    * image, no data write), the follow-up call declines (replay = 0),
    * and a post-image append replays from the image — content equals
    * the full table either way, which is what the oracle checks. */
  val lakeCheckpointCadence: GraftQuery = GraftQuery.sql(
    "lake_checkpoint_cadence",
    s"""SELECT o_orderpriority, COUNT(*) AS n, ${sumMSql("o_totalprice")} AS total
       |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin
  ) { (s, d) =>
    val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
    val dir = Lake.scratch("ckpt_cadence_orders")
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    val o = Tables.orders(s, d)
    // Ceremony job diet (VERDICT r8 #5): ONE partitioned write lays
    // down all five slice dirs; the five commits are then pure
    // journal metadata. Replay-identical to one write per commit —
    // each version references exactly the same rows — but the
    // sequential Spark-job depth is layout(1) + final read (the
    // metadata image schedules no job), not one table scan per commit.
    o.withColumn("m", pmod(col("o_orderkey"), lit(5)))
      .write.partitionBy("m").mode("overwrite").parquet(s"$dir/data")
    (0 to 3).foreach(r =>
      CommitLog.commit(fs, dir, ts = 1000L * (r + 1),
        adds = Seq(s"data/m=$r"), removes = Seq.empty))
    val v = CommitLog.maybeCheckpoint(s, dir, ts = 5000L, maxReplay = 3)
    require(v.nonEmpty, "4 commits over a cadence of 3 must checkpoint")
    require(CommitLog.maybeCheckpoint(s, dir, ts = 6000L, maxReplay = 3).isEmpty,
      "replay of 0 right after the image must decline")
    CommitLog.commit(fs, dir, ts = 7000L, adds = Seq("data/m=4"), removes = Seq.empty)
    CommitLog.snapshot(s, dir)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), sumM(col("o_totalprice")).as("total"))
      .orderBy(col("o_orderpriority"))
  }

  /** SAVE NAMESPACE — the admin's explicit image-NOW verb (reference
    * protocol/ClientProtocol.java:660 saveNamespace; dfsadmin
    * -saveNamespace). lake_checkpoint_cadence is the POLICY trigger
    * (Checkpointer.java images when the edit log outgrows a
    * threshold); this is the OPERATOR's verb — "image now, before I
    * do something risky" — at any replay length except zero: when the
    * journal head is already an image the verb DECLINES instead of
    * stamping a redundant image. Each save commits a metadata image
    * (the active set re-listed in the journal, no data copied).
    * Ceremony: three slice commits, an
    * explicit save (images at any replay length — the cadence would
    * not have fired), a second save that must decline, a post-image
    * append, and a final save that images again. After each save,
    * replay-from-image is 0 commits — the "bounded replay after"
    * contract. All requires assert the verb's state machine; the
    * oracle pins the contract constants plus the head content
    * (count + exact cents total) recomputed from the source table —
    * an image that lost or duplicated an entry fails the gate. */
  val lakeSaveNamespace: GraftQuery = GraftQuery.sql(
    "lake_save_namespace",
    """SELECT 'declined_when_fresh' AS check_name, CAST(1 AS BIGINT) AS n
      |UNION ALL SELECT 'head_rows', (SELECT COUNT(*) FROM orders)
      |UNION ALL SELECT 'head_total_cents',
      |  (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2)) * 100) AS BIGINT)
      |   FROM orders)
      |UNION ALL SELECT 'images_written', CAST(2 AS BIGINT)
      |UNION ALL SELECT 'replay_after_save', CAST(0 AS BIGINT)
      |ORDER BY check_name""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
    val dir = Lake.scratch("save_namespace_orders")
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    val o = Tables.orders(s, d)
    // ceremony job diet: ONE partitioned write lays down all 4 slices
    o.withColumn("m", pmod(col("o_orderkey"), lit(4)))
      .write.partitionBy("m").mode("overwrite").parquet(s"$dir/data")
    (0 to 2).foreach(r =>
      CommitLog.commit(fs, dir, ts = 1000L * (r + 1),
        adds = Seq(s"data/m=$r"), removes = Seq.empty))
    def replayLen: Int = {
      val cs = CommitLog.commits(fs, dir)
      val lastCkpt = cs.filter(_.isCheckpoint).lastOption.map(_.version).getOrElse(-1)
      cs.count(_.version > lastCkpt)
    }
    require(CommitLog.maybeCheckpoint(s, dir, ts = 3500L, maxReplay = 5).isEmpty,
      "cadence of 5 must not fire at replay 3 — this save is the admin's call")
    val img1 = CommitLog.saveNamespace(s, dir, ts = 4000L)
    require(img1.nonEmpty, "explicit save must image at any replay length")
    require(replayLen == 0, s"replay after save must be 0, was $replayLen")
    val declined = CommitLog.saveNamespace(s, dir, ts = 5000L).isEmpty
    require(declined, "save with the head already an image must decline")
    CommitLog.commit(fs, dir, ts = 6000L, adds = Seq("data/m=3"), removes = Seq.empty)
    val img2 = CommitLog.saveNamespace(s, dir, ts = 7000L)
    require(img2.nonEmpty && replayLen == 0, "post-append save must image again")
    val head = CommitLog.snapshot(s, dir)
      .agg(count(lit(1)).as("n_rows"),
        expr("cast(sum(cast(o_totalprice as decimal(15,2)) * 100) as bigint)")
          .as("cents"))
      .collect().head
    Seq(
      ("declined_when_fresh", if (declined) 1L else 0L),
      ("head_rows", head.getLong(0)),
      ("head_total_cents", head.getLong(1)),
      ("images_written", Seq(img1, img2).flatten.size.toLong),
      ("replay_after_save", replayLen.toLong)
    ).toDF("check_name", "n").orderBy(col("check_name"))
  }

  /** JOURNAL AUDIT — the offline-edits-viewer surface (reference
    * tools/offlineEditsViewer/OfflineEditsViewer.java:49, and the
    * image twin tools/offlineImageViewer/OfflineImageViewer.java:1):
    * introspect the commit journal itself — per version: action
    * counts, checkpoint marker, ceremony tag, and the ACTIVE file
    * count after replaying through that version (the "what does the
    * namespace look like after each txn" view). The audited history
    * exercises one of every journal construct — plain adds, a
    * remove, a checkpoint image, a post-image append, and a tagged
    * RESTORE ceremony — so the audit row shapes are write-contract
    * constants the oracle pins literally (the lake_vacuum
    * discipline). Replay is driver-side metadata, O(versions) at any
    * table size; the operator output is rows-per-version, never
    * rows-per-file. */
  val lakeJournalAudit: GraftQuery = GraftQuery.sql(
    "lake_journal_audit",
    """SELECT * FROM (
      |  SELECT CAST(0 AS BIGINT) AS version, CAST(1000 AS BIGINT) AS ts,
      |    CAST(1 AS BIGINT) AS n_adds, CAST(0 AS BIGINT) AS n_removes,
      |    CAST(0 AS BIGINT) AS is_checkpoint, '' AS tag, CAST(1 AS BIGINT) AS n_active
      |  UNION ALL SELECT 1, 2000, 1, 0, 0, '', 2
      |  UNION ALL SELECT 2, 3000, 0, 1, 0, '', 1
      |  UNION ALL SELECT 3, 4000, 1, 1, 1, '', 1
      |  UNION ALL SELECT 4, 5000, 1, 0, 0, '', 2
      |  UNION ALL SELECT 5, 6000, 2, 2, 0, 'restore', 2
      |) ORDER BY version""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
    val dir = Lake.scratch("journal_audit_region")
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    val r = Tables.region(s, d)
    CommitLog.writeCommit(s, dir, r.filter(col("r_regionkey") < 3), "data/a", ts = 1000L)
    CommitLog.writeCommit(s, dir, r.filter(col("r_regionkey") >= 3), "data/b", ts = 2000L)
    CommitLog.commit(fs, dir, ts = 3000L, adds = Nil, removes = Seq("data/a"))
    CommitLog.checkpoint(s, dir, ts = 4000L)
    CommitLog.writeCommit(s, dir, r.filter(col("r_regionkey") === 0), "data/c", ts = 5000L)
    CommitLog.restore(fs, dir, v = 1, ts = 6000L)
    // One journal read + one incremental fold: per-version n_active in
    // O(V), not the O(V^2) of replaying activeFiles for each version.
    val rows = CommitLog.journalTimeline(CommitLog.commits(fs, dir)).map { case (c, nActive) =>
      (c.version.toLong, c.ts, c.adds.size.toLong, c.removes.size.toLong,
        if (c.isCheckpoint) 1L else 0L, c.tags.toSeq.sorted.headOption.getOrElse(""),
        nActive)
    }
    rows.toDF("version", "ts", "n_adds", "n_removes", "is_checkpoint", "tag", "n_active")
      .orderBy(col("version"))
  }

  /** CLIENT TRASH — the recoverable-delete surface (reference
    * NameNode.java:474 startTrashEmptier runs the emptier thread;
    * TestHDFSTrash.java:1 pins the user-visible contract): `rm` MOVES
    * the entry into `.Trash/Current` instead of destroying bytes, a
    * trash CHECKPOINT rolls Current into a timestamped dir, the
    * emptier EXPUNGES checkpoints older than the interval, and an
    * UNDELETE before expiry restores the entry byte-identically.
    * Distinct from lake_restore (Namespace): restore rolls the whole
    * TABLE back to a journal version; trash is per-PATH — each rm'd
    * entry is individually recoverable until its checkpoint ages out,
    * with no table-wide rollback. Every trash step is fs metadata
    * (rename/list/delete of entry dirs + one journal commit) —
    * nothing data-proportional at any table size.
    *
    * Ceremony: four slices land; slice1 is rm'd and its trash
    * checkpoint ages past the interval (expunged — unrecoverable by
    * design), slice2 is rm'd later and undeleted from Current before
    * any checkpoint. Final content = slices 0, 2, 3, which is exactly
    * what the oracle recomputes from the source table. */
  val lakeTrash: GraftQuery = GraftQuery.sql(
    "lake_trash",
    s"""SELECT o_orderstatus, COUNT(*) AS n, ${sumMSql("o_totalprice")} AS total
       |FROM orders WHERE o_orderkey % 4 IN (0, 2, 3)
       |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin
  ) { (s, d) =>
    val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
    def p(x: String) = new org.apache.hadoop.fs.Path(x)
    val dir = Lake.scratch("trash_orders")
    fs.delete(p(dir), true)
    val o = Tables.orders(s, d)
    // Ceremony job diet: ONE partitioned write lays down all four
    // slice dirs; the four commits are then pure metadata renames.
    o.withColumn("m", col("o_orderkey") % 4)
      .write.partitionBy("m").parquet(s"$dir/_stage")
    (0 until 4).foreach { i =>
      fs.mkdirs(p(s"$dir/data"))
      require(fs.rename(p(s"$dir/_stage/m=$i"), p(s"$dir/data/m$i")),
        s"staging slice m=$i missing or rename failed")
      CommitLog.commit(fs, dir, ts = 1000L * (i + 1),
        adds = Seq(s"data/m$i"), removes = Nil)
    }
    val trash = s"$dir/_trash"
    /** rm: journal remove + physical move into .Trash/Current — the
      * entry name keeps its path shape so undelete is a pure rename. */
    def trashRm(rel: String, ts: Long): Unit = {
      fs.mkdirs(p(s"$trash/Current/data"))
      require(fs.rename(p(s"$dir/$rel"), p(s"$trash/Current/$rel")),
        s"trash move failed for $rel")
      CommitLog.commit(fs, dir, ts, adds = Nil, removes = Seq(rel))
    }
    // STICKY-BIT GUARD on the rm path (reference FSPermissionChecker
    // .java:209 checkStickyBit, applied whenever the parent is being
    // written — exactly this rm; TestDFSPermission's sticky sweep):
    // the data dir is 1770-sticky, so write-on-dir is NOT enough —
    // only the dir owner or the entry's own owner may rm, the /tmp
    // rule. A same-group writer refuses on the sticky dir but passes
    // the 770 control; owner and dir-owner both pass. Metadata-only:
    // a literal manifest mirroring the ceremony dirs, broadcast joins.
    {
      import s.implicits._
      val nsm = Seq(
        ("/", "root", "data", 755),
        ("/data", "ingest", "data", 1770),
        ("/data/m1", "alice", "data", 640),
        ("/plain", "ingest", "data", 770),
        ("/plain/f", "alice", "data", 640))
        .toDF("entry", "owner", "grp", "mode")
      val rmReq = Seq(("rm_m1", "/data/m1"), ("rm_f", "/plain/f"))
        .toDF("req_id", "path")
      // all three principals' verdicts in ONE job (ceremony job diet:
      // per-principal collects cost a scheduler round-trip each)
      val verdicts = Seq("mallory", "alice", "ingest").map { who =>
        graft.api.Graft.lake.checkDelete(nsm, "entry", rmReq, who, Seq("data"))
          .withColumn("who", lit(who))
      }.reduce(_ unionByName _).collect()
        .map(r => (r.getString(2), r.getString(0)) -> r.getBoolean(1)).toMap
      require(!verdicts(("mallory", "rm_m1")) && verdicts(("mallory", "rm_f")),
        "sticky bit must refuse a non-owner rm that the 770 control admits")
      require(verdicts(("alice", "rm_m1")), "the entry's owner may rm under +t")
      require(verdicts(("ingest", "rm_m1")), "the dir owner may rm under +t")
    }
    trashRm("data/m1", ts = 5000L)
    // checkpoint: Current -> timestamped dir (metadata rename)
    require(fs.rename(p(s"$trash/Current"), p(s"$trash/ckpt-6000")),
      "trash checkpoint failed")
    trashRm("data/m2", ts = 7000L)
    require(CommitLog.snapshot(s, dir).count() ==
      o.filter(col("o_orderkey") % 4 === 0 || col("o_orderkey") % 4 === 3).count(),
      "rm'd slices still visible")
    // emptier at asOf=8000, interval=1000: ckpt-6000 (age 2000) goes,
    // Current (holding m2) is untouched — m1 is now unrecoverable
    val expunged = fs.listStatus(p(trash)).toSeq
      .filter { st =>
        val n = st.getPath.getName
        n.startsWith("ckpt-") && 8000L - n.stripPrefix("ckpt-").toLong > 1000L
      }
    expunged.foreach(st => fs.delete(st.getPath, true))
    require(expunged.map(_.getPath.getName) == Seq("ckpt-6000") &&
      !fs.exists(p(s"$trash/ckpt-6000")) && fs.exists(p(s"$trash/Current/data/m2")),
      "emptier must drop exactly the aged checkpoint and keep Current")
    // undelete m2 from Current before any checkpoint claims it:
    // rename back + one journal add — byte identity by construction
    require(fs.rename(p(s"$trash/Current/data/m2"), p(s"$dir/data/m2")),
      "undelete rename failed")
    CommitLog.commit(fs, dir, ts = 9000L, adds = Seq("data/m2"), removes = Nil)
    CommitLog.snapshot(s, dir)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sumM(col("o_totalprice")).as("total"))
      .orderBy(col("o_orderstatus"))
  }

  /** OFFLINE IMAGE REPORT — the offline-image-viewer tool (reference
    * tools/offlineImageViewer/OfflineImageViewer.java:1): namespace
    * analytics computed from the checkpoint IMAGE alone, offline —
    * never from the live head (the tool's whole point: analyze a
    * 100 TB namespace without touching the NameNode). The report here
    * is FileDistributionVisitor.java:1's size-distribution histogram
    * re-expressed over commit-log entries: the image is the journal-
    * replay namespace snapshot at a PINNED version (FSImage = state
    * as of a version; the active-entry listing is LsImageVisitor
    * .java:1, pure metadata), each entry's row count is a parquet
    * FOOTER read (no row scan), and buckets are scale-free sixteenths
    * of the image total (integer div — exact in both engines at any
    * SF). A post-image commit diverges the head; the ceremony proves
    * the report excludes it — offline means the image, not the tail.
    * (The edits-side twin, offlineEditsViewer, is
    * lake_journal_audit.)
    *
    * Entries are geometric mod-15 residue ranges (1/2/4/8 fifteenths
    * of orders), so the histogram has real spread and the oracle
    * recomputes every bucket from the source table. */
  val lakeImageReport: GraftQuery = GraftQuery.sql(
    "lake_image_report",
    """WITH c AS (SELECT CASE WHEN o_orderkey % 15 < 1 THEN 0
      |                      WHEN o_orderkey % 15 < 3 THEN 1
      |                      WHEN o_orderkey % 15 < 7 THEN 2 ELSE 3 END AS j,
      |             COUNT(*) AS nr
      |           FROM orders GROUP BY 1),
      |t AS (SELECT SUM(nr) AS tot FROM c)
      |SELECT CAST(nr * 16 // tot AS BIGINT) AS bucket_16th,
      |  COUNT(*) AS n_entries, CAST(SUM(nr) AS BIGINT) AS total_rows
      |FROM c CROSS JOIN t GROUP BY 1 ORDER BY bucket_16th""".stripMargin
  ) { (s, d) =>
    val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
    val dir = Lake.scratch("image_report_orders")
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    val o = Tables.orders(s, d)
    // one partitioned write lays down the four entries (geometric
    // mod-15 residue ranges [0,1) [1,3) [3,7) [7,15)), commits are
    // metadata renames (the ceremony job diet)
    o.withColumn("j", when(col("o_orderkey") % 15 < 1, 0)
        .when(col("o_orderkey") % 15 < 3, 1)
        .when(col("o_orderkey") % 15 < 7, 2).otherwise(3))
      .write.partitionBy("j").parquet(s"$dir/_stage")
    (0 until 4).foreach { i =>
      fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/data"))
      require(fs.rename(new org.apache.hadoop.fs.Path(s"$dir/_stage/j=$i"),
        new org.apache.hadoop.fs.Path(s"$dir/data/e$i")),
        s"staging slice j=$i missing or rename failed")
      CommitLog.commit(fs, dir, ts = 1000L * (i + 1),
        adds = Seq(s"data/e$i"), removes = Nil)
    }
    val imageV = 3 // namespace state after the four entry commits
    // the head diverges after the image version: an offline report
    // must not see this commit
    CommitLog.writeCommit(s, dir,
      o.filter(col("o_orderkey") % 15 < 1), "data/extra", ts = 6000L)
    val image = CommitLog.activeFiles(fs, dir, version = imageV)
    val head = CommitLog.activeFiles(fs, dir)
    require(head.contains("data/extra") && !image.contains("data/extra"),
      "image listing must be the checkpoint, not the head")
    // per-entry row counts: parquet footer metadata, one tiny read per
    // image entry — the OIV cost model (namespace-proportional, zero
    // data I/O)
    val counts = image.sorted.map(rel =>
      rel -> Lake.readParquet(s, s"$dir/$rel").count())
    val tot = counts.map(_._2).sum
    import s.implicits._
    counts.map { case (rel, nr) => (nr * 16 / tot, rel, nr) }
      .groupBy(_._1).toSeq
      .map { case (b, xs) => (b, xs.size.toLong, xs.map(_._3).sum) }
      .toDF("bucket_16th", "n_entries", "total_rows")
      .orderBy(col("bucket_16th"))
  }

  /** NAMESPACE AUDIT LOG — the reference's FSNamesystem audit trail
    * made an operator (server/namenode/FSNamesystem.java:138
    * logAuditEvent: every namespace verb appends a
    * `ugi/ip/cmd/src/dst/perm` line; the reference emits on success —
    * an admin auditing a 100 TB lake needs the REFUSALS on the same
    * timeline, so each attempt logs with its `allowed` status, the
    * field later Hadoop audit formats carry explicitly). A ceremony
    * of ten namespace operations runs through the contract verbs
    * ([[renameStrict]]/[[deleteStrict]]/[[mkdirsStrict]], the
    * TestDFSRename/TestDFSShell refusal semantics): four document
    * shards staged then moved into place, with a clobbering rename,
    * a non-recursive delete of a non-empty dir, a mkdirs through a
    * file, and an under-src rename each REFUSED mid-ceremony — and
    * the log records every attempt in sequence with the row count
    * the landed entry actually serves (read back from the moved
    * parquet, not trusted from the source). Refusals carry 0 rows:
    * a refused verb must touch nothing, which the read-back proves
    * (a clobbered shard would change a count). The log is
    * failure+op-proportional metadata — at any table size the audit
    * surface scales with OPERATIONS, never with data. */
  val lakeAuditLog: GraftQuery = GraftQuery.sql(
    "lake_audit_log",
    """WITH c AS (SELECT CAST(doc_id % 4 AS BIGINT) AS shard, COUNT(*) AS n
      |           FROM documents GROUP BY 1)
      |SELECT seq, cmd, allowed, n_rows FROM (
      |  SELECT CAST(1 AS BIGINT) AS seq, 'mkdirs' AS cmd, TRUE AS allowed,
      |    CAST(0 AS BIGINT) AS n_rows
      |  UNION ALL SELECT 2, 'rename', TRUE, COALESCE((SELECT n FROM c WHERE shard = 0), 0)
      |  UNION ALL SELECT 3, 'rename', TRUE, COALESCE((SELECT n FROM c WHERE shard = 1), 0)
      |  UNION ALL SELECT 4, 'create', TRUE, 0
      |  UNION ALL SELECT 5, 'rename', FALSE, 0
      |  UNION ALL SELECT 6, 'delete', FALSE, 0
      |  UNION ALL SELECT 7, 'mkdirs', FALSE, 0
      |  UNION ALL SELECT 8, 'rename', FALSE, 0
      |  UNION ALL SELECT 9, 'delete', TRUE, COALESCE((SELECT n FROM c WHERE shard = 1), 0)
      |  UNION ALL SELECT 10, 'rename', TRUE, COALESCE((SELECT n FROM c WHERE shard = 2), 0))
      |ORDER BY seq""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
    def p(x: String) = new org.apache.hadoop.fs.Path(x)
    val dir = Lake.scratch("audit_log")
    fs.delete(p(dir), true)
    val docs = Tables.documents(s, d)
    Lake.concurrently(0 until 4) { i =>
      docs.filter(col("doc_id") % 4 === i).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/_stage/s$i")
    }
    def landedRows(rel: String): Long = Lake.readParquet(s, s"$dir/$rel").count()
    val log = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Boolean, Long)]
    def audit(seq: Long, cmd: String, allowed: Boolean, n: Long = 0L): Unit =
      log += ((seq, cmd, allowed, n))
    audit(1, "mkdirs", mkdirsStrict(fs, p(s"$dir/data")))
    val r2 = renameStrict(fs, p(s"$dir/_stage/s0"), p(s"$dir/data/s0"))
    audit(2, "rename", r2, if (r2) landedRows("data/s0") else 0L)
    val r3 = renameStrict(fs, p(s"$dir/_stage/s1"), p(s"$dir/data/s1"))
    audit(3, "rename", r3, if (r3) landedRows("data/s1") else 0L)
    // create: the reference audits creates too (logAuditEvent cmd=create)
    val marker = p(s"$dir/data/marker"); val out = fs.create(marker, false)
    try out.write("m".getBytes("UTF-8")) finally out.close()
    audit(4, "create", fs.exists(marker))
    // refused: rename onto an existing path (a FILE dst is never
    // clobbered — POSIX would have silently replaced it)
    audit(5, "rename",
      renameStrict(fs, p(s"$dir/_stage/s2"), p(s"$dir/data/marker")))
    // refused: non-recursive delete of a non-empty dir (throws)
    val d6 =
      try deleteStrict(fs, p(s"$dir/data"), recursive = false)
      catch { case _: java.io.IOException => false }
    audit(6, "delete", d6)
    // refused: mkdirs through a file
    val m7 =
      try mkdirsStrict(fs, p(s"$dir/data/marker/sub"))
      catch { case _: org.apache.hadoop.fs.ParentNotDirectoryException => false }
    audit(7, "mkdirs", m7)
    // refused: destination under the source
    audit(8, "rename", renameStrict(fs, p(s"$dir/data"), p(s"$dir/data/sub")))
    val preDelete = landedRows("data/s1") // rows the delete removes
    audit(9, "delete", deleteStrict(fs, p(s"$dir/data/s1"), recursive = true),
      preDelete)
    val r10 = renameStrict(fs, p(s"$dir/_stage/s2"), p(s"$dir/data/s1"))
    audit(10, "rename", r10, if (r10) landedRows("data/s1") else 0L)
    log.toSeq.toDF("seq", "cmd", "allowed", "n_rows").orderBy(col("seq"))
  }

  /** QUOTA ENFORCEMENT — the write-time admission contract on top of
    * lake_quota's usage REPORT (protocol/ClientProtocol.java:783
    * setQuota + FSDirectory.java:1362 verifyQuota, thrown as
    * NSQuotaExceededException/DSQuotaExceededException; pinned by
    * test/hdfs/.../TestQuota.java): a fifteen-step ceremony moves
    * five document slices into a quota'd directory through the
    * [[admitQuota]] gate — an ns-quota of 3 admits three entries and
    * REFUSES the fourth before any data moves (TestQuota case 6/7);
    * setting the quota BELOW current usage SUCCEEDS and only gates
    * the next write (HADOOP-5872, case 11); clearing the quota
    * resumes admission (case 8); setQuota on a FILE refuses (case
    * 14b); a row quota (the diskspace dimension with rows as the
    * deterministic columnar space unit) refuses the arrival that
    * would cross it and admits it after the clear (cases 10.s/9.s).
    * Every step logs (cmd, allowed, ns_used, rows_used) with usage
    * recounted from the LANDED entries (listing + parquet footers —
    * the `count -q` ContentSummary read), so the oracle recomputes
    * the whole log from the documents table. Admission is O(entries)
    * metadata however large the table — the gate a 100 TB ingest
    * runs per arrival batch, not per byte. */
  val lakeQuotaEnforce: GraftQuery = GraftQuery.sql(
    "lake_quota_enforce",
    """WITH c AS (SELECT CAST(doc_id % 5 AS BIGINT) AS slice, COUNT(*) AS n
      |           FROM documents GROUP BY 1),
      |s AS (SELECT
      |  COALESCE((SELECT n FROM c WHERE slice = 0), 0) AS c0,
      |  COALESCE((SELECT n FROM c WHERE slice = 1), 0) AS c1,
      |  COALESCE((SELECT n FROM c WHERE slice = 2), 0) AS c2,
      |  COALESCE((SELECT n FROM c WHERE slice = 3), 0) AS c3,
      |  COALESCE((SELECT n FROM c WHERE slice = 4), 0) AS c4)
      |SELECT CAST(q_seq AS BIGINT) AS seq, q_cmd AS cmd, q_ok AS allowed,
      |  CAST(f AS BIGINT) AS ns_used,
      |  CAST(CASE f WHEN 0 THEN 0 WHEN 1 THEN c0 WHEN 2 THEN c0 + c1
      |       WHEN 3 THEN c0 + c1 + c2 WHEN 4 THEN c0 + c1 + c2 + c3
      |       ELSE c0 + c1 + c2 + c3 + c4 END AS BIGINT) AS rows_used
      |FROM s, (
      |  SELECT 1 AS q_seq, 'mkdirs' AS q_cmd, TRUE AS q_ok, 0 AS f
      |  UNION ALL SELECT 2, 'setQuota', TRUE, 0
      |  UNION ALL SELECT 3, 'addBlock', TRUE, 1
      |  UNION ALL SELECT 4, 'addBlock', TRUE, 2
      |  UNION ALL SELECT 5, 'addBlock', TRUE, 3
      |  UNION ALL SELECT 6, 'addBlock', FALSE, 3
      |  UNION ALL SELECT 7, 'setQuota', TRUE, 3
      |  UNION ALL SELECT 8, 'addBlock', FALSE, 3
      |  UNION ALL SELECT 9, 'clrQuota', TRUE, 3
      |  UNION ALL SELECT 10, 'addBlock', TRUE, 4
      |  UNION ALL SELECT 11, 'setQuota', FALSE, 4
      |  UNION ALL SELECT 12, 'setQuota', TRUE, 4
      |  UNION ALL SELECT 13, 'addBlock', FALSE, 4
      |  UNION ALL SELECT 14, 'clrQuota', TRUE, 4
      |  UNION ALL SELECT 15, 'addBlock', TRUE, 5) t(q_seq, q_cmd, q_ok, f)
      |ORDER BY seq""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val fs = FileSystem.get(s.sparkContext.hadoopConfiguration)
    def p(x: String) = new Path(x)
    val root = Lake.scratch("quota_enforce")
    fs.delete(p(root), true)
    val docs = Tables.documents(s, d)
    Lake.concurrently(0 until 5) { i =>
      docs.filter(col("doc_id") % 5 === i).coalesce(1)
        .write.mode("overwrite").parquet(s"$root/_stage/s$i")
    }
    val data = p(s"$root/data")
    val sliceRows = (0 until 5)
      .map(i => Lake.readParquet(s, s"$root/_stage/s$i").count())
    val log = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Boolean, Long, Long)]
    def usage(): (Long, Long) = quotaUsage(s, data)
    def step(seq: Long, cmd: String, allowed: Boolean): Unit = {
      val (ns, rows) = usage()
      log += ((seq, cmd, allowed, ns, rows))
    }
    // guarded move: verifyQuota BEFORE the rename — refusal moves nothing
    def addBlock(seq: Long, i: Int): Unit = {
      val ok =
        try { admitQuota(s, data, 1L, sliceRows(i)); true }
        catch { case _: java.io.IOException => false }
      if (ok) require(renameStrict(fs, p(s"$root/_stage/s$i"), p(s"$root/data/s$i")),
        s"admitted move s$i must land")
      step(seq, "addBlock", ok)
    }
    step(1, "mkdirs", mkdirsStrict(fs, data))
    step(2, "setQuota", setQuotaStrict(fs, data, ns = 3L, rows = QuotaDontSet))
    addBlock(3, 0); addBlock(4, 1); addBlock(5, 2)
    addBlock(6, 3) // refused: ns quota 3 is full (TestQuota case 6)
    // HADOOP-5872: set BELOW current usage succeeds, gates next write
    step(7, "setQuota", setQuotaStrict(fs, data, ns = 2L, rows = QuotaDontSet))
    addBlock(8, 3) // still refused
    step(9, "clrQuota", clrQuotaStrict(fs, data, ns = true, rows = false))
    addBlock(10, 3) // admitted after the clear
    // refused: setQuota on a FILE (case 14b — _quota itself is a file)
    step(11, "setQuota",
      setQuotaStrict(fs, new Path(data, "_quota"), ns = 1L, rows = QuotaDontSet))
    // row quota: one row short of admitting slice 4
    val (_, usedRows) = usage()
    step(12, "setQuota", setQuotaStrict(fs, data,
      ns = QuotaDontSet, rows = usedRows + sliceRows(4) - 1))
    addBlock(13, 4) // refused: would cross the row quota (case 10.s)
    step(14, "clrQuota", clrQuotaStrict(fs, data, ns = false, rows = true))
    addBlock(15, 4) // admitted (case 9.s)
    log.toSeq.toDF("seq", "cmd", "allowed", "ns_used", "rows_used")
      .orderBy(col("seq"))
  }

  def all: Seq[GraftQuery] =
    Seq(lakeLinks, lakeUpgrade, lakeAclEnforce, lakeSetTimes, lakeDelegation,
      lakeVacuum, lakeDrain, lakeRestore, lakeCheckpointCadence,
      lakeSaveNamespace, lakeJournalAudit, lakeTrash, lakeImageReport,
      lakeAuditLog, lakeQuotaEnforce)
}
