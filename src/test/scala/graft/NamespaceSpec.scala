package graft

import graft.sources.CommitLog
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions._

class NamespaceSpec extends SparkSpec {

  private def fs: FileSystem =
    FileSystem.get(spark.sparkContext.hadoopConfiguration)

  private def freshRoot(name: String): String = {
    val dir = graft.operators.Lake.scratch(s"namespace/$name")
    fs.delete(new Path(dir), true)
    dir
  }

  test("links: chain resolution, outermost version pin wins, listing shows targets") {
    val root = freshRoot("links")
    val r = Tables.region(spark, sfDir)
    CommitLog.writeCommit(spark, root + "/t", r.filter(col("r_regionkey") < 2), "data/a", 100L)
    CommitLog.writeCommit(spark, root + "/t", r.filter(col("r_regionkey") >= 2), "data/b", 200L)
    CommitLog.createLink(fs, root, "live", "t")
    CommitLog.createLink(fs, root, "frozen", "t", version = Some(0))
    CommitLog.createLink(fs, root, "alias", "live")           // chain, no pin
    CommitLog.createLink(fs, root, "pinned_alias", "live", version = Some(0))
    assert(CommitLog.resolveLink(fs, root, "alias") == ("t", None))
    assert(CommitLog.resolveLink(fs, root, "frozen") == ("t", Some(0)))
    // outer pin survives through an unpinned inner link
    assert(CommitLog.resolveLink(fs, root, "pinned_alias") == ("t", Some(0)))
    assert(CommitLog.readLink(spark, root, "live").count() == r.count())
    assert(CommitLog.readLink(spark, root, "frozen").count() == 2)
    assert(CommitLog.listLinks(fs, root).map(_.name) ==
      Seq("alias", "frozen", "live", "pinned_alias"))
  }

  test("links: create is exclusive; remove allows repointing; cycles are bounded") {
    val root = freshRoot("links_edge")
    CommitLog.createLink(fs, root, "a", "t1")
    intercept[java.io.IOException] { CommitLog.createLink(fs, root, "a", "t2") }
    assert(CommitLog.linkTarget(fs, root, "a").get.target == "t1") // loser changed nothing
    assert(CommitLog.removeLink(fs, root, "a"))
    CommitLog.createLink(fs, root, "a", "t2")
    assert(CommitLog.resolveLink(fs, root, "a") == ("t2", None))
    // cycle: a2 -> b2 -> a2 must terminate with an error, not hang
    CommitLog.createLink(fs, root, "a2", "b2")
    CommitLog.createLink(fs, root, "b2", "a2")
    intercept[java.io.IOException] { CommitLog.resolveLink(fs, root, "a2") }
    intercept[java.io.FileNotFoundException] { CommitLog.resolveLink(fs, root, "nope") }
    // a valid chain of exactly maxDepth links resolves (depth counts
    // followed links, not an off-by-one below the limit)
    CommitLog.createLink(fs, root, "c3", "tt")
    CommitLog.createLink(fs, root, "c2", "c3")
    CommitLog.createLink(fs, root, "c1", "c2")
    assert(CommitLog.resolveLink(fs, root, "c1", maxDepth = 3) == ("tt", None))
    intercept[java.io.IOException] { CommitLog.resolveLink(fs, root, "c1", maxDepth = 2) }
  }

  test("links: a torn create (no terminator) is dead, skipped, and reclaimable") {
    val root = freshRoot("links_torn")
    // simulate a crash between the exclusive create and the body write
    val torn = new Path(root, "_links/t.lnk")
    fs.mkdirs(torn.getParent)
    val out = fs.create(torn, false)
    out.write("target half".getBytes("UTF-8")) // no terminal 'end'
    out.close()
    assert(CommitLog.linkTarget(fs, root, "t").isEmpty, "torn link must read as absent")
    assert(CommitLog.listLinks(fs, root).isEmpty)
    // the name is not wedged: a retrying create reclaims it
    CommitLog.createLink(fs, root, "t", "real_table")
    assert(CommitLog.resolveLink(fs, root, "t") == ("real_table", None))
  }

  test("upgrade ceremony: swap, rollback restores, finalize closes the window") {
    val dir = freshRoot("upgrade") + "/t"
    val r = Tables.region(spark, sfDir)
    val narrow = r.select(col("r_regionkey"))
    val wide = r.select(col("r_regionkey"), col("r_name"))
    CommitLog.writeCommit(spark, dir, narrow, "data/narrow", 100L)
    CommitLog.startUpgrade(spark, dir, wide, "data/wide1", 200L)
    assert(CommitLog.snapshot(spark, dir).columns.toSeq == Seq("r_regionkey", "r_name"))
    // one upgrade at a time
    intercept[IllegalStateException] {
      CommitLog.startUpgrade(spark, dir, wide, "data/wide_dup", 250L)
    }
    CommitLog.rollbackUpgrade(fs, dir, 300L)
    assert(CommitLog.snapshot(spark, dir).columns.toSeq == Seq("r_regionkey"))
    assert(CommitLog.snapshot(spark, dir).count() == r.count())
    // nothing pending now: rollback/finalize both refuse
    intercept[IllegalStateException] { CommitLog.rollbackUpgrade(fs, dir, 350L) }
    intercept[IllegalStateException] { CommitLog.finalizeUpgrade(fs, dir, 350L) }
    CommitLog.startUpgrade(spark, dir, wide, "data/wide2", 400L)
    CommitLog.finalizeUpgrade(fs, dir, 500L)
    assert(CommitLog.snapshot(spark, dir).columns.toSeq == Seq("r_regionkey", "r_name"))
    // finalize closed the rollback window
    intercept[IllegalStateException] { CommitLog.rollbackUpgrade(fs, dir, 600L) }
    // history is intact: the pre-upgrade layout still reads at its version
    assert(CommitLog.snapshot(spark, dir, version = 0).columns.toSeq == Seq("r_regionkey"))
  }

  test("enforceRead: denied principal sees zero rows; group class grants 640") {
    import graft.api.Graft
    val docs = Tables.documents(spark, sfDir)
    val manifest = docs.select(col("source")).distinct()
      .select(col("source"), lit("ingest").as("owner"), lit("data").as("grp"),
        lit(640).as("mode"))
    // principal with no ownership, no matching group, modes all 640 -> nothing
    val denied = Graft.lake.enforceRead(docs, manifest, "source", "nobody", Seq("ops"))
    assert(denied.count() == 0)
    // group member reads through the group class of 640
    val grouped = Graft.lake.enforceRead(docs, manifest, "source", "nobody", Seq("data"))
    assert(grouped.count() == docs.count())
    // owner class short-circuits: owner with owner-read 0 is denied even
    // if the world could read (044 = unusual but the checker's order)
    val invert = manifest.withColumn("mode", lit(44))
    val ownerDenied = Graft.lake.enforceRead(docs, invert, "source", "ingest", Nil)
    assert(ownerDenied.count() == 0)
    val otherAllowed = Graft.lake.enforceRead(docs, invert, "source", "nobody", Nil)
    assert(otherAllowed.count() == docs.count())
  }

  test("delegation tokens: expiry blocks reads, renewal only extends renewable, cancel removes") {
    import graft.api.Graft
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val tokens = docs.select(col("source")).distinct()
      .select(col("source"), lit(100L).as("issued_at"), lit(200L).as("expires_at"),
        col("source").startsWith("src1").as("renewable"))
    // all expired at t=300
    assert(Graft.lake.enforceToken(docs, tokens, "source", 300L).count() == 0)
    // renewal extends ONLY renewable tokens, even when cond matches all
    val renewed = Graft.lake.renewTokens(tokens, lit(true), extendMs = 1000L)
    val exp = renewed.select(col("source"), col("expires_at")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(exp.filter(_._1.startsWith("src1")).values.forall(_ == 1200L))
    assert(exp.filterNot(_._1.startsWith("src1")).values.forall(_ == 200L))
    // at t=300 the renewed set reads only src1* rows
    val readable = Graft.lake.enforceToken(docs, renewed, "source", 300L)
      .select(col("source")).distinct().as[String].collect().toSet
    assert(readable.nonEmpty && readable.forall(_.startsWith("src1")))
    // cancellation removes the grant outright
    val cancelled = Graft.lake.cancelTokens(renewed, col("source").startsWith("src1"))
    assert(Graft.lake.enforceToken(docs, cancelled, "source", 300L).count() == 0)
  }

  test("vacuum: pre-cut versions unreadable, retained versions intact, idempotent") {
    val dir = freshRoot("vacuum") + "/t"
    val r = Tables.region(spark, sfDir)
    CommitLog.writeCommit(spark, dir, r.filter(col("r_regionkey") < 2), "data/a", 100L)
    CommitLog.writeCommit(spark, dir, r.filter(col("r_regionkey") >= 2), "data/b", 200L)
    val ck = CommitLog.checkpoint(spark, dir, 300L)
    CommitLog.writeCommit(spark, dir, r.limit(1), "data/c", 400L)
    val headBefore = CommitLog.snapshot(spark, dir).count()
    val dropped = CommitLog.dropHistoryBefore(fs, dir, ck, graceMs = 0L)
    assert(dropped == Seq(0, 1))
    // the checkpoint version and everything after replay fine
    assert(CommitLog.snapshot(spark, dir, version = ck).count() == r.count())
    assert(CommitLog.snapshot(spark, dir).count() == headBefore)
    // pre-cut versions are gone
    intercept[IllegalArgumentException] { CommitLog.snapshot(spark, dir, version = 0) }
    // a second pass reclaims nothing further
    assert(CommitLog.dropHistoryBefore(fs, dir, ck, graceMs = 0L).isEmpty)
    assert(CommitLog.vacuumOrphans(fs, dir, graceMs = 0L).isEmpty)
  }

  test("journal audit replays to the same head the snapshot read sees") {
    val rows = graft.operators.Namespace.lakeJournalAudit.fn(spark, sfDir).collect()
    assert(rows.length == 6)
    val byV = rows.map(r => r.getAs[Long]("version") -> r).toMap
    assert(byV(3).getAs[Long]("is_checkpoint") == 1L)
    assert(byV(5).getAs[String]("tag") == "restore")
    // the audit's final n_active must equal what a snapshot read opens
    val dir = graft.operators.Lake.scratch("journal_audit_region")
    val head = graft.sources.CommitLog.activeFiles(
      org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration), dir)
    assert(byV(5).getAs[Long]("n_active") == head.size.toLong)
    // restore made v1's content current: 5 region rows
    assert(graft.sources.CommitLog.snapshot(spark, dir).count() == 5L)
  }

  test("setTimes: -1 sentinel leaves the field unchanged") {
    import graft.api.Graft
    val ns = Tables.documents(spark, sfDir)
      .groupBy(col("source"))
      .agg(max(col("doc_id")).as("mtime"), min(col("doc_id")).as("atime"))
    val touched = Graft.lake.setTimes(ns, lit(true), mtime = 7L, atime = -1L)
      .select(col("mtime"), col("atime")).distinct().collect()
    assert(touched.forall(_.getLong(0) == 7L))
    val untouched = ns.select(col("atime")).collect().map(_.getLong(0)).sorted.toSeq
    assert(touched.map(_.getLong(1)).sorted.toSeq.distinct.sorted ==
      untouched.distinct.sorted)
  }

  test("trash: expunged checkpoint is unrecoverable, undeleted slice is byte-identical") {
    val out = graft.operators.Namespace.lakeTrash.fn(spark, sfDir)
    val o = Tables.orders(spark, sfDir)
    // final content = slices 0,2,3 (slice1 expunged, slice2 undeleted)
    assert(out.agg(sum(col("n"))).collect()(0).getLong(0) ==
      o.filter(col("o_orderkey") % 4 =!= 1).count())
    val dir = graft.operators.Lake.scratch("trash_orders")
    // the aged checkpoint (and with it slice1's bytes) is gone; the
    // live Current no longer holds the undeleted slice
    assert(!fs.exists(new Path(s"$dir/_trash/ckpt-6000")))
    assert(!fs.exists(new Path(s"$dir/_trash/Current/data/m2")))
    // undelete restored slice2 byte-identically: content equals the
    // source's mod-2 slice exactly (anti-join empty both ways)
    val restored = spark.read.parquet(s"$dir/data/m2")
    val slice2 = o.filter(col("o_orderkey") % 4 === 2)
    assert(restored.count() == slice2.count())
    assert(restored.exceptAll(slice2).isEmpty && slice2.exceptAll(restored).isEmpty)
    // the journal records the full ceremony: 4 adds, 2 removes, 1 re-add
    val commits = CommitLog.commits(fs, dir)
    assert(commits.length == 7)
    assert(commits.count(_.removes.nonEmpty) == 2)
  }

  test("image report: buckets cover the image exactly; the diverged head entry is excluded") {
    val rows = graft.operators.Namespace.lakeImageReport.fn(spark, sfDir).collect()
    val o = Tables.orders(spark, sfDir)
    // the histogram partitions the IMAGE total (= the full source
    // table), not the diverged head's
    assert(rows.map(_.getAs[Long]("total_rows")).sum == o.count())
    assert(rows.map(_.getAs[Long]("n_entries")).sum == 4L)
    val dir = graft.operators.Lake.scratch("image_report_orders")
    val head = CommitLog.activeFiles(fs, dir)
    assert(head.contains("data/extra"), "ceremony must diverge the head")
    // buckets are the geometric 1/2/4/8 sixteenths at any SF
    assert(rows.map(_.getAs[Long]("bucket_16th")).sorted.toSeq == Seq(1L, 2L, 4L, 8L))
  }

  test("audit log: refusals log allowed=false and leave the namespace byte-identical, successes carry landed row counts") {
    val rows = graft.operators.Namespace.lakeAuditLog.fn(spark, sfDir)
      .collect()
      .map(r => (r.getAs[Long]("seq"), r.getAs[String]("cmd"),
        r.getAs[Boolean]("allowed"), r.getAs[Long]("n_rows")))
    assert(rows.map(_._1).toSeq == (1L to 10L),
      "every attempt must log, in ceremony order")
    val refused = rows.filter(!_._3)
    assert(refused.map(r => (r._1, r._2)).toSet ==
      Set((5L, "rename"), (6L, "delete"), (7L, "mkdirs"), (8L, "rename")),
      s"exactly the four contract refusals: $refused")
    assert(refused.forall(_._4 == 0L), "a refused verb serves zero rows")
    // post-ceremony state: the clobber target survived the refused
    // rename with its original byte (the audit's row counts already
    // prove the shard parquet was never replaced)
    val dir = graft.operators.Lake.scratch("audit_log")
    val marker = new Path(s"$dir/data/marker")
    assert(fs.exists(marker), "refused rename must not consume the dst file")
    val in = fs.open(marker)
    val bytes = try org.apache.hadoop.io.IOUtils.readFullyToByteArray(in)
                finally in.close()
    assert(new String(bytes, "UTF-8") == "m", "dst file bytes untouched")
    // refused non-recursive delete removed nothing: s0 still serves
    // its full shard, and the final s1 holds shard 2 (the step-10 move)
    val docs = Tables.documents(spark, sfDir)
    val want0 = docs.filter(col("doc_id") % 4 === 0).count()
    val want2 = docs.filter(col("doc_id") % 4 === 2).count()
    assert(spark.read.parquet(s"$dir/data/s0").count() == want0)
    assert(spark.read.parquet(s"$dir/data/s1").count() == want2)
    val byCmd = rows.filter(_._3).map(r => (r._1, r._4)).toMap
    assert(byCmd(2L) == want0 && byCmd(10L) == want2,
      "successful moves log the LANDED row count")
  }
}
