package graft

import graft.operators.Durability
import graft.sources.CommitLog
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions._

/** Quarantine/repair + hot-standby tailing (SURVEY §2 lake_quarantine,
  * lake_standby): the detect→quarantine→re-replicate loop and the
  * journal-shipping DR path, asserted at the mechanism level — the
  * operator entries assert the end state, these pin the ceremony
  * steps (never-served, byte-identity, bounded lag, delta-only ship).
  */
class DurabilitySpec extends SparkSpec {

  private def fs: FileSystem =
    FileSystem.get(spark.sparkContext.hadoopConfiguration)

  private def fresh(name: String): String = {
    val dir = graft.operators.Lake.scratch(s"durability/$name")
    fs.delete(new Path(dir), true)
    dir
  }

  private def tableHash(dir: String): (Long, Long) = {
    val r = CommitLog.snapshot(spark, dir)
      .select(graft.functions.GraftHash.charHash(col("text")).as("fp"))
      .agg(count(lit(1)), sum(col("fp")) % graft.functions.GraftHash.P)
      .collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  test("quarantine loop: corrupt entry detected, never served, repaired table hash-equals pre-corruption") {
    val primary = fresh("q/primary")
    val mirror = fresh("q/mirror")
    val docs = Tables.documents(spark, sfDir)
    (0 until 3).foreach { i =>
      CommitLog.writeCommit(spark, primary,
        docs.filter(col("doc_id") % 3 === i).coalesce(1), s"data/s$i", ts = 100L + i)
    }
    CommitLog.activeFiles(fs, primary).foreach { rel =>
      org.apache.hadoop.fs.FileUtil.copy(fs, new Path(primary, rel),
        fs, new Path(mirror, rel), false, true, spark.sparkContext.hadoopConfiguration)
    }
    val before = tableHash(primary)

    Durability.corruptInPlace(fs, primary, "data/s1")
    // the full-table read now fails — the corruption is real
    intercept[Throwable] { CommitLog.snapshot(spark, primary).count() }
    // detection flags exactly the corrupted entry
    assert(Durability.unreadableEntries(spark, primary) == Seq("data/s1"))

    Durability.quarantine(spark, primary, "data/s1", ts = 500L)
    // NEVER SERVED: from the quarantine commit on, every read of the
    // table succeeds — the truncated file would throw if it were in
    // any read path (corrupt-file canary), and the active set and the
    // on-disk layout both exclude it
    val degraded = CommitLog.snapshot(spark, primary).count()
    assert(degraded > 0 && degraded < before._1)
    assert(!CommitLog.activeFiles(fs, primary).contains("data/s1"))
    assert(!fs.exists(new Path(primary, "data/s1")))
    assert(fs.exists(new Path(primary, "_quarantine/data_s1")))

    Durability.repairFrom(spark, primary, mirror, "data/s1", ts = 600L)
    // REPAIRED: the table hash-equals its pre-corruption self
    assert(tableHash(primary) == before)
    // history is honest: the quarantine and repair commits are tagged
    val tags = CommitLog.commits(fs, primary).flatMap(_.tags)
    assert(tags.contains("quarantine") && tags.contains("repair"))
    // and the degraded window stays replayable: the version between
    // quarantine and repair still reads (without the corrupt entry)
    assert(CommitLog.snapshot(spark, primary, version = 3).count() == degraded)
  }

  test("budgeted scrub: cursor persists across cycles, coverage completes, the covering cycle flags the corrupt entry") {
    val dir = fresh("scrub/table")
    val r = Tables.region(spark, sfDir)
    (0 until 4).foreach { i =>
      CommitLog.writeCommit(spark, dir,
        r.filter(col("r_regionkey") % 4 === i).coalesce(1), s"data/e$i", ts = 100L + i)
    }
    // entry e2 rots; with budget 2 it is reached in the SECOND cycle
    Durability.corruptInPlace(fs, dir, "data/e2")
    val (c1, bad1) = Durability.scrubCycle(spark, dir, budget = 2)
    assert(c1 == Seq("data/e0", "data/e1") && bad1.isEmpty)
    val (c2, bad2) = Durability.scrubCycle(spark, dir, budget = 2)
    assert(c2 == Seq("data/e2", "data/e3"),
      "cursor must persist between cycles and continue where it left off")
    assert(bad2 == Seq("data/e2"), s"scrub missed the rot: $bad2")
    // wrap-around: the third cycle starts over
    val (c3, _) = Durability.scrubCycle(spark, dir, budget = 2)
    assert(c3 == Seq("data/e0", "data/e1"))
    assert((c1 ++ c2).toSet == CommitLog.activeFiles(fs, dir).toSet,
      "two cycles at budget 2 must cover all four entries exactly")
  }

  test("checkpoint images ship like any commit: standby head and pre-image history both replay") {
    val primary = fresh("ckpt/primary")
    val standby = fresh("ckpt/standby")
    val r = Tables.region(spark, sfDir)
    CommitLog.writeCommit(spark, primary, r.filter(col("r_regionkey") < 2), "data/a", ts = 100L)
    CommitLog.writeCommit(spark, primary, r.filter(col("r_regionkey") >= 2), "data/b", ts = 200L)
    CommitLog.ship(spark, primary, standby)
    // image commit: adds one self-contained snapshot, removes the rest
    val v = CommitLog.checkpoint(spark, primary, ts = 300L)
    CommitLog.writeCommit(spark, primary, r.filter(col("r_regionkey") === 0), "data/c", ts = 400L)
    assert(CommitLog.ship(spark, primary, standby) == Seq(v, v + 1))
    def rows(dir: String, ver: Int) = CommitLog.snapshot(spark, dir, version = ver)
      .collect().map(_.toString).sorted.toSeq
    (0 to v + 1).foreach { ver =>
      assert(rows(standby, ver) == rows(primary, ver),
        s"standby diverged at version $ver (image commit at $v)")
    }
    // the standby owns a full copy of the image: failover after the
    // primary dies serves the checkpointed head + the post-image edit
    fs.delete(new Path(primary), true)
    assert(CommitLog.snapshot(spark, standby).count() == 5 + 1) // image (all 5) + regionkey-0 batch
  }

  test("ship copies only adds the standby lacks: no nested copy after drain, a metadata image ships data-free") {
    val primary = fresh("held/primary")
    val standby = fresh("held/standby")
    val n = Tables.nation(spark, sfDir)
    def slice(r: Int) = n.filter(col("n_nationkey") % 3 === r)
    (0 to 2).foreach(r =>
      CommitLog.writeCommit(spark, primary, slice(r), s"data/store$r", ts = 100L * (r + 1)))
    assert(CommitLog.ship(spark, primary, standby) == Seq(0, 1, 2))
    // drain re-lists the survivors store0 and store2, which the standby
    // already holds: only the rewritten dir may be copied
    val (dv, _) = CommitLog.drain(spark, primary, "data/store1", "data/absorbed1", ts = 400L)
    assert(CommitLog.ship(spark, primary, standby) == Seq(dv))
    Seq("store0", "store2").foreach { st =>
      assert(!fs.exists(new Path(s"$standby/data/$st/$st")), s"nested copy of $st on the standby")
    }
    def footer(dir: String): Long =
      graft.operators.Lake.footerRows(spark, CommitLog.activeFiles(fs, dir).map(p => s"$dir/$p"))
    assert(footer(standby) == footer(primary) && footer(primary) == n.count())
    // a metadata image ships as one log file: no data file changes
    def dataFiles(dir: String): Map[String, (Long, Long)] = {
      val it = fs.listFiles(new Path(s"$dir/data"), true)
      val out = Map.newBuilder[String, (Long, Long)]
      while (it.hasNext) {
        val st = it.next(); out += st.getPath.toString -> ((st.getLen, st.getModificationTime))
      }
      out.result()
    }
    // drain's commit is itself an image: move the head past it first
    CommitLog.commit(fs, primary, 450L, Nil, Seq("data/store0"))
    assert(CommitLog.ship(spark, primary, standby) == Seq(dv + 1))
    val held = dataFiles(standby)
    val logs = fs.listStatus(new Path(s"$standby/_log")).length
    val img = CommitLog.saveNamespace(spark, primary, ts = 500L).get
    assert(CommitLog.ship(spark, primary, standby) == Seq(img))
    assert(dataFiles(standby) == held, "a metadata image must ship no data")
    assert(fs.listStatus(new Path(s"$standby/_log")).length == logs + 1)
    assert(footer(standby) == footer(primary))
    def rows(dir: String) = CommitLog.snapshot(spark, dir).collect().map(_.toString).sorted.toSeq
    assert(rows(standby) == rows(primary))
  }

  test("journal replay equals a set-fold model over 30 random histories (burned files ignored)") {
    val rnd = new scala.util.Random(42)
    (0 until 30).foreach { trial =>
      val dir = fresh(s"model/t$trial")
      var model = Vector.empty[(Int, Set[String])] // version -> active set AFTER it
      var active = scala.collection.immutable.ListSet.empty[String]
      var nextFile = 0
      (0 until 3 + rnd.nextInt(10)).foreach { _ =>
        rnd.nextInt(4) match {
          case 0 | 1 => // add a fresh entry
            val f = s"data/f$nextFile"; nextFile += 1
            val v = CommitLog.commit(fs, dir, ts = 1000L + model.size,
              adds = Seq(f), removes = Nil)
            active = active + f
            model :+= (v, active.toSet)
          case 2 if active.nonEmpty => // rewrite: remove one, add one, same commit
            val victim = active.toSeq(rnd.nextInt(active.size))
            val f = s"data/f$nextFile"; nextFile += 1
            val v = CommitLog.commit(fs, dir, ts = 1000L + model.size,
              adds = Seq(f), removes = Seq(victim))
            active = active - victim + f
            model :+= (v, active.toSet)
          case 3 if active.size > 1 => // pure metadata remove
            val victim = active.toSeq(rnd.nextInt(active.size))
            val v = CommitLog.commit(fs, dir, ts = 1000L + model.size,
              adds = Nil, removes = Seq(victim))
            active = active - victim
            model :+= (v, active.toSet)
          case _ => // burn a version: torn log file, must replay as a no-op
            val burned = CommitLog.commits(fs, dir).lastOption.map(_.version + 1).getOrElse(0)
            val out = fs.create(new Path(dir, f"_log/$burned%09d.log"), true)
            out.write(s"ts 0\nadd data/torn\n".getBytes("UTF-8")); out.close()
        }
      }
      model.foreach { case (v, expect) =>
        assert(CommitLog.activeFiles(fs, dir, version = v).toSet == expect,
          s"trial $trial: replay diverged from the model at version $v")
      }
      // the incremental timeline agrees with per-version replays
      val cs = CommitLog.commits(fs, dir)
      CommitLog.journalTimeline(cs).foreach { case (c, n) =>
        assert(n == CommitLog.activeFiles(fs, dir, c.version).size.toLong)
      }
      assert(!CommitLog.activeFiles(fs, dir).contains("data/torn"),
        s"trial $trial: a burned version leaked an action into replay")
    }
  }

  test("standby tailing: each shipped version reads identically, lag bounded, ship is delta-only") {
    val primary = fresh("sb/primary")
    val standby = fresh("sb/standby")
    val r = Tables.region(spark, sfDir)
    def head(dir: String): Int =
      CommitLog.commits(fs, dir).lastOption.map(_.version).getOrElse(-1)

    CommitLog.writeCommit(spark, primary, r.filter(col("r_regionkey") < 2), "data/a", ts = 100L)
    assert(CommitLog.ship(spark, primary, standby) == Seq(0))
    CommitLog.writeCommit(spark, primary, r.filter(col("r_regionkey") >= 2), "data/b", ts = 200L)
    CommitLog.commit(fs, primary, ts = 300L, adds = Nil, removes = Seq("data/a"))
    // mid-cadence lag is bounded by the number of unshipped commits
    assert(head(primary) - head(standby) == 2)
    // delta-only: the second ship carries exactly the two new versions
    assert(CommitLog.ship(spark, primary, standby) == Seq(1, 2))
    assert(head(standby) == head(primary))
    // every version replays identically on the standby — including the
    // metadata-only remove commit, which shipped as one log file
    (0 to 2).foreach { v =>
      val p = CommitLog.snapshot(spark, primary, version = v)
        .collect().map(_.toString).sorted.toSeq
      val s = CommitLog.snapshot(spark, standby, version = v)
        .collect().map(_.toString).sorted.toSeq
      assert(p == s, s"standby diverged at version $v")
    }
    // idempotent when in sync: nothing ships, nothing changes
    assert(CommitLog.ship(spark, primary, standby).isEmpty)
    // torn-file discipline: a terminator-less log file AT the head is
    // indistinguishable from an in-flight write, so ship must leave it
    // for a later cycle; once completed it ships normally
    val inFlight = new Path(primary, "_log/000000003.log")
    val out = fs.create(inFlight, true)
    out.write("ts 400\nadd data/c".getBytes("UTF-8")); out.close() // no `end`
    assert(CommitLog.ship(spark, primary, standby).isEmpty,
      "an in-flight head commit must not ship half-written")
    assert(!fs.exists(new Path(standby, "_log/000000003.log")))
    val out2 = fs.create(inFlight, true)
    out2.write("ts 400\nadd data/b\nend\n".getBytes("UTF-8")); out2.close()
    assert(CommitLog.ship(spark, primary, standby) == Seq(3))
    // torn STANDBY copy (a ship killed mid-copy): only completed
    // standby files count as shipped, so the next cycle repairs it
    val tornCopy = new Path(standby, "_log/000000001.log")
    val out3 = fs.create(tornCopy, true)
    out3.write("ts 200\nadd data/b".getBytes("UTF-8")); out3.close() // no `end`
    assert(CommitLog.commits(fs, standby).map(_.version) == Seq(0, 2, 3),
      "torn copy must parse as burned before repair")
    assert(CommitLog.ship(spark, primary, standby) == Seq(1),
      "a torn standby copy of a completed version must be re-shipped")
    assert(CommitLog.commits(fs, standby).map(_.version) == Seq(0, 1, 2, 3))
    // DR failover: the standby serves reads with the primary gone
    fs.delete(new Path(primary), true)
    assert(CommitLog.snapshot(spark, standby).count() == 3)
  }

  test("lease recovery: fence is one-way, the in-flight file never enters a read path") {
    import graft.streaming.StreamingOps
    val dir = fresh("lease/table")
    val docs = Tables.documents(spark, sfDir)
    CommitLog.writeCommit(spark, dir,
      docs.filter(col("doc_id") % 3 === 0), "data/b0", ts = 100L)
    val v0 = CommitLog.snapshot(spark, dir).count()
    val stateDir = s"$dir/_writer"
    StreamingOps.acquireLease(fs, stateDir, "writerA", ttlMs = 80L)
    docs.filter(col("doc_id") % 3 === 1).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/data/b1")
    // the UNCOMMITTED in-flight file is invisible to every read even
    // while it exists on disk — commits, not files, define the table
    assert(CommitLog.snapshot(spark, dir).count() == v0)
    Thread.sleep(120L)
    StreamingOps.acquireLease(fs, stateDir, "writerB")
    // reclaim removes exactly the uncommitted file; committed data stays
    assert(CommitLog.vacuumOrphans(fs, dir, graceMs = 0L) == Seq("data/b1"))
    assert(fs.exists(new Path(dir, "data/b0")))
    // fence is one-way: A cannot re-acquire, and A's release is a
    // no-op against B's lease (it doesn't own the current epoch)
    intercept[StreamingOps.LeaseHeldException] {
      StreamingOps.acquireLease(fs, stateDir, "writerA", ttlMs = 80L)
    }
    StreamingOps.releaseLease(fs, stateDir, "writerA")
    StreamingOps.verifyLease(fs, stateDir, "writerB") // must still hold
    // B completes the batch; the recovered table is exactly m0+m1
    CommitLog.writeCommit(spark, dir,
      docs.filter(col("doc_id") % 3 === 1), "data/b1r", ts = 200L)
    val want = docs.filter(col("doc_id") % 3 <= 1).count()
    assert(CommitLog.snapshot(spark, dir).count() == want)
  }

  test("flush visibility ceremony: every verified flag lands true and both versions hash to the source") {
    val out = Durability.lakeFlushVisibility.fn(spark, sfDir).collect()
    assert(out.length == 2)
    assert(out.map(_.getLong(0)).toSeq == Seq(0L, 1L))
    Seq("tail_saw_flush", "default_isolated", "promoted_at_close",
      "crash_flush_reclaimed").foreach { f =>
      assert(out.forall(r => r.getBoolean(r.fieldIndex(f))), s"$f not all true")
    }
    // versions hash to the source thirds (the oracle's recomputation)
    val docs = Tables.documents(spark, sfDir)
    val exp = Seq(docs.filter(col("doc_id") % 3 === 0),
      docs.filter(col("doc_id") % 3 <= 1)).map(_.count())
    assert(out.map(_.getLong(1)).toSeq == exp)
  }

  test("renew lease ceremony: renewal survives recovery probes, silence is fenced at the next heartbeat") {
    val out = Durability.lakeRenewLease.fn(spark, sfDir).collect()
    assert(out.length == 2)
    Seq("renewal_survived", "takeover_refused", "expired_fenced").foreach { f =>
      assert(out.forall(r => r.getBoolean(r.fieldIndex(f))), s"$f not all true")
    }
  }

  test("safe mode: startup gate blocks writes tracelessly, threshold auto-exits, manual exits only by hand") {
    val dir = fresh("safemode/machine")
    val docs = Tables.documents(spark, sfDir)
    CommitLog.writeCommit(spark, dir,
      docs.filter(col("doc_id") % 3 === 0), "data/b0", ts = 100L)        // v0
    CommitLog.writeCommit(spark, dir,
      docs.filter(col("doc_id") % 3 === 1), "data/b1", ts = 200L)        // v1
    def head: Int = CommitLog.commits(fs, dir).last.version
    val preHash = tableHash(dir)

    // --- startup gate ---
    CommitLog.enterSafeMode(fs, dir, thresholdPm = 1000)
    intercept[java.io.IOException] {
      CommitLog.writeCommit(spark, dir,
        docs.filter(col("doc_id") % 3 === 2), "data/b2", ts = 300L)
    }
    assert(head == 1, "refused write burned a version")
    // reads replay normally while the gate is closed
    assert(tableHash(dir) == preHash)

    // --- threshold: partial report holds the gate ---
    val (n1, t1, f1) = CommitLog.reportVerified(spark, dir, Seq("data/b0"))
    assert((n1, t1, f1) == ((1, 2, true)), s"partial report ($n1,$t1,$f1)")
    intercept[java.io.IOException] {
      CommitLog.writeCommit(spark, dir,
        docs.filter(col("doc_id") % 3 === 2), "data/b2", ts = 300L)
    }
    // progress survives in the marker across process-visible state
    assert(CommitLog.safeMode(fs, dir).get.verified == Set("data/b0"))

    // --- auto-exit: crossing the threshold opens the gate itself ---
    val (n2, t2, f2) = CommitLog.reportVerified(spark, dir, Seq("data/b1"))
    assert((n2, t2, f2) == ((2, 2, false)), s"full report ($n2,$t2,$f2)")
    assert(!CommitLog.isFrozen(fs, dir))
    CommitLog.writeCommit(spark, dir,
      docs.filter(col("doc_id") % 3 === 2), "data/b2", ts = 400L)        // v2
    assert(head == 2)

    // --- manual: a full report never opens it, leave does ---
    CommitLog.enterSafeModeManual(fs, dir)
    val (_, _, fm) = CommitLog.reportVerified(spark, dir,
      Seq("data/b0", "data/b1", "data/b2"))
    assert(fm, "manual safe mode auto-exited on a report")
    intercept[java.io.IOException] {
      CommitLog.writeCommit(spark, dir,
        docs.filter(col("doc_id") % 3 === 0), "data/b3", ts = 500L)
    }
    CommitLog.leaveSafeMode(fs, dir)
    assert(!CommitLog.isFrozen(fs, dir))
    CommitLog.writeCommit(spark, dir,
      docs.filter(col("doc_id") % 3 === 0), "data/b3", ts = 600L)        // v3
    assert(head == 3)
  }

  test("safe mode: a corrupt active file never verifies, so the startup threshold holds until it is repaired") {
    val dir = fresh("safemode/corrupt")
    val docs = Tables.documents(spark, sfDir)
    CommitLog.writeCommit(spark, dir,
      docs.filter(col("doc_id") % 3 === 0).coalesce(1), "data/b0", ts = 100L)
    CommitLog.writeCommit(spark, dir,
      docs.filter(col("doc_id") % 3 === 1).coalesce(1), "data/b1", ts = 200L)
    Durability.corruptInPlace(fs, dir, "data/b1")
    CommitLog.enterSafeMode(fs, dir, thresholdPm = 1000)
    // reporting BOTH files verifies only the readable one — the
    // corrupt footer fails its read and stays out of the verified set
    val (n, t, frozen) = CommitLog.reportVerified(spark, dir, Seq("data/b0", "data/b1"))
    assert((n, t, frozen) == ((1, 2, true)), s"corrupt file verified? ($n,$t,$frozen)")
    // repair: the admin leaves safe mode, quarantines the corrupt
    // entry out of service (the commit gate applies to admins too —
    // that is the point of the gate), and re-enters; the restart
    // verification now exits on what remains
    CommitLog.leaveSafeMode(fs, dir)
    CommitLog.commit(fs, dir, ts = 300L, adds = Seq.empty, removes = Seq("data/b1"))
    CommitLog.enterSafeMode(fs, dir, thresholdPm = 1000)
    val (n3, t3, f3) = CommitLog.reportVerified(spark, dir, Seq("data/b0"))
    assert((n3, t3, f3) == ((1, 1, false)), s"post-repair report ($n3,$t3,$f3)")
    assert(!CommitLog.isFrozen(fs, dir))
  }

  test("export manifest: the served artifact alone reconstructs the version's listing, sizes, and checksums") {
    val rows = Durability.lakeExportManifest.fn(spark, sfDir).collect()
    assert(rows.length == 3)
    val dir = graft.operators.Lake.scratch("export/table")
    // the export parquet is the ONLY thing a byte server reads: check
    // it directly against the live filesystem and a live recompute
    val head = CommitLog.commits(fs, dir).last.version
    val served = spark.read.parquet(s"$dir/_export/v$head").collect()
    assert(served.length == 3)
    served.foreach { r =>
      val rel = r.getAs[String]("entry")
      val stats = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/$rel"))
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      assert(r.getAs[Long]("n_files") == stats.length.toLong, s"$rel file count")
      assert(r.getAs[Long]("n_bytes") == stats.map(_.getLen).sum, s"$rel bytes")
      val live = CommitLog.snapshot(spark, dir, version = head)
      assert(r.getAs[Long]("version") == head.toLong)
      // checksum parity against a direct read of the named entry
      val direct = spark.read.parquet(s"$dir/$rel")
        .select(graft.functions.GraftHash.charHash(
          org.apache.spark.sql.functions.col("text")).as("fp"))
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)),
          org.apache.spark.sql.functions.sum(
            org.apache.spark.sql.functions.col("fp")) % graft.functions.GraftHash.P)
        .collect()(0)
      assert(r.getAs[Long]("n_rows") == direct.getLong(0), s"$rel rows")
      assert(r.getAs[Long]("checksum") == direct.getLong(1), s"$rel checksum")
      assert(live.count() > 0)
    }
  }

  test("block tokens: expired, out-of-scope and retired-key tokens refuse BEFORE data I/O; only the valid block serves") {
    import Durability.BlockToken
    // validation is pure metadata: each refusal reason rejects on its own
    val base = BlockToken("b", "READ", 1000L, 601000L, keyId = 2)
    assert(Durability.validBlockTokens(Seq(base), "READ", 50000L, 2) == Seq("b"))
    assert(Durability.validBlockTokens(
      Seq(base.copy(expiresAt = 1010L)), "READ", 50000L, 2).isEmpty, "expired must refuse")
    assert(Durability.validBlockTokens(
      Seq(base.copy(mode = "WRITE")), "READ", 50000L, 2).isEmpty, "scope must refuse")
    assert(Durability.validBlockTokens(
      Seq(base.copy(keyId = 0)), "READ", 50000L, 2).isEmpty, "retired key must refuse")
    // previous key survives one rotation (in-flight reads), not two
    assert(Durability.validBlockTokens(
      Seq(base.copy(keyId = 1)), "READ", 50000L, 2) == Seq("b"))

    // ceremony: the refused entry is corrupted in place inside the op,
    // so the op completing AT ALL proves the gated read never opened
    // it — and the served subset is exactly block 0's rows
    val rows = Durability.lakeBlockTokens.fn(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val served = rows.map(_.getAs[Long]("n_docs")).sum
    val expected = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 4 === 0).count()
    assert(served == expected, "served rows must be exactly the valid block")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_served_blocks") == 1L)
      assert(r.getAs[Long]("n_refused_blocks") == 3L)
    }
    // and the corrupted refused entry really is unreadable — the gate,
    // not luck, kept it out of the plan
    intercept[Throwable] {
      spark.read.parquet(
        graft.operators.Lake.scratch("block_tokens/table") + "/data/b1").count()
    }
  }

  test("topology report: live domains reported from their actual dirs, the dead domain from placement metadata") {
    val rows = Durability.lakeTopology.fn(spark, sfDir).collect()
    assert(rows.length == 3)
    val byDomain = rows.map(r => r.getAs[String]("domain") -> r).toMap
    assert(byDomain("dc2_rackA").getAs[String]("state") == "DEAD")
    assert(byDomain("dc1_rackA").getAs[String]("state") == "LIVE")
    assert(byDomain("dc1_rackB").getAs[String]("state") == "LIVE")
    // the dead domain's dir never materialized — its row came from
    // the placement map alone
    assert(!fs.exists(new Path(graft.operators.Lake.scratch("topology/dc2_rackA"))))
    // every group has two replicas, so total hosted = 2 × corpus
    val total = rows.map(_.getAs[Long]("n_docs")).sum
    assert(total == 2L * Tables.documents(spark, sfDir).count())
  }

  test("balancer: every domain lands within threshold of the mean, content conserved") {
    val out = Durability.lakeBalancer.fn(spark, sfDir).collect()
      .map(r => r.getAs[String]("check_name") -> r.getAs[Long]("n")).toMap
    assert(out("balanced_before") == 0L && out("balanced_after") == 1L)
    val docs = Tables.documents(spark, sfDir)
    val totalDocs = docs.count()
    assert(out("total_docs") == totalDocs)
    // independently recompute the contract from the FINAL on-disk
    // placement: per-domain doc counts within 10% of capacity of the
    // mean, all 12 blocks present, no block split across domains
    val base = graft.operators.Lake.scratch("balancer")
    val placement = (0 to 3).map { i =>
      i -> fs.listStatus(new Path(s"$base/dom$i")).toSeq
        .map(_.getPath.getName).filter(_.startsWith("b"))
    }
    assert(placement.flatMap(_._2).sorted == (0 to 11).map(b => s"b$b").sorted)
    val mean = totalDocs.toDouble / 4
    val tol = 0.10 * totalDocs
    placement.foreach { case (i, bs) =>
      val n = bs.map(b => spark.read.parquet(s"$base/dom$i/$b").count()).sum
      assert(math.abs(n - mean) <= tol, s"dom$i used $n vs mean $mean tol $tol")
      assert(bs.nonEmpty, s"dom$i ended empty — the 'new empty node' must receive blocks")
    }
    // the skewed source shed blocks; the empty joiner gained them
    assert(placement.toMap.apply(0).size < 9)
  }

  test("balancer planner: random skews converge without overshoot, blocks conserved") {
    val rnd = new scala.util.Random(7)
    (1 to 100).foreach { trial =>
      val nDoms = 3 + rnd.nextInt(4)
      val nBlocks = 12 + rnd.nextInt(19)
      // near-equal weights keep every block under the tolerance —
      // the family the ceremony uses; a block wider than the slack is
      // structurally unmovable and the planner stops instead (covered
      // by the stuck branch below)
      val weight = (0 until nBlocks).map(b => b -> (100L + rnd.nextInt(41) - 20L)).toMap
      // pile everything arbitrarily: random domain per block, skewed
      // toward domain 0
      val placement = (0 until nBlocks)
        .groupBy(b => if (rnd.nextInt(3) > 0) 0 else rnd.nextInt(nDoms))
        .view.mapValues(_.toSeq).toMap
      val total = weight.values.sum
      val mean = total.toDouble / nDoms
      val tol = 0.10 * total
      val plan = graft.operators.Durability.planBalancerMoves(
        placement, weight, nDoms, tol, maxIter = 40)
      // replay the plan, asserting the per-move contract
      val pl = collection.mutable.Map(
        (0 until nDoms).map(i => i -> placement.getOrElse(i, Seq.empty).toVector): _*)
      val u = collection.mutable.Map(
        (0 until nDoms).map(i => i -> pl(i).map(weight).sum): _*)
      plan.foreach { case (b, src, dst) =>
        assert(src != dst && pl(src).contains(b), s"trial $trial: illegal move ($b,$src,$dst)")
        pl(src) = pl(src).filterNot(_ == b); pl(dst) = pl(dst) :+ b
        u(src) -= weight(b); u(dst) += weight(b)
        assert(u(dst) <= mean + tol + 1e-9, s"trial $trial: receiver overshot")
        assert(u(src) >= mean - tol - 1e-9, s"trial $trial: source undershot")
      }
      assert(pl.values.map(_.size).sum == nBlocks, s"trial $trial: blocks not conserved")
      // with every block within the tolerance the greedy must land
      // balanced — the ceremony's convergence claim, property-tested
      assert(u.values.forall(x => math.abs(x - mean) <= tol),
        s"trial $trial: not balanced, used=$u mean=$mean tol=$tol")
    }
    // stuck branch: one block wider than the whole tolerance cannot
    // move anywhere legal — the planner must stop, not spin
    val stuckPlan = graft.operators.Durability.planBalancerMoves(
      Map(0 -> Seq(0), 1 -> Seq.empty, 2 -> Seq.empty),
      Map(0 -> 900L), nDoms = 3, tol = 90.0, maxIter = 40)
    assert(stuckPlan.isEmpty)
    // a wide block PINNED on the top source must not block other
    // sources' legal moves (review finding: a first-source-only pass
    // declared this cluster stuck): dom0 holds one immovable 500,
    // dom1 holds five movable 100s, dom2 is empty — dom1 -> dom2
    // moves must still happen and land every movable-weight domain
    // inside the tolerance
    val pinned = graft.operators.Durability.planBalancerMoves(
      Map(0 -> Seq(0), 1 -> (1 to 5), 2 -> Seq.empty),
      Map(0 -> 500L) ++ (1 to 5).map(_ -> 100L).toMap,
      nDoms = 3, tol = 100.0, maxIter = 40)
    assert(pinned.nonEmpty, "other sources must keep moving around a pinned block")
    assert(pinned.forall { case (b, src, dst) => src == 1 && dst == 2 && b >= 1 },
      s"only dom1 -> dom2 moves are legal here, got $pinned")
    // mean 333.3, tol 100: full balance is structurally impossible
    // (the pinned 500 keeps dom0 at +166 forever) — the planner's
    // maximal reachable state is two 100-moves: dom1 at 300 is then
    // below average and, per the reference's classes, never a source.
    // One move per iteration (the per-iteration threshold budget).
    assert(pinned.size == 2, s"expected the two reachable moves, got $pinned")
  }

  test("corrupt board: budgeted detection is idempotent, pages resume by name under churn, walk terminates") {
    val dir = fresh("board/table")
    val docs = Tables.documents(spark, sfDir)
    (0 until 6).foreach { i =>
      CommitLog.writeCommit(spark, dir,
        docs.filter(col("doc_id") % 6 === i).coalesce(1), s"data/s$i", ts = 100L + i)
    }
    val victims = Seq("data/s1", "data/s3", "data/s4")
    victims.foreach(rel => Durability.corruptInPlace(fs, dir, rel))
    System.err.println("[expected] DurabilitySpec corrupt board: parquet " +
      "footer errors below are the intentional-corruption canary")
    // two FULL budgeted sweeps: the second must not duplicate board rows
    (0 until 6).foreach { _ =>
      val (_, bad) = Durability.scrubCycle(spark, dir, budget = 2)
      Durability.recordCorrupt(fs, dir, bad)
    }
    val (fullWalk, _) = Durability.listCorruptPage(fs, dir, "", limit = 100)
    assert(fullWalk == victims, s"board after two sweeps: $fullWalk")
    // page size 1, churn between every page: quarantine the served
    // entry, and mid-walk record a NEW corruption whose name sorts
    // BEFORE the cookie — the name cookie must not resurface it in
    // THIS walk (resume is strictly-after), but a fresh walk sees it
    var cookie = ""
    var served = Seq.empty[String]
    var pages = 0
    var done = false
    while (!done && pages < 10) {
      val (page, next) = Durability.listCorruptPage(fs, dir, cookie, limit = 1)
      if (page.isEmpty) {
        assert(next == cookie, "exhausted page must leave the cookie unchanged")
        done = true
      } else {
        Durability.quarantine(spark, dir, page.head, ts = 5000L + pages)
        if (pages == 0) {
          Durability.corruptInPlace(fs, dir, "data/s0")
          Durability.recordCorrupt(fs, dir, Seq("data/s0"))
        }
        served ++= page
        cookie = next
      }
      pages += 1
    }
    assert(done, "walk must terminate")
    assert(served == victims,
      s"walk served $served — every original entry exactly once, the " +
        "pre-cookie mid-walk find deferred to the next walk")
    val (rewalk, _) = Durability.listCorruptPage(fs, dir, "", limit = 100)
    assert(rewalk.contains("data/s0"), "a fresh walk sees the mid-walk find")
  }

  test("corrupt board walk invariant: 150 random board/churn histories serve exactly the right set") {
    val rnd = new scala.util.Random(1311)
    (1 to 150).foreach { trial =>
      val dir = fresh(s"boardprop/t$trial")
      fs.mkdirs(new Path(dir))
      // initial board: random unique names
      val pool = (0 until 26).map(i => f"data/e$i%02d")
      val initial = rnd.shuffle(pool).take(1 + rnd.nextInt(10)).sorted
      Durability.recordCorrupt(fs, dir, initial)
      var cookie = ""
      var served = Vector.empty[String]
      var lateAdds = Vector.empty[(String, String)] // (name, cookie when added)
      var pages = 0
      var done = false
      while (!done && pages < 60) {
        // churn between pages: sometimes record NEW names (before or
        // after the cookie, the invariant differs)
        if (rnd.nextInt(3) == 0) {
          val fresh = rnd.shuffle(pool.filterNot(initial.contains)
            .filterNot(n => lateAdds.exists(_._1 == n))).take(rnd.nextInt(2) + 1)
          if (fresh.nonEmpty) {
            Durability.recordCorrupt(fs, dir, fresh)
            lateAdds ++= fresh.map(_ -> cookie)
          }
        }
        val limit = 1 + rnd.nextInt(3)
        val (page, next) = Durability.listCorruptPage(fs, dir, cookie, limit)
        if (page.isEmpty) {
          assert(next == cookie, s"trial $trial: exhausted page moved the cookie")
          done = true
        } else {
          assert(page.size <= limit)
          served ++= page
          cookie = next
        }
        pages += 1
      }
      assert(done, s"trial $trial: walk did not terminate")
      // exactly-once, in order
      assert(served == served.distinct, s"trial $trial: duplicates in $served")
      assert(served.sorted == served, s"trial $trial: out-of-order walk")
      // every initial entry served exactly once; a late add is served
      // in THIS walk iff its name sorted after the cookie at add time
      val expected = (initial ++
        lateAdds.collect { case (n, ck) if n > ck => n }).sorted
      assert(served.sorted == expected,
        s"trial $trial: served $served, expected $expected (late: $lateAdds)")
      // the deferred late adds all surface on a fresh walk
      val (rewalk, _) = Durability.listCorruptPage(fs, dir, "", limit = 100)
      assert(rewalk == (initial ++ lateAdds.map(_._1)).sorted.toVector.toSeq ||
        rewalk == (initial ++ lateAdds.map(_._1)).distinct.sorted,
        s"trial $trial: fresh walk $rewalk")
    }
  }

  test("corrupt board crash windows: delete-rename gap recovers from tmp, torn tmp never adopted (ADVICE r13)") {
    val dir = fresh("boardcrash/table")
    fs.mkdirs(new Path(dir))
    val board = new Path(dir, "_corrupt/board")
    val tmp = new Path(dir, "_corrupt/board.tmp")
    def copy(src: Path, dst: Path): Unit = {
      val in = fs.open(src)
      val bytes =
        try org.apache.hadoop.io.IOUtils.readFullyToByteArray(in)
        finally in.close()
      val out = fs.create(dst, true)
      try out.write(bytes) finally out.close()
    }
    val initial = Seq("data/e01", "data/e03", "data/e05")
    Durability.recordCorrupt(fs, dir, initial)

    // CRASH WINDOW 1 (the ADVICE finding): tmp fully written, board
    // deleted, crash before the rename — the destination is absent
    // and only the complete tmp holds the state. Simulate by copying
    // the installed board to tmp (bytes of a complete file) and
    // deleting the board.
    copy(board, tmp)
    fs.delete(board, false)
    val (afterCrash, _) = Durability.listCorruptPage(fs, dir, "", 100)
    assert(afterCrash == initial,
      s"reader must adopt the complete tmp when the board is absent: $afterCrash")
    // ... and the next recordCorrupt must MERGE with it, not reset
    Durability.recordCorrupt(fs, dir, Seq("data/e02"))
    val (merged, _) = Durability.listCorruptPage(fs, dir, "", 100)
    assert(merged == Seq("data/e01", "data/e02", "data/e03", "data/e05"),
      s"recordCorrupt after the crash window lost entries: $merged")

    // CRASH WINDOW 2: crash mid-tmp-write (torn tmp, no end marker)
    // with the board intact — the installed board must win and the
    // torn bytes must never be adopted.
    val out = fs.create(tmp, true)
    try out.write("data/zz-torn\n".getBytes("UTF-8")) finally out.close()
    val (tornBeside, _) = Durability.listCorruptPage(fs, dir, "", 100)
    assert(tornBeside == merged, s"torn tmp beside a board leaked: $tornBeside")
    Durability.recordCorrupt(fs, dir, Seq("data/e04"))
    val (after2, _) = Durability.listCorruptPage(fs, dir, "", 100)
    assert(after2 ==
      Seq("data/e01", "data/e02", "data/e03", "data/e04", "data/e05"),
      s"merge over a torn tmp went wrong: $after2")

    // Torn tmp with NO board (unreachable under the write protocol,
    // asserted safe anyway): reader refuses the torn bytes.
    val dir2 = fresh("boardcrash/table2")
    fs.mkdirs(new Path(dir2, "_corrupt"))
    val out2 = fs.create(new Path(dir2, "_corrupt/board.tmp"), true)
    try out2.write("data/partial".getBytes("UTF-8")) finally out2.close()
    val (none, ck) = Durability.listCorruptPage(fs, dir2, "", 100)
    assert(none.isEmpty && ck == "", s"torn-only state must read empty: $none")
  }
}
