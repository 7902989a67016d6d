package graft

import graft.sources.CommitLog
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.SpecBus.jobsDuring
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

class CommitLogSpec extends SparkSpec {

  private def fs: FileSystem =
    FileSystem.get(spark.sparkContext.hadoopConfiguration)

  private def freshTable(name: String): String = {
    val dir = graft.operators.Lake.scratch(s"commitlog/$name")
    fs.delete(new Path(dir), true)
    dir
  }

  test("version reads are stable under later commits; asOf replays by timestamp") {
    val dir = freshTable("versions")
    val r = Tables.region(spark, sfDir)
    CommitLog.writeCommit(spark, dir, r.filter(col("r_regionkey") < 2), "data/a", ts = 100L)
    CommitLog.writeCommit(spark, dir, r.filter(col("r_regionkey") >= 2), "data/b", ts = 200L)
    val n0 = CommitLog.snapshot(spark, dir, version = 0).count()
    val n1 = CommitLog.snapshot(spark, dir, version = 1).count()
    CommitLog.commit(fs, dir, ts = 300L, adds = Nil, removes = Seq("data/a"))
    // old versions unchanged after the delete commit
    assert(CommitLog.snapshot(spark, dir, version = 0).count() == n0)
    assert(CommitLog.snapshot(spark, dir, version = 1).count() == n1)
    assert(CommitLog.snapshot(spark, dir).count() == n1 - n0)
    // timestamp travel: boundary inclusive, mid-range picks the commit before
    assert(CommitLog.snapshotAsOf(spark, dir, 100L).count() == n0)
    assert(CommitLog.snapshotAsOf(spark, dir, 250L).count() == n1)
    assert(CommitLog.snapshotAsOf(spark, dir, 300L).count() == n1 - n0)
  }

  test("two writers racing for one version: exactly one wins, loser lands on the next") {
    val dir = freshTable("race")
    val r = Tables.region(spark, sfDir)
    CommitLog.writeCommit(spark, dir, r, "data/base", ts = 100L)
    // both writers target version 1
    val winA = CommitLog.tryCommit(fs, dir, 1, 200L, Seq("data/a"), Nil)
    val winB = CommitLog.tryCommit(fs, dir, 1, 201L, Seq("data/b"), Nil)
    assert(winA && !winB, "create-exclusive must admit exactly one writer per version")
    // the loser's retry path (commit) appends at the next free version
    val v = CommitLog.commit(fs, dir, 201L, Seq("data/b"), Nil)
    assert(v == 2)
    val cs = CommitLog.commits(fs, dir)
    assert(cs.map(_.version) == Seq(0, 1, 2))
    assert(cs(1).adds == Seq("data/a") && cs(2).adds == Seq("data/b"))
  }

  test("checkpoint compacts the journal; head and history both stay readable") {
    val dir = freshTable("checkpoint")
    val r = Tables.region(spark, sfDir)
    CommitLog.writeCommit(spark, dir, r.filter(col("r_regionkey") < 2), "data/a", ts = 100L)
    CommitLog.writeCommit(spark, dir, r.filter(col("r_regionkey") >= 2), "data/b", ts = 200L)
    CommitLog.commit(fs, dir, ts = 300L, adds = Nil, removes = Seq("data/a"))
    val headBefore = CommitLog.snapshot(spark, dir)
      .collect().map(_.getInt(0)).sorted.toSeq
    val v = CommitLog.checkpoint(spark, dir, ts = 400L)
    // head content identical through the image
    assert(CommitLog.snapshot(spark, dir)
      .collect().map(_.getInt(0)).sorted.toSeq == headBefore)
    // the image commit replaced the active files with one dir
    val cs = CommitLog.commits(fs, dir)
    assert(cs.last.version == v && cs.last.adds == Seq(s"data/ckpt-$v"))
    // pre-checkpoint versions still read their original files
    assert(CommitLog.snapshot(spark, dir, version = 1).count() == r.count())
    // appends continue on top of the image
    CommitLog.writeCommit(spark, dir, r.filter(col("r_regionkey") < 1), "data/c", ts = 500L)
    assert(CommitLog.snapshot(spark, dir).count() ==
      headBefore.size + r.filter(col("r_regionkey") < 1).count())
  }

  test("retention truncates history at a checkpoint; head replays from the image") {
    val dir = freshTable("retention")
    val r = Tables.region(spark, sfDir)
    CommitLog.writeCommit(spark, dir, r.filter(col("r_regionkey") < 2), "data/a", ts = 100L)
    CommitLog.writeCommit(spark, dir, r.filter(col("r_regionkey") >= 2), "data/b", ts = 200L)
    CommitLog.commit(fs, dir, ts = 300L, adds = Nil, removes = Seq("data/a"))
    // retention without a checkpoint must refuse (nothing to replay from)
    intercept[IllegalArgumentException] { CommitLog.dropHistoryBefore(fs, dir, 2) }
    val ck = CommitLog.checkpoint(spark, dir, ts = 400L)
    CommitLog.writeCommit(spark, dir, r.filter(col("r_regionkey") < 1), "data/c", ts = 500L)
    val headBefore = CommitLog.snapshot(spark, dir).count()
    // graceMs = 0: no writer is in flight in the test
    val dropped = CommitLog.dropHistoryBefore(fs, dir, ck, graceMs = 0L)
    assert(dropped == Seq(0, 1, 2))
    // head still replays (image + later edits); pre-cut data reclaimed
    assert(CommitLog.snapshot(spark, dir).count() == headBefore)
    assert(CommitLog.snapshot(spark, dir, version = ck).count() ==
      r.filter(col("r_regionkey") >= 2).count())
    assert(!fs.exists(new Path(dir, "data/a")) && !fs.exists(new Path(dir, "data/b")))
    // truncated versions are gone
    intercept[IllegalArgumentException] {
      CommitLog.snapshot(spark, dir, version = 1).count()
    }
  }

  test("freeze refuses commits (safe mode) while reads keep replaying") {
    val dir = freshTable("freeze")
    val r = Tables.region(spark, sfDir)
    CommitLog.writeCommit(spark, dir, r, "data/base", ts = 100L)
    CommitLog.freeze(fs, dir)
    intercept[java.io.IOException] {
      CommitLog.commit(fs, dir, 200L, Seq("data/x"), Nil)
    }
    assert(CommitLog.snapshot(spark, dir).count() == r.count()) // reads fine
    CommitLog.unfreeze(fs, dir)
    CommitLog.writeCommit(spark, dir, r, "data/more", ts = 300L)
    assert(CommitLog.snapshot(spark, dir).count() == 2 * r.count())
  }

  test("streaming commit-log sink: each micro-batch is a version; history time-travels") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamingOps
    import graft.streaming.StreamingOps.Ev
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = freshTable("stream_sink")
    val ck = graft.operators.Lake.scratch(s"commitlog/stream_sink_ck")
    fs.delete(new Path(ck), true)
    fs.delete(new Path(ck + "2"), true)
    val events = Tables.events(spark, sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .collect()
      .map(r => Ev(r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getString(3), r.getDouble(4)))
      .toSeq
    val stream = MemoryStream[Ev]
    val q = StreamingOps.commitLogSink(stream.toDF(), dir, ck)
    try {
      stream.addData(events.take(300)); q.processAllAvailable()
      stream.addData(events.drop(300)); q.processAllAvailable()
    } finally q.stop()
    val cs = CommitLog.commits(fs, dir)
    assert(cs.length == 2 && cs.map(_.version) == Seq(0, 1))
    // version 0 = first batch only; head = everything
    assert(CommitLog.snapshot(spark, dir, version = 0).count() == 300)
    assert(CommitLog.snapshot(spark, dir).count() == events.length)
    // restarting from the SAME checkpoint commits nothing new (batch
    // ids at or below the sink's high-water mark are skipped)
    val stream2 = MemoryStream[Ev]
    val q2 = StreamingOps.commitLogSink(stream2.toDF(), dir, ck)
    try { q2.processAllAvailable() } finally q2.stop()
    assert(CommitLog.commits(fs, dir).length == 2, "same-checkpoint restart re-committed")
    // a DIFFERENT producer (fresh checkpoint) writes under its own
    // sink prefix: its batch 0 cannot collide with this stream's
    // batch 0 — the data lands instead of being silently dropped
    val stream3 = MemoryStream[Ev]
    val q3 = StreamingOps.commitLogSink(stream3.toDF(), dir, ck + "2")
    try {
      stream3.addData(events.take(10)); q3.processAllAvailable()
    } finally q3.stop()
    assert(CommitLog.commits(fs, dir).length == 3, "second producer's batch was dropped")
    assert(CommitLog.snapshot(spark, dir).count() == events.length + 10)
  }

  test("sink high-water mark: swapped in via tmp + rename; a garbage mark fails naming its path") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamingOps
    import graft.streaming.StreamingOps.Ev
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = freshTable("sink_hwm")
    val ck = graft.operators.Lake.scratch("commitlog/sink_hwm_ck")
    fs.delete(new Path(ck), true)
    val ev = Ev(1L, new java.sql.Timestamp(0L), 1L, "view", 1.0)
    def marks(): Seq[Path] =
      fs.listStatus(new Path(dir)).map(_.getPath).filter(_.getName.startsWith("_sink-")).toSeq
    val stream = MemoryStream[Ev]
    val q = StreamingOps.commitLogSink(stream.toDF(), dir, ck)
    try {
      stream.addData(Seq(ev)); q.processAllAvailable()
      stream.addData(Seq(ev.copy(event_id = 2L))); q.processAllAvailable()
      // a clean run leaves exactly the mark, holding the last batch id
      val Seq(mark) = marks()
      assert(mark.getName.endsWith("-hwm"), s"stray sink file: $mark")
      val in = fs.open(mark)
      try assert(new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8") == "1")
      finally in.close()
      // a torn (garbage) mark fails the next batch with its path
      val out = fs.create(mark, true)
      try out.write("".getBytes("UTF-8")) finally out.close()
      stream.addData(Seq(ev.copy(event_id = 3L)))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
      assert(causes.exists(c => c.isInstanceOf[java.io.IOException] &&
        c.getMessage.contains(mark.toUri.getPath)), s"no IOException naming $mark in: $causes")
      assert(CommitLog.commits(fs, dir).length == 2, "a batch past a garbage mark committed")
    } finally q.stop()
  }

  test("vacuum removes only never-referenced staging dirs") {
    val dir = freshTable("vacuum")
    val r = Tables.region(spark, sfDir)
    CommitLog.writeCommit(spark, dir, r, "data/live", ts = 100L)
    // a crashed writer's staging leftovers: data written, commit never created
    r.write.parquet(s"$dir/data/orphan")
    // a referenced-then-removed dir must SURVIVE vacuum (old versions
    // still read it)
    CommitLog.writeCommit(spark, dir, r, "data/retired", ts = 200L)
    CommitLog.commit(fs, dir, 300L, Nil, Seq("data/retired"))
    // fresh orphans survive the default grace window (live-writer
    // protection); with grace 0 they are reclaimed
    assert(CommitLog.vacuumOrphans(fs, dir).isEmpty)
    val removed = CommitLog.vacuumOrphans(fs, dir, graceMs = 0L)
    assert(removed == Seq("data/orphan"))
    assert(fs.exists(new Path(dir, "data/retired")))
    assert(CommitLog.snapshot(spark, dir, version = 1).count() == 2 * r.count())
  }

  test("checkpoint cadence: free below threshold, compacts above, declines after") {
    val dir = freshTable("cadence")
    val n = Tables.nation(spark, sfDir)
    def slice(r: Int) = n.filter(col("n_nationkey") % 5 === r)
    (0 to 2).foreach(r =>
      CommitLog.writeCommit(spark, dir, slice(r), s"data/m$r", ts = 100L * (r + 1)))
    // replay = 3, cadence 3: not yet
    assert(CommitLog.maybeCheckpoint(spark, dir, ts = 400L, maxReplay = 3).isEmpty)
    assert(!CommitLog.commits(fs, dir).exists(_.isCheckpoint), "no image below threshold")
    CommitLog.writeCommit(spark, dir, slice(3), "data/m3", ts = 500L)
    val total = CommitLog.snapshot(spark, dir).count()
    // replay = 4 > 3: image commit lands, content unchanged
    val v = CommitLog.maybeCheckpoint(spark, dir, ts = 600L, maxReplay = 3)
    assert(v.contains(4), s"image should land at the next version: $v")
    assert(CommitLog.commits(fs, dir).exists(c => c.isCheckpoint && c.version == 4))
    assert(CommitLog.snapshot(spark, dir).count() == total)
    // replay = 1 right after: declines
    assert(CommitLog.maybeCheckpoint(spark, dir, ts = 700L, maxReplay = 3).isEmpty)
    // post-image appends replay image + delta; pre-image history readable
    CommitLog.writeCommit(spark, dir, slice(4), "data/m4", ts = 800L)
    assert(CommitLog.snapshot(spark, dir).count() == n.count())
    assert(CommitLog.snapshot(spark, dir, version = 2).count() ==
      slice(0).count() + slice(1).count() + slice(2).count())
  }

  test("restore makes an old version current again, then diverges; history intact") {
    val dir = freshTable("restore")
    val n = Tables.nation(spark, sfDir)
    def slice(r: Int) = n.filter(col("n_nationkey") % 4 === r)
    CommitLog.writeCommit(spark, dir, slice(0), "data/m0", ts = 100L) // v0
    CommitLog.writeCommit(spark, dir, slice(1), "data/m1", ts = 200L) // v1
    CommitLog.writeCommit(spark, dir, slice(2), "data/m2", ts = 300L) // v2
    val v1Keys = CommitLog.snapshot(spark, dir, version = 1)
      .select("n_nationkey").collect().map(_.getInt(0)).sorted.toSeq
    val rv = CommitLog.restore(fs, dir, v = 1, ts = 400L)
    assert(rv == 3, "restore is one ordinary journal commit")
    // head == v1 exactly, via pure metadata (no data dir was touched)
    assert(CommitLog.snapshot(spark, dir)
      .select("n_nationkey").collect().map(_.getInt(0)).sorted.toSeq == v1Keys)
    // pre-restore history is still readable — restore adds, never erases
    assert(CommitLog.snapshot(spark, dir, version = 2).count() ==
      slice(0).count() + slice(1).count() + slice(2).count())
    // post-restore append lands on the restored lineage: 0,1,3 — not 2
    CommitLog.writeCommit(spark, dir, slice(3), "data/m3", ts = 500L)
    val headKeys = CommitLog.snapshot(spark, dir)
      .select("n_nationkey").collect().map(_.getInt(0) % 4).toSet
    assert(headKeys == Set(0, 1, 3), s"diverged head should hold slices 0,1,3: $headKeys")
  }

  test("drain retires a storage dir; survivors keep byte identity, content unchanged") {
    val dir = freshTable("drain")
    val n = Tables.nation(spark, sfDir)
    def slice(r: Int) = n.filter(col("n_nationkey") % 3 === r)
    CommitLog.writeCommit(spark, dir, slice(0), "data/store0", ts = 100L)
    CommitLog.writeCommit(spark, dir, slice(1), "data/store1", ts = 200L)
    CommitLog.writeCommit(spark, dir, slice(2), "data/store2", ts = 300L)
    val total = CommitLog.snapshot(spark, dir).count()
    def identity(store: String): Map[String, (Long, Long)] =
      fs.listStatus(new Path(s"$dir/data/$store")).filter(_.isFile)
        .map(st => st.getPath.getName -> (st.getLen, st.getModificationTime)).toMap
    val id0 = identity("store0"); val id2 = identity("store2")
    val (v, moved) = CommitLog.drain(spark, dir, "data/store1", "data/absorbed1", ts = 400L)
    assert(moved == Seq("data/store1"), s"drain should move exactly store1: $moved")
    CommitLog.dropHistoryBefore(fs, dir, v, graceMs = 0L) // physical retire
    assert(!fs.exists(new Path(s"$dir/data/store1")), "drained dir must be gone")
    assert(identity("store0") == id0 && identity("store2") == id2,
      "surviving stores must keep byte identity — drain rewrites only what it drains")
    assert(CommitLog.snapshot(spark, dir).count() == total, "drain must not change content")
    // drained rows now live in the absorbed location
    assert(fs.exists(new Path(s"$dir/data/absorbed1")))
  }

  test("clone checkpoint localizes the external references; source untouched") {
    val src = freshTable("clone_src")
    val dst = freshTable("clone_dst")
    val r = Tables.region(spark, sfDir)
    CommitLog.writeCommit(spark, src, r.filter(col("r_regionkey") < 3), "data/a", ts = 100L)
    CommitLog.cloneFrom(fs, src, dst, ts = 200L)
    val before = CommitLog.snapshot(spark, dst).count()
    // the clone holds NO data of its own yet — journal only
    assert(!fs.exists(new Path(s"$dst/data")))
    // checkpoint materializes the active set locally
    CommitLog.checkpoint(spark, dst, ts = 300L)
    assert(CommitLog.snapshot(spark, dst).count() == before)
    assert(fs.exists(new Path(s"$dst/data")), "checkpoint should localize the clone")
    // source table is structurally untouched and still readable
    assert(CommitLog.snapshot(spark, src).count() == before)
    // vacuum on the clone can never reach the source's files
    CommitLog.vacuumOrphans(fs, dst, graceMs = 0L)
    assert(CommitLog.snapshot(spark, src).count() == before)
  }

  test("source retention cannot break a live clone: back-references pin, then release") {
    val src = freshTable("pin_src")
    val dst = freshTable("pin_dst")
    val r = Tables.region(spark, sfDir)
    CommitLog.writeCommit(spark, src, r.filter(col("r_regionkey") < 3), "data/a", ts = 100L)
    CommitLog.cloneFrom(fs, src, dst, ts = 200L)
    val cloneRows = CommitLog.snapshot(spark, dst).count()
    assert(CommitLog.registeredClones(fs, src) == Seq(dst))
    // source moves on: checkpoint supersedes data/a, retention runs
    CommitLog.writeCommit(spark, src, r.filter(col("r_regionkey") >= 3), "data/b", ts = 300L)
    val ck = CommitLog.checkpoint(spark, src, ts = 400L)
    val reclaimed = CommitLog.dropHistoryBefore(fs, src, ck, graceMs = 0L)
    assert(reclaimed.nonEmpty, "history should actually drop")
    // data/a is no longer in the source's journal, but the clone
    // still references it — it must survive the vacuum
    assert(fs.exists(new Path(s"$src/data/a")), "clone-pinned file was vacuumed")
    assert(CommitLog.snapshot(spark, dst).count() == cloneRows,
      "clone must stay readable through source retention")
    // clone localizes + drops its external-ref history -> pin releases
    val cloneCk = CommitLog.checkpoint(spark, dst, ts = 500L)
    CommitLog.dropHistoryBefore(fs, dst, cloneCk, graceMs = 0L)
    CommitLog.vacuumOrphans(fs, src, graceMs = 0L)
    assert(!fs.exists(new Path(s"$src/data/a")),
      "released pin should let the source reclaim the file")
    assert(CommitLog.registeredClones(fs, src).isEmpty,
      "stale clone marker should be swept")
    assert(CommitLog.snapshot(spark, dst).count() == cloneRows,
      "localized clone unaffected by source reclaim")
  }

  test("journalTimeline: one O(V) fold equals per-version activeFiles replay") {
    val dir = freshTable("timeline")
    val n = Tables.nation(spark, sfDir)
    def slice(r: Int) = n.filter(col("n_nationkey") % 4 === r)
    CommitLog.writeCommit(spark, dir, slice(0), "data/m0", ts = 100L)
    CommitLog.writeCommit(spark, dir, slice(1), "data/m1", ts = 200L)
    CommitLog.commit(fs, dir, 300L, Nil, Seq("data/m0"))
    CommitLog.checkpoint(spark, dir, ts = 400L)
    CommitLog.writeCommit(spark, dir, slice(2), "data/m2", ts = 500L)
    CommitLog.restore(fs, dir, v = 1, ts = 600L)
    val cs = CommitLog.commits(fs, dir)
    val timeline = CommitLog.journalTimeline(cs)
    assert(timeline.map(_._1.version) == cs.map(_.version).sorted)
    // the single-pass counts must equal the O(V^2) per-version replay
    timeline.foreach { case (c, nActive) =>
      assert(nActive == CommitLog.activeFiles(fs, dir, c.version).size.toLong,
        s"timeline diverges from replay at v${c.version}")
    }
  }

  test("restore racing an append: one winner per version, journal linearizes") {
    val n = Tables.nation(spark, sfDir)
    var sawRestoreLose = false
    var sawRestoreWin = false
    for (trial <- 0 until 4) {
      val dir = freshTable(s"race_restore_$trial")
      CommitLog.writeCommit(spark, dir, n.filter(col("n_nationkey") < 5), "data/m0", ts = 100L)
      CommitLog.writeCommit(spark, dir, n.filter(col("n_nationkey") >= 5), "data/m1", ts = 200L)
      n.limit(1).write.parquet(s"$dir/data/m2") // appended data, staged pre-race
      // both contenders enter targeting version 2
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      @volatile var restoreV: Int = -1
      @volatile var restoreLost = false
      val rt = new Thread(() => {
        barrier.await()
        try restoreV = CommitLog.restore(fs, dir, v = 0, ts = 300L)
        catch { case _: java.util.ConcurrentModificationException => restoreLost = true }
      })
      @volatile var appendV: Int = -1
      val at = new Thread(() => {
        barrier.await()
        appendV = CommitLog.commit(fs, dir, 301L, Seq("data/m2"), Nil)
      })
      rt.start(); at.start(); rt.join(30000); at.join(30000)
      assert(appendV >= 2, "append must always land (commit retries past losses)")
      if (restoreLost) { sawRestoreLose = true; restoreV = CommitLog.restore(fs, dir, v = 0, ts = 400L) }
      else sawRestoreWin = true
      // exactly one commit per version, contiguous — create-exclusive linearized the race
      val vs = CommitLog.commits(fs, dir).map(_.version)
      assert(vs == (0 to vs.max), s"journal must be contiguous with one winner per slot: $vs")
      assert(vs.max == 3 && Set(restoreV, appendV) == Set(2, 3),
        s"restore@$restoreV append@$appendV must occupy versions 2 and 3 exactly")
      // replay is consistent with whichever order won
      val expectHead =
        if (restoreV > appendV) Set("data/m0") // restore last: back to v0's set
        else Set("data/m0", "data/m2") // append on the restored lineage
      assert(CommitLog.activeFiles(fs, dir).toSet == expectHead)
      assert(CommitLog.snapshot(spark, dir).count() ==
        expectHead.toSeq.map(p => spark.read.parquet(s"$dir/$p").count()).sum)
    }
    info(s"race coverage: restore lost=$sawRestoreLose won=$sawRestoreWin")
  }

  test("drain racing an append: loser cleans its staging, retry succeeds") {
    val n = Tables.nation(spark, sfDir)
    for (trial <- 0 until 3) {
      val dir = freshTable(s"race_drain_$trial")
      def slice(r: Int) = n.filter(col("n_nationkey") % 3 === r)
      CommitLog.writeCommit(spark, dir, slice(0), "data/store0", ts = 100L)
      CommitLog.writeCommit(spark, dir, slice(1), "data/store1", ts = 200L)
      slice(2).write.parquet(s"$dir/data/late")
      val total = CommitLog.snapshot(spark, dir).count()
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      @volatile var drainLost = false
      val dt = new Thread(() => {
        barrier.await()
        try CommitLog.drain(spark, dir, "data/store1", "data/absorbed", ts = 300L)
        catch { case _: java.util.ConcurrentModificationException => drainLost = true }
      })
      val at = new Thread(() => {
        barrier.await()
        CommitLog.commit(fs, dir, 301L, Seq("data/late"), Nil)
      })
      dt.start(); at.start(); dt.join(60000); at.join(60000)
      if (drainLost) {
        // CAS failure path must have deleted the staged rewrite
        assert(!fs.exists(new Path(s"$dir/data/absorbed")),
          "losing drain must clean up its staging dir")
        CommitLog.drain(spark, dir, "data/store1", "data/absorbed", ts = 400L)
      }
      val vs = CommitLog.commits(fs, dir).map(_.version)
      assert(vs == (0 to vs.max), s"journal must stay contiguous: $vs")
      // content: everything except nothing — drain moves, append adds
      assert(CommitLog.snapshot(spark, dir).count() == total + slice(2).count())
      assert(!CommitLog.activeFiles(fs, dir).contains("data/store1"))
      assert(CommitLog.activeFiles(fs, dir).contains("data/absorbed"))
    }
  }

  test("drain refuses a dest that overlaps an active path") {
    val dir = freshTable("drain_guard")
    val n = Tables.nation(spark, sfDir)
    CommitLog.writeCommit(spark, dir, n.filter(col("n_nationkey") < 5), "data/store0", ts = 100L)
    CommitLog.writeCommit(spark, dir, n.filter(col("n_nationkey") >= 5), "data/store1", ts = 200L)
    // dest == an active path, dest under an active path, active path under dest
    intercept[IllegalArgumentException] {
      CommitLog.drain(spark, dir, "data/store1", "data/store0", ts = 300L)
    }
    intercept[IllegalArgumentException] {
      CommitLog.drain(spark, dir, "data/store1", "data/store0/sub", ts = 300L)
    }
    intercept[IllegalArgumentException] {
      CommitLog.drain(spark, dir, "data/store1", "data", ts = 300L)
    }
    // live data untouched by the refused ceremonies
    assert(CommitLog.snapshot(spark, dir).count() == n.count())
  }

  test("deleting a clone wholesale releases its pin on the next source vacuum") {
    val src = freshTable("pin2_src")
    val dst = freshTable("pin2_dst")
    val r = Tables.region(spark, sfDir)
    CommitLog.writeCommit(spark, src, r, "data/a", ts = 100L)
    CommitLog.cloneFrom(fs, src, dst, ts = 200L)
    CommitLog.writeCommit(spark, src, r.limit(1), "data/b", ts = 300L)
    val ck = CommitLog.checkpoint(spark, src, ts = 400L)
    fs.delete(new Path(dst), true) // clone abandoned
    CommitLog.dropHistoryBefore(fs, src, ck, graceMs = 0L)
    assert(!fs.exists(new Path(s"$src/data/a")),
      "dead clone must not pin source files")
    assert(CommitLog.registeredClones(fs, src).isEmpty)
  }

  test("saveNamespace images now, declines on a fresh image, re-arms on append") {
    val dir = freshTable("save_ns")
    val r = Tables.region(spark, sfDir)
    CommitLog.writeCommit(spark, dir, r.filter(col("r_regionkey") < 2), "data/a", ts = 100L)
    CommitLog.writeCommit(spark, dir, r.filter(col("r_regionkey") >= 2), "data/b", ts = 200L)
    // explicit verb fires below any cadence threshold
    assert(CommitLog.maybeCheckpoint(spark, dir, 250L, maxReplay = 10).isEmpty)
    val v = CommitLog.saveNamespace(spark, dir, ts = 300L)
    assert(v.contains(2), s"image-now must checkpoint at the head, got $v")
    // head already an image: decline, don't stamp a redundant image
    assert(CommitLog.saveNamespace(spark, dir, ts = 400L).isEmpty)
    assert(CommitLog.commits(fs, dir).count(_.isCheckpoint) == 1)
    CommitLog.writeCommit(spark, dir, r.filter(col("r_regionkey") === 0),
      "data/c", ts = 500L)
    assert(CommitLog.saveNamespace(spark, dir, ts = 600L).nonEmpty)
    // content preserved through both images
    assert(CommitLog.snapshot(spark, dir).count() ==
      r.count() + r.filter(col("r_regionkey") === 0).count())
  }

  test("retired storage is fenced from ship until restoreFailedStorage re-admits") {
    val primary = freshTable("rfs_primary")
    val replica = freshTable("rfs_replica")
    val r = Tables.region(spark, sfDir)
    CommitLog.writeCommit(spark, primary, r.filter(col("r_regionkey") < 2), "data/a", ts = 100L)
    assert(CommitLog.ship(spark, primary, replica) == Seq(0))
    CommitLog.retireStorage(fs, replica)
    CommitLog.writeCommit(spark, primary, r.filter(col("r_regionkey") >= 2), "data/b", ts = 200L)
    intercept[java.io.IOException] { CommitLog.ship(spark, primary, replica) }
    // re-admission resyncs exactly the missed delta and drops the fence
    assert(CommitLog.restoreFailedStorage(spark, primary, replica) == Seq(1))
    assert(!CommitLog.isRetired(fs, replica))
    assert(CommitLog.snapshot(spark, replica).count() == r.count())
    // idempotent on an in-sync dir
    assert(CommitLog.restoreFailedStorage(spark, primary, replica).isEmpty)
  }

  test("burned version pays the grace wait at most once (ADVICE r11)") {
    val dir = freshTable("burned_once")
    val r = Tables.region(spark, sfDir)
    CommitLog.writeCommit(spark, dir, r, "data/a", ts = 100L)
    CommitLog.commit(fs, dir, ts = 200L, adds = Seq("data/a2"), removes = Nil)
    // a crashed writer: version file present, body never terminated
    val burned = new Path(s"$dir/_log/5.log")
    val out = fs.create(burned, false)
    out.write("ts 300\nadd data/ghost\n".getBytes("UTF-8")); out.close()
    def timedRestore(v: Int): Long = {
      val t0 = System.nanoTime()
      CommitLog.restore(fs, dir, v, ts = 400L + v)
      (System.nanoTime() - t0) / 1000000L
    }
    // first stable read diagnoses the burned file: pays the full grace
    val first = timedRestore(0)
    assert(first >= 1500L, s"first read should pay the ~2s grace, took ${first}ms")
    // diagnosis cached: subsequent ceremonies on this table are fast
    val second = timedRestore(0)
    assert(second < 1500L, s"burned diagnosis must be cached, took ${second}ms")
    // the burned version stayed burned: ghost never entered the lineage
    assert(!CommitLog.commits(fs, dir).exists(_.adds.contains("data/ghost")))
    assert(CommitLog.snapshot(spark, dir).count() == r.count())
  }

  test("burned diagnosis evicts when the file is wiped: a recreated in-flight file re-pays the grace (ADVICE r11)") {
    val dir = freshTable("burned_evict")
    val r = Tables.region(spark, sfDir)
    CommitLog.writeCommit(spark, dir, r, "data/a", ts = 100L)
    val burned = new Path(s"$dir/_log/5.log")
    def crashWriter(): Unit = {
      val out = fs.create(burned, false)
      out.write("ts 300\nadd data/ghost\n".getBytes("UTF-8")); out.close()
    }
    def timedRestore(v: Int): Long = {
      val t0 = System.nanoTime()
      CommitLog.restore(fs, dir, v, ts = 400L)
      (System.nanoTime() - t0) / 1000000L
    }
    crashWriter()
    assert(timedRestore(0) >= 1500L, "first read pays the grace")
    assert(timedRestore(0) < 1500L, "diagnosis cached")
    // the burned file is wiped (vacuumed history / dir recreate) and a
    // NEW in-flight writer reuses the version number with the same
    // length — identity (len, mtime) alone cannot tell them apart on a
    // coarse-mtime filesystem; eviction at the file-gone read restores
    // the full grace guarantee for the successor
    fs.delete(burned, false)
    assert(timedRestore(0) < 1500L, "no wait with the file gone (and diagnosis evicted)")
    crashWriter()
    assert(timedRestore(0) >= 1500L,
      "a recreated same-version in-flight file must re-pay the full grace")
  }

  test("hflush: opt-in tail sees the flushed set, default readers don't; promote converges; torn marker invisible") {
    val dir = freshTable("flush")
    val r = Tables.region(spark, sfDir)
    CommitLog.writeCommit(spark, dir, r.filter(col("r_regionkey") < 2), "data/a", ts = 100L)
    r.filter(col("r_regionkey") >= 2).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/data/b")
    CommitLog.flush(fs, dir, "w1", Seq("data/b"), ts = 150L)
    assert(CommitLog.snapshot(spark, dir).count() == 2, "default read: committed only")
    assert(CommitLog.snapshotWithInflight(spark, dir).count() == 5, "tail read: plus flushed")
    // a torn marker (no terminator — crashed mid-swap) parses as absent
    val torn = fs.create(new Path(s"$dir/_inflight/w2.flush"), true)
    torn.write("ts 160\nadd data/ghost\n".getBytes("UTF-8")); torn.close()
    assert(CommitLog.flushedAdds(fs, dir).keySet == Set("w1"))
    // zero-grace vacuum: the flushed file is lease-protected
    assert(CommitLog.vacuumOrphans(fs, dir, graceMs = 0L).isEmpty)
    // re-flush REPLACES the writer's marker (hflush is repeatable)
    CommitLog.flush(fs, dir, "w1", Seq("data/b"), ts = 170L)
    assert(CommitLog.snapshotWithInflight(spark, dir).count() == 5)
    // close: the set becomes an ordinary version, the marker retires
    val v = CommitLog.promoteFlush(spark, dir, "w1", ts = 200L)
    assert(CommitLog.snapshot(spark, dir, version = v).count() == 5)
    assert(!CommitLog.flushedAdds(fs, dir).contains("w1"))
    // with no marker left, the staged file is pinned by the JOURNAL now
    assert(CommitLog.vacuumOrphans(fs, dir, graceMs = 0L).isEmpty)
  }

  test("append-reopen contract (reference TestFileAppend2/3): a committed entry reopens " +
    "under lease and extends; visible length is the closed state until close " +
    "promotes the flushed tail; one appender at a time; a fenced close fails " +
    "and recovery finalizes at the flushed length") {
    // The reference's append (ClientProtocol.append; pinned by
    // test/hdfs/.../TestFileAppend2.java testSimpleAppend and
    // TestFileAppend3.java TC1/TC2/TC5/TC11/TC12) maps onto the
    // commit-log world as: reopen = acquire the table's writer lease,
    // extend = stage additional parquet + publish it in the writer's
    // flush marker (the hflush ceremony — DFSOutputStream.hflush),
    // close = verify the lease then promoteFlush (an ordinary journal
    // commit at the extended length). "Visible length" is the row
    // count a reader serves: default readers see the last CLOSED
    // state; readers that ask (snapshotWithInflight — the reference's
    // getVisibleLength after hflush) see the flushed tail.
    import graft.streaming.StreamingOps
    val dir = freshTable("append_reopen")
    val docs = Tables.documents(spark, sfDir)
    val stateDir = s"$dir/_appender"
    // --- TC1 shape: create file, write len1, CLOSE (an ordinary commit)
    val len1 = docs.filter(col("doc_id") % 4 === 0).count()
    CommitLog.writeCommit(spark, dir, docs.filter(col("doc_id") % 4 === 0),
      "data/e0", ts = 100L)
    assert(CommitLog.snapshot(spark, dir).count() == len1)
    // --- reopen to append (fs.append): lease + staged extension
    StreamingOps.acquireLease(fs, stateDir, "m1")
    val len2 = docs.filter(col("doc_id") % 4 === 1).count()
    docs.filter(col("doc_id") % 4 === 1).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/data/e0_app1")
    CommitLog.flush(fs, dir, "m1", Seq("data/e0_app1"), ts = 150L)
    // hflush visibility: the reader that asks sees len1+len2, the
    // default reader still sees the closed len1 (TC11 step b)
    assert(CommitLog.snapshot(spark, dir).count() == len1)
    assert(CommitLog.snapshotWithInflight(spark, dir).count() == len1 + len2)
    // --- TC5: only one simultaneous append — machine M2's reopen fails
    intercept[StreamingOps.LeaseHeldException] {
      StreamingOps.acquireLease(fs, stateDir, "m2")
    }
    // --- close: verify lease, promote, release — reopen-and-read
    // sees the full extended length (AppendTestUtil.check)
    StreamingOps.verifyLease(fs, stateDir, "m1")
    CommitLog.promoteFlush(spark, dir, "m1", ts = 200L)
    StreamingOps.releaseLease(fs, stateDir, "m1")
    assert(CommitLog.snapshot(spark, dir).count() == len1 + len2)
    // --- TC2/TC12 shape: append AGAIN at a non-boundary (the second
    // extension of an already-extended entry) — same ceremony, full
    // length len1+len2+len3 after close
    val len3 = docs.filter(col("doc_id") % 4 === 2).count()
    StreamingOps.acquireLease(fs, stateDir, "m2") // released lease reopens
    docs.filter(col("doc_id") % 4 === 2).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/data/e0_app2")
    CommitLog.flush(fs, dir, "m2", Seq("data/e0_app2"), ts = 250L)
    StreamingOps.verifyLease(fs, stateDir, "m2")
    CommitLog.promoteFlush(spark, dir, "m2", ts = 260L)
    StreamingOps.releaseLease(fs, stateDir, "m2")
    assert(CommitLog.snapshot(spark, dir).count() == len1 + len2 + len3)
    // --- TC11: appender hflushes, then is FENCED before close (the
    // rename-then-close case: the writer's close() must throw) —
    // recovery then finalizes the file at the flushed length, exactly
    // what the reference's lease recovery does to the hflushed tail
    val len4 = docs.filter(col("doc_id") % 4 === 3).count()
    StreamingOps.acquireLease(fs, stateDir, "m3")
    docs.filter(col("doc_id") % 4 === 3).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/data/e0_app3")
    CommitLog.flush(fs, dir, "m3", Seq("data/e0_app3"), ts = 300L)
    StreamingOps.recoverLease(fs, stateDir, "recoverer") // the fence
    intercept[StreamingOps.LeaseHeldException] { // m3's close() throws
      StreamingOps.verifyLease(fs, stateDir, "m3")
    }
    // the recoverer finalizes at the last hflush: the flushed set
    // becomes a journal commit, the writer's marker retires
    CommitLog.promoteFlush(spark, dir, "m3", ts = 310L)
    StreamingOps.releaseLease(fs, stateDir, "recoverer")
    assert(CommitLog.snapshot(spark, dir).count() == len1 + len2 + len3 + len4)
    assert(!CommitLog.flushedAdds(fs, dir).contains("m3"))
  }

  test("reclaimFlush deletes only unpromoted staged files; journal references always win") {
    val dir = freshTable("flush_reclaim")
    val r = Tables.region(spark, sfDir)
    CommitLog.writeCommit(spark, dir, r.filter(col("r_regionkey") < 2), "data/a", ts = 100L)
    r.filter(col("r_regionkey") >= 2).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/data/b")
    // the crashed writer's flush named BOTH its staged file and an
    // already-committed one (e.g. a flush taken after a concurrent
    // compaction re-added the path) — only the unreferenced one dies
    CommitLog.flush(fs, dir, "w1", Seq("data/b", "data/a"), ts = 150L)
    val reclaimed = CommitLog.reclaimFlush(fs, dir, "w1")
    assert(reclaimed == Seq("data/b"))
    assert(fs.exists(new Path(s"$dir/data/a")), "journal-referenced file survives")
    assert(!fs.exists(new Path(s"$dir/data/b")), "unpromoted staged file reclaimed")
    assert(CommitLog.flushedAdds(fs, dir).isEmpty)
    assert(CommitLog.snapshot(spark, dir).count() == 2, "committed truth intact")
  }

  test("crash mid-replace: a complete tmp supersedes the marker for reads/promote, union only pins/reclaims") {
    val dir = freshTable("flush_replace_crash")
    val r = Tables.region(spark, sfDir)
    CommitLog.writeCommit(spark, dir, r.filter(col("r_regionkey") < 2), "data/a", ts = 100L)
    r.filter(col("r_regionkey") >= 2).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/data/old")
    r.filter(col("r_regionkey") >= 2).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/data/new")
    // marker holds set A...
    CommitLog.flush(fs, dir, "w1", Seq("data/old"), ts = 150L)
    // ...then the writer crashes between tmp-write and rename while
    // REPLACING it with set B (different relpaths): a complete
    // .flush.tmp beside a stale marker
    val tmp = fs.create(new Path(s"$dir/_inflight/w1.flush.tmp"), true)
    tmp.write("ts 160\nadd data/new\nend\n".getBytes("UTF-8")); tmp.close()
    // read view resolves to the SUCCESSOR set only (ADVICE r12: a
    // union here would promote old-plus-new and duplicate rows)
    assert(CommitLog.flushedAdds(fs, dir)("w1") == Seq("data/new"))
    assert(CommitLog.snapshotWithInflight(spark, dir).count() == 5,
      "tail read: committed plus the successor set, never both staged sets")
    // pinning view still protects BOTH staged sets mid-replace
    assert(CommitLog.flushPinned(fs, dir)("w1").toSet == Set("data/old", "data/new"))
    assert(CommitLog.vacuumOrphans(fs, dir, graceMs = 0L).isEmpty,
      "zero-grace vacuum must not touch either staged set")
    // promote commits exactly B
    val v = CommitLog.promoteFlush(spark, dir, "w1", ts = 200L)
    assert(CommitLog.commits(fs, dir).find(_.version == v).get.adds == Seq("data/new"))
    assert(CommitLog.snapshot(spark, dir, version = v).count() == 5)
    // the superseded set is now unreferenced dead staging — vacuum takes it
    assert(CommitLog.vacuumOrphans(fs, dir, graceMs = 0L) == Seq("data/old"))
    assert(fs.exists(new Path(s"$dir/data/new")) && !fs.exists(new Path(s"$dir/data/old")))
  }

  test("crash mid-replace then writer death: reclaim deletes both staged sets") {
    val dir = freshTable("flush_replace_reclaim")
    val r = Tables.region(spark, sfDir)
    CommitLog.writeCommit(spark, dir, r.filter(col("r_regionkey") < 2), "data/a", ts = 100L)
    r.filter(col("r_regionkey") >= 2).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/data/old")
    r.filter(col("r_regionkey") >= 2).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/data/new")
    CommitLog.flush(fs, dir, "w1", Seq("data/old"), ts = 150L)
    val tmp = fs.create(new Path(s"$dir/_inflight/w1.flush.tmp"), true)
    tmp.write("ts 160\nadd data/new\nend\n".getBytes("UTF-8")); tmp.close()
    val reclaimed = CommitLog.reclaimFlush(fs, dir, "w1")
    assert(reclaimed.toSet == Set("data/old", "data/new"),
      "lease recovery reclaims EVERYTHING the crashed writer staged")
    assert(CommitLog.flushedAdds(fs, dir).isEmpty)
    assert(CommitLog.snapshot(spark, dir).count() == 2, "committed truth intact")
  }

  // ---- recorded schema: job-free snapshot resolution ----------------

  /** What a plain parquet read of the active entries returns: the
    * reference every commit-log read must equal. */
  private def inferred(dir: String, version: Int = Int.MaxValue) =
    spark.read.parquet(CommitLog.activeFiles(fs, dir, version).map(p => s"$dir/$p"): _*)

  private def sameRead(a: DataFrame, b: DataFrame): Unit = {
    assert(a.schema == b.schema, s"${a.schema.treeString} vs ${b.schema.treeString}")
    val rows = (df: DataFrame) => df.collect().map(_.toString).sorted.toSeq
    assert(rows(a) == rows(b))
  }

  /** Decimal, timestamp, array, struct, map and nullable columns. */
  private def typed(from: Long, until: Long): DataFrame =
    spark.range(from, until).select(
      col("id"),
      (col("id") * 1.25).cast("decimal(12,2)").as("amount"),
      timestamp_seconds(col("id") * 3600).as("at"),
      array(col("id"), col("id") + 1).as("pair"),
      struct(col("id").as("k"), col("id").cast("string").as("v")).as("kv"),
      map(col("id").cast("string"), col("id") * 2).as("m"),
      when(col("id") % 3 === 0, lit(null)).otherwise(col("id").cast("string")).as("maybe"))

  test("snapshot, snapshotAsOf and checkpoint's read resolve from the recorded schema: no job") {
    val dir = freshTable("schema_nojob")
    CommitLog.writeCommit(spark, dir, typed(0, 20), "data/a", ts = 100L)
    CommitLog.writeCommit(spark, dir, typed(20, 50), "data/b", ts = 200L)
    assert(CommitLog.commits(fs, dir).forall(_.schema.isDefined))
    val (head, j0) = jobsDuring(spark)(CommitLog.snapshot(spark, dir))
    val (v0, j1) = jobsDuring(spark)(CommitLog.snapshot(spark, dir, version = 0))
    val (asOf, j2) = jobsDuring(spark)(CommitLog.snapshotAsOf(spark, dir, 150L))
    assert((j0, j1, j2) == ((0, 0, 0)), s"resolve jobs: head $j0, v0 $j1, asOf $j2")
    sameRead(head, inferred(dir))
    sameRead(v0, inferred(dir, 0))
    sameRead(asOf, inferred(dir, 0))
    // checkpoint = read the active set + write the image: the write's
    // job is the only one; an inferred read of the same set adds one
    val legacy = freshTable("schema_nojob_legacy")
    typed(0, 50).write.parquet(s"$legacy/data/a")
    // tryCommit records exactly what it is given: no schema
    assert(CommitLog.tryCommit(fs, legacy, 0, 100L, Seq("data/a"), Nil))
    val (_, jLegacy) = jobsDuring(spark)(CommitLog.checkpoint(spark, legacy, ts = 300L))
    val (_, jCkpt) = jobsDuring(spark)(CommitLog.checkpoint(spark, dir, ts = 300L))
    assert(jCkpt == 1 && jLegacy == 2, s"checkpoint jobs: recorded $jCkpt, inferred $jLegacy")
  }

  test("the checkpoint image commit carries the schema; reads after it stay job-free") {
    val dir = freshTable("schema_ckpt")
    CommitLog.writeCommit(spark, dir, typed(0, 20), "data/a", ts = 100L)
    CommitLog.writeCommit(spark, dir, typed(20, 50), "data/b", ts = 200L)
    val before = CommitLog.snapshot(spark, dir)
    val v = CommitLog.checkpoint(spark, dir, ts = 300L)
    val img = CommitLog.commits(fs, dir).find(_.version == v).get
    assert(img.isCheckpoint && img.schema.isDefined)
    assert(DataType.fromJson(img.schema.get) == before.schema,
      "the image records the schema its read resolved")
    CommitLog.writeCommit(spark, dir, typed(50, 60), "data/c", ts = 400L)
    val (head, jobs) = jobsDuring(spark)(CommitLog.snapshot(spark, dir))
    assert(jobs == 0)
    sameRead(head, inferred(dir))
    assert(head.count() == 60)
  }

  test("a journal without schema lines (old format) falls back to inference and reads as before") {
    val dir = freshTable("schema_legacy")
    typed(0, 20).write.parquet(s"$dir/data/a")
    typed(20, 50).write.parquet(s"$dir/data/b")
    // hand-written in the format older writers produce
    fs.mkdirs(new Path(s"$dir/_log"))
    Seq("ts 100\nadd data/a\nend\n", "ts 200\nadd data/b\nend\n").zipWithIndex.foreach {
      case (body, v) =>
        val out = fs.create(new Path(f"$dir/_log/$v%09d.log"), false)
        try out.write(body.getBytes("UTF-8")) finally out.close()
    }
    assert(CommitLog.commits(fs, dir).forall(_.schema.isEmpty))
    val (head, jobs) = jobsDuring(spark)(CommitLog.snapshot(spark, dir))
    assert(jobs >= 1, "no recorded schema: Spark infers it")
    sameRead(head, inferred(dir))
    // a recorded entry beside an unrecorded one still infers
    CommitLog.writeCommit(spark, dir, typed(50, 60), "data/c", ts = 300L)
    val (mixed, j2) = jobsDuring(spark)(CommitLog.snapshot(spark, dir))
    assert(j2 >= 1)
    sameRead(mixed, inferred(dir))
  }

  test("entries with different recorded schemas fall back to inference") {
    val dir = freshTable("schema_mixed")
    CommitLog.writeCommit(spark, dir, typed(0, 20), "data/a", ts = 100L)
    CommitLog.writeCommit(spark, dir, typed(20, 50).drop("m"), "data/b", ts = 200L)
    val cs = CommitLog.commits(fs, dir)
    assert(cs.map(_.schema).distinct.size == 2)
    val (head, jobs) = jobsDuring(spark)(CommitLog.snapshot(spark, dir))
    assert(jobs >= 1)
    sameRead(head, inferred(dir))
    // one schema again once the odd entry is removed
    CommitLog.commit(fs, dir, 300L, Nil, Seq("data/b"))
    val (v2, j2) = jobsDuring(spark)(CommitLog.snapshot(spark, dir))
    assert(j2 == 0)
    sameRead(v2, inferred(dir))
  }

  test("foreign parquet without the Spark schema key records nothing and reads by inference") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = freshTable("schema_foreign")
    val msg = MessageTypeParser.parseMessageType(
      "message t { required int64 id; optional binary name (UTF8); }")
    val part = new Path(s"$dir/data/f/part-00000.parquet")
    val w = ExampleParquetWriter.builder(part).withType(msg)
      .withConf(spark.sparkContext.hadoopConfiguration).build()
    val groups = new SimpleGroupFactory(msg)
    try (0 until 10).foreach { i =>
      w.write(groups.newGroup().append("id", i.toLong).append("name", s"n$i"))
    } finally w.close()
    val st = fs.getFileStatus(part)
    val conf = spark.sparkContext.hadoopConfiguration
    assert(org.apache.spark.sql.graft.Shims.footerSchema(conf, st).isEmpty)
    // the decoder agrees with inference on Spark-written parquet
    val spk = freshTable("schema_foreign_spark")
    typed(0, 5).write.parquet(spk)
    val sparkPart = graft.operators.Lake.dataFiles(fs, new Path(spk)).head
    assert(org.apache.spark.sql.graft.Shims.footerSchema(conf, sparkPart) ==
      Some(spark.read.parquet(spk).schema))
    CommitLog.commit(fs, dir, 100L, Seq("data/f"), Nil)
    val (head, jobs) = jobsDuring(spark)(CommitLog.snapshot(spark, dir))
    assert(jobs >= 1)
    sameRead(head, inferred(dir))
    assert(head.count() == 10)
  }

  test("writeCommit of a Tables.load frame runs one job: the write") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    // a foreign single-file batch, as pyarrow writes one
    val in = freshTable("load_batches")
    val msg = MessageTypeParser.parseMessageType(
      "message t { required int64 id; optional binary name (UTF8); }")
    val w = ExampleParquetWriter.builder(new Path(s"$in/b0000.parquet")).withType(msg)
      .withConf(spark.sparkContext.hadoopConfiguration).build()
    val groups = new SimpleGroupFactory(msg)
    try (0 until 10).foreach { i =>
      w.write(groups.newGroup().append("id", i.toLong).append("name", s"n$i"))
    } finally w.close()
    val dir = freshTable("load_commit")
    val (v, jobs) = jobsDuring(spark)(
      CommitLog.writeCommit(spark, dir, Tables.load(spark, in, "b0000"), "data/b0", ts = 100L))
    assert(v == 0 && jobs == 1, s"writeCommit of a loaded batch ran $jobs jobs")
    assert(CommitLog.commits(fs, dir).head.schema.isDefined)
    sameRead(CommitLog.snapshot(spark, dir), spark.read.parquet(s"$in/b0000.parquet"))
  }

  test("commit() records the adds' schema: compaction, restore and drain snapshots are job-free") {
    val dir = freshTable("commit_schema")
    CommitLog.writeCommit(spark, dir, typed(0, 20), "data/store0/a", ts = 100L)
    CommitLog.writeCommit(spark, dir, typed(20, 30), "data/store1/b", ts = 200L)
    CommitLog.writeCommit(spark, dir, typed(30, 50), "data/store1/c", ts = 300L)
    // compaction through commit(): rewrite the head, swap the files
    val active = CommitLog.activeFiles(fs, dir)
    graft.api.Graft.lake.compact(CommitLog.snapshot(spark, dir), 2)
      .write.mode("overwrite").parquet(s"$dir/data/compact")
    val vc = CommitLog.commit(fs, dir, 400L, Seq("data/compact"), active)
    assert(CommitLog.commits(fs, dir).last.schema == CommitLog.commits(fs, dir).head.schema)
    val (head, jobs) = jobsDuring(spark)(CommitLog.snapshot(spark, dir))
    assert(jobs == 0, s"snapshot after compaction scheduled $jobs jobs")
    sameRead(head, inferred(dir))
    assert(head.count() == 50)
    // restore re-adds the pre-compaction entries with their schema
    val vr = CommitLog.restore(fs, dir, vc - 1, ts = 500L)
    assert(CommitLog.commits(fs, dir).last.schema.isDefined)
    val (restored, jr) = jobsDuring(spark)(CommitLog.snapshot(spark, dir))
    assert(jr == 0)
    sameRead(restored, inferred(dir))
    // drain a prefix into one dir: survivors and the new dir agree
    val (vd, _) = CommitLog.drain(spark, dir, "data/store1", "data/absorbed", ts = 600L)
    assert(vd == vr + 1 && CommitLog.commits(fs, dir).last.schema.isDefined)
    val (drained, jd) = jobsDuring(spark)(CommitLog.snapshot(spark, dir))
    assert(jd == 0)
    sameRead(drained, inferred(dir))
    assert(drained.count() == 50)
    // a missing add records nothing, and the commit still lands
    val vm = CommitLog.commit(fs, dir, 700L, Seq("data/missing"), Nil)
    assert(CommitLog.commits(fs, dir).find(_.version == vm).get.schema.isEmpty)
  }

  test("safe mode verifies an entry of nested partition dirs, refuses a foreign file") {
    val dir = freshTable("safemode_nested")
    typed(0, 30).withColumn("k", col("id") % 3)
      .write.partitionBy("k").parquet(s"$dir/data/p")
    typed(30, 40).write.parquet(s"$dir/data/q")
    CommitLog.commit(fs, dir, 100L, Seq("data/p", "data/q"), Nil)
    val junk = fs.create(new Path(s"$dir/data/q/notes.txt"))
    try junk.write("not data".getBytes("UTF-8")) finally junk.close()
    CommitLog.enterSafeMode(fs, dir, thresholdPm = 1000)
    assert(CommitLog.reportVerified(spark, dir, Seq("data/p", "data/q")) == ((1, 2, true)),
      "the partitioned entry verifies; the one holding a foreign file does not")
    fs.delete(new Path(s"$dir/data/q/notes.txt"), false)
    assert(CommitLog.reportVerified(spark, dir, Seq("data/q")) == ((2, 2, false)))
  }

  // ---- metadata images and head replay ------------------------------

  /** Every path under the table's `data/` dir. */
  private def dataPaths(dir: String): Set[String] = {
    val it = fs.listFiles(new Path(s"$dir/data"), true)
    val out = Set.newBuilder[String]
    while (it.hasNext) out += it.next().getPath.toString
    out.result()
  }

  test("cadence and saveNamespace images re-list the active set in order: no data, no job") {
    val dir = freshTable("meta_image")
    CommitLog.writeCommit(spark, dir, typed(0, 20), "data/a", ts = 100L)
    CommitLog.writeCommit(spark, dir, typed(20, 30), "data/b", ts = 200L)
    CommitLog.writeCommit(spark, dir, typed(30, 50), "data/c", ts = 300L)
    CommitLog.commit(fs, dir, 400L, Nil, Seq("data/b"))
    CommitLog.writeCommit(spark, dir, typed(50, 60), "data/b", ts = 500L) // re-added: now last
    val active = CommitLog.activeFiles(fs, dir)
    assert(active == Seq("data/a", "data/c", "data/b"))
    val before = dataPaths(dir)
    val (v, jobs) = jobsDuring(spark)(CommitLog.maybeCheckpoint(spark, dir, ts = 600L, maxReplay = 3))
    assert(v.contains(5) && jobs == 0, s"cadence image $v scheduled $jobs jobs")
    val img = CommitLog.commits(fs, dir).last
    assert(img.isCheckpoint && img.adds == active && img.removes.isEmpty && img.tags.isEmpty)
    assert(img.schema == CommitLog.commits(fs, dir).head.schema && img.schema.isDefined,
      "a uniform schema rides on the image")
    assert(dataPaths(dir) == before, "a metadata image writes no data")
    sameRead(CommitLog.snapshot(spark, dir), inferred(dir))
    // mixed schemas: the saveNamespace image records none
    CommitLog.writeCommit(spark, dir, typed(60, 70).drop("m"), "data/d", ts = 700L)
    val before2 = dataPaths(dir)
    val (v2, jobs2) = jobsDuring(spark)(CommitLog.saveNamespace(spark, dir, ts = 800L))
    assert(v2.contains(7) && jobs2 == 0, s"saveNamespace image $v2 scheduled $jobs2 jobs")
    val img2 = CommitLog.commits(fs, dir).last
    assert(img2.isCheckpoint && img2.adds == active :+ "data/d" && img2.removes.isEmpty)
    assert(img2.schema.isEmpty, "mixed schemas: the image records none")
    assert(dataPaths(dir) == before2)
    sameRead(CommitLog.snapshot(spark, dir), inferred(dir))
    // a frozen table refuses the image before any journal I/O
    CommitLog.freeze(fs, dir)
    intercept[java.io.IOException] {
      CommitLog.maybeCheckpoint(spark, dir, ts = 900L, maxReplay = -1)
    }
    CommitLog.unfreeze(fs, dir)
    assert(CommitLog.commits(fs, dir).last.version == 7)
  }

  test("head replay from the newest image equals full replay across mixed histories") {
    val n = 6
    Seq(3, 11, 29).foreach { seed =>
      val dir = freshTable(s"head_replay_$seed")
      (0 until n).foreach(i =>
        spark.range(i * 10L, i * 10L + 10).write.parquet(s"$dir/data/s$i"))
      val rnd = new scala.util.Random(seed)
      def head: Int = CommitLog.commits(fs, dir).last.version
      CommitLog.commit(fs, dir, 100L, Seq("data/s0"), Nil)
      (1 to 36).foreach { step =>
        val ts = 100L + step
        val active = CommitLog.activeFiles(fs, dir, head)
        step match {
          case 9 | 27 => // drain one active entry into a fresh dir
            CommitLog.drain(spark, dir, active(rnd.nextInt(active.size)), s"data/d$step", ts)
          case 18 => CommitLog.checkpoint(spark, dir, ts) // data image
          case _ => rnd.nextInt(6) match {
            case 0 | 1 =>
              CommitLog.commit(fs, dir, ts, Seq(s"data/s${rnd.nextInt(n)}"), Nil)
            case 2 if active.size > 1 =>
              CommitLog.commit(fs, dir, ts, Nil, Seq(active(rnd.nextInt(active.size))))
            case 3 =>
              val back = rnd.nextInt(head + 1)
              if (CommitLog.activeFiles(fs, dir, back).nonEmpty)
                CommitLog.restore(fs, dir, back, ts)
            case 4 => CommitLog.saveNamespace(spark, dir, ts)
            case _ => CommitLog.maybeCheckpoint(spark, dir, ts, maxReplay = 2)
          }
        }
        assert(CommitLog.activeFiles(fs, dir) == CommitLog.activeFiles(fs, dir, head),
          s"seed $seed step $step: head replay diverged from full replay")
      }
      val cs = CommitLog.commits(fs, dir)
      assert(cs.exists(c => c.isCheckpoint && c.tags.isEmpty && c.removes.isEmpty),
        s"seed $seed: no metadata image in the history")
      assert(cs.exists(_.tags("drain")) &&
        cs.exists(c => c.adds == Seq(s"data/ckpt-${c.version}")), s"seed $seed: no drain or data image")
      sameRead(CommitLog.snapshot(spark, dir), CommitLog.snapshot(spark, dir, head))
    }
  }

  test("500 commits at cadence 10: a head resolve opens only the newest image and what follows") {
    val dir = freshTable("head_bound")
    (0 until 8).foreach(i => spark.range(i * 5L, i * 5L + 5).write.parquet(s"$dir/data/s$i"))
    (0 until 500).foreach { i =>
      CommitLog.commit(fs, dir, 1000L + i, Seq(s"data/s${i % 8}"), Seq(s"data/s${(i + 3) % 8}"))
      CommitLog.maybeCheckpoint(spark, dir, 1000L + i, maxReplay = 10)
    }
    val cs = CommitLog.commits(fs, dir)
    val image = cs.filter(_.isCheckpoint).last.version
    val expected = CommitLog.activeFiles(fs, dir, cs.last.version)
    val rows = CommitLog.snapshot(spark, dir, cs.last.version).count()
    val logs = fs.listStatus(new Path(s"$dir/_log")).map(_.getPath)
    val (pre, post) = logs.partition(p => p.getName.stripSuffix(".log").toInt < image)
    assert(post.length <= 11 && pre.length > 400, s"${post.length} files from the image on")
    // every pre-image log unreadable: a head resolve must never open one
    pre.foreach { p =>
      val out = fs.create(p, true)
      try out.write("ts unreadable\nend\n".getBytes("UTF-8")) finally out.close()
    }
    assert(CommitLog.activeFiles(fs, dir) == expected)
    assert(CommitLog.snapshot(spark, dir).count() == rows)
    assert(CommitLog.maybeCheckpoint(spark, dir, 2000L, maxReplay = 10).isEmpty)
    intercept[NumberFormatException] { CommitLog.snapshot(spark, dir, version = image - 1) }
    // the ceremonies replay from the newest image too: none opens a pre-image log
    val atImage = CommitLog.activeFiles(fs, dir, image)
    CommitLog.commit(fs, dir, 3000L, Seq("data/s0"), Nil)
    assert(CommitLog.maybeCheckpoint(spark, dir, 3001L, maxReplay = 0).isDefined)
    CommitLog.commit(fs, dir, 3002L, Seq("data/s1"), Nil)
    assert(CommitLog.saveNamespace(spark, dir, 3003L).isDefined)
    val doomed = CommitLog.activeFiles(fs, dir).head
    assert(CommitLog.drain(spark, dir, doomed, "data/drained", 3004L)._2 == Seq(doomed))
    CommitLog.restore(fs, dir, image, 3005L)
    assert(CommitLog.activeFiles(fs, dir).toSet == atImage.toSet)
    intercept[NumberFormatException] { CommitLog.restore(fs, dir, image - 1, 3006L) }
  }

  test("a frozen table refuses drain and startUpgrade before staging any data") {
    val dir = freshTable("frozen_ceremonies")
    val n = Tables.nation(spark, sfDir)
    CommitLog.writeCommit(spark, dir, n.filter(col("n_nationkey") < 5), "data/store0", ts = 100L)
    CommitLog.writeCommit(spark, dir, n.filter(col("n_nationkey") >= 5), "data/store1", ts = 200L)
    val journal = CommitLog.commits(fs, dir)
    CommitLog.freeze(fs, dir)
    intercept[java.io.IOException] {
      CommitLog.drain(spark, dir, "data/store1", "data/absorbed", ts = 300L)
    }
    intercept[java.io.IOException] {
      CommitLog.startUpgrade(spark, dir, n, "data/wide", ts = 400L)
    }
    Seq("data/absorbed", "data/wide").foreach { d =>
      assert(!fs.exists(new Path(s"$dir/$d")), s"$d staged on a frozen table")
    }
    assert(CommitLog.commits(fs, dir) == journal)
    assert(fs.listStatus(new Path(s"$dir/_log")).length == journal.size, "a refusal burned a version")
    CommitLog.unfreeze(fs, dir)
  }

  /** The active set by folding every commit of the journal in order. */
  private def fullReplay(cs: Seq[CommitLog.Commit]): Seq[String] = {
    val active = scala.collection.mutable.LinkedHashSet.empty[String]
    cs.foreach { c => active ++= c.adds; active --= c.removes }
    active.toSeq
  }

  test("an image racing an append: one winner per version, the head keeps the append") {
    val n = Tables.nation(spark, sfDir)
    var imageLost = 0
    for (trial <- 0 until 6) {
      val dir = freshTable(s"race_image_$trial")
      CommitLog.writeCommit(spark, dir, n.filter(col("n_nationkey") < 5), "data/m0", ts = 100L)
      CommitLog.writeCommit(spark, dir, n.filter(col("n_nationkey") >= 5), "data/m1", ts = 200L)
      n.limit(1).write.parquet(s"$dir/data/m2") // appended data, staged pre-race
      // both contenders enter targeting version 2
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      @volatile var lost = false
      val it = new Thread(() => {
        barrier.await()
        try {
          if (trial % 2 == 0) CommitLog.maybeCheckpoint(spark, dir, 300L, maxReplay = 0)
          else CommitLog.saveNamespace(spark, dir, 300L)
        } catch { case _: java.util.ConcurrentModificationException => lost = true }
      })
      @volatile var appendV = -1
      val at = new Thread(() => {
        barrier.await()
        appendV = CommitLog.commit(fs, dir, 301L, Seq("data/m2"), Nil)
      })
      it.start(); at.start(); it.join(30000); at.join(30000)
      assert(appendV >= 2, "append must always land (commit retries past losses)")
      if (lost) {
        imageLost += 1
        assert(CommitLog.saveNamespace(spark, dir, 400L).nonEmpty, "the retried image lands")
      }
      val cs = CommitLog.commits(fs, dir)
      assert(cs.map(_.version) == (0 to 3), s"one winner per version, contiguous: ${cs.map(_.version)}")
      assert(cs.count(_.isCheckpoint) == 1 && cs.exists(_.version == appendV))
      assert(CommitLog.activeFiles(fs, dir).toSet == Set("data/m0", "data/m1", "data/m2"),
        s"trial $trial: the head lost the append (append@$appendV)")
      assert(CommitLog.activeFiles(fs, dir) == fullReplay(cs))
      assert(CommitLog.snapshot(spark, dir).count() == n.count() + 1)
    }
    info(s"race coverage: the image lost $imageLost of 6")
    // the same race pinned in its window: the append's log file exists
    // but is not yet terminated when the image lists `_log`
    val dir = freshTable("race_image_inflight")
    CommitLog.writeCommit(spark, dir, n.filter(col("n_nationkey") < 5), "data/m0", ts = 100L)
    CommitLog.writeCommit(spark, dir, n.filter(col("n_nationkey") >= 5), "data/m1", ts = 200L)
    n.limit(1).write.parquet(s"$dir/data/m2")
    val inflight = new Path(s"$dir/_log/000000002.log")
    val out = fs.create(inflight, false)
    out.write("ts 301\nadd data/m2\n".getBytes("UTF-8")); out.close()
    val finisher = new Thread(() => {
      Thread.sleep(300L)
      val done = new Path(s"$dir/_log/finished.tmp")
      val o = fs.create(done, false)
      o.write("ts 301\nadd data/m2\nend\n".getBytes("UTF-8")); o.close()
      fs.delete(inflight, false); fs.rename(done, inflight)
    })
    finisher.start()
    val img = CommitLog.saveNamespace(spark, dir, 400L)
    finisher.join(10000)
    val cs = CommitLog.commits(fs, dir)
    assert(img.contains(3) && cs.map(_.version) == (0 to 3))
    assert(cs.last.adds.toSet == Set("data/m0", "data/m1", "data/m2"), "the image dropped the in-flight add")
    assert(CommitLog.activeFiles(fs, dir) == fullReplay(cs))
  }

  test("retention at a metadata image keeps every live entry readable after vacuum") {
    val dir = freshTable("meta_retention")
    val r = Tables.region(spark, sfDir)
    CommitLog.writeCommit(spark, dir, r.filter(col("r_regionkey") < 2), "data/a", ts = 100L)
    CommitLog.writeCommit(spark, dir, r.filter(col("r_regionkey") === 2), "data/b", ts = 200L)
    CommitLog.writeCommit(spark, dir, r.filter(col("r_regionkey") > 2), "data/c", ts = 300L)
    CommitLog.commit(fs, dir, ts = 400L, adds = Nil, removes = Seq("data/b"))
    val v = CommitLog.saveNamespace(spark, dir, ts = 500L).get
    CommitLog.writeCommit(spark, dir, r.filter(col("r_regionkey") === 0), "data/d", ts = 600L)
    val head = CommitLog.snapshot(spark, dir).collect().map(_.toString).sorted.toSeq
    assert(CommitLog.dropHistoryBefore(fs, dir, v, graceMs = 0L) == (0 until v))
    CommitLog.vacuumOrphans(fs, dir, graceMs = 0L)
    assert(!fs.exists(new Path(s"$dir/data/b")), "the removed entry is reclaimed")
    Seq("a", "c", "d").foreach(e => assert(fs.exists(new Path(s"$dir/data/$e")), e))
    assert(CommitLog.snapshot(spark, dir).collect().map(_.toString).sorted.toSeq == head)
    assert(CommitLog.snapshot(spark, dir, version = v).count() == r.count() - 1)
  }
}
