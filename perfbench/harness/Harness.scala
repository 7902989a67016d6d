package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.{GraftQuery, ScopedCache, SparkEntry, Tables}
import graft.api.Graft
import graft.operators
import graft.sources.CommitLog
import graft.streaming.StreamingOps

/** One benchmark run in one fresh JVM, started directly (not through
  * the build tool). Calls the program only through its public surface:
  * the registered ops, `CommitLog`, `StreamingOps` and `api.Graft`.
  *
  * Usage: Harness <workload> <inputDir> <runDir> <seconds> <trace 0|1>
  *
  * Writes `<runDir>/result.json`: the end-to-end metrics, the per-layer
  * metrics (traced runs), and every output the correctness checks read.
  */
object Harness {
  val WarehouseOps: Seq[String] = Seq(
    "q1_pricing_summary", "q_window_running", "q_asof_join", "q_bloom_join", "q_top_k",
    "lake_scan", "lake_bucketed_join", "lake_zorder")
  val CurationOps: Seq[String] = Seq(
    "t_lang_id", "t_dataset_card", "d_minhash_lsh", "d_cross_source_dup", "d_embed_neardup",
    "s_ann_bruteforce", "s_ann_ivf_partitioned")

  /** Library layer of each registered op: the operator module that
    * registers it. */
  lazy val moduleOf: Map[String, String] = {
    import operators._
    Seq(
      "relational" -> (Relational.all ++ RelationalExt.all ++ RelationalMore.all ++
        RelationalTpch.all ++ Warehouse.all ++ Analytics.all ++ Insights.all ++
        Temporal.all ++ StreamJoins.all),
      "lake" -> (Lake.all ++ Namespace.all ++ Durability.all ++ Layout.all),
      "text" -> TextAnalysis.all,
      "dedup" -> (Dedup.all ++ Curation.all),
      "similarity" -> (Similarity.all ++ Multimodal.all))
      .flatMap { case (m, qs) => qs.map(_.name -> m) }.toMap
  }

  val StarTables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events")
  val MaxReplay = 3
  val BaseTs = 1700000000000L
  // At least two warm passes, so a pass the host slowed weighs half.
  val WarmPasses = 2

  val EventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  def main(args: Array[String]): Unit = {
    val Array(workload, in, run, secondsArg, traceArg) = args
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    new Bench(workload, in, run, secondsArg.toInt, traceArg == "1", jvmStartMs).run()
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

final class Bench(workload: String, in: String, run: String, seconds: Int,
                  traced: Boolean, jvmStartMs: Long) {
  import Harness._

  private val trace = new Trace(new File(run).getName)
  private val nproc = Runtime.getRuntime.availableProcessors
  private var attempted = 0
  private var failed = 0
  private val errors = mutable.ArrayBuffer[String]()
  private val failedPhases = mutable.Set[String]()
  private var peakHeapMb = 0.0
  private val opRecs = mutable.ArrayBuffer[Map[String, Any]]()
  private val probeRecs = mutable.ArrayBuffer[Map[String, Any]]()
  private val invariantRecs = mutable.ArrayBuffer[Map[String, Any]]()
  private val streamRecs = mutable.ArrayBuffer[Map[String, Any]]()
  private val layer = mutable.LinkedHashMap[String, Double]()
  // traced runs: per-phase end-of-pass and storage readings
  private val phaseReadings = mutable.Map[String, mutable.Map[String, Double]]()
  private def reading(phase: String, k: String, v: Double): Unit =
    phaseReadings.getOrElseUpdate(phase, mutable.Map())(k) = v

  private lazy val spark: SparkSession = SparkSession.builder()
    .master(s"local[$nproc]")
    .config("spark.sql.shuffle.partitions", nproc.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir", s"$run/warehouse")
    .config("spark.local.dir", s"$run/local")
    .config("spark.sql.streaming.checkpointLocation", s"$run/ckpt")
    .getOrCreate()
  private lazy val counters: Counters = new Counters

  /** A warm pass's session: no persisted frame or session memo of an
    * earlier pass serves it; JIT, codegen and on-disk layouts still do. */
  private def freshSession(): SparkSession = {
    spark.catalog.clearCache()
    val s = spark.newSession()
    if (traced) s.listenerManager.register(counters)
    s
  }

  private def fsOf(s: SparkSession) = FileSystem.get(s.sparkContext.hadoopConfiguration)

  /** Hadoop FileSystem statistics for the local file system. */
  private def fsBytes(): (Long, Long) = {
    import scala.jdk.CollectionConverters._
    val st = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    (st.map(_.getBytesRead).sum, st.map(_.getBytesWritten).sum)
  }

  def run(): Unit = {
    recordScratch()
    spark.sparkContext.setLogLevel("ERROR")
    if (traced) {
      spark.sparkContext.addSparkListener(counters)
      spark.listenerManager.register(counters)
    }
    trace.span("workload", workload) {
      registerInputs()
      val setupS = (System.currentTimeMillis - jvmStartMs) / 1e3
      val passes = runPasses()
      val e2e = endToEnd(setupS, passes)
      if (traced) perLayer(passes)
      writeJson(s"$run/result.json", Map(
        "workload" -> workload, "passes" -> passes, "nproc" -> nproc,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "attempted" -> attempted, "failed" -> failed, "errors" -> errors.toSeq,
        "metrics" -> e2e, "samples" -> samples(passes), "layers" -> layer.toMap,
        "ops" -> opRecs.toSeq, "probes" -> probeRecs.toSeq,
        "invariants" -> invariantRecs.toSeq, "streams" -> streamRecs.toSeq,
        "readings" -> phaseReadings.map { case (k, m) => k -> m.toMap }.toMap))
    }
    if (traced) writeSpans()
    spark.stop()
  }

  /** Cold pass, then at least WarmPasses whole warm passes, more until
    * together they have run for `seconds`. Each pass is followed by its
    * ingest round, so the ops and the write-path samples are spread over
    * the whole run. Returns the number of passes. */
  private def runPasses(): Int = {
    val ops = if (workload == "warehouse") WarehouseOps else CurationOps
    var pass = 0
    var warmSeconds = 0.0
    while (pass <= WarmPasses || warmSeconds < seconds) {
      val t = System.nanoTime
      val s = if (pass == 0) spark else freshSession()
      phase(s, s"pass$pass")(opsPass(s, pass, ops))
      if (pass > 0) warmSeconds += (System.nanoTime - t) / 1e9
      ingestRound(pass)
      pass += 1
    }
    pass
  }

  /** Ingest round `r` in a fresh session: one write round into a fresh
    * commit-log table, then one streaming query over every event file.
    * Round 0 is cold: it carries the as-of probes and the checksum and
    * scrub checks, and its query is the session-window one. Warm rounds
    * run the tumbling-window query. */
  private def ingestRound(r: Int): Unit = {
    val s = freshSession()
    phase(s, s"round$r", heap = false)(writeRound(s, s"$run/lake/round$r", s"round$r", verify = r == 0))
    if (r == 0) phase(s, "sessions")(streamLeg("sessions", "sessions", StreamingOps.sessionWindows)(s))
    else phase(s, s"tumbling$r")(streamLeg("tumbling", s"tumbling$r", StreamingOps.tumblingCounts)(s))
  }

  /** One span-wrapped part of the run, with its end-of-phase readings. */
  private def phase(s: SparkSession, name: String, heap: Boolean = true)(body: => Unit): Unit = {
    trace.phase = name
    val before = fsBytes()
    val (jit0, cpu0) = (jitMs, cpuS)
    trace.span(if (name.startsWith("pass")) "pass" else "leg", name)(body)
    // compile and process CPU time of the phase, to tell JIT work from the program's
    reading(name, "jit_ms", jitMs - jit0)
    reading(name, "cpu_s", cpuS - cpu0)
    endOfPhase(s, name, before)
    if (heap) heapReading(name)
  }

  private def jitMs: Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble
  private def cpuS: Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  // ---- set-up ---------------------------------------------------------

  private val batches: Seq[(String, String)] =
    new File(s"$in/batches").list().filter(_.endsWith(".parquet")).sorted.toSeq
      .map(f => (s"$in/batches", f.stripSuffix(".parquet")))

  /** Inputs registered through Tables, the program's catalog. */
  private def registerInputs(): Unit = trace.span("tables", "tables.load") {
    if (workload == "warehouse") StarTables.foreach {
      case "events" => Tables.events(spark, in)
      case t => Tables.load(spark, in, t)
    }
    else Seq("documents", "embeddings").foreach(Tables.load(spark, in, _))
  }

  /** The program writes its layouts under a fixed scratch root
    * (`Lake.scratch`) whatever the checkout; record what is there before
    * the run so the caller removes exactly what the run created. */
  private val scratchRoot = operators.Lake.scratch("").stripSuffix("/")
  private val foreignScratch: Set[String] =
    Option(new File(scratchRoot).list()).map(_.toSet).getOrElse(Set.empty)

  private def recordScratch(): Unit = {
    var p = new File(scratchRoot)
    val missing = mutable.ArrayBuffer[String]()
    while (p != null && !p.exists()) { missing += p.getPath; p = p.getParentFile }
    writeJson(s"$run/scratch.json", Map("root" -> scratchRoot, "created_dirs" -> missing.toSeq,
      "entries" -> foreignScratch.toSeq.sorted))
  }

  // ---- guarded operations --------------------------------------------

  /** Run one operation, counting it; a throw counts as failed. The
    * current span id goes to Spark as a local property so jobs are tied
    * to their span. */
  private def guarded[T](kind: String, name: String)(f: SparkSession => T)(
      implicit s: SparkSession): Option[T] = {
    attempted += 1
    trace.span(kind, name) {
      val id = trace.current
      s.sparkContext.setLocalProperty("perfbench.span", id.toString)
      val r = try Some(f(s)) catch {
        case NonFatal(e) =>
          failed += 1
          failedPhases += trace.phase
          errors += s"${trace.phase} $name: ${e.getClass.getSimpleName}: ${e.getMessage}"
            .take(500)
          None
      }
      if (traced) {
        org.apache.spark.PerfbenchBus.drain(s.sparkContext)
        counters.flush(id)
      }
      r
    }
  }

  // ---- warehouse / curation passes -----------------------------------

  private def opsPass(s0: SparkSession, pass: Int, ops: Seq[String]): Unit = {
    implicit val s: SparkSession = s0
    val registry = SparkEntry.registry.map(q => q.name -> q).toMap
    ops.foreach { name =>
      val q: GraftQuery = registry(name)
      val out = s"$run/out/pass$pass/$name"
      val before = if (traced) artifacts() else Map.empty[String, Long]
      val t = System.nanoTime
      val r = guarded("op", name) { ss =>
        trace.span("module", moduleOf(name)) {
          q.fn(ss, in).write.mode("overwrite").parquet(out)
        }
        ScopedCache.releaseAll()
      }
      val secs = (System.nanoTime - t) / 1e9
      val built = if (traced) {
        val after = artifacts()
        after.count { case (k, m) => !before.get(k).contains(m) }
      } else 0
      opRecs += Map("pass" -> pass, "name" -> name, "out" -> out, "ok" -> r.isDefined,
        "seconds" -> secs, "built" -> built, "oracle" -> q.oracle.getOrElse(""))
    }
  }

  /** Layouts this run made that the program keeps between calls: entries
    * new under its scratch root and in the session warehouse dir, each
    * keyed to the newest modification time below it. */
  private def artifacts(): Map[String, Long] = {
    def newest(f: File): Long =
      if (f.isDirectory) (f.lastModified +: f.listFiles().toSeq.map(newest)).max
      else f.lastModified
    val scratch = Option(new File(scratchRoot).listFiles()).toSeq.flatten
      .filterNot(f => foreignScratch(f.getName))
    val warehouse = Option(new File(s"$run/warehouse").listFiles()).toSeq.flatten
    (scratch ++ warehouse).map(f => f.getPath -> newest(f)).toMap
  }

  private def bytesUnder(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(bytesUnder).sum else f.length

  private def filesUnder(f: File): Int =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(filesUnder).sum else 1

  // ---- ingest leg: commits, probes, checkpoints, compaction ----------

  /** Commit the batches one by one into a fresh commit-log table, with a
    * read-after-write probe after every commit, the checkpoint cadence
    * after every commit, then compaction. With `verify`, an as-of probe
    * every second commit, checksums before and after every checkpoint and
    * the compaction, and a scrub. */
  private def writeRound(s0: SparkSession, tableDir: String, phase: String,
                         verify: Boolean): Unit = {
    implicit val s: SparkSession = s0
    val fs = fsOf(s)
    var inputBytes = 0L
    batches.zipWithIndex.foreach { case ((dir, name), k) =>
      val ts = BaseTs + k * 1000L
      inputBytes += new File(s"$dir/$name.parquet").length
      guarded("commit", "writeCommit") { ss =>
        CommitLog.writeCommit(ss, tableDir, Tables.load(ss, dir, name), f"data/b$k%04d", ts)
      }
      probe(tableDir, phase, "latest", k)(CommitLog.snapshot(_, tableDir))
      if (verify && k % 2 == 1)
        probe(tableDir, phase, "asof", k / 2)(CommitLog.snapshotAsOf(_, tableDir, BaseTs + (k / 2) * 1000L))
      guarded("checkpoint", "maybeCheckpoint")(CommitLog.maybeCheckpoint(_, tableDir, ts + 500, MaxReplay))
        .flatten.filter(_ => verify).foreach(v => invariant(phase, "checkpoint", tableDir, v - 1, v))
    }
    guarded("compact", "lake.compact") { ss =>
      val active = CommitLog.activeFiles(fs, tableDir)
      Graft.lake.compact(CommitLog.snapshot(ss, tableDir), 2)
        .write.mode("overwrite").parquet(s"$tableDir/data/compact")
      CommitLog.commit(fs, tableDir, BaseTs + batches.size * 1000L, Seq("data/compact"), active)
    }.filter(_ => verify).foreach(v => invariant(phase, "compaction", tableDir, v - 1, v))
    if (verify) guarded("lake", "scrub")(Graft.lake.scrub(_, tableDir)).foreach { bad =>
      invariantRecs += Map("phase" -> phase, "kind" -> "scrub", "ok" -> bad.isEmpty,
        "detail" -> bad.mkString(","))
    }
    val dir = new File(tableDir)
    reading(phase, "store.files", filesUnder(dir).toDouble)
    reading(phase, "write_amp", bytesUnder(dir).toDouble / math.max(1L, inputBytes))
    reading(phase, "commitlog.log_files",
      Option(new File(s"$tableDir/_log").list()).map(_.count(_.endsWith(".log"))).getOrElse(0)
        .toDouble)
    reading(phase, "rows", batches.map { case (d, n) => Tables.rowCount(s, d, n) }.sum.toDouble)
  }

  /** Read-after-write probe: resolve a snapshot, collect a fixed
    * integer-exact aggregate. */
  private def probe(tableDir: String, phase: String, kind: String, upTo: Int)(
      resolve: SparkSession => DataFrame)(implicit s: SparkSession): Unit = {
    guarded("probe", kind) { ss =>
      val df = trace.span("resolve", kind)(resolve(ss))
      df.agg(count(lit(1)), sum(col("event_id")), sum(round(col("value") * 100).cast("long")))
        .collect().head
    }.foreach { r =>
      probeRecs += Map("phase" -> phase, "kind" -> kind, "upto" -> upTo,
        "count" -> r.getLong(0), "sum_id" -> r.getLong(1), "sum_cents" -> r.getLong(2))
    }
  }

  /** Row count, group checksum and content summary at two versions. */
  private def invariant(phase: String, kind: String, tableDir: String, v0: Int, v1: Int)(
      implicit s: SparkSession): Unit = {
    def summary(v: Int): Option[String] =
      guarded("lake", "groupChecksum") { ss =>
        val df = CommitLog.snapshot(ss, tableDir, v)
        val ck = Graft.lake.groupChecksum(df, "props", "event_type").collect().map(_.toString).sorted
        val cs = Graft.lake.contentSummary(df, "event_id", "event_type").collect()
          .map(_.toString).sorted
        (ck ++ cs).mkString(";")
      }
    val (a, b) = (summary(v0), summary(v1))
    invariantRecs += Map("phase" -> phase, "kind" -> kind, "ok" -> (a.isDefined && a == b),
      "detail" -> s"v$v0 -> v$v1")
  }

  // ---- streaming -----------------------------------------------------

  /** One streaming query over every event file, one file per trigger,
    * with its own checkpoint and output directory. */
  private def streamLeg(kind: String, name: String, agg: DataFrame => DataFrame)(
      implicit s: SparkSession): Unit = {
    val out = s"$run/out/stream_$name"
    val t = System.nanoTime
    guarded("stream", name) { ss =>
      val src = ss.readStream.schema(EventSchema).option("maxFilesPerTrigger", "1")
        .parquet(s"$in/stream")
      val q = agg(src).writeStream.format("parquet").outputMode("append")
        .option("checkpointLocation", s"$run/ckpt/$name")
        .trigger(Trigger.AvailableNow()).start(out)
      q.awaitTermination()
      q.exception.foreach(e => throw e)
      val wall = (System.nanoTime - t) / 1e9
      val ps = q.recentProgress.toSeq
      def dur(k: String) = ps.flatMap(p => Option(p.durationMs.get(k))).map(_.doubleValue)
      val ops = ps.flatMap(_.stateOperators.toSeq)
      val last = ps.last
      Map[String, Any]("kind" -> kind, "name" -> name, "phase" -> trace.phase, "out" -> out,
        "wall_s" -> wall,
        "events" -> ps.map(_.numInputRows).sum,
        "batches" -> ps.count(_.numInputRows > 0),
        "watermark" -> Option(last.eventTime.get("watermark")).getOrElse(""),
        "late_dropped" -> ops.map(_.numRowsDroppedByWatermark).sum,
        "batch_ms" -> median(dur("triggerExecution")),
        "add_batch_ms" -> median(dur("addBatch")),
        "wal_ms" -> median(dur("walCommit")),
        "state_rows" -> last.stateOperators.map(_.numRowsTotal).sum,
        "state_mb" -> last.stateOperators.map(_.memoryUsedBytes).sum / 1048576.0)
    }.foreach(streamRecs += _)
  }

  // ---- metrics -------------------------------------------------------

  private def endOfPhase(s: SparkSession, phase: String, fs0: (Long, Long)): Unit = {
    if (traced) {
      val (r1, w1) = fsBytes()
      reading(phase, "fs.bytes_read", (r1 - fs0._1).toDouble)
      reading(phase, "fs.bytes_written", (w1 - fs0._2).toDouble)
      val info = s.sparkContext.getRDDStorageInfo
      reading(phase, "cache.mem_mb", info.map(_.memSize).sum / 1048576.0)
      reading(phase, "cache.disk_mb", info.map(_.diskSize).sum / 1048576.0)
    }
  }

  private def heapReading(phase: String): Unit = {
    // the second collection also frees what Spark's ContextCleaner released
    // in reaction to the first (broadcast and shuffle blocks of dead frames)
    System.gc()
    Thread.sleep(100)
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    reading(phase, "heap_mb", used)
    peakHeapMb = math.max(peakHeapMb, used)
  }

  private def warm(passes: Int): Set[String] = (1 until passes).map(p => s"pass$p").toSet

  /** The warm write rounds, whose commit-log work the write-path
    * metrics read. */
  private def warmRounds(passes: Int): Seq[String] = (1 until passes).map(r => s"round$r")

  /** Rows committed ÷ wall time of the commits, checkpoints and
    * compaction of each write round, the cold one first. */
  private def roundRates(passes: Int): Seq[Double] = (0 until passes).map(r => s"round$r").flatMap { p =>
    val writeS = Seq("commit", "checkpoint", "compact").flatMap(trace.of(_, Set(p)))
      .map(_.seconds).sum
    phaseReadings.get(p).flatMap(_.get("rows")).filter(_ => writeS > 0).map(_ / writeS)
  }

  private def tumblingRecs: Seq[Map[String, Any]] = streamRecs.toSeq.filter(_("kind") == "tumbling")

  private def streamRate(r: Map[String, Any]): Double =
    r("events").asInstanceOf[Long] / math.max(r("wall_s").asInstanceOf[Double], 1e-9)

  /** Every sample of a timed end-to-end metric, in run order: passes and
    * write rounds from the cold one, probes and tumbling-window queries
    * of the warm rounds. */
  private def samples(passes: Int): Map[String, Seq[Double]] = Map(
    "pass_s" -> trace.of("pass", warm(passes) + "pass0").sortBy(_.startNs).map(_.seconds),
    "round_rows_per_s" -> roundRates(passes),
    "probe_s" -> trace.of("probe", warmRounds(passes).toSet).sortBy(_.startNs).map(_.seconds),
    "stream_events_per_s" -> tumblingRecs.map(streamRate))

  private def endToEnd(setupS: Double, passes: Int): Map[String, Double] = {
    val passSpans = trace.of("pass", (0 until passes).map(p => s"pass$p").toSet)
    val clean = passSpans.filterNot(sp => failedPhases(sp.phase))
    val use = if (clean.exists(_.phase != "pass0")) clean else passSpans
    val sm = samples(passes)
    Map(
      "setup_s" -> setupS,
      "cold_s" -> passSpans.find(_.phase == "pass0").map(_.seconds).getOrElse(0.0),
      "warm_s" -> median(use.filter(_.phase != "pass0").map(_.seconds)),
      "peak_heap_mb" -> peakHeapMb,
      "ingest_rows_per_s" -> median(sm("round_rows_per_s").drop(1)),
      "snapshot_read_s" -> median(sm("probe_s")),
      "stream_events_per_s" -> median(sm("stream_events_per_s")),
      "write_amp" -> phaseReadings.get(s"round${passes - 1}").flatMap(_.get("write_amp"))
        .getOrElse(0.0))
  }

  /** Per-layer metrics of a traced run: per-pass sums, median over the
    * warm passes (the write-path phases for commit-log metrics). */
  private def perLayer(passes: Int): Unit = {
    val wp = warm(passes)
    val phaseOf = trace.spans.map(s => s.id -> s.phase).toMap
    def perPhase(key: String): Map[String, Double] =
      counters.bySpan.toSeq.groupBy { case (id, _) => phaseOf.getOrElse(id, "setup") }
        .map { case (ph, xs) => ph -> xs.map(_._2.getOrElse(key, 0.0)).sum }
    def medianOver(key: String, phases: Set[String]): Double = {
      val pp = perPhase(key)
      median(phases.toSeq.map(pp.getOrElse(_, 0.0)))
    }
    def warmMedian(key: String): Double = medianOver(key, wp)
    def spanSum(kind: String, name: String => Boolean, phases: Set[String]): Double =
      median(phases.toSeq.map(ph => trace.of(kind, Set(ph)).filter(s => name(s.name))
        .map(_.seconds).sum))
    val wph = warmRounds(passes).toSet
    layer("tables.load_s") = trace.of("tables", Set("setup")).map(_.seconds).sum
    Seq("relational", "lake", "text", "dedup", "similarity").foreach { m =>
      val ops = spanSum("module", _ == m, wp)
      val api = if (m == "lake") spanSum("lake", _ => true, wph) +
        spanSum("compact", _ => true, wph) else 0.0
      layer(s"$m.busy_s") = ops + api
    }
    layer("commitlog.commit_s") = median(trace.of("commit", wph).map(_.seconds))
    layer("commitlog.checkpoint_s") = spanSum("checkpoint", _ => true, wph)
    layer("commitlog.resolve_s") = median(trace.of("resolve", wph).map(_.seconds))
    // cold minus warm time of the ops that built a layout in the cold pass
    val warmByOp = opRecs.filter(r => r("pass") != 0).groupBy(_("name"))
      .map { case (n, rs) => n -> median(rs.map(_("seconds").asInstanceOf[Double]).toSeq) }
    val builders = opRecs.filter(r => r("pass") == 0 && r("built").asInstanceOf[Int] > 0)
    layer("artifact.build_s") = builders.map(r =>
      r("seconds").asInstanceOf[Double] - warmByOp.getOrElse(r("name"), 0.0)).sum
    Seq("plan.analysis_ms", "plan.optimization_ms", "plan.physical_ms", "plan.chars",
      "sched.jobs", "sched.stages", "sched.tasks", "sched.delay_s",
      "scan.files", "scan.bytes", "scan.rows", "shuffle.write_mb",
      "shuffle.read_mb", "shuffle.records", "shuffle.fetch_wait_s", "shuffle.spill_mb",
      "exec.run_s", "exec.cpu_s", "exec.gc_s")
      .foreach(k => layer(k) = warmMedian(k))
    // file listing and footers of the read-after-write probes' scans
    layer("scan.metadata_ms") = medianOver("scan.metadata_ms", wph)
    layer("scan.rows_per_output_row") = warmMedian("scan.rows") / math.max(1.0, warmMedian("out.rows"))
    val passWall = median(trace.of("pass", wp).map(_.seconds))
    layer("exec.busy_share") = layer("exec.run_s") / math.max(1e-9, passWall * nproc)
    def readingMedian(k: String, phases: Set[String]) =
      median(phases.toSeq.flatMap(p => phaseReadings.get(p).flatMap(_.get(k))))
    layer("cache.mem_mb") = readingMedian("cache.mem_mb", wp)
    layer("cache.disk_mb") = readingMedian("cache.disk_mb", wp)
    val created = opRecs.filter(_("built").asInstanceOf[Int] > 0)
    val arts = artifacts()
    layer("artifact.dirs") = arts.size.toDouble
    layer("artifact.mb") = arts.keys.map(k => bytesUnder(new File(k))).sum / 1048576.0
    layer("artifact.warm_builds") = created.count(_("pass") != 0).toDouble
    layer("fs.bytes_written") = readingMedian("fs.bytes_written", wph)
    layer("fs.bytes_read") = readingMedian("fs.bytes_read", wph)
    layer("store.files") = readingMedian("store.files", wph)
    layer("commitlog.log_files") = readingMedian("commitlog.log_files", wph)
    // streaming: median over the tumbling-window queries of the warm rounds
    def streamMedian(k: String) = median(tumblingRecs.map(r => r(k).toString.toDouble))
    Seq("batches", "batch_ms", "add_batch_ms", "wal_ms", "state_rows", "state_mb", "late_dropped")
      .foreach(k => layer(s"stream.$k") = streamMedian(k))
    // dedup waste: join output rows of the d_* plans against pairs found
    val dSpans = trace.spans.filter(s => s.kind == "op" && s.name.startsWith("d_") && wp(s.phase))
    val joinRows = dSpans.map(s => counters.bySpan.get(s.id).flatMap(_.get("join.rows"))
      .getOrElse(0.0)).sum / math.max(1, wp.size)
    val pairs = dSpans.filter(_.name == "d_minhash_lsh").map(s =>
      counters.bySpan.get(s.id).flatMap(_.get("out.rows")).getOrElse(0.0)).sum / math.max(1, wp.size)
    layer("dedup.join_rows") = joinRows
    layer("dedup.pairs") = pairs
    layer("dedup.pairs_per_join_row") = pairs / math.max(1.0, joinRows)
  }

  // ---- output --------------------------------------------------------

  private def writeSpans(): Unit = {
    val xs = trace.spans.sortBy(_.startNs).map(s => Map("run" -> trace.runId, "id" -> s.id,
      "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name, "phase" -> s.phase,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs,
      "counts" -> counters.bySpan.get(s.id).map(_.toMap).getOrElse(Map.empty)))
    writeJson(s"$run/spans.json", Map("spans" -> xs.toSeq))
  }

  private def writeJson(path: String, v: Any): Unit = {
    new File(path).getParentFile.mkdirs()
    Files.writeString(Paths.get(path), Json(v))
  }
}

object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
