package graft.tools

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

/** FULL-SUITE scale stress (VERDICT r13 #1): run the WHOLE registry
  * once over ScaleStress-inflated data, in the exact shape the bench
  * runs it — alphabetical order, family-boundary cache clears,
  * per-query ScopedCache release — so cross-op interactions no
  * per-op probe sees (scratch-space pressure, memo/cache eviction
  * between families, accumulated shuffle files, driver-heap growth
  * across 264 plans) actually get exercised. Per-op probes answer
  * "does this op scale"; this answers "does the SUITE survive the
  * scale-up as a workload".
  *
  * Output JSON: suite wall, per-op seconds at the scaled factor,
  * failures (loud, never a fast-and-healthy report), and — when the
  * committed sf0.1 record is readable — each op's suite-context
  * ratio (t_scaled_suite / t_committed) for the PLANS divergence
  * read against the isolated probes.
  *
  * Usage: runMain graft.tools.ScaleSuite [baseDir] [outJson] [factor]
  */
object ScaleSuite {

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outJson = if (args.length > 1) args(1) else "docs/SCALE_r14_suite.json"
    val factor = if (args.length > 2) args(2).toInt else 10
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val scaledDir = graft.operators.Lake.scratch(s"scale$factor")
    ScaleStress.materialize(spark, base, scaledDir, factor)

    // same warmup the bench does, over the SCALED tables
    spark.range(1000).selectExpr("sum(id)").collect()
    graft.Tables.names.foreach {
      case "events" => graft.Tables.events(spark, scaledDir).count()
      case t => graft.Tables.load(spark, scaledDir, t).count()
    }

    def family(n: String): String =
      n.takeWhile(_ != '_').replaceAll("\\d+$", "")
    // SPARK_GRAFT_ONLY: restrict to a prefix/name set — for targeted
    // suite-context experiments (e.g. one family under scale) without
    // paying the whole registry
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def selected(n: String): Boolean =
      only.forall(_.exists(s => n == s || (s.endsWith("*") && n.startsWith(s.dropRight(1)))))
    // Provisioning attribution (VERDICT r16 #2): three ops re-litigated
    // "is this wall the op or a family build it happened to trigger
    // first" last round. Self-adjudicate: (a) record the scratch dirs
    // CREATED during each op's window (disk-layout provisioning
    // marker); (b) when an op's first run is slow (or provisioned),
    // run it a SECOND time — the steady-state run rides every memo/
    // layout the first one built, so t_query = t2 is the op's own
    // recurring cost and t_provision = t1 - t2 is the build another
    // consumer would otherwise have paid. Cheap ops skip the rerun
    // (t_provision stamped 0) to keep the suite wall bounded.
    val RerunFloorSec = 3.0
    // derived from Lake.scratch, not duplicated (ADVICE r17: a
    // hard-coded copy silently reports nothing if the root moves)
    val scratchRoot =
      java.nio.file.Paths.get(graft.operators.Lake.scratch("x")).getParent
    def scratchDirs(): Set[String] =
      if (!java.nio.file.Files.isDirectory(scratchRoot)) Set.empty
      else {
        val s = java.nio.file.Files.list(scratchRoot)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.map(_.getFileName.toString)
            .filterNot(_.startsWith("scale")).toSet
        } finally s.close()
      }
    case class OpTiming(t1: Double, t2: Option[Double], newDirs: Seq[String])
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    var prevFamily = ""
    val suiteT0 = System.nanoTime()
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => selected(n) }
      .map { case (name, fn) =>
      if (family(name) != prevFamily) {
        spark.catalog.clearCache(); prevFamily = family(name)
      }
      val dirsBefore = scratchDirs()
      var failed = false
      val t0 = System.nanoTime()
      try { fn(spark, scaledDir).count() } catch {
        case e: Throwable =>
          failed = true
          failures += name
          System.err.println(s"SCALE_SUITE FAILURE $name: " +
            s"${e.getClass.getName}: ${e.getMessage}")
      } finally graft.ScopedCache.releaseAll()
      val dt = (System.nanoTime() - t0) / 1e9
      val newDirs = (scratchDirs() -- dirsBefore).toSeq.sorted
      val t2 =
        if (failed || (dt < RerunFloorSec && newDirs.isEmpty)) None
        else {
          val r0 = System.nanoTime()
          try { fn(spark, scaledDir).count() }
          catch { case _: Throwable => () } // first-run verdict stands
          finally graft.ScopedCache.releaseAll()
          Some((System.nanoTime() - r0) / 1e9)
        }
      System.err.println(String.format(java.util.Locale.ROOT,
        "SCALE_SUITE %-28s %7.2fs%s%s", name, Double.box(dt),
        t2.map(v => String.format(java.util.Locale.ROOT,
          "  steady %7.2fs", Double.box(v))).getOrElse(""),
        if (newDirs.nonEmpty) s"  +dirs ${newDirs.mkString(",")}" else ""))
      name -> OpTiming(dt, t2, newDirs)
    }
    val suiteWall = (System.nanoTime() - suiteT0) / 1e9

    def num(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // committed sf0.1 per-op record for the suite-context ratio —
    // the shared brace-balanced, string-aware walk (ADVICE r14: the
    // naive first-substring scan Bench retired must not survive here)
    val committed: Map[String, Double] =
      graft.Bench.parseQueriesObject("docs/bench_full.json")
    val opsJson = results.map { case (n, ot) =>
      val ratio = committed.get(n).filter(_ > 0)
        .map(c => s""","suite_ratio":${num(ot.t1 / c)}""").getOrElse("")
      // t_query = the op's steady-state (recurring) cost; t_provision
      // = the family/layout build its first run happened to trigger
      val tq = ot.t2.getOrElse(ot.t1)
      val attrib = s""","t_query":${num(tq)},"t_provision":${num(math.max(0.0, ot.t1 - tq))}"""
      val dirs = if (ot.newDirs.isEmpty) ""
        else ot.newDirs.map("\"" + _ + "\"")
          .mkString(""","provisioned_dirs":[""", ",", "]")
      s""""$n":{"t_scaled":${num(ot.t1)}$ratio$attrib$dirs}"""
    }.mkString(",\n")
    val failJson = failures.map("\"" + _ + "\"").mkString("[", ",", "]")
    val json =
      s"""{"factor":$factor,"base":"$base","scaled":"$scaledDir","cpus":$cpus,
         |"suite_wall_sec":${num(suiteWall)},"rerun_floor_sec":$RerunFloorSec,
         |"n_queries":${results.size},
         |"n_failures":${failures.size},"failures":$failJson,
         |"ops":{$opsJson}}""".stripMargin
    val p = java.nio.file.Paths.get(outJson)
    if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, json.getBytes("UTF-8"))
    println(s"""{"scale_suite":"done","factor":$factor,"suite_wall_sec":${num(suiteWall)},"n_queries":${results.size},"n_failures":${failures.size},"out":"$outJson"}""")
    spark.stop()
    if (failures.nonEmpty) sys.exit(1)
  }
}
