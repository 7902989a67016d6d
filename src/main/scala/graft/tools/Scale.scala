package graft.tools

import graft.{ScopedCache, SparkEntry, Tables}
import graft.operators.Lake
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

/** The scale tool: does each op keep its cost shape when the data
  * grows `factor`x? SURVEY §5 argues the 100 TB claims from plan
  * shapes; this turns them into one measured record.
  *
  * With `factor > 1` it first materializes a `factor`x copy of the
  * base data ([[materialize]]), then runs one pass over the base dir
  * and one over the scaled dir; `factor == 1` runs the base pass only.
  * Each pass has the bench's loop shape: ops in alphabetical order,
  * the cache cleared at family boundaries, `ScopedCache` released
  * after every run. Each op runs twice in a row. The first run is
  * cold: it pays any layout or memo build it triggers, and the
  * scratch dirs created during it are recorded as its provisioning.
  * The second is steady: the op's recurring cost. Timing is by
  * `count()`, so an op's final ORDER BY is not part of its number.
  *
  * Ops: `SPARK_GRAFT_ONLY` (comma-separated names or `prefix*`), else
  * the whole registry; a name that selects nothing fails at start. A
  * failing op is printed to stderr, recorded, and makes the tool exit
  * 1 once the record is written.
  *
  * Output JSON: factor, dirs, cpus, each pass's wall seconds and the
  * failures; per op `base` and `scaled` = [cold, steady] seconds,
  * `ratio` = steady scaled / steady base, and `provisioned_dirs`; the
  * median and max ratio over [[MetaOps]] (expected ~1 at any factor)
  * and over the other ops (data-proportional: ~factor, not factor²).
  *
  * Usage: runMain graft.tools.Scale <baseDir> <outJson> <factor>
  */
object Scale {

  /** Operators whose SURVEY §5 rows claim O(commits)/O(manifest)/
    * metadata-only cost — the flat set. */
  val MetaOps: Seq[String] = Seq(
    "lake_time_travel", "lake_vacuum", "lake_restore", "lake_clone",
    "lake_snapshot_diff", "lake_point_lookup", "lake_checkpoint_cadence",
    "lake_journal_audit", "lake_delete_cow")

  /** The registry ops a `SPARK_GRAFT_ONLY` value selects, sorted (the
    * whole registry when unset); a name or prefix that matches no op
    * fails. */
  def selectOps(only: Option[String]): Seq[String] = {
    val all = SparkEntry.queries.keys.toSeq.sorted
    only.fold(all) { spec =>
      def hits(p: String): Seq[String] =
        if (p.endsWith("*")) all.filter(_.startsWith(p.dropRight(1))) else all.filter(_ == p)
      val pats = spec.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      val unknown = pats.filter(hits(_).isEmpty)
      require(pats.nonEmpty && unknown.isEmpty,
        s"SPARK_GRAFT_ONLY selects no registry op for: ${unknown.mkString(", ")}")
      val picked = pats.flatMap(hits).toSet
      all.filter(picked)
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: graft.tools.Scale <baseDir> <outJson> <factor>")
    val Array(base, outJson, factorArg) = args
    val factor = factorArg.toInt
    require(factor >= 1, s"factor must be >= 1, got $factor")
    val ops = selectOps(sys.env.get("SPARK_GRAFT_ONLY"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val scaled = if (factor > 1) Some(Lake.scratch(s"scale$factor")) else None
    scaled.foreach(materialize(spark, base, _, factor))

    // layout dirs under the scratch root; the scaled copies are data
    val scratchRoot = new java.io.File(Lake.scratch("x")).getParentFile
    def scratchDirs(): Set[String] =
      Option(scratchRoot.list()).fold(Set.empty[String])(_.filterNot(_.startsWith("scale")).toSet)
    def family(n: String): String =
      n.takeWhile(_ != '_').replaceAll("\\d+$", "")
    def timed(name: String, dir: String): Double = {
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, dir).count()
      finally ScopedCache.releaseAll()
      (System.nanoTime() - t0) / 1e9
    }

    case class Run(cold: Double, steady: Double, dirs: Set[String])
    val failures = scala.collection.mutable.ArrayBuffer.empty[(String, String, String)]
    /** One pass over `dir`: (wall seconds, per-op runs of the ops that
      * did not fail). */
    def pass(label: String, dir: String): (Double, Map[String, Run]) = {
      // the bench's warmup, over this pass's tables
      spark.range(1000).selectExpr("sum(id)").collect()
      Tables.names.foreach {
        case "events" => Tables.events(spark, dir).count()
        case t => Tables.load(spark, dir, t).count()
      }
      var prevFamily = ""
      val t0 = System.nanoTime()
      val runs = ops.flatMap { name =>
        if (family(name) != prevFamily) {
          spark.catalog.clearCache(); prevFamily = family(name)
        }
        val before = scratchDirs()
        try {
          val cold = timed(name, dir)
          val dirs = scratchDirs() -- before
          val steady = timed(name, dir)
          System.err.println(String.format(java.util.Locale.ROOT,
            "SCALE %-6s %-28s cold %7.2fs  steady %7.2fs%s", label, name,
            Double.box(cold), Double.box(steady),
            if (dirs.nonEmpty) dirs.toSeq.sorted.mkString("  +dirs ", ",", "") else ""))
          Some(name -> Run(cold, steady, dirs))
        } catch {
          case NonFatal(e) =>
            failures += ((name, label, e.getClass.getName))
            System.err.println(s"SCALE FAILURE $name ($label): ${e.getClass.getName}: ${e.getMessage}")
            None
        }
      }
      ((System.nanoTime() - t0) / 1e9, runs.toMap)
    }
    val (baseWall, baseRuns) = pass("base", base)
    val scaledPass = scaled.map(pass("scaled", _))
    val scaledRuns = scaledPass.fold(Map.empty[String, Run])(_._2)
    spark.stop()

    def num(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def strs(xs: Iterable[String]): String =
      xs.map("\"" + _ + "\"").mkString("[", ",", "]")
    val ratios: Map[String, Double] = for {
      (n, b) <- baseRuns; s <- scaledRuns.get(n) if b.steady > 0
    } yield n -> s.steady / b.steady
    def ratioStats(key: String, rs: Iterable[Double]): String =
      if (rs.isEmpty) s""""${key}_ratio_median":null,"${key}_ratio_max":null"""
      else {
        val s = rs.toSeq.sorted
        s""""${key}_ratio_median":${num(s(s.size / 2))},"${key}_ratio_max":${num(s.last)}"""
      }
    val (metaRatios, dataRatios) = ratios.partition { case (n, _) => MetaOps.contains(n) }
    val opsJson = ops.filter(n => baseRuns.contains(n) || scaledRuns.contains(n)).map { n =>
      def times(label: String, r: Option[Run]) =
        r.map(r => s""""$label":[${num(r.cold)},${num(r.steady)}],""").getOrElse("")
      val dirs = baseRuns.get(n).toSeq.flatMap(_.dirs) ++ scaledRuns.get(n).toSeq.flatMap(_.dirs)
      s""""$n":{${times("base", baseRuns.get(n))}${times("scaled", scaledRuns.get(n))}""" +
        ratios.get(n).map(r => s""""ratio":${num(r)},""").getOrElse("") +
        s""""provisioned_dirs":${strs(dirs.sorted)}}"""
    }.mkString(",\n")
    val failJson = failures.map { case (n, p, e) =>
      s"""{"op":"$n","pass":"$p","error":"$e"}""" }.mkString("[", ",", "]")
    val json =
      s"""{"factor":$factor,"base":"$base","scaled":${scaled.fold("null")("\"" + _ + "\"")},"cpus":$cpus,
         |"wall_sec":{"base":${num(baseWall)},"scaled":${scaledPass.fold("null")(p => num(p._1))}},
         |"n_ops":${ops.size},"n_failures":${failures.size},"failures":$failJson,
         |${ratioStats("meta", metaRatios.values)},${ratioStats("data", dataRatios.values)},
         |"ops":{$opsJson}}""".stripMargin
    val p = java.nio.file.Paths.get(outJson)
    if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, json.getBytes("UTF-8"))
    println(s"""{"scale":"done","factor":$factor,"n_ops":${ops.size},"n_failures":${failures.size},"out":"$outJson"}""")
    if (failures.nonEmpty) sys.exit(1)
  }

  /** Materialize a ~`factor`x dataset from `base` at `out` (dims stay
    * fixed, facts replicate):
    * - region/nation/customer/supplier/part copied as-is, so fact
    *   foreign keys stay valid (factor x data per dim key — the
    *   realistic shape of growing a warehouse under a stable
    *   dimension universe).
    * - orders+lineitem share ONE orderkey offset per copy, so the
    *   order-lineitem join matches strictly within a copy.
    * - documents get per-copy distinct text (every 3rd word salted
    *   with the copy id — each shingle holds exactly one salted
    *   position, so copies are shingle-disjoint AND the per-copy
    *   shingle-DF distribution equals the base corpus's, making
    *   candidate density scale linearly like organic growth) — a
    *   naive identical copy would make every doc a factor-way near-dup
    *   and quadratically inflate banded candidate groups; n_chars is
    *   recomputed to stay consistent.
    * - embeddings get a small per-copy component shift for the same
    *   reason (identical vectors pile into identical LSH/IVF buckets).
    * - events keep their timestamps (factor x density per day) with
    *   offset event ids; ts is copied in raw nanos-long form so the
    *   scaled parquet reads through the same Tables.events path.
    *
    * Idempotent: a marker file records (base, factor, base-file
    * sizes+mtimes); rebuilt when absent or when the BASE DATA itself
    * changed — a regenerated base at the same path must not be
    * compared against stale scaled parquet. */
  private[graft] def materialize(spark: SparkSession, base: String,
                                 out: String, factor: Int): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(out, "_scale_ok")
    val baseSig = fs.listStatus(new org.apache.hadoop.fs.Path(base))
      .sortBy(_.getPath.getName)
      .map(s => s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
      .mkString(";")
    val sig = s"$base factor=$factor saltv2 $baseSig"
    if (fs.exists(marker)) {
      val in = fs.open(marker)
      val txt = try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
                finally in.close()
      if (txt == sig) return
    }
    fs.delete(new org.apache.hadoop.fs.Path(out), true)
    System.err.println(s"SCALE materializing ${factor}x of $base at $out ...")

    def copies(df: DataFrame)(remap: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(i => remap(df, i)).reduce(_ unionByName _)
    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
    def keyOffset(df: DataFrame, key: String): Long = {
      val row = df.agg(max(col(key).cast("long"))).head
      require(!row.isNullAt(0), s"base table has no rows — cannot offset key '$key'")
      row.getLong(0) + 1
    }

    // dims: fixed universe
    Seq("region", "nation", "customer", "supplier", "part")
      .foreach(t => write(Lake.readParquet(spark, s"$base/$t.parquet"), t))

    // orders + lineitem: one shared orderkey offset per copy
    val orders = Lake.readParquet(spark, s"$base/orders.parquet")
    val offO = keyOffset(orders, "o_orderkey")
    write(copies(orders)((d, i) =>
      d.withColumn("o_orderkey", col("o_orderkey") + lit(i * offO))), "orders")
    val lineitem = Lake.readParquet(spark, s"$base/lineitem.parquet")
    write(copies(lineitem)((d, i) =>
      d.withColumn("l_orderkey", col("l_orderkey") + lit(i * offO))), "lineitem")

    // events: raw nanos-long ts so the scaled parquet reads through
    // the same Tables.events path as the originals
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val events = Lake.readParquet(spark, s"$base/events.parquet")
    val offE = keyOffset(events, "event_id")
    write(copies(events)((d, i) =>
      d.withColumn("event_id", col("event_id") + lit(i * offE))), "events")

    // documents: per-copy DISTINCT text via SALTING EVERY 3RD WORD
    // with the copy id. Every word-3-gram contains exactly one salted
    // position, so (a) cross-copy shingle sets are DISJOINT (no
    // factor-way near-dup quadratics), and (b) within a copy the
    // shingle DOCUMENT-FREQUENCY distribution is exactly the base
    // corpus's (trigram (a, b·i, c) has the DF of (a,b,c)) — so
    // candidate-pair density scales LINEARLY, the organic-growth
    // shape. The r7–r10 scheme (a copy token between EVERY word)
    // collapsed shingles to unigram-like (cᵢ, w, cᵢ) patterns shared
    // by every same-vocab doc pair — the round-11 dedup-density probe
    // measured 465x prefix / 1273x banded candidate growth at 10x
    // data from that artifact, which is what made the dedup trio look
    // superlinear in the round-10 scale run.
    val docs = Lake.readParquet(spark, s"$base/documents.parquet")
    val offD = keyOffset(docs, "doc_id")
    write(copies(docs)((d, i) =>
      if (i == 0) d
      else d.withColumn("doc_id", col("doc_id") + lit(i * offD))
        .withColumn("text", expr(
          s"""array_join(transform(split(text, ' '),
             |  (w, p) -> CASE WHEN p % 3 = 0 THEN concat(w, '·$i')
             |            ELSE w END), ' ')""".stripMargin))
        .withColumn("n_chars", length(col("text")))), "documents")

    // embeddings: small per-copy component shift keeps copies out of
    // each other's LSH/IVF buckets; element type preserved
    val emb = Lake.readParquet(spark, s"$base/embeddings.parquet")
    val offV = keyOffset(emb, "vec_id")
    write(copies(emb)((d, i) =>
      if (i == 0) d
      else d.withColumn("vec_id", col("vec_id") + lit(i * offV))
        .withColumn("embedding",
          transform(col("embedding"), x => x + lit(i * 0.001))
            .cast("array<float>"))), "embeddings")

    val outS = fs.create(marker, true)
    try outS.write(sig.getBytes("UTF-8")) finally outS.close()
    System.err.println("SCALE materialization done")
  }
}
