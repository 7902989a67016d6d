package graft.tools

import org.apache.spark.sql.SparkSession

/** d_simhash CANDIDATE-SIDE certification (VERDICT r14 #4): the
  * op's residual three-point fit read p = 1.54, attributed to the
  * OUTPUT — duplicate-style inflation grows true near-identical
  * pairs ~F² by construction — not to candidate blowup. This probe
  * separates the stages the combined wall can't: at 1x/10x/30x it
  * measures the chunk-blocked candidate stage's ROW COUNT and WALL
  * (api.Graft.dedup.simhashCandidates — everything up to and
  * including the distinct equi-join, before the hamming verify) and
  * the verified output count, so the fit can be run per stage
  * (tools/scale_fit.py's t = a + b·n^p on the candidate numbers).
  * Done-criterion: candidate-stage p ≤ ~1.1.
  *
  * Usage: runMain graft.tools.SimhashFit [baseDir] [outJson]
  */
object SimhashFit {
  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outJson = if (args.length > 1) args(1) else "docs/SCALE_r15_simhash.json"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def measure(dir: String): (Seq[Double], Long, Seq[Double], Long) = {
      def once[A](work: => A): (Double, A) = {
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        val a = work
        val dt = (System.nanoTime() - t0) / 1e9
        graft.ScopedCache.releaseAll()
        (dt, a)
      }
      val docs = graft.Tables.documents(spark, dir)
      def candCount(): Long =
        graft.api.Graft.dedup.simhashCandidates(docs, "doc_id", "text").count()
      def outCount(): Long =
        graft.api.Graft.dedup.simhashPairs(docs, "doc_id", "text").count()
      val (tc1, nc) = once(candCount())
      val (tc2, _) = once(candCount())
      val (tf1, no) = once(outCount())
      val (tf2, _) = once(outCount())
      (Seq(tc1, tc2), nc, Seq(tf1, tf2), no)
    }

    def num(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val factors: Seq[Int] =
      if (args.length > 2) args(2).split(",").map(_.trim.toInt).toSeq
      else Seq(1, 10, 30)
    val scales = factors.map(f =>
      f -> (if (f == 1) base else graft.operators.Lake.scratch(s"scale$f")))
    val rows = scales.map { case (f, dir) =>
      if (f > 1) ScaleStress.materialize(spark, base, dir, f)
      val (tc, nc, tf, no) = measure(dir)
      System.err.println(f"SIMHASH_FIT ${f}%3dx cand_wall=${tc.min}%7.2fs " +
        f"cand_rows=$nc%9d full_wall=${tf.min}%7.2fs out_rows=$no%7d")
      s""""x$f":{"t_cand":[${tc.map(num).mkString(",")}],"n_cand":$nc,""" +
        s""""t_full":[${tf.map(num).mkString(",")}],"n_out":$no}"""
    }
    val json = s"""{"base":"$base","scales":[${factors.mkString(",")}],\n${rows.mkString(",\n")}}"""
    val p = java.nio.file.Paths.get(outJson)
    if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, json.getBytes("UTF-8"))
    println(s"""{"simhash_fit":"done","out":"$outJson"}""")
    spark.stop()
  }
}
