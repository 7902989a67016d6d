package graft.tools

import graft.{SparkEntry, Tables}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** DENSITY PROOF for the superlinear dedup trio (VERDICT r10 #5):
  * `d_lsh_recall` (7.1x), `d_cross_source_dup` (6.8x) and
  * `d_ngram_jaccard` (5.9x) grew superlinearly at the 10x scale step
  * while every other data op sat near 1x. SURVEY §5's claim is that
  * the growth is CANDIDATE-PAIR DENSITY — the synthetic corpus's
  * genuine near-dup pairs grow faster than the corpus — not a plan
  * regression. This probe separates the two by measuring, at each
  * scale, both the wall-clock AND the candidate/truth-pair volumes
  * the ops process, then reporting time-per-candidate:
  *
  *   per_cand_ratio = time_ratio / volume_ratio
  *
  * ~1 means each candidate costs the same at both scales (the plan
  * scales; the DATA got denser — at 100 TB with organic-growth
  * density the same plan is linear). >> 1 would be a real plan
  * regression (per-candidate work growing with corpus size).
  *
  * Volumes counted: the DF-ordered prefix-filter candidates (the
  * exact-truth arm shared by all three ops), the verified truth
  * pairs, and the summed banded-LSH candidates across d_lsh_recall's
  * three configs (read from the op's own output — the op IS the
  * candidate census). Volume counting runs before timing at both
  * scales, so family memos are equally warm and ratios compare
  * like-for-like (the SCALE_r10 methodology).
  *
  * Usage: runMain graft.tools.DedupScaleProbe [baseDir] [outJson] [factor]
  */
object DedupScaleProbe {

  val Ops: Seq[String] = Seq("d_ngram_jaccard", "d_lsh_recall", "d_cross_source_dup")

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outJson = if (args.length > 1) args(1) else "docs/DEDUP_DENSITY_r11.json"
    val factor = if (args.length > 2) args(2).toInt else 10
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val scaledDir = graft.operators.Lake.scratch(s"scale$factor")
    ScaleStress.materialize(spark, base, scaledDir, factor)

    final case class Probe(nDocs: Long, candPrefix: Long, truth: Long,
                           candLsh: Long, times: Map[String, Double])

    def probe(dir: String): Probe = {
      graft.api.Graft.dedup.clearPipelineCache()
      spark.catalog.clearCache()
      val docs = Tables.documents(spark, dir)
      val nDocs = docs.count()
      val sh = graft.api.Graft.dedup.shingleSets(docs, "doc_id", "text")
      val candPrefix = graft.api.Graft.dedup
        .exactJaccardCandidates(sh, 0.8).count()
      val truth = graft.api.Graft.dedup
        .exactJaccardPairs(docs, "doc_id", "text", 0.8).count()
      // the recall scoreboard's own output is the banded-candidate
      // census across its three configs
      val candLsh = SparkEntry.queries("d_lsh_recall")(spark, dir)
        .agg(sum(col("n_candidates"))).head.getLong(0)
      graft.ScopedCache.releaseAll()
      val times = Ops.map { name =>
        val ts = (1 to 2).map { _ =>
          spark.catalog.clearCache()
          val t0 = System.nanoTime()
          SparkEntry.queries(name)(spark, dir).count()
          val dt = (System.nanoTime() - t0) / 1e9
          graft.ScopedCache.releaseAll()
          dt
        }
        name -> ts.min
      }.toMap
      Probe(nDocs, candPrefix, truth, candLsh, times)
    }

    val pBase = probe(base)
    val pScaled = probe(scaledDir)

    def num(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def ratio(a: Long, b: Long): Double = if (a > 0) b.toDouble / a else 0.0
    // volume each op's wall-clock actually tracks
    val volBase = Map(
      "d_ngram_jaccard" -> pBase.candPrefix,
      "d_lsh_recall" -> (pBase.candPrefix + pBase.candLsh),
      "d_cross_source_dup" -> (pBase.candPrefix max 1L))
    val volScaled = Map(
      "d_ngram_jaccard" -> pScaled.candPrefix,
      "d_lsh_recall" -> (pScaled.candPrefix + pScaled.candLsh),
      "d_cross_source_dup" -> (pScaled.candPrefix max 1L))
    val opsJson = Ops.map { n =>
      val tr = pScaled.times(n) / pBase.times(n)
      val vr = ratio(volBase(n), volScaled(n))
      val pc = if (vr > 0) tr / vr else 0.0
      System.err.println(f"DENSITY $n%-20s time ${pBase.times(n)}%6.2f -> ${pScaled.times(n)}%6.2f (${tr}%4.2fx)  volume ${volBase(n)} -> ${volScaled(n)} (${vr}%4.2fx)  per-candidate ${pc}%4.2fx")
      s""""$n":{"t_base":${num(pBase.times(n))},"t_scaled":${num(pScaled.times(n))},""" +
        s""""time_ratio":${num(tr)},"vol_base":${volBase(n)},"vol_scaled":${volScaled(n)},""" +
        s""""vol_ratio":${num(vr)},"per_candidate_ratio":${num(pc)}}"""
    }.mkString(",\n")
    val json =
      s"""{"factor":$factor,"base":"$base","scaled":"$scaledDir",
         |"n_docs_base":${pBase.nDocs},"n_docs_scaled":${pScaled.nDocs},
         |"cand_prefix_base":${pBase.candPrefix},"cand_prefix_scaled":${pScaled.candPrefix},
         |"truth_base":${pBase.truth},"truth_scaled":${pScaled.truth},
         |"cand_lsh_base":${pBase.candLsh},"cand_lsh_scaled":${pScaled.candLsh},
         |"ops":{$opsJson}}""".stripMargin
    val p = java.nio.file.Paths.get(outJson)
    if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, json.getBytes("UTF-8"))
    println(s"""{"dedup_density":"done","factor":$factor,"out":"$outJson"}""")
    spark.stop()
  }
}
