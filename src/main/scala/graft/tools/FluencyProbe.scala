package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Stage-level decomposition of t_fluency_score's wall (r16: the op
  * reads ~42 s at the 100× anchor; the pre-aggregation change moved
  * nothing, so the bill is elsewhere — measure WHERE before touching
  * the dataflow again).
  *
  * Usage: runMain graft.tools.FluencyProbe [dir]
  */
object FluencyProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse(graft.operators.Lake.scratch("scale100"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"PROBE $label%-28s ${(System.nanoTime() - t0) / 1e9}%8.2fs")
      r
    }

    val docs = graft.Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    time("scan_docs")(docs.count())
    val cs = col("cs")
    val raw = docs
      .select(col("doc_id"), split(col("text"), "", -1).as("cs"))
      .select(col("doc_id"),
        explode(zip_with(cs, slice(cs, lit(2), size(cs) - 1),
          (a, b) => concat(a, b))).as("b"))
      .filter(length(col("b")) === 2)
    time("explode_only")(raw.count())
    val pairs = raw.groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("cnt"))
    time("preagg_count")(pairs.count())
    val cached = graft.ScopedCache(pairs)
    time("cache_build")(cached.count())
    val modelBg = cached.groupBy(col("b").as("mb_b")).agg(sum(col("cnt")).as("c12"))
    time("model_bg")(modelBg.count())
    val vocab = docs.select(explode(split(col("text"), "", -1)).as("ch"))
      .filter(length(col("ch")) > 0)
      .agg(countDistinct(col("ch")).as("v"))
    time("vocab_full_scan")(vocab.count())
    val vocab2 = modelBg
      .select(explode(array(substring(col("mb_b"), 1, 1),
        substring(col("mb_b"), 2, 1))).as("ch"))
      .union(docs.filter(length(col("text")) === 1).select(col("text").as("ch")))
      .agg(countDistinct(col("ch")).as("v"))
    time("vocab_from_model")(vocab2.count())
    println("vocab equal: " +
      (vocab.collect()(0).getLong(0) == vocab2.collect()(0).getLong(0)))
    val modelC1 = modelBg.groupBy(substring(col("mb_b"), 1, 1).as("mc_c"))
      .agg(sum(col("c12")).as("c1"))
    val model = modelBg
      .join(broadcast(modelC1), substring(col("mb_b"), 1, 1) === col("mc_c"))
      .crossJoin(broadcast(vocab2))
      .select(col("mb_b"), expr(s"(c12 + 1) * 1000000 div (c1 + v)").as("prob_u"))
    time("probe_join_agg")(
      cached.join(broadcast(model), col("b") === col("mb_b"))
        .groupBy(col("doc_id"))
        .agg(sum(col("cnt")).as("n_bigrams"), sum(col("cnt") * col("prob_u")).as("s"))
        .count())
    graft.ScopedCache.releaseAll()
    spark.stop()
  }
}
