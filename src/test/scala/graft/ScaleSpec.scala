package graft

import graft.operators.Lake
import graft.tools.Scale
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions._

/** The scale tool's materialized copy: the invariants the base-vs-
  * scaled ratios rest on (facts replicate with disjoint keys, dims stay
  * fixed, document copies share no shingle), its idempotence, and the
  * tool's op selection. */
class ScaleSpec extends SparkSpec {

  private val base = "/root/testdata/sf0.01"
  private lazy val out = {
    val d = Lake.scratch("scale_spec_x2")
    FileSystem.get(spark.sparkContext.hadoopConfiguration).delete(new Path(d), true)
    Scale.materialize(spark, base, d, 2)
    d
  }

  private def rows(dir: String, t: String): Long = Lake.footerRows(spark, Seq(s"$dir/$t.parquet"))
  private def read(dir: String, t: String) = Lake.readParquet(spark, s"$dir/$t.parquet")

  test("factor 2: fact tables double, dims are unchanged") {
    Seq("orders", "lineitem", "events", "documents", "embeddings").foreach { t =>
      assert(rows(out, t) == 2 * rows(base, t), t)
    }
    Seq("region", "nation", "customer", "supplier", "part").foreach { t =>
      assert(rows(out, t) == rows(base, t), t)
      assert(read(out, t).exceptAll(read(base, t)).isEmpty, t)
    }
  }

  test("factor 2: orderkeys are disjoint per copy and orders-lineitem joins within a copy") {
    val orders = read(out, "orders")
    assert(orders.select("o_orderkey").distinct().count() == 2 * rows(base, "orders"))
    def joined(dir: String): Long =
      read(dir, "orders").join(read(dir, "lineitem"), col("o_orderkey") === col("l_orderkey")).count()
    val baseJoin = joined(base)
    assert(baseJoin > 0)
    assert(joined(out) == 2 * baseJoin)
  }

  test("factor 2: document copies share no word-3-gram shingle") {
    val offD = read(base, "documents").agg(max(col("doc_id").cast("long"))).head.getLong(0) + 1
    // the word-3-grams themselves: the library's shingle hashes live
    // below a ~2^30 prime, so distinct shingles may share a hash
    val sh = read(out, "documents")
      .select((col("doc_id") >= offD).as("copy1"), split(col("text"), " ", -1).as("w"))
      .select(col("copy1"),
        explode(expr("transform(sequence(0, size(w) - 3), i -> concat_ws(' ', slice(w, i + 1, 3)))")).as("sh"))
      .distinct()
    val first = sh.filter(!col("copy1")).select("sh")
    val second = sh.filter(col("copy1")).select("sh")
    assert(first.count() > 0 && second.count() > 0)
    assert(first.intersect(second).isEmpty)
  }

  test("a second materialize over the same base finds the marker and writes nothing") {
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    def listing(): Seq[(String, Long, Long)] = {
      val it = fs.listFiles(new Path(out), true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .map(s => (s.getPath.toString, s.getLen, s.getModificationTime)).toSeq.sortBy(_._1)
    }
    val before = listing()
    assert(before.exists(_._1.endsWith("_scale_ok")))
    Scale.materialize(spark, base, out, 2)
    assert(listing() == before)
  }

  test("op selection: names and prefixes, sorted; a name that selects nothing fails") {
    assert(Scale.selectOps(None) == SparkEntry.queries.keys.toSeq.sorted)
    assert(Scale.selectOps(Some("q1_pricing_summary, lake_time*")) ==
      Seq("lake_time_travel", "q1_pricing_summary"))
    Seq(Some("q1_pricing_summary,no_such_op"), Some("zz*"), Some(" , ")).foreach { only =>
      intercept[IllegalArgumentException](Scale.selectOps(only))
    }
  }
}
