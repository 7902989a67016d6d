package graft

import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}

/** The relation cache's staleness signature must see an IN-PLACE part
  * rewrite — same child name set, new bytes — not just child
  * creation/removal (ADVICE r11: the directory's own mtime misses
  * that case). */
class TablesSpec extends SparkSpec {

  test("relation cache invalidates on in-place part rewrite") {
    import spark.implicits._
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val dir = graft.operators.Lake.scratch("tables_sig")
    fs.delete(new Path(dir), true)
    Seq(1L, 2L, 3L).toDF("v").coalesce(1)
      .write.parquet(s"$dir/probe.parquet")
    assert(Tables.load(spark, dir, "probe").count() == 3L)

    // rewrite the single part file IN PLACE: same name, new content
    val part = fs.listStatus(new Path(s"$dir/probe.parquet"))
      .map(_.getPath).filter(_.getName.startsWith("part-")).head
    val tmp = s"$dir/_tmp"
    Seq(1L, 2L, 3L, 4L, 5L).toDF("v").coalesce(1).write.parquet(tmp)
    val newPart = fs.listStatus(new Path(tmp))
      .map(_.getPath).filter(_.getName.startsWith("part-")).head
    fs.delete(part, false)
    assert(FileUtil.copy(fs, newPart, fs, part, false, true,
      spark.sparkContext.hadoopConfiguration))
    fs.delete(new Path(tmp), true)

    // same child NAME set as before — only length/mtime moved; the
    // cache must re-read, not serve the stale 3-row file index
    assert(Tables.load(spark, dir, "probe").count() == 5L)
    fs.delete(new Path(dir), true)
  }
}
