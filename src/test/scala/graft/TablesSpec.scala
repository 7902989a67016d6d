package graft

import graft.operators.Lake
import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}
import org.apache.spark.SpecBus.jobsDuring
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The relation cache's staleness signature must see an IN-PLACE part
  * rewrite — same child name set, new bytes — not just child
  * creation/removal (ADVICE r11: the directory's own mtime misses
  * that case). The driver-side schema resolver behind `Tables.load`
  * (`Lake.readParquet`) must resolve what `spark.read.parquet` infers,
  * without its job. */
class TablesSpec extends SparkSpec {

  private def fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)

  private def fresh(name: String): String = {
    val dir = Lake.scratch(name)
    fs.delete(new Path(dir), true)
    dir
  }

  /** The resolver's read of `paths` against Spark's inferred read:
    * same schema and rows, and the resolver plans no job. */
  private def resolvesAsInferred(paths: String*): DataFrame = {
    val (df, jobs) = jobsDuring(spark)(Lake.readParquet(spark, paths: _*))
    val inferred = spark.read.parquet(paths: _*)
    assert(df.schema == inferred.schema, s"${df.schema.treeString} vs ${inferred.schema.treeString}")
    assert(jobs == 0, s"${paths.mkString(",")}: the resolver scheduled $jobs jobs")
    val rows = (d: DataFrame) => d.collect().map(_.toString).sorted.toSeq
    assert(rows(df) == rows(inferred))
    df
  }

  test("readParquet resolves every sf0.01 table as inference does, events under nanosAsLong") {
    val dir = "/root/testdata/sf0.01"
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true") // as Tables.events sets it
    Tables.names.foreach(t => resolvesAsInferred(s"$dir/$t.parquet"))
  }

  test("readParquet types a foreign (non-Spark) footer as inference does") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = fresh("tables_foreign")
    val msg = MessageTypeParser.parseMessageType(
      "message t { required int64 id; optional binary name (UTF8); optional double v; " +
        "optional int64 at (TIMESTAMP(MICROS,false)); optional int32 d (DATE); " +
        "optional int64 amt (DECIMAL(12,2)); }")
    val file = new Path(s"$dir/b0000.parquet")
    val w = ExampleParquetWriter.builder(file).withType(msg)
      .withConf(spark.sparkContext.hadoopConfiguration).build()
    val groups = new SimpleGroupFactory(msg)
    try (0 until 10).foreach { i =>
      w.write(groups.newGroup().append("id", i.toLong).append("name", s"n$i")
        .append("v", i * 0.5).append("at", i * 3600000000L).append("d", 19000 + i)
        .append("amt", i * 125L))
    } finally w.close()
    assert(org.apache.spark.sql.graft.Shims.footerSchema(
      spark.sparkContext.hadoopConfiguration, fs.getFileStatus(file)).isEmpty, "no Spark key")
    resolvesAsInferred(file.toString)
  }

  test("readParquet resolves a Spark-written dir of nested and decimal columns beside sidecars") {
    val dir = fresh("tables_typed")
    spark.range(0, 40).select(
      col("id"),
      (col("id") * 1.25).cast("decimal(12,2)").as("amount"),
      timestamp_seconds(col("id") * 3600).as("at"),
      array(col("id"), col("id") + 1).as("pair"),
      struct(col("id").as("k"), col("id").cast("string").as("v")).as("kv"),
      map(col("id").cast("string"), col("id") * 2).as("m"),
      when(col("id") % 3 === 0, lit(null)).otherwise(col("id").cast("string")).as("maybe"))
      .repartition(3).write.parquet(dir)
    // on disk: the write's `_SUCCESS` marker and a `.crc` checksum per
    // file (the checksummed local filesystem hides those from listings)
    val names = new java.io.File(dir).list().toSeq
    assert(names.contains("_SUCCESS") && names.count(_.endsWith(".crc")) >= 3,
      s"the write left its sidecars: ${names.mkString(",")}")
    resolvesAsInferred(dir)
    // two flat dirs in one read; a root dir's own `_` name hides nothing
    val other = s"${fresh("tables_typed_b")}/_manifest"
    spark.read.parquet(dir).filter(col("id") < 5).write.parquet(other)
    resolvesAsInferred(dir, other)
  }

  test("readParquet leaves a partitioned directory to inference") {
    val dir = fresh("tables_partitioned")
    spark.range(0, 30).withColumn("k", col("id") % 3).write.partitionBy("k").parquet(dir)
    val (df, jobs) = jobsDuring(spark)(Lake.readParquet(spark, dir))
    assert(jobs >= 1, "partition discovery and inference run as before")
    assert(df.schema == spark.read.parquet(dir).schema && df.schema.fieldNames.contains("k"))
    assert(df.count() == 30)
  }

  test("Tables.load and Tables.rowCount schedule no job") {
    val dir = fresh("tables_nojob")
    spark.range(0, 25).withColumn("v", col("id") * 2).repartition(2)
      .write.parquet(s"$dir/t.parquet")
    val (df, jobs) = jobsDuring(spark)(Tables.load(spark, dir, "t"))
    assert(jobs == 0, s"Tables.load scheduled $jobs jobs")
    assert(df.schema == spark.read.parquet(s"$dir/t.parquet").schema)
    val (n, countJobs) = jobsDuring(spark)(Tables.rowCount(spark, dir, "t"))
    assert(n == 25L && countJobs == 0)
  }

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
