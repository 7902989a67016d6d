package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge from Catalyst Expressions to the public Column API (the
  * Column constructor is sql-package-private in Spark 4.x). */
object Shims {
  /** AbstractDataType is sql-package-private in Spark 4.x; exported so
    * graft expressions can declare ExpectsInputTypes.inputTypes. */
  type AbsType = org.apache.spark.sql.types.AbstractDataType

  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a function builder on a LIVE session (the extensions
    * class only applies at session construction). */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")

  /** The schema a parquet read whose inference opens the footer of `f`
    * resolves to: `ParquetFileFormat.readSchemaFromFooter`, as Spark's
    * inference decodes it, made nullable as every file-source relation
    * makes its data schema — so writes that differ only in nullability
    * agree. A footer with Spark's row-schema key decodes to that schema
    * whatever the session. A foreign footer (pyarrow, DuckDB) is typed
    * by the reading session's converter settings: decoded under
    * `session`'s, and None without one. One footer open on the driver,
    * no job. */
  def footerSchema(conf: org.apache.hadoop.conf.Configuration,
                   f: org.apache.hadoop.fs.FileStatus,
                   session: Option[org.apache.spark.sql.SparkSession] = None)
      : Option[org.apache.spark.sql.types.StructType] = {
    import org.apache.spark.sql.execution.datasources.parquet._
    val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf))
    val meta = try rd.getFooter finally rd.close()
    val keyed = meta.getFileMetaData.getKeyValueMetaData
      .containsKey(ParquetReadSupport.SPARK_METADATA_KEY)
    if (!keyed && session.isEmpty) None
    else Some(ParquetFileFormat.readSchemaFromFooter(
      new org.apache.parquet.hadoop.Footer(f.getPath, meta),
      new ParquetToSparkSchemaConverter(session.fold(new org.apache.spark.sql.internal.SQLConf)(
        _.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.conf)))
      .asNullable)
  }
}
