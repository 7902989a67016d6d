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

  /** The schema a parquet read of part file `f` resolves to: what
    * Spark's inference reads from its footer
    * (`ParquetFileFormat.readSchemaFromFooter`, under the session's
    * converter settings), made nullable as every file-source relation
    * makes its data schema — so writes that differ only in nullability
    * agree. None when the footer carries no Spark row-schema key:
    * foreign parquet is typed by the reading session's converter, so
    * only inference at read time can type it. One footer open on the
    * driver, no job. */
  def sparkFooterSchema(spark: org.apache.spark.sql.SparkSession,
                        f: org.apache.hadoop.fs.FileStatus): Option[org.apache.spark.sql.types.StructType] = {
    import org.apache.spark.sql.execution.datasources.parquet._
    val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, spark.sparkContext.hadoopConfiguration))
    val meta = try rd.getFooter finally rd.close()
    if (!meta.getFileMetaData.getKeyValueMetaData.containsKey(ParquetReadSupport.SPARK_METADATA_KEY)) None
    else Some(ParquetFileFormat.readSchemaFromFooter(
      new org.apache.parquet.hadoop.Footer(f.getPath, meta),
      new ParquetToSparkSchemaConverter(
        spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.conf))
      .asNullable)
  }
}
