package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ↔ Expression bridge. Spark 4 moved `Column` onto ColumnNode and
  * made the classic converters `private[sql]`; a one-file shim in the sql
  * package namespace is the standard third-party-extension access path
  * (same technique as other open-source Spark extension libraries — no
  * Catalyst internals are modified, only converted).
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Analyzed logical plan of a DataFrame (classic implementation). */
  def analyzed(df: org.apache.spark.sql.DataFrame):
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution.analyzed

  /** Wrap a (resolved) logical plan as a DataFrame — the standard
    * third-party custom-operator entry (`Dataset.ofRows` is private[sql]).
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan):
      org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The session's SQL conf, typed (`RuntimeConfig` only hands out strings). */
  def sqlConf(spark: org.apache.spark.sql.SparkSession):
      org.apache.spark.sql.internal.SQLConf =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.conf

  /** Session extension point for extra planner strategies. */
  def experimental(spark: org.apache.spark.sql.SparkSession):
      org.apache.spark.sql.ExperimentalMethods =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental

  /** The schema `spark.read.parquet(path)` would infer, read on the driver
    * from ONE footer: the file Spark's non-merging inference reads
    * (`_common_metadata`, then `_metadata`, then the first data file in
    * path order), through the same footer-to-schema conversion, but
    * without the Spark job that inference starts. None where that rule
    * does not decide the schema: schema merging is on, the path is
    * missing, it has subdirectories (partition discovery), or it holds no
    * data file.
    */
  def parquetSchema(spark: org.apache.spark.sql.SparkSession, path: String):
      Option[org.apache.spark.sql.types.StructType] = {
    import org.apache.hadoop.fs.{FileStatus, Path}
    import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
    import org.apache.parquet.hadoop.Footer
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
    val conf = sqlConf(spark)
    if (conf.isParquetSchemaMergingEnabled) return None
    val hadoopConf = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(hadoopConf)
    if (!fs.exists(p)) return None
    val top = fs.getFileStatus(p)
    // the names Spark's file index skips: hidden and in-progress files,
    // except the two summary files
    def listed(f: FileStatus): Boolean = {
      val n = f.getPath.getName
      n == "_common_metadata" || n == "_metadata" ||
        !(n.startsWith("_") && !n.contains("=") || n.startsWith(".") || n.endsWith("._COPYING_"))
    }
    val leaves: Seq[FileStatus] =
      if (top.isFile) Seq(top)
      else fs.listStatus(p).toSeq.filter(listed).sortBy(_.getPath.toString)
    if (leaves.exists(_.isDirectory)) return None
    def named(n: String) = leaves.find(_.getPath.getName == n)
    named("_common_metadata").orElse(named("_metadata"))
      .orElse(leaves.find(f => !Set("_common_metadata", "_metadata")(f.getPath.getName)))
      .map { f =>
        val meta = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, hadoopConf), SKIP_ROW_GROUPS)
        ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, meta),
          new ParquetToSparkSchemaConverter(conf))
      }
  }
}
