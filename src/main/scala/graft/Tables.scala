package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Parquet table loaders for the driver testdata layout
  * (`/root/testdata/sf{0.001,0.01,0.1}/<name>.parquet`, see TESTDATA.md).
  *
  * Scans stay fully declarative so Catalyst pushes filters and prunes
  * columns into the parquet reader — at 100 TB the scan is the dominant
  * cost and `PushedFilters`/`ReadSchema` must reach the file source.
  *
  * Every load goes through [[parquet]], which reads the schema from ONE
  * footer on the driver instead of letting Spark infer it: Spark's
  * inference (`ParquetUtils.inferSchema` → `mergeSchemasInParallel`)
  * launches a one-task Spark job to read a single footer even for a
  * one-file table, and on a replay of small daily increments that job
  * is close to a third of all jobs run. The footer is the one inference would
  * touch (the first data file by sorted path), converted by Spark's own
  * `ParquetFileFormat.readSchemaFromFooter` with a
  * `ParquetToSparkSchemaConverter` built from the session's conf the way
  * inference builds it — so `inferTimestampNTZ`, `nanosAsLong` and the
  * binary/INT96 flags yield the same types. It fails closed: a layout
  * or setting where one footer might not be the whole answer
  * (subdirectories, summary files, `mergeSchema`, globs, a missing or
  * empty path, an unreadable footer) takes Spark's own inference, with
  * its behaviour and error messages.
  */
object Tables {
  /** The testdata writer marks its TIMESTAMP(MICROS) columns as
    * NOT-UTC-adjusted, which Spark 4 infers as TIMESTAMP_NTZ
    * (`spark.sql.parquet.inferTimestampNTZ.enabled` defaults true).
    * The engine's temporal semantics — and the DuckDB oracle, whose
    * TIMESTAMP is naive and compared under a UTC session — are defined
    * on TimestampType, so normalize here at the single load point
    * rather than depending on a session conf every caller would have
    * to remember. Under the UTC session tz the cast is a no-op on the
    * underlying micros and stays inside the vectorized scan + codegen.
    */
  private def normalizeNtz(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    df.schema.fields.filter(_.dataType == TimestampNTZType).foldLeft(df) {
      (d, f) => d.withColumn(f.name,
        org.apache.spark.sql.functions.col(f.name).cast(TimestampType))
    }
  }

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    normalizeNtz(parquet(spark, s"$sfDir/$name.parquet"))

  /** `spark.read.parquet(path)` with the schema taken from one footer
    * on the driver (see the header): no schema-inference job. Falls
    * back to plain `spark.read.parquet(path)` wherever [[footerSchema]]
    * declines.
    */
  private[graft] def parquet(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path) match {
      case Some(s) => spark.read.schema(s).parquet(path)
      case None => spark.read.parquet(path)
    }

  /** The schema Spark's non-merging inference would return for `path`,
    * or None where reading one footer might not give it. Spark lists a
    * path's leaves skipping names that start with `_` or `.` (bar the
    * `_metadata`/`_common_metadata` summaries) or end in `._COPYING_`,
    * prefers a summary file, and otherwise reads the first data file by
    * sorted path; summaries and subdirectories (partition columns) are
    * declined here rather than replayed.
    */
  private def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    import org.apache.hadoop.fs.{FileStatus, Path}
    import org.apache.parquet.HadoopReadOptions
    import org.apache.parquet.format.converter.ParquetMetadataConverter
    import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
    val sqlConf = spark.sessionState.conf
    def summary(f: FileStatus) = {
      val n = f.getPath.getName
      n.startsWith("_metadata") || n.startsWith("_common_metadata")
    }
    def data(f: FileStatus) = {
      val n = f.getPath.getName
      !n.startsWith("_") && !n.startsWith(".") && !n.endsWith("._COPYING_")
    }
    if (sqlConf.isParquetSchemaMergingEnabled || path.exists("{}[]*?\\".contains(_)))
      return None
    try {
      val hadoopConf = spark.sessionState.newHadoopConf()
      val root = new Path(path)
      // a file lists as itself, a directory as its children
      val leaves = root.getFileSystem(hadoopConf).listStatus(root)
      if (leaves.exists(f => f.isDirectory || summary(f))) None
      else leaves.filter(data).sortBy(_.getPath.toString).headOption.map { f =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f, hadoopConf),
          HadoopReadOptions.builder(hadoopConf)
            .withMetadataFilter(ParquetMetadataConverter.SKIP_ROW_GROUPS).build())
        val meta = try reader.getFooter finally reader.close()
        // the flags ParquetFileFormat.mergeSchemasInParallel passes; the
        // rest keep the constructor defaults, as there
        val converter = new ParquetToSparkSchemaConverter(
          assumeBinaryIsString = sqlConf.isParquetBinaryAsString,
          assumeInt96IsTimestamp = sqlConf.isParquetINT96AsTimestamp,
          inferTimestampNTZ = sqlConf.parquetInferTimestampNTZEnabled,
          nanosAsLong = sqlConf.legacyParquetNanosAsLong,
          respectUnknownTypeAnnotation = sqlConf.parquetReaderRespectUnknownTypeAnnotation)
        ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, meta), converter)
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** `events.ts` is written as parquet TIMESTAMP(NANOS), which Spark's
    * reader rejects by default. Read it as a raw long (legacy conf) and
    * convert ns → microsecond TimestampType in-plan; the conversion is a
    * codegen'd arithmetic expression, so the scan stays vectorized.
    */
  private def eventsRaw(spark: SparkSession, sfDir: String): DataFrame = {
    // schema resolution is eager at read time, so the legacy conf can be
    // restored immediately — other readers in the same session must keep
    // failing loudly on unexpected TIMESTAMP(NANOS) columns
    val confKey = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.getOption(confKey)
    spark.conf.set(confKey, "true")
    val df =
      try parquet(spark, s"$sfDir/events.parquet")
      finally prev match {
        case Some(v) => spark.conf.set(confKey, v)
        case None => spark.conf.unset(confKey)
      }
    if (df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      df.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
    else normalizeNtz(df)
  }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame    = eventsRaw(s, d)
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
