package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-provided parquet tables (TESTDATA.md).
  *
  * Always go through `spark.read.parquet` so Catalyst gets a relation it
  * can push filters/column pruning into — at 100 TB the scan is the
  * dominant cost and `PushedFilters`/`ReadSchema` pruning is the single
  * biggest lever.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Loading a table also installs the terminal-sort planning rule, so a
    * session built without `spark.sql.extensions` plans queries the same
    * way as one built with `graft.exprs.GraftExtensions`. */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    core.TerminalSort.install(spark)
    read(spark, s"$dir/$name.parquet")
  }

  /** `spark.read.parquet(path)` without Spark's schema-inference job when
    * `path` names a single file: the schema comes from that file's footer,
    * read by the calling process and converted exactly as inference
    * would. */
  def read(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path)
    }

  /** The schema Spark's inference would give the single parquet file at
    * `path`: `ParquetFileFormat.readSchemaFromFooter` with a converter
    * built from the session conf, so `nanosAsLong`, NTZ inference and
    * binary-as-string apply as they do in inference. None for
    * directories, globs, missing paths and under `mergeSchema`, which
    * keep Spark's own inference (and its errors). */
  def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sessionState.conf
    if (conf.isParquetSchemaMergingEnabled || path.exists("{}[]*?\\".contains(_))) None
    else {
      val hadoopConf = spark.sessionState.newHadoopConf()
      val p = new Path(path)
      val status =
        try Some(p.getFileSystem(hadoopConf).getFileStatus(p))
        catch { case _: java.io.FileNotFoundException => None }
      status.filter(_.isFile).map { st =>
        val meta = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(st, hadoopConf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
        ParquetFileFormat.readSchemaFromFooter(
          new Footer(st.getPath, meta), new ParquetToSparkSchemaConverter(conf))
      }
    }
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "supplier")
  def nation(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "region")
  def part(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "part")
  /** events.ts has shipped as both parquet TIMESTAMP(NANOS) (which Spark
    * only reads as a raw nanosecond long under `nanosAsLong`) and plain
    * TIMESTAMP(MICROS). Normalize either encoding to a microsecond
    * TimestampType — the same truncation DuckDB applies — so oracle
    * comparisons see identical values regardless of the file's physical
    * type. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventTs(apply(spark, dir, "events"))
  }

  /** Normalize any of the three `ts` encodings the driver has shipped —
    * raw nanosecond long (parquet TIMESTAMP(NANOS) under `nanosAsLong`),
    * TIMESTAMP_NTZ (isAdjustedToUTC=false micros), or a plain micros
    * TIMESTAMP — to a microsecond TimestampType, the same truncation
    * DuckDB applies, so oracle comparisons see identical values
    * regardless of the file's physical type. Split out of [[events]] so
    * the branch table is regression-testable without parquet fixtures
    * (the r9 gate lost 11 queries to exactly this drift). */
  def normalizeEventTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts DIV 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // session tz is UTC so the cast to LTZ is value-preserving and
        // keeps unix_micros legal
        raw.withColumn("ts", org.apache.spark.sql.functions.col("ts")
          .cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw // already a (micros) timestamp
    }
  def documents(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "embeddings")
}
