package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.ParquetFileWriter.{PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFooterReader, ParquetReadSupport, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, StructType}
import scala.util.Try

/** The one way graft reads a parquet dataset: stage it with the schema
  * taken from one footer read on the driver.
  *
  * `spark.read.parquet(path)` infers the schema through Spark's
  * `mergeSchemasInParallel`, which runs a Spark job (`parallelize` +
  * `collect`) even when it reads a single footer. Staging lists the path
  * with the Hadoop `FileSystem`, picks the file Spark's non-merging
  * inference picks (`_common_metadata`, else `_metadata`, else the first
  * data file in path order), reads that footer without its row groups and
  * converts it exactly as Spark does: the Spark row-metadata schema when
  * the writer stored one, else the parquet schema through
  * `ParquetToSparkSchemaConverter` under the session's conf. The result is
  * `spark.read.schema(s).parquet(path)`, so partition discovery, globbing
  * and the scan stay Spark's. Staging runs no job.
  *
  * Schema merging needs every footer, so with `mergeSchema` (the argument
  * or `spark.sql.parquet.mergeSchema`) the read stays Spark's own.
  */
object ParquetStage {

  /** `nanosAsLong` reads INT64 TIMESTAMP(NANOS) columns as raw longs (the
    * `spark.sql.legacy.parquet.nanosAsLong` behaviour) for this staging
    * only: the converter gets a private copy of the session conf, so the
    * session's own conf, shared with every concurrent read, is never set.
    */
  def read(spark: SparkSession, path: String, mergeSchema: Boolean = false,
      nanosAsLong: Boolean = false): DataFrame = {
    val conf = spark.sessionState.conf
    if (mergeSchema || conf.isParquetSchemaMergingEnabled)
      spark.read.option("mergeSchema", "true").parquet(path)
    else spark.read.schema(footerSchema(spark, path, conf, nanosAsLong)).parquet(path)
  }

  private def footerSchema(spark: SparkSession, path: String, conf: SQLConf,
      nanosAsLong: Boolean): StructType = {
    val hadoopConf = spark.sessionState.newHadoopConf()
    val files = roots(path, hadoopConf)
      .flatMap(p => leaves(p.getFileSystem(hadoopConf), p))
      .sortBy(_.getPath.toString)
    def named(n: String) = files.find(_.getPath.getName == n)
    val pick = named(PARQUET_COMMON_METADATA_FILE)
      .orElse(named(PARQUET_METADATA_FILE))
      .orElse(files.find(f => !isSummary(f.getPath.getName)))
      .getOrElse(throw new AnalysisException(
        "UNABLE_TO_INFER_SCHEMA", Map("format" -> "Parquet")))
    val meta = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(pick, hadoopConf), SKIP_ROW_GROUPS).getFileMetaData
    Option(meta.getKeyValueMetaData.get(ParquetReadSupport.SPARK_METADATA_KEY))
      .flatMap(json => Try(DataType.fromJson(json).asInstanceOf[StructType]).toOption)
      .getOrElse {
        val c = if (nanosAsLong) {
          val local = conf.clone()
          local.setConf(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG, true)
          local
        } else conf
        new ParquetToSparkSchemaConverter(c).convert(meta.getSchema)
      }
  }

  /** The paths Spark's reader starts from: the glob's matches, else the
    * path itself; none raises Spark's PATH_NOT_FOUND.
    */
  private def roots(path: String, hadoopConf: Configuration): Seq[Path] = {
    val p = new Path(path)
    val fs = p.getFileSystem(hadoopConf)
    val q = fs.makeQualified(p)
    val found =
      if (path.exists("{}[]*?\\".contains(_)))
        Option(fs.globStatus(q)).toSeq.flatten.map(_.getPath)
      else if (fs.exists(q)) Seq(q)
      else Nil
    if (found.isEmpty)
      throw new AnalysisException("PATH_NOT_FOUND", Map("path" -> q.toString))
    found
  }

  /** Leaf files under `p` (or `p` itself), skipping the names Spark's file
    * index skips: `_`/`.`-prefixed ones except partition directories and
    * the summary files, and `._COPYING_` leftovers.
    */
  private def leaves(fs: FileSystem, p: Path): Seq[FileStatus] =
    fs.listStatus(p).toSeq.filterNot(s => hidden(s.getPath.getName)).flatMap { s =>
      if (s.isDirectory) leaves(fs, s.getPath) else Seq(s)
    }

  private def hidden(name: String): Boolean =
    ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")) &&
      !(name.startsWith(PARQUET_COMMON_METADATA_FILE) || name.startsWith(PARQUET_METADATA_FILE))

  private def isSummary(name: String): Boolean =
    name == PARQUET_COMMON_METADATA_FILE || name == PARQUET_METADATA_FILE
}
