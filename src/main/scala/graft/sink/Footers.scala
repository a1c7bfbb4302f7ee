package graft.sink

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.{FileMetaData, ParquetMetadata}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.graft.GraftSqlBridge
import org.apache.spark.sql.types.StructType

/** Parquet footer metadata, read on the driver — the one seam behind a
  * store's read schema and [[graft.pipeline.Parallelism]]'s row counts.
  *
  * A parquet read with `mergeSchema` on launches a Spark job on every read
  * to open each file's footer on an executor and fold the schemas.
  * [[schema]] builds the same schema from the same footers without a job:
  * each file's schema is Spark's own (the row-metadata key the writer
  * stored, else `ParquetToSparkSchemaConverter` under the session
  * `SQLConf`, so the NTZ and nanos rules still apply), folded left to right
  * with `StructType.merge` in Spark's listing order. Passing it to
  * `spark.read.schema(...)` opens a store with 0 Spark jobs.
  *
  * Footers are cached by (path, size, mtime): file metadata only, never a
  * result — a rewritten file misses. The cache holds at most [[Cap]]
  * entries, least recently used out first, so a long-lived daemon over a
  * growing store stays bounded.
  */
object Footers {

  /** One file's footer facts: its parquet file metadata (schema and
    * key-value metadata) and its row count. */
  final case class Footer(meta: FileMetaData, rows: Long)

  /** No data file under any of `paths` (missing, empty or only hidden
    * entries) — there is no schema to read. */
  final class NoDataFiles(paths: Seq[String])
      extends java.io.FileNotFoundException(
        s"no parquet data files under ${paths.mkString(", ")}")

  /** Most footers kept; a store file's entry is a few KB. */
  private val Cap = 4096

  private val cache = new java.util.LinkedHashMap[(String, Long, Long), Footer](
      64, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[(String, Long, Long), Footer]): Boolean =
      size() > Cap
  }

  /** `st`'s footer, read once per (path, size, mtime). */
  def footer(st: FileStatus, hconf: Configuration): Footer = {
    val key = (st.getPath.toString, st.getLen, st.getModificationTime)
    val hit = cache.synchronized(cache.get(key))
    if (hit != null) hit
    else {
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, hconf))
      val f = try Footer(reader.getFooter.getFileMetaData, reader.getRecordCount)
              finally reader.close()
      cache.synchronized(cache.put(key, f))
      f
    }
  }

  /** Spark's hidden-path rule for listed entries: `.`-names, and `_`-names
    * that are not partition directories (`__batch_id=N` is kept; the
    * `_SUCCESS` marker and the `_graft_*` sidecars are not). */
  private def hidden(name: String): Boolean =
    name.startsWith(".") || (name.startsWith("_") && !name.contains("=")) ||
      name.endsWith("._COPYING_")

  /** Leaf data files under `paths` in Spark's listing order: a file path is
    * taken as given; a directory contributes its visible files, then its
    * visible subdirectories' leaves, depth first. A missing path has none. */
  def dataFiles(hconf: Configuration, paths: Seq[String]): Seq[FileStatus] = {
    def leaves(st: FileStatus): Seq[FileStatus] =
      if (!st.isDirectory) Seq(st)
      else {
        val fs = st.getPath.getFileSystem(hconf)
        val (dirs, files) = fs.listStatus(st.getPath).toSeq
          .filterNot(c => hidden(c.getPath.getName)).partition(_.isDirectory)
        files ++ dirs.flatMap(leaves)
      }
    paths.flatMap { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(hconf)
      try leaves(fs.getFileStatus(path))
      catch { case _: java.io.FileNotFoundException => Nil }
    }
  }

  /** The schema a `mergeSchema` parquet read of `paths` infers, from
    * cached footers and without a Spark job. Partition columns are not part
    * of it; Spark adds them from the directory names as before. Throws
    * [[NoDataFiles]] when there is no file to read. */
  def schema(spark: SparkSession, paths: String*): StructType = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val files = dataFiles(hconf, paths)
    if (files.isEmpty) throw new NoDataFiles(paths)
    val conf = GraftSqlBridge.sqlConf(spark)
    val converter = new ParquetToSparkSchemaConverter(conf)
    files.map { st =>
      val meta = new ParquetMetadata(footer(st, hconf).meta,
        java.util.Collections.emptyList())
      ParquetFileFormat.readSchemaFromFooter(
        new org.apache.parquet.hadoop.Footer(st.getPath, meta), converter)
    }.reduceLeft(GraftSqlBridge.mergeSchema(_, _, conf.caseSensitiveAnalysis))
  }
}
