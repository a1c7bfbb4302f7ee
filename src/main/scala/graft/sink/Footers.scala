package graft.sink

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.column.statistics.Statistics
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.{ColumnChunkMetaData, FileMetaData, ParquetMetadata}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.LogicalTypeAnnotation.IntLogicalTypeAnnotation
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.graft.GraftSqlBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Parquet footer metadata, read on the driver — the one seam behind a
  * store's read schema, its zone map and [[graft.pipeline.Parallelism]]'s
  * row counts.
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
  * The zone map is the per-row-group min/max parquet writes into every
  * footer: each [[Footer]] keeps its top-level columns' [[Bound]]s, folded
  * over the file's row groups, and [[SegmentStore]] folds them per segment
  * to prune — Druid's per-segment metadata, kept inside the segment.
  *
  * Footers are cached by (path, size, mtime): file metadata only, never a
  * result — a rewritten file misses. The cache holds at most [[Cap]]
  * entries, least recently used out first, so a long-lived daemon over a
  * growing store stays bounded.
  */
object Footers {

  /** One file's footer facts: its parquet file metadata (schema and
    * key-value metadata), its row count and its zone map: per top-level
    * column holding values, the [[Bound]] covering them, or None when some
    * row group gives no usable bound. A column the file lacks, or that is
    * null throughout, has no entry: it holds no value a predicate could
    * match. */
  final case class Footer(meta: FileMetaData, rows: Long,
      bounds: Map[String, Option[Bound]])

  /** A column's [min, max], in the family its Spark type compares in:
    * strings lexicographically (UTF-8 bytes, as Spark orders them), byte to
    * long columns as exact longs, float and double columns as doubles.
    * Timestamps, dates, decimals, binaries and nested types have none. */
  sealed trait Bound
  final case class StrBound(min: UTF8String, max: UTF8String) extends Bound
  final case class LongBound(min: Long, max: Long) extends Bound
  final case class DoubleBound(min: Double, max: Double) extends Bound

  object Bound {
    /** The bound covering every one of `bs`; None when there are none, any
      * is missing, or they span families. */
    def cover(bs: Iterable[Option[Bound]]): Option[Bound] =
      bs.reduceOption((a, b) => for (x <- a; y <- b; u <- union(x, y)) yield u)
        .flatten

    private def union(a: Bound, b: Bound): Option[Bound] = (a, b) match {
      case (StrBound(x, y), StrBound(u, v)) =>
        Some(StrBound(if (x.compareTo(u) <= 0) x else u, if (y.compareTo(v) >= 0) y else v))
      case (LongBound(x, y), LongBound(u, v)) => Some(LongBound(x min u, y max v))
      case (DoubleBound(x, y), DoubleBound(u, v)) => Some(DoubleBound(x min u, y max v))
      case _ => None
    }
  }

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

  /** `st`'s footer, read once per (path, size, mtime); its columns are
    * classified by the Spark type the session reads them as. */
  def footer(st: FileStatus, spark: SparkSession): Footer = {
    val key = (st.getPath.toString, st.getLen, st.getModificationTime)
    val hit = cache.synchronized(cache.get(key))
    if (hit != null) hit
    else {
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st,
        spark.sparkContext.hadoopConfiguration))
      val f = try {
        val pm = reader.getFooter
        val converter = new ParquetToSparkSchemaConverter(GraftSqlBridge.sqlConf(spark))
        Footer(pm.getFileMetaData, reader.getRecordCount,
          bounds(pm, sparkSchema(st, pm.getFileMetaData, converter)))
      } finally reader.close()
      cache.synchronized(cache.put(key, f))
      f
    }
  }

  /** Per top-level column, the bound covering its chunks in every row
    * group; all-null chunks add nothing. */
  private def bounds(pm: ParquetMetadata, schema: StructType): Map[String, Option[Bound]] = {
    def allNull(c: ColumnChunkMetaData): Boolean = {
      val st: Statistics[_] = c.getStatistics
      st != null && !st.hasNonNullValue && st.isNumNullsSet &&
        st.getNumNulls == c.getValueCount
    }
    val chunks = pm.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala)
      .filter(_.getPath.size == 1).groupBy(_.getPath.toArray.head)
    schema.fields.toSeq.flatMap { f =>
      val valued = chunks.getOrElse(f.name, Nil).filterNot(allNull)
      if (valued.isEmpty) None
      else Some(f.name -> Bound.cover(valued.map(chunkBound(f.dataType, _))))
    }.toMap
  }

  /** The bound of a chunk holding values; none when it has no min/max (no
    * statistics, values too long for parquet to keep) or a NaN bound (Spark
    * orders NaN above every number). Unsigned integers order differently
    * from Spark's longs and get none too. */
  private def chunkBound(dt: DataType, c: ColumnChunkMetaData): Option[Bound] = {
    val st: Statistics[_] = c.getStatistics
    def signed = c.getPrimitiveType.getLogicalTypeAnnotation match {
      case null => true
      case i: IntLogicalTypeAnnotation => i.isSigned
      case _ => false
    }
    if (st == null || !st.hasNonNullValue) None
    else (dt, st.genericGetMin, st.genericGetMax) match {
      case (StringType, lo: Binary, hi: Binary) =>
        Some(StrBound(UTF8String.fromBytes(lo.getBytes), UTF8String.fromBytes(hi.getBytes)))
      case (ByteType | ShortType | IntegerType | LongType, lo: Number, hi: Number) if signed =>
        Some(LongBound(lo.longValue, hi.longValue))
      case (FloatType | DoubleType, lo: Number, hi: Number)
          if !lo.doubleValue.isNaN && !hi.doubleValue.isNaN =>
        Some(DoubleBound(lo.doubleValue, hi.doubleValue))
      case _ => None
    }
  }

  private def sparkSchema(st: FileStatus, meta: FileMetaData,
      converter: ParquetToSparkSchemaConverter): StructType =
    ParquetFileFormat.readSchemaFromFooter(new org.apache.parquet.hadoop.Footer(
      st.getPath, new ParquetMetadata(meta, java.util.Collections.emptyList())), converter)

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
    files.map(st => sparkSchema(st, footer(st, spark).meta, converter))
      .reduceLeft(GraftSqlBridge.mergeSchema(_, _, conf.caseSensitiveAnalysis))
  }
}
