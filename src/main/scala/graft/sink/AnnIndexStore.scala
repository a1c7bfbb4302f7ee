package graft.sink

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.functions.{IvfIndex, IvfPqIndex, PqCodebook}

/** Persistence for the ANN index family — the build-once / query-many
  * lifecycle (Druid's segment-plus-index shape; upstream pairs tranquility
  * ingestion with Druid's persisted per-segment indexes). Round-3 audit
  * finding: `ann_*` paths retrained per execution, correct for the oracle
  * gate but the wrong production shape — this store closes it.
  *
  * Layout follows the store's sidecar convention ([[SegmentSink.TzMarker]]):
  * everything under an `_`-prefixed dir so plain parquet readers of the
  * owning store ignore it. All artifacts are written THROUGH Spark (parquet),
  * so the store works on any Hadoop filesystem, not just local paths:
  *
  * {{{
  * <store>/_graft_ann/<name>/codebook    1 row: (m, ks, subDim, codebook)
  * <store>/_graft_ann/<name>/centroids   k rows: (cluster, centroid)
  * <store>/_graft_ann/<name>/codes       n rows: (id[, cluster], codes)
  * <store>/_graft_ann/<name>/vectors     n rows: (id, vec, cluster)  [IVF-flat]
  * }}}
  *
  * Loads persist the row-level side (MEMORY_AND_DISK, same as build) and
  * hand back the index handle; `close()` on the handle unpersists. Loading
  * is data-scale (one parquet read); the driver holds only codebooks and
  * centroids, O(k·dim + m·ks·dim/m).
  */
object AnnIndexStore {

  /** `_`-prefixed like the timezone marker: invisible to plain readers. */
  val AnnDir = "_graft_ann"

  def indexPath(storePath: String, name: String): String =
    s"$storePath/$AnnDir/$name"

  /** PQ handle: codebook + encoded codes, with the build/load/close
    * lifecycle the raw (cb, codes) pair lacked. */
  final case class PqIndexHandle(cb: PqCodebook, encoded: DataFrame) {
    def close(): Unit = { encoded.unpersist(); () }
  }

  /** Invalidate a kind's commit marker BEFORE rewriting earlier artifacts:
    * a re-save that crashes mid-overwrite must not leave a stale marker
    * admitting a mixed-generation index (new codes + old codebook). */
  private def dropMarker(spark: SparkSession, path: String, last: String): Unit = {
    val dir = new org.apache.hadoop.fs.Path(s"$path/$last")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(dir)) { fs.delete(dir, true); () }
  }

  // -------------------------------------------------------------------- PQ

  def savePq(path: String, cb: PqCodebook, encoded: DataFrame): Unit = {
    val spark = encoded.sparkSession
    import spark.implicits._
    dropMarker(spark, path, "codebook")
    encoded.write.mode("overwrite").option("compression", "zstd")
      .parquet(s"$path/codes")
    Seq((cb.m, cb.ks, cb.subDim,
        cb.codebook.map(_.map(_.toSeq).toSeq).toSeq))
      .toDF("m", "ks", "subDim", "codebook")
      .write.mode("overwrite").parquet(s"$path/codebook")
  }

  def loadPq(spark: SparkSession, path: String): PqIndexHandle = {
    val cb = readCodebook(spark, path)
    val encoded = spark.read.parquet(s"$path/codes")
      .persist(StorageLevel.MEMORY_AND_DISK)
    PqIndexHandle(cb, encoded)
  }

  private def readCodebook(spark: SparkSession, path: String): PqCodebook = {
    val r = spark.read.parquet(s"$path/codebook").head()
    PqCodebook(r.getInt(0), r.getInt(1), r.getInt(2),
      r.getSeq[scala.collection.Seq[scala.collection.Seq[Double]]](3)
        .map(_.map(_.toArray).toArray).toArray)
  }

  // -------------------------------------------------------------- IVF-flat

  def saveIvf(path: String, idx: IvfIndex): Unit = {
    val spark = idx.indexed.sparkSession
    dropMarker(spark, path, "centroids")
    idx.indexed.write.mode("overwrite").option("compression", "zstd")
      .parquet(s"$path/vectors")
    writeCentroids(spark, s"$path/centroids", idx.centroids)
  }

  def loadIvf(spark: SparkSession, path: String): IvfIndex = {
    val indexed = spark.read.parquet(s"$path/vectors")
      .persist(StorageLevel.MEMORY_AND_DISK)
    IvfIndex.fromParts(indexed, readCentroids(spark, path))
  }

  /** Centroid tables keep their ORIGINAL array order (`pos`): probe
    * selection tie-breaks on it, so a load must replay it exactly. */
  private def writeCentroids(spark: SparkSession, path: String,
      centroids: Array[(Int, Array[Double])]): Unit = {
    import spark.implicits._
    centroids.toSeq.zipWithIndex
      .map { case ((cid, c), pos) => (pos, cid, c.toSeq) }
      .toDF("pos", "cluster", "centroid")
      .write.mode("overwrite").parquet(path)
  }

  private def readCentroids(spark: SparkSession, path: String)
      : Array[(Int, Array[Double])] =
    spark.read.parquet(s"$path/centroids").collect()
      .map { r: Row => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray) }
      .sortBy { case (pos, _, _) => pos }
      .map { case (_, cid, c) => (cid, c) }

  // ---------------------------------------------------------------- IVFADC

  def saveIvfPq(path: String, idx: IvfPqIndex): Unit = {
    dropMarker(idx.encoded.sparkSession, path, "codebook")
    writeCentroids(idx.encoded.sparkSession, s"$path/centroids", idx.coarse)
    savePq(path, idx.cb, idx.encoded) // codebook last = the commit marker
  }

  def loadIvfPq(spark: SparkSession, path: String): IvfPqIndex = {
    val encoded = spark.read.parquet(s"$path/codes")
      .persist(StorageLevel.MEMORY_AND_DISK)
    IvfPqIndex(readCentroids(spark, path), readCodebook(spark, path), encoded)
  }

  /** True when an index of this KIND was fully written — checked on the
    * artifact each save writes LAST (its commit marker): `codebook` for
    * pq/ivfpq, `centroids` for ivf-flat (vectors are written first). */
  def exists(spark: SparkSession, path: String, kind: String): Boolean = {
    val last = kind match {
      case "pq" | "ivfpq" => "codebook"
      case "ivf"          => "centroids"
      case other => throw new IllegalArgumentException(
        s"unknown ANN index kind '$other' (pq/ivf/ivfpq)")
    }
    val marker = new org.apache.hadoop.fs.Path(s"$path/$last/_SUCCESS")
    marker.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(marker)
  }
}
