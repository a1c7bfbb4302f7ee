package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}

/** Input-layout decoupling for compute-dense stages.
  *
  * Found by the ×30 scale probe: a dup-heavy corpus compresses brutally
  * (150k replicated documents → ONE 1.9 MB parquet file), so the scan plans
  * a single partition and everything up to the first shuffle — shingling,
  * minhash signatures, n-gram explosion, the expensive per-row work — runs
  * on one core. Measured on the probe corpus: decontamination 66 s single-
  * partition vs 5.8 s after one repartition (local[32]).
  *
  * At 100 TB the same pattern appears wherever bytes-on-disk understate
  * compute: highly-compressible text, columnar projections of a few small
  * columns, post-filter slivers feeding heavy UDF-ish stages. Splitting
  * can't help (a small file is one row group); AQE can't re-split a scan.
  * The fix is ONE deterministic keyed shuffle of the raw rows — data-
  * proportional and narrow — amortized by the downstream per-row work it
  * parallelizes.
  *
  * SIZE-AWARE since r11 (verdict r10 #1): r10 always widened to
  * `defaultParallelism`, and the driver's 32-core bench measured exactly
  * the four newly-fanned headliners as the only round-over-round
  * regressions (q5 0.71×, unigram 0.72×, line_dedup 0.84×, bigram 0.84×)
  * while its own 8-core run — where the same helper widens only to 8 —
  * ran those queries 21–37% FASTER. Fanning a 5 000-row sf0.1 corpus to
  * 32 partitions costs more exchange + task-scheduling than the
  * single-core map it cures. The width is now proportional to the scan's
  * exact row count (parquet footer metadata, no job): one partition per
  * `rowsPerPartition` input rows, capped at `defaultParallelism` — so the
  * sf-scale inputs fan just wide enough, the ×30 probe corpus still
  * reaches full width, and multi-file corpora at real scale still no-op
  * (their planned scan is already wider than any computed width).
  */
object Parallelism {

  private def target(df: DataFrame): Int =
    df.sparkSession.sparkContext.defaultParallelism

  /** Validated conf read (advice r10): a typo like `fanout=false` or
    * `fanout=disabled` must fail loudly, not silently select the default
    * arm and invalidate an A/B run. */
  private def validated(df: DataFrame, key: String,
      allowed: Set[String]): Option[String] = {
    val v = df.sparkSession.conf.getOption(key)
    v.foreach(x => require(allowed.contains(x),
      s"$key=$x — expected one of ${allowed.mkString("|")}"))
    v
  }

  /** `spark.graft.fanout=off` turns every fanOut into a no-op — the A/B
    * seam `Probe ab` flips without a rebuild (never set in production). */
  private def disabled(df: DataFrame): Boolean =
    validated(df, "spark.graft.fanout", Set("on", "off")).contains("off")

  /** (nFiles, totalBytes, totalRows) of the frame's leaf scan files, from
    * file status + [[graft.sink.Footers]] row counts only — never a Spark
    * job (advice r10: the old `.rdd`-based planned() could materialize
    * whole AQE query stages when a caller passed a frame with upstream
    * exchanges). Rows is None when a leaf is not readable parquet; callers
    * then fall back to the full-width fan-out this helper shipped before
    * r11. */
  private def scanMeta(df: DataFrame): (Int, Long, Option[Long]) = {
    val files = df.inputFiles
    val hconf = df.sparkSession.sparkContext.hadoopConfiguration
    var bytes = 0L
    var rows = 0L
    var rowsKnown = true
    files.foreach { f =>
      try {
        val p = new org.apache.hadoop.fs.Path(f)
        val fs = p.getFileSystem(hconf)
        val st = fs.getFileStatus(p)
        bytes += st.getLen
        rows += graft.sink.Footers.footer(st, df.sparkSession).rows
      } catch { case _: Throwable => rowsKnown = false }
    }
    (files.length, bytes, if (rowsKnown && files.nonEmpty) Some(rows) else None)
  }

  /** The scan's planned partition count, approximated from the SAME
    * formula Spark's FilePartition planning uses (maxSplitBytes +
    * open-cost packing) over file metadata — no `.rdd`, no job. Err low:
    * an UNDER-estimate only adds an exchange the scan did not need, while
    * an OVER-estimate makes the no-op guard fire on a scan that is really
    * narrow and silently disables the fan-out it needed. */
  private def plannedApprox(df: DataFrame, nFiles: Int, bytes: Long): Int = {
    val conf = df.sparkSession.conf
    def sizeConf(key: String, dflt: Long): Long =
      conf.getOption(key)
        .map(org.apache.spark.network.util.JavaUtils.byteStringAsBytes)
        .getOrElse(dflt)
    val maxPB = sizeConf("spark.sql.files.maxPartitionBytes", 128L << 20)
    val openCost = sizeConf("spark.sql.files.openCostInBytes", 4L << 20)
    val minPN = conf.getOption("spark.sql.files.minPartitionNum")
      .map(_.toInt).getOrElse(target(df))
    val maxSplit = math.max(1L, math.min(maxPB,
      math.max(openCost, (bytes + minPN - 1) / math.max(1, minPN))))
    // two lower bounds of Spark's open-cost packing, whichever binds:
    // pure byte mass (large files split), and per-file open cost (many
    // small files each close a partition). A slight UNDER-estimate only
    // makes the fan-out fire when the scan may already be wide — the
    // exchange is then redundant but harmless; an OVER-estimate (the r11
    // first cut charged open cost as byte mass, calling one small file a
    // 2-partition scan — caught by ParallelismSpec) silently disables
    // narrow fan-outs.
    val packed = math.max((bytes + maxSplit - 1) / maxSplit,
      (nFiles * openCost + maxSplit - 1) / maxSplit)
    math.max(if (nFiles > 0) 1 else 0, packed.toInt)
  }

  /** Width for a fan-out of `rows` input rows: one partition per
    * `rowsPerPartition` rows, in [1, defaultParallelism]. */
  private def sizedWidth(df: DataFrame, rowsPerPartition: Long): Int = {
    val t = target(df)
    val (nFiles, bytes, rowsOpt) = scanMeta(df)
    if (nFiles == 0) return 0 // in-memory relation: nothing to assess, no-op
    val rpp = df.sparkSession.conf
      .getOption("spark.graft.fanout.rowsPerPartition") match {
      case Some(v) =>
        val n = try v.toLong catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"spark.graft.fanout.rowsPerPartition=$v — expected a positive long")
        }
        require(n > 0,
          s"spark.graft.fanout.rowsPerPartition=$v — expected a positive long")
        n
      case None => rowsPerPartition
    }
    val width = rowsOpt match {
      case Some(rows) => math.min(t.toLong, math.max(1L, (rows + rpp - 1) / rpp)).toInt
      case None => t // rows unknown: the pre-r11 full-width behavior
    }
    if (width <= plannedApprox(df, nFiles, bytes)) 0 else width
  }

  /** Per-site default: sized for the text-explode call sites (split +
    * explode + hash per row — ~0.1–1 ms/row of downstream work). */
  val DefaultRowsPerPartition = 1024L

  /** Keyed fan-out: hash-repartition on a deterministic high-cardinality
    * key (doc/vec id). Hashing, not round-robin (guide §2.5): round-robin
    * pays a hidden per-partition SORT of the full rows before the exchange
    * (`spark.sql.execution.sortBeforeRepartition`, SPARK-23207) so retried
    * map tasks reproduce the same row placement, while hash placement is
    * reproducible by construction and Spark plans a plain Exchange
    * hashpartitioning. Key cardinality (unique ids) exceeds any sane
    * partition count by orders of magnitude, so the hash spreads evenly.
    *
    * `rowsPerPartition` sets the per-site work density: how many input
    * rows one task's worth of downstream per-row work amortizes. Lower it
    * for heavier per-row stages (minhash signatures), raise it for light
    * ones (broadcast-join probes).
    */
  def fanOut(df: DataFrame, key: Column,
      rowsPerPartition: Long = DefaultRowsPerPartition): DataFrame =
    if (disabled(df)) df
    else {
      val w = sizedWidth(df, rowsPerPartition)
      if (w <= 0) df else df.repartition(w, key)
    }
}
