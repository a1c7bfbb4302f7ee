package graft

import org.apache.spark.sql.SparkSession

/** The one session profile of the program's mains. Two entry points, not an
  * option, because their callers need different file systems:
  *
  *  - [[local]]: `local[cpus]`, shuffle partitions = cpus, UTC, no UI,
  *    `nanosAsLong` (which [[graft.queries.Tables.t]] forces on every read
  *    anyway) and log level WARN. Keeps Hadoop's checksummed local file
  *    system: the `.crc` shadow files are fault-detection data, so the
  *    daemon, the streaming smoke, the ANN recall probe and the test suite
  *    run here.
  *  - [[timed]]: `local` plus the confs the benchmark times (and so the
  *    confs the correctness gate must check): the 64 MB broadcast
  *    threshold, `RawLocalFileSystem`, no `_SUCCESS` marker and the
  *    FileSystem-API checkpoint manager. `Bench`, `Verify`,
  *    [[graft.tools.Probe]] and [[graft.tools.ExplainDump]] run here.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS` if set, otherwise this machine's core count. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  private def builder(cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")

  private def create(b: SparkSession.Builder): SparkSession = {
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def local(cores: Int = cpus): SparkSession = create(builder(cores))

  def timed(cores: Int = cpus): SparkSession = create(builder(cores)
    .config("spark.sql.autoBroadcastJoinThreshold", 64L * 1024 * 1024)
    // local-fs tuning (measured in artifacts/REPLAY_PROFILE_r3):
    // RawLocalFileSystem skips the .crc shadow file ChecksumFileSystem
    // writes per file — an artifact of LOCAL runs only (HDFS/S3 have no
    // client-side checksum files), worth ~2.5s over the replay headliner's
    // ~270 small files; _SUCCESS markers are unused by the engine's
    // readers. Neither changes what lands in the store.
    .config("spark.hadoop.fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
    .config("spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
    // checkpoint WAL/commit through the FileSystem API so it picks up the
    // raw local fs too (default FileContext path writes CRC shadows per
    // metadata file: measured 360→45ms of commit ops per micro-batch).
    // Rename atomicity holds on local fs.
    .config("spark.sql.streaming.checkpointFileManagerClass",
      "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"))
}
