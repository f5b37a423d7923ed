package graft

import org.apache.spark.sql.SparkSession

/** Opinionated session builder for the engine — the configuration a
  * 100 TB deployment wants, pre-wired:
  *
  *   - AQE on (default in Spark 4) with skew-join splitting and partition
  *     coalescing: runtime re-planning replaces hand-tuned partition
  *     counts; `shufflePartitions` is the *upper bound* AQE coalesces from,
  *     so size it to cluster cores, not data volume.
  *   - UTC session timezone: the reference's SimpleDateFormat used JVM-local
  *     time (CallCustomerJoiner.java:33); pinning UTC makes window bounds
  *     and formatted timestamps deterministic across clusters.
  *   - graft SQL functions registered (GraftExtensions), so spark.sql and
  *     the Column API expose the same surface.
  *   - Local streaming checkpoints without process spawns
  *     ([[LocalCheckpointFsConf]]). Without the native Hadoop library,
  *     Hadoop's stock `file:` filesystem forks `chmod` for every file it
  *     creates and `readlink` for both sides of every rename; a
  *     micro-batch's offset log, commit log and state deltas are each
  *     written as temp file plus rename, with a `.crc` twin per file, so
  *     those forks — not the rows — set the commit cost of a small batch.
  *     The binding keeps the `.crc` twins, Spark's checkpoint checksum
  *     files, the file modes and the temp-plus-rename commit unchanged,
  *     so existing checkpoints continue under it and after a rollback.
  *     It binds `FileContext` only: parquet scans and writes (the
  *     `FileSystem` API) and HDFS/S3 checkpoints are unaffected.
  *
  * `spark.sql.files.maxPartitionBytes` (default 128 MB) is deliberately
  * untouched: with codegen'd per-row kernels the scan is CPU-balanced at
  * the default split size; lower it only when decode-heavy multimodal
  * columns make splits CPU-bound.
  *
  * Streaming state stays on the default HDFS-backed provider. Set
  * `spark.sql.streaming.stateStore.providerClass` to
  * `RocksDBStateStoreProvider` once keyed state outgrows executor heap
  * (hundreds of millions of keys in `latestPerKey`/`streamingLshNearDup`).
  */
object GraftSession {

  /** Binds `file:` paths under `FileContext` to
    * [[graft.streaming.LocalCheckpointFs]]. */
  val LocalCheckpointFsConf: (String, String) =
    "spark.hadoop.fs.AbstractFileSystem.file.impl" ->
      classOf[graft.streaming.LocalCheckpointFs].getName

  def builder(appName: String = "graft", master: Option[String] = None,
      shufflePartitions: Option[Int] = None): SparkSession.Builder = {
    val b = SparkSession.builder()
      .appName(appName)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config(LocalCheckpointFsConf._1, LocalCheckpointFsConf._2)
    master.foreach(b.master)
    shufflePartitions.foreach(n => b.config("spark.sql.shuffle.partitions", n.toString))
    b
  }

  /** Build + register the graft SQL functions. */
  def create(appName: String = "graft", master: Option[String] = None,
      shufflePartitions: Option[Int] = None): SparkSession = {
    val s = builder(appName, master, shufflePartitions).getOrCreate()
    GraftExtensions.register(s)
    s
  }
}
