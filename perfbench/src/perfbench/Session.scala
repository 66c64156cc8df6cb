package perfbench

import org.apache.spark.sql.SparkSession

/** The benchmark's only session factory. It builds the session the way
  * `graft.Bench` does: `GraftSparkExtensions` plus Bench's corpus-size conf
  * rule, which lives here and nowhere else in the benchmark. */
object Session {
  /** Parquet bytes of a corpus directory, counting part-file directories. */
  def corpusBytes(dir: String): Long = {
    def sizeOf(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(sizeOf).sum
      else f.length
    Option(new java.io.File(dir).listFiles).toSeq.flatten
      .filter(_.getName.endsWith(".parquet")).map(sizeOf).sum
  }

  /** Bench's corpus-size rule: ~8 MB of input per shuffle partition within
    * [4, 2 x cores]; scans split into ~3 per core but no finer than 8 MB; at
    * least one split per 4 MB up to one per core; AQE only above 256 MB. */
  def sizedConfs(totalBytes: Long, cpus: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" ->
      math.max(4L, math.min(totalBytes / (8L << 20), cpus * 2L)).toString,
    "spark.sql.files.maxPartitionBytes" ->
      math.max(8L << 20, totalBytes / (cpus * 3L)).toString,
    "spark.sql.files.minPartitionNum" ->
      math.max(1L, math.min(totalBytes / (4L << 20), cpus.toLong)).toString,
    "spark.sql.adaptive.enabled" -> (totalBytes > (256L << 20)).toString)

  private val fixedConfs = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.autoBroadcastJoinThreshold" -> "64MB",
    "spark.sql.files.openCostInBytes" -> (256L << 10).toString,
    "spark.locality.wait" -> "0",
    "spark.shuffle.sort.bypassMergeThreshold" -> "1")

  /** A session for `corpus` on `local[cpus]`; scratch space stays in `work`. */
  def create(corpus: String, cpus: Int, work: String): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new graft.sql.GraftSparkExtensions)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    (fixedConfs ++ sizedConfs(corpusBytes(corpus), cpus))
      .foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The confs that decide parallelism and join strategy, as the session
    * resolved them. */
  def effectiveConfs(spark: SparkSession): Map[String, String] =
    (fixedConfs.map(_._1) ++ sizedConfs(0L, 1).map(_._1) ++
      Seq("spark.master", "spark.default.parallelism",
        "spark.sql.adaptive.coalescePartitions.enabled",
        "spark.sql.optimizer.runtime.bloomFilter.enabled"))
      .map(k => k -> spark.conf.getOption(k)
        .orElse(spark.sparkContext.getConf.getOption(k)).getOrElse("<default>"))
      .toMap

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}
