package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What one call into the program produced: the DataFrame it built (for its
  * planning tracker), how long building took, and how many round-trip
  * mismatches it found (crypto calls check their own output). */
final case class CallOut(df: DataFrame, buildS: Double, mismatches: Long)

/** A workload: the calls of one pass, run in order by one client. */
trait Workload {
  def calls: Seq[String]
  /** Session-side preparation that belongs to set-up. */
  def prepare(spark: SparkSession): Unit
  /** Untimed preparation of the workload's own output check. */
  def prepareCheck(spark: SparkSession): Unit = ()
  /** Run one call; `dump` is where the output goes when it is checked. */
  def call(spark: SparkSession, name: String, dump: Option[String]): CallOut
}

/** Calls `SparkEntry.queries(name)` on a corpus. Each result is forced
  * through the noop sink, as `graft.Bench` does, or written as parquet for
  * the oracle check during warm-up. */
final class QueryWorkload(val calls: Seq[String], corpus: String) extends Workload {
  private val queries = graft.SparkEntry.queries

  def prepare(spark: SparkSession): Unit =
    graft.queries.Tables.names.foreach(graft.queries.Tables.load(spark, corpus, _))

  def call(spark: SparkSession, name: String, dump: Option[String]): CallOut = {
    val t0 = System.nanoTime()
    val df = queries(name)(spark, corpus)
    val buildS = (System.nanoTime() - t0) / 1e9
    dump match {
      case Some(dir) => df.write.mode("overwrite").parquet(s"$dir/$name")
      case None => df.write.format("noop").mode("overwrite").save()
    }
    CallOut(df, buildS, 0L)
  }
}

/** Encrypted columns at rest, through the `graft.sql` functions. The write
  * phase encrypts every customer name (short, header-bound messages) and
  * every blob (1 MiB, payload-bound) and writes the ciphertext as parquet.
  * The read phase reads it back, decrypts through a `CREATE SECRET` key and
  * counts rows whose plaintext hash differs from the source. */
final class CryptoWorkload(corpus: String, blobs: String, work: String, seed: Long)
    extends Workload {
  val calls = Seq("encrypt_names", "encrypt_blobs", "decrypt_names", "decrypt_blobs")
  private val secret = "perfbench_key"
  private val keys = graft.core.AgeKeys.fromSeed(
    java.nio.ByteBuffer.allocate(32).putLong(seed).array())
  private var expected = Map.empty[String, (DataFrame, Long)]

  private def source(spark: SparkSession, table: String): DataFrame = table match {
    case "names" => spark.read.parquet(s"$corpus/customer.parquet")
      .select(col("c_custkey").as("id"), encode(col("c_name"), "UTF-8").as("pt"))
    case "blobs" => spark.read.parquet(s"$blobs/blobs.parquet")
      .select(col("blob_id").as("id"), col("payload").as("pt"))
  }

  def prepare(spark: SparkSession): Unit = {
    graft.sql.AgeFunctions.register(spark)
    spark.sql(s"""CREATE OR REPLACE SECRET $secret (
      TYPE 'age', public_key '${keys.publicKey}', private_key '${keys.privateKey}')""")
  }

  override def prepareCheck(spark: SparkSession): Unit = {
    expected = Seq("names", "blobs").map { t =>
      val rows = source(spark, t).select(col("id"), xxhash64(col("pt")).as("h")).collect()
      val local = spark.createDataFrame(java.util.Arrays.asList(rows: _*),
        rows.head.schema)
      t -> (local, rows.length.toLong)
    }.toMap
  }

  def call(spark: SparkSession, name: String, dump: Option[String]): CallOut = {
    import graft.sql.functions.{age_decrypt, age_encrypt}
    val Array(op, table) = name.split('_')
    val t0 = System.nanoTime()
    op match {
      case "encrypt" =>
        val df = source(spark, table)
          .select(col("id"), age_encrypt(col("pt"), lit(secret)).as("ct"))
        val buildS = (System.nanoTime() - t0) / 1e9
        df.write.mode("overwrite").parquet(s"$work/ciphertext_$table")
        CallOut(df, buildS, 0L)
      case "decrypt" =>
        val (want, n) = expected(table)
        val df = spark.read.parquet(s"$work/ciphertext_$table")
          .select(col("id"), xxhash64(age_decrypt(col("ct"), lit(secret))).as("h"))
          .join(broadcast(want), Seq("id", "h"), "left_semi")
        val buildS = (System.nanoTime() - t0) / 1e9
        CallOut(df, buildS, n - df.count())
    }
  }
}

object Workloads {
  /** `graft.Bench`'s 19 headline queries, fixed here so that the workload
    * does not move when Bench does. */
  val small = Seq("q01_agg_pricing", "q03_join_topn", "q05_join5_agg",
    "q06_selective_sum", "q08_window_running", "q23_count_distinct",
    "q25_events_hourly", "dd01_exact_dup_groups", "dd03_minhash_lsh_pairs",
    "dd08_minhash_all", "sim01_cosine_topk", "tx01_tokens", "age03_roundtrip",
    "age10_kernel_64mb", "tx28_repetition_filter", "dd24_cdc_chunk_dedup",
    "dd25_substring_spans", "tx31_bpe_train3", "dd27_ngram_decontaminate")

  def apply(name: String, corpus: String, blobs: String, work: String,
            seed: Long): Workload = name match {
    case "small_sf0.1" => new QueryWorkload(small, corpus)
    case "age_crypto" => new CryptoWorkload(corpus, blobs, work, seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}
