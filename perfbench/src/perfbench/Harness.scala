package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One measured call: wall time including building the DataFrame, and the
  * process CPU time spent meanwhile. */
final case class Timed(name: String, wallS: Double, cpuS: Double, buildS: Double, ok: Boolean)

/** The benchmark's JVM side: one client running a workload's calls one after
  * another (a closed loop) in one session, timing each call into the
  * program's public entry points. `run.py` generates the inputs, checks the
  * outputs and turns the raw result this writes into the metrics.
  *
  * Set-up is timed from the first session start through the warm-up pass,
  * which writes each output for the check. Untraced runs then run passes
  * for `--seconds`, at least [[MinPasses]], after [[WarmPasses]] untimed
  * ones. Traced runs interleave untraced passes with passes that have the
  * [[Tracer]] attached, and then time the crypto core, the crypto
  * expressions and the custom kernels directly. At the end the session is
  * restarted `--restarts` times to time a warm re-start. */
object Harness {
  /** Untimed passes after the checked one while JIT compilation settles.
    * Measured on 4 cores, both workloads' passes keep shrinking for four
    * passes or more after the checked one (`small_sf0.1` 9.3-10.1,
    * 8.2-10.8, 7.9-9.0, then 7.2-7.8 s), their CPU time most of all while
    * the JIT compiler threads are busy. The per-call medians over the
    * measured passes absorb what one untimed pass leaves. A second one did
    * not steady `small_sf0.1` beyond the noise of the host (pass_s spread
    * over ten seeds 0.15 with it, 0.11-0.20 without) and made its runs
    * ~15 s longer than the run budget allows. */
  val WarmPasses = 1

  /** Passes an untraced run measures at least, so that every call's median
    * is taken over three or more samples. */
  val MinPasses = 3

  private def arg(args: Array[String], k: String): String = {
    val i = args.indexOf("--" + k)
    require(i >= 0 && i + 1 < args.length, s"missing --$k")
    args(i + 1)
  }

  private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** One pass's time: the sum over its calls of each call's median wall
    * time over `passes`. */
  def passSeconds(passes: Seq[Seq[Timed]]): Double =
    passes.flatten.groupBy(_.name).values.map(ts => median(ts.map(_.wallS))).sum

  /** Median of three timings of forcing `df` through the noop sink. */
  def noopSeconds(df: DataFrame): Double = median((1 to 3).map { _ =>
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  })

  /** Hypervisor steal jiffies (field 8 of /proc/stat's cpu line), -1 if unknown. */
  private def stealJiffies(): Long =
    try Files.readAllLines(Paths.get("/proc/stat")).stream()
      .filter(_.startsWith("cpu ")).findFirst()
      .map[Long](_.trim.split("\\s+")(8).toLong).orElse(-1L)
    catch { case _: Exception => -1L }

  private def loadAvg(): Seq[Double] =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), UTF_8)
      .trim.split("\\s+").take(3).map(_.toDouble).toSeq
    catch { case _: Exception => Nil }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--oracle-sql")) {
      Files.write(Paths.get(args(1)), Json(graft.SparkEntry.oracleSql).getBytes(UTF_8))
      return
    }
    val workload = arg(args, "workload")
    val corpus = arg(args, "corpus")
    val work = arg(args, "work")
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toDouble
    val traced = arg(args, "trace") == "1"
    val cpus = arg(args, "cpus").toInt
    val restarts = arg(args, "restarts").toInt
    val wl = Workloads(workload, corpus, arg(args, "blobs"), work, seed)

    val runStart = System.currentTimeMillis()
    val s0 = System.nanoTime()
    var spark = Session.create(corpus, cpus, work)
    wl.prepare(spark)
    val sessionS = (System.nanoTime() - s0) / 1e9
    wl.prepareCheck(spark)

    val tracer = new Tracer(spark)
    var attempted = 0
    var failed = 0L
    val errors = ArrayBuffer[String]()

    def runPass(pass: Int, dump: Option[String], trace: Boolean): Seq[Timed] = {
      val passSpan = tracer.nextId()
      val passStart = System.currentTimeMillis()
      val out = wl.calls.map { name =>
        val c = if (trace) tracer.begin(name) else null
        spark.sparkContext.setJobDescription(s"$name pass $pass")
        val c0 = cpuNs()
        val t0 = System.nanoTime()
        val res = try Right(wl.call(spark, name, dump)) catch {
          case e: Throwable => Left(e)
        }
        val wall = (System.nanoTime() - t0) / 1e9
        val cpu = (cpuNs() - c0) / 1e9
        if (trace) tracer.end(c, passSpan,
          res.toOption.map(_.df.queryExecution.tracker))
        attempted += 1
        res match {
          case Right(o) if o.mismatches == 0 => Timed(name, wall, cpu, o.buildS, ok = true)
          case Right(o) =>
            failed += 1
            errors += s"$name: ${o.mismatches} round-trip mismatches"
            Timed(name, wall, cpu, o.buildS, ok = false)
          case Left(e) =>
            failed += 1
            errors += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}"
            Timed(name, wall, cpu, 0.0, ok = false)
        }
      }
      if (trace) tracer.span(Span(passSpan, 1L, "pass", s"pass $pass", 0L,
        passStart, System.currentTimeMillis()))
      out
    }

    // Warm-up: every call once with its output written for the check. The
    // tracer is attached so the run records its effective parallelism.
    // Set-up is the session start plus this pass; preparing the check is not.
    tracer.attach()
    val w0 = System.nanoTime()
    runPass(0, Some(s"$work/output"), trace = true)
    val warmupS = (System.nanoTime() - w0) / 1e9
    val setupS = sessionS + warmupS
    val parallelism = tracer.calls.map { c =>
      c.name -> Map("jobs" -> c.jobs, "stages" -> c.stages,
        "tasks_per_stage" -> c.tasksPerStage.toList,
        "scan_splits" -> c.facts("scan.splits"),
        "shuffle_partitions" -> c.facts("exchange.partitions"))
    }.toMap
    val warmCalls = tracer.calls.size
    tracer.detach()
    val warmPasses = (1 to WarmPasses)
      .map(i => runPass(-i, None, trace = false).map(_.wallS).sum)

    // The closed loop. An untraced run measures at least MinPasses passes.
    // A traced run interleaves untraced and traced passes in whole blocks
    // of U T T U, at least one block whatever `--seconds` says, so that JIT
    // drift left after warm-up falls on both halves alike.
    val steal0 = stealJiffies()
    val load0 = loadAvg()
    val passes = ArrayBuffer[(Seq[Timed], Boolean)]()
    val loopStart = System.nanoTime()
    while ((if (traced) passes.isEmpty || passes.size % 4 != 0 else passes.size < MinPasses) ||
           (System.nanoTime() - loopStart) / 1e9 < seconds) {
      val trace = traced && (passes.size % 4 == 1 || passes.size % 4 == 2)
      if (trace) tracer.attach()
      passes += ((runPass(passes.size + 1, None, trace), trace))
      if (trace) tracer.detach()
    }
    val untraced = passes.filterNot(_._2).map(_._1).toSeq
    val tracedPasses = passes.filter(_._2).map(_._1).toSeq
    val steal1 = stealJiffies()
    val load1 = loadAvg()

    def passJson(p: Seq[Timed]): Map[String, Any] = Map(
      "wall_s" -> p.map(_.wallS).sum, "cpu_s" -> p.map(_.cpuS).sum,
      "calls" -> p.map(t => Map("name" -> t.name, "wall_s" -> t.wallS,
        "cpu_s" -> t.cpuS, "build_s" -> t.buildS, "ok" -> t.ok)))

    val layers: Map[String, Double] =
      if (traced) Layers(tracer, warmCalls, tracedPasses, untraced, cpus, spark, corpus,
        Some(arg(args, "blobs")).filter(_.nonEmpty), seed)
      else Map.empty

    // Live heap: the least heap in use after three full collections.
    // Spark frees broadcast and shuffle blocks from a cleaner thread once
    // their references are collected, so one collection is not enough.
    val heapLiveMb = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(250)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }.min / 1048576.0

    val spansFile = s"$work/spans.json"
    if (traced) {
      val spans = Span(1L, 0L, "run", workload, 0L, runStart, System.currentTimeMillis()) +:
        tracer.spans
      Files.write(Paths.get(spansFile), Json(Map(
        "fields" -> Seq("id", "parent", "kind", "name", "call", "start_ms", "end_ms"),
        "spans" -> spans.map(s => Seq(s.id, s.parent, s.kind, s.name, s.call, s.start, s.end)),
        "self_s" -> Tracer.selfTimes(spans))).getBytes(UTF_8))
    }

    val confs = Session.effectiveConfs(spark)
    // Warm re-starts: the same session set-up in a JVM that has run it.
    val restartTimes = (1 to restarts).map { _ =>
      Session.stop(spark)
      val t0 = System.nanoTime()
      spark = Session.create(corpus, cpus, work)
      wl.prepare(spark)
      (System.nanoTime() - t0) / 1e9
    }

    val result = Map(
      "workload" -> workload, "seed" -> seed, "trace" -> traced, "cpus" -> cpus,
      "setup_s" -> setupS, "session_s" -> sessionS, "restarts_s" -> restartTimes.toList,
      "warmup_s" -> warmupS, "warm_passes_s" -> warmPasses,
      "passes" -> untraced.map(passJson), "traced_passes" -> tracedPasses.map(passJson),
      "attempted" -> attempted, "failed" -> failed, "errors" -> errors.toList,
      "heap_live_mb" -> heapLiveMb, "confs" -> confs,
      "parallelism" -> parallelism, "layers" -> layers,
      "spans_file" -> (if (traced) spansFile else null),
      "context" -> Map("steal_jiffies" -> (if (steal0 >= 0 && steal1 >= 0) steal1 - steal0 else -1L),
        "loadavg_start" -> load0, "loadavg_end" -> load1))
    Files.write(Paths.get(arg(args, "out")), Json(result).getBytes(UTF_8))
    Session.stop(spark)
  }
}

/** Per-layer numbers of a traced run, per pass. */
object Layers {
  def apply(tracer: Tracer, skip: Int, passes: Seq[Seq[Timed]], untraced: Seq[Seq[Timed]],
            cpus: Int, spark: SparkSession, corpus: String, blobs: Option[String],
            seed: Long): Map[String, Double] = {
    val n = passes.size.toDouble
    val calls = tracer.calls.drop(skip)
    def total(k: String) = calls.map(_.facts(k)).sum
    def perPass(k: String) = total(k) / n
    def ratio(a: Double, b: Double, empty: Double) = if (b > 0) a / b else empty
    val wall = passes.flatten.map(_.wallS).sum
    val idle = calls.map { c =>
      (c.endMs - c.startMs - Tracer.covered(c.taskIntervals.toSeq, c.startMs, c.endMs)) / 1e3
    }.sum
    import Harness.{median, passSeconds}

    val perQuery = calls.groupBy(_.name).flatMap { case (q, cs) =>
      val walls = passes.flatten.filter(_.name == q).map(_.wallS)
      Seq(s"queries.$q.wall_s" -> median(walls),
        s"queries.$q.jobs" -> cs.map(_.jobs.toDouble).sum / cs.size)
    }

    val core = CoreBench(seed)

    Map(
      "queries.build_s" -> passes.flatten.map(_.buildS).sum / n,
      "plans.analysis_s" -> perPass("plans.analysis_s"),
      "plans.optimize_s" -> perPass("plans.optimize_s"),
      "plans.physical_s" -> perPass("plans.physical_s"),
      "plans.bitmap_rewrites" -> perPass("plans.bitmap_rewrites"),
      "plans.bloom_filters" -> perPass("plans.bloom_filters"),
      "plans.broadcast_joins" -> perPass("plans.broadcast_joins"),
      "plans.shuffled_joins" -> perPass("plans.shuffled_joins"),
      "sched.jobs" -> calls.map(_.jobs).sum / n,
      "sched.stages" -> calls.map(_.stages).sum / n,
      "sched.tasks" -> perPass("sched.tasks"),
      "sched.idle_s" -> idle / n,
      "exec.task_s" -> perPass("exec.task_s"),
      "exec.cpu_s" -> perPass("exec.cpu_s"),
      "exec.gc_s" -> perPass("exec.gc_s"),
      "exec.launch_s" -> perPass("exec.launch_s"),
      "exec.slot_util" -> ratio(total("exec.task_s"), wall * cpus, 0.0),
      "scan.rows" -> perPass("scan.rows"),
      "scan.bytes" -> perPass("scan.bytes"),
      "scan.time_s" -> perPass("scan.time_s"),
      "scan.ns_per_row" -> ratio(total("scan.time_s") * 1e9, total("scan.rows"), 0.0),
      "scan.splits" -> perPass("scan.splits"),
      "exchange.bytes" -> perPass("exchange.bytes"),
      "exchange.write_s" -> perPass("exchange.write_s"),
      "exchange.fetch_wait_s" -> perPass("exchange.fetch_wait_s"),
      "exchange.partitions" -> perPass("exchange.partitions"),
      "join.build_s" -> perPass("join.build_s"),
      "join.probe_rows" -> perPass("join.probe_rows"),
      "join.hit_ratio" -> ratio(total("join.out_rows"), total("join.probe_rows"), 0.0),
      "join.bloom_pass_ratio" -> ratio(total("bloom.out_rows"), total("bloom.in_rows"), 1.0),
      "agg.build_s" -> perPass("agg.build_s"),
      "agg.peak_mb" -> calls.map(_.facts("agg.peak_bytes")).foldLeft(0.0)(_ max _) / 1048576.0,
      "agg.spill_mb" -> perPass("agg.spill_bytes") / 1048576.0,
      "trace.overhead_s" -> (passSeconds(passes) - passSeconds(untraced))
    ) ++ perQuery ++ core ++ KernelBench(spark, corpus) ++
      Map("sql.udf_share" -> UdfBench(spark, corpus, blobs, seed))
  }
}

/** Single-thread `graft.core.AgeFormat` rates: short messages (header-bound)
  * and 1 MiB payloads (payload-bound), each call timed directly. */
object CoreBench {
  /** The seed's key pair, its parsed recipient and its parsed identity. */
  def keys(seed: Long): (graft.core.AgeKeys.KeyPair, Array[Byte], Array[Byte]) = {
    import graft.core.AgeKeys
    val kp = AgeKeys.fromSeed(java.nio.ByteBuffer.allocate(32).putLong(seed ^ 0x5eed).array())
    (kp, AgeKeys.parseRecipient(kp.publicKey).toOption.get,
      AgeKeys.parseIdentity(kp.privateKey).toOption.get)
  }

  def apply(seed: Long): Map[String, Double] = {
    import graft.core.AgeFormat
    val (_, rec, id) = keys(seed)
    val small = "Customer#000004242".getBytes(UTF_8)
    val blob = new Array[Byte](1 << 20)
    new java.util.Random(seed).nextBytes(blob)

    // median per-call microseconds over `reps` calls, after `warm` calls
    def perCallUs(reps: Int, warm: Int)(f: => Unit): Double = {
      (1 to warm).foreach(_ => f)
      val ts = (1 to reps).map { _ => val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e3 }
      ts.sorted.apply(reps / 2)
    }
    val smallCt = AgeFormat.encrypt(small, Seq(rec))
    val blobCt = AgeFormat.encrypt(blob, Seq(rec))
    val sealSmall = perCallUs(400, 200)(AgeFormat.encrypt(small, Seq(rec)))
    val openSmall = perCallUs(400, 200)(AgeFormat.decrypt(smallCt, id))
    val sealBlob = perCallUs(9, 2)(AgeFormat.encrypt(blob, Seq(rec)))
    val openBlob = perCallUs(9, 2)(AgeFormat.decrypt(blobCt, id))
    // MiB per second: each blob call moves 1 MiB
    Map("core.seal_small_us" -> sealSmall, "core.open_small_us" -> openSmall,
      "core.seal_mb_s" -> 1e6 / sealBlob, "core.open_mb_s" -> 1e6 / openBlob)
  }
}

/** Share of the `graft.sql` crypto expressions' time spent outside the core
  * kernel. The expressions' time is `age_encrypt` and `age_decrypt` through
  * a `CREATE SECRET` key, each a projection of the one expression minus an
  * identity projection over the same cached rows, in one partition so that
  * it runs on one thread. The kernel's time is direct `AgeFormat` calls on
  * the same messages, on one thread, right after. No parquet, exchange or
  * join runs in either. The messages are the first 2000 customer names and,
  * where the workload has them, the first 16 blobs. */
object UdfBench {
  val names = 2000
  val blobs = 16

  def apply(spark: SparkSession, corpus: String, blobDir: Option[String], seed: Long): Double = {
    import graft.core.AgeFormat
    import graft.sql.functions.{age_decrypt, age_encrypt}
    import Harness.{median, noopSeconds => seconds}
    val (kp, rec, id) = CoreBench.keys(seed)
    graft.sql.AgeFunctions.register(spark)
    spark.sql(s"""CREATE OR REPLACE SECRET perfbench_udf (
      TYPE 'age', public_key '${kp.publicKey}', private_key '${kp.privateKey}')""")
    val secret = lit("perfbench_udf")
    def cached(df: DataFrame): DataFrame = {
      val c = df.coalesce(1).cache()
      c.count()
      c
    }
    val sources = spark.read.parquet(s"$corpus/customer.parquet")
      .select(encode(col("c_name"), "UTF-8").as("pt")).limit(names) +:
      blobDir.toSeq.map(b => spark.read.parquet(s"$b/blobs.parquet")
        .select(col("payload").as("pt")).limit(blobs))
    val inputs = sources.map { src =>
      val pt = cached(src)
      (pt, cached(pt.select(age_encrypt(col("pt"), secret).as("ct"))))
    }
    try {
      val exprS = inputs.map { case (pt, ct) =>
        seconds(pt.select(age_encrypt(col("pt"), secret))) - seconds(pt) +
        seconds(ct.select(age_decrypt(col("ct"), secret))) - seconds(ct)
      }.sum
      val pts = inputs.flatMap { case (pt, _) => pt.collect().map(_.getAs[Array[Byte]](0)) }
      val cts = inputs.flatMap { case (_, ct) => ct.collect().map(_.getAs[Array[Byte]](0)) }
      def timed(f: => Unit): Double = median((1 to 3).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      })
      val kernelS = timed(pts.foreach(AgeFormat.encrypt(_, Seq(rec)))) +
        timed(cts.foreach(AgeFormat.decrypt(_, id)))
      1 - kernelS / exprS
    } finally inputs.foreach { case (pt, ct) => ct.unpersist(); pt.unpersist() }
  }
}

/** Per-row cost of each custom `graft.functions` kernel: a projection of the
  * kernel alone minus an identity projection over the same rows, both forced
  * through the noop sink. Rows are the corpus's own, repeated to ~100k. */
object KernelBench {
  def apply(spark: SparkSession, corpus: String): Map[String, Double] = {
    import graft.functions._
    import Harness.{noopSeconds => seconds}
    def replicated(table: String, column: String): (DataFrame, Long) = {
      val df = spark.read.parquet(s"$corpus/$table.parquet").select(column)
      val n = df.count()
      val k = math.max(1L, math.ceil(100000.0 / n).toLong)
      (df.withColumn("_rep", explode(sequence(lit(1L), lit(k)))).drop("_rep").cache(), n * k)
    }
    val (docs, docRows) = replicated("documents", "text")
    val (vecs, vecRows) = replicated("embeddings", "embedding")
    val text = col("text")
    val emb = col("embedding")
    val out = try {
      docs.count(); vecs.count()
      val docBase = seconds(docs.select(text))
      val vecBase = seconds(vecs.select(emb))
      Seq(
        "minhash_sig" -> (docs, MinHashSig.minhash_sig(text), docBase, docRows),
        "token_stats" -> (docs, TokenStats.token_stats(text), docBase, docRows),
        "repetition_stats" -> (docs, RepetitionStats.repetition_stats(text), docBase, docRows),
        "cdc_chunks" -> (docs, CdcChunks.cdc_chunks(text, 8), docBase, docRows),
        "substring_run_fps" -> (docs, SubstringRunFps.substring_run_fps_bin(text, 13), docBase, docRows),
        "cosine_sim" -> (vecs, CosineSim.cosine_sim(emb, emb), vecBase, vecRows)
      ).map { case (k, (df, kernel, base, rows)) =>
        s"functions.$k.ns_per_row" -> (seconds(df.select(kernel.as("k"))) - base) * 1e9 / rows
      }.toMap
    } finally { docs.unpersist(); vecs.unpersist() }
    out
  }
}
