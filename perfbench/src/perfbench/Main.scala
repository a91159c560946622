package perfbench

import org.apache.spark.sql.SparkSession

import java.io.File
import scala.collection.mutable

/** What a workload hands to the program: the session, the seed, the
  * run length, the open loop's offered rate, and where it may write.
  * `setupDone` marks the first timed operation. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
    val trace: Boolean, val cores: Int, val rate: Int, val work: File, val calls: Calls,
    val tracer: Tracer) {
  @volatile var setupEndMs: Double = Double.NaN
  @volatile var setupCpuMs: Double = Double.NaN
  def setupDone(): Unit = { setupEndMs = Clock.ms(); setupCpuMs = Stats.cpuMs(); log("set-up done") }
  val jvmStartMs: Double =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
  /** A progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] +${(Clock.ms() - jvmStartMs) / 1000}%.1fs $msg")
}

/** A workload's result. `throughput` and `liveMb` are its end-to-end
  * figures; `layers` its traced per-layer metrics beyond the
  * per-call ones; `detail` the workload's figures under their own names. */
final case class Outcome(attempted: Long, failed: Long, checks: Seq[Checks.Result],
    throughput: Double, liveMb: Double, layers: Map[String, Double],
    selfTimeMs: Map[String, Double], detail: Map[String, Double])

object Main {
  val Workloads = Seq("event_ingest", "index_serve")
  val DefaultSeed = 1L

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "live_mem_mb" -> "MB", "throughput_per_s" -> "1/s")

  val OpsCalls: Seq[String] = Seq("bm25_build", "ivfpq_train", "ivfpq_build",
    "bm25_probe", "ivfpq_probe", "bm25_append", "bm25_delete")

  /** Every per-layer metric with its unit, in report order. */
  val PerLayer: Seq[(String, String)] = Seq(
    "sources.rows_per_batch" -> "count", "sources.get_batch_ms" -> "ms",
    "sources.latest_offset_ms" -> "ms", "sources.ack_lag_ms" -> "ms",
    "sources.poll_ms" -> "ms",
    "core.batches" -> "count", "core.query_planning_ms" -> "ms",
    "core.wal_commit_ms" -> "ms", "core.commit_offsets_ms" -> "ms",
    "core.trigger_ms" -> "ms",
    "streaming.add_batch_ms" -> "ms", "streaming.state_update_ms" -> "ms",
    "streaming.state_commit_ms" -> "ms", "streaming.state_rows" -> "count",
    "streaming.state_memory_bytes" -> "bytes", "streaming.dropped_duplicates" -> "count",
    "sinks.write_ms" -> "ms", "sinks.files_written" -> "count",
    "sinks.bytes_written" -> "bytes") ++
    OpsCalls.flatMap { c =>
      Seq(s"ops.$c.ms" -> "ms", s"ops.$c.jobs" -> "count", s"ops.$c.tasks" -> "count",
        s"ops.$c.driver_ms" -> "ms", s"ops.$c.executor_cpu_ms" -> "ms",
        s"ops.$c.shuffle_bytes" -> "bytes")
    } ++ Seq("functions.term_counts_ms" -> "ms")

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg\nusage: --workload <${Workloads.mkString("|")}> " +
      "[--seed <n>] --seconds <n> --trace <0|1> --work <dir> [--cores <n>] [--rate <msgs/s>]")
    sys.exit(2)
  }

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => usage(s"bad argument ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, usage(s"missing --$k"))
    val workload = need("workload")
    if (!Workloads.contains(workload)) usage(s"unknown workload $workload")
    val seed = kv.get("seed").map(_.toLong).getOrElse(DefaultSeed)
    val seconds = need("seconds").toInt
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case t => usage(s"--trace must be 0 or 1, not $t")
    }
    val work = new File(need("work"))
    val cores = kv.get("cores").map(_.toInt).getOrElse(
      math.min(4, Runtime.getRuntime.availableProcessors()))
    val rate = kv.get("rate").map(_.toInt).getOrElse(Ingest.Rate)

    val spark = graft.Sessions.builder(s"local[$cores]", cores)
      .appName(s"perfbench-$workload")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jobLog = new JobLog
    if (trace) spark.sparkContext.addSparkListener(jobLog)
    val ctx = new Ctx(spark, seed, seconds, trace, cores, rate, work, new Calls(spark), new Tracer)
    ctx.log(s"session up, local[$cores]")

    val outcome = workload match {
      case "event_ingest" => Ingest.run(ctx)
      case "index_serve" => Serve.run(ctx)
    }
    val setupS = (ctx.setupEndMs - ctx.jvmStartMs) / 1000.0
    val timedCpuS = (Stats.cpuMs() - ctx.setupCpuMs) / 1000.0
    val rssMb = Stats.peakRssMb()

    val metrics: Seq[(String, Double, String)] =
      if (!trace) {
        val v = Map("setup_s" -> setupS, "live_mem_mb" -> outcome.liveMb,
          "throughput_per_s" -> outcome.throughput)
        EndToEnd.map { case (n, u) => (n, v(n), u) }
      }
      else {
        org.apache.spark.perfbench.BusDrain(spark.sparkContext)
        val layers = mutable.LinkedHashMap.empty[String, Double] ++ outcome.layers
        val timed = ctx.calls.done.filter(_.startMs >= ctx.setupEndMs)
        val setup = ctx.calls.done.filter(_.startMs < ctx.setupEndMs)
        OpsCalls.foreach { c =>
          // timed calls; a call made only in set-up (the serve
          // workload's index builds) is reported from set-up
          val cs = Some(timed.filter(_.name == c)).filter(_.nonEmpty)
            .getOrElse(setup.filter(_.name == c)).filter(_.error.isEmpty).toSeq
          if (cs.nonEmpty) {
            val acc = cs.map(x => x -> jobLog.forCall(x.op))
            layers(s"ops.$c.ms") = Stats.median(cs.map(_.ms))
            layers(s"ops.$c.jobs") = Stats.median(acc.map(_._2.jobs.toDouble))
            layers(s"ops.$c.tasks") = Stats.median(acc.map(_._2.tasks.toDouble))
            layers(s"ops.$c.driver_ms") =
              Stats.median(acc.map { case (x, j) => x.ms - j.jobMs })
            layers(s"ops.$c.executor_cpu_ms") = Stats.median(acc.map(_._2.cpuMs))
            layers(s"ops.$c.shuffle_bytes") = Stats.median(acc.map(_._2.shuffleBytes.toDouble))
          }
        }
        jobLog.emit(ctx.tracer, ctx.calls.done.toSeq)
        val tracePath = new File(work.getParentFile, s"traces/$workload-seed$seed.json")
        ctx.tracer.write(tracePath)
        System.err.println(s"[perfbench] spans written to $tracePath")
        // self time of the blocking layers for the timed calls: a call's
        // own (driver) time outside its jobs, and its jobs' time
        val self = if (outcome.selfTimeMs.nonEmpty) outcome.selfTimeMs else {
          val acc = timed.map(c => c -> jobLog.forCall(c.op))
          Map("ops_driver" -> acc.map { case (c, j) => c.ms - j.jobMs }.sum,
            "spark_jobs" -> acc.map(_._2.jobMs).sum, "timed_calls_wall" -> timed.map(_.ms).sum)
        }
        println("perfbench self_time_ms " + self.toSeq.sortBy(_._1)
          .map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}"))
        PerLayer.map { case (n, u) => (n, layers.getOrElse(n, 0.0), u) }
      }

    val checkFailed = outcome.checks.filterNot(_.ok)
    outcome.checks.foreach(c => System.err.println(
      s"[perfbench] check ${c.name}: ${if (c.ok) "ok" else s"FAILED (${c.failed})"} — ${c.detail}"))
    val correct = checkFailed.isEmpty
    val failed = math.min(outcome.attempted, outcome.failed + checkFailed.map(_.failed).sum)
    println("perfbench detail " + (Seq("workload" -> Json.str(workload),
      "seed" -> seed.toString, "setup_s" -> Json.num(setupS), "live_mem_mb" -> Json.num(outcome.liveMb),
      "live_heap_mb" -> Json.num(Stats.liveHeapMb),
      "peak_rss_mb" -> Json.num(rssMb), "timed_cpu_s" -> Json.num(timedCpuS),
      "gc_s" -> Json.num(Stats.gcMs() / 1000.0), "jit_s" -> Json.num(Stats.jitMs() / 1000.0)) ++
      outcome.detail.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })
      .map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}"))
    val ms = metrics.map { case (n, v, u) =>
      s"${Json.str(n)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}"
    }.mkString("{", ",", "}")
    println(s"""{"correct":$correct,"attempted":${outcome.attempted},"failed":$failed,"metrics":$ms}""")
    System.out.flush()
    spark.stop()
    sys.exit(if (correct) 0 else 1)
  }
}
