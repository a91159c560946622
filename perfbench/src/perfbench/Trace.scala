package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.streaming.StreamingQueryListener._

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** A span: `op` is the operation every span of one call or one
  * micro-batch shares, `parent` is 0 for a root. Times are epoch ms. */
final case class Span(op: String, id: Long, parent: Long, name: String,
    startMs: Double, endMs: Double, attrs: Map[String, String] = Map.empty)

/** Wall clock in epoch ms with sub-ms resolution (nanoTime anchored once). */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def ms(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Spans kept in memory and written as one JSON file at the end. */
final class Tracer {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val ids = new AtomicLong(1)

  def add(op: String, parent: Long, name: String, startMs: Double, endMs: Double,
      attrs: Map[String, String] = Map.empty): Long = {
    val id = ids.getAndIncrement()
    synchronized { spans += Span(op, id, parent, name, startMs, endMs, attrs) }
    id
  }

  def all: Vector[Span] = synchronized(spans.toVector)

  def write(path: java.io.File): Unit = {
    def q(s: String) = Json.str(s)
    val body = all.map { s =>
      s"""{"op":${q(s.op)},"id":${s.id},"parent":${s.parent},"name":${q(s.name)},""" +
        f""""start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f,"attrs":""" +
        s.attrs.map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString("{", ",", "}") + "}"
    }.mkString("[\n", ",\n", "\n]")
    path.getParentFile.mkdirs()
    java.nio.file.Files.write(path.toPath, s"""{"spans":$body}""".getBytes("UTF-8"))
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else java.lang.Double.toString(x)
}

/** One timed call into a layer. */
final case class Call(name: String, op: String, startMs: Double, endMs: Double,
    error: Option[Throwable]) {
  def ms: Double = endMs - startMs
}

/** Per-call Spark job accounting, gathered by a [[JobLog]]. */
final case class CallJobs(jobs: Int, tasks: Long, cpuMs: Double,
    shuffleBytes: Long, jobMs: Double)

/** Times calls into the program and tags their Spark jobs with the
  * call's op id (a local property the job listener reads back). */
final class Calls(spark: SparkSession) {
  private val n = new AtomicLong
  val done = mutable.ArrayBuffer.empty[Call]

  def apply[A](name: String)(body: => A): Option[A] = {
    val op = s"$name#${n.incrementAndGet()}"
    val sc = spark.sparkContext
    sc.setLocalProperty(JobLog.OpKey, op)
    val t0 = Clock.ms()
    val r = try Right(body) catch { case e: Exception => Left(e) }
    finally sc.setLocalProperty(JobLog.OpKey, null)
    val t1 = Clock.ms()
    done += Call(name, op, t0, t1, r.left.toOption)
    r.left.foreach { e =>
      System.err.println(s"[perfbench] $name threw: $e")
    }
    r.toOption
  }
}

object JobLog {
  val OpKey = "perfbench.op"
}

/** SparkListener recording job and stage spans plus task counts, CPU
  * time and shuffle bytes, keyed by the op id of the call that ran them. */
final class JobLog extends SparkListener {
  final case class Job(id: Int, op: String, startMs: Long, var endMs: Long)
  final case class Stage(id: Int, attempt: Int, job: Int, name: String,
      var startMs: Long, var endMs: Long, var tasks: Long, var cpuNs: Long,
      var shuffleBytes: Long)

  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  val stages = new ConcurrentHashMap[(Int, Int), Stage]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(JobLog.OpKey)))
      .getOrElse("")
    jobs.put(e.jobId, Job(e.jobId, op, e.time, -1L))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  private def stage(info: StageInfo): Stage =
    stages.computeIfAbsent((info.stageId, info.attemptNumber()), _ =>
      Stage(info.stageId, info.attemptNumber(),
        stageJob.getOrDefault(info.stageId, -1), info.name, -1L, -1L, 0L, 0L, 0L))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stage(e.stageInfo).startMs = e.stageInfo.submissionTime.getOrElse(-1L)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = stage(e.stageInfo)
    s.startMs = e.stageInfo.submissionTime.getOrElse(s.startMs)
    s.endMs = e.stageInfo.completionTime.getOrElse(-1L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stages.computeIfAbsent((e.stageId, e.stageAttemptId), _ =>
      Stage(e.stageId, e.stageAttemptId, stageJob.getOrDefault(e.stageId, -1),
        "", -1L, -1L, 0L, 0L, 0L))
    s.synchronized {
      s.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        s.cpuNs += m.executorCpuTime
        s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  /** Job accounting of one call; `jobMs` is the union of its job spans. */
  def forCall(op: String): CallJobs = {
    val js = jobs.values().asScala.filter(j => j.op == op && j.endMs >= 0).toVector
    val jobIds = js.map(_.id).toSet
    val ss = stages.values().asScala.filter(s => jobIds.contains(s.job)).toVector
    CallJobs(js.size, ss.map(_.tasks).sum, ss.map(_.cpuNs).sum / 1e6,
      ss.map(_.shuffleBytes).sum, Stats.unionMs(js.map(j => (j.startMs.toDouble, j.endMs.toDouble))))
  }

  /** Job spans under each call span, and stage spans under their job. */
  def emit(tracer: Tracer, calls: Seq[Call]): Unit = calls.foreach { c =>
    val root = tracer.add(c.op, 0, "ops." + c.name, c.startMs, c.endMs,
      c.error.map(e => Map("error" -> e.toString)).getOrElse(Map.empty))
    jobs.values().asScala.filter(_.op == c.op).toVector.sortBy(_.id).foreach { j =>
      val jid = tracer.add(c.op, root, s"job ${j.id}", j.startMs, j.endMs)
      stages.values().asScala.filter(_.job == j.id).toVector.sortBy(_.id).foreach { s =>
        tracer.add(c.op, jid, s"stage ${s.id}.${s.attempt}", s.startMs, s.endMs,
          Map("tasks" -> s.tasks.toString, "cpu_ms" -> (s.cpuNs / 1e6).toString,
            "shuffle_bytes" -> s.shuffleBytes.toString, "name" -> s.name))
      }
    }
  }
}

/** StreamingQueryListener keeping every progress event. */
final class ProgressLog extends StreamingQueryListener {
  val events = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = events.add(e.progress)
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  def all: Vector[StreamingQueryProgress] = events.asScala.toVector
}

object Stats {
  /** Linear-interpolated percentile, `p` in [0, 100]. */
  def pct(xs: Iterable[Double], p: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.toArray.sorted
    val r = p / 100.0 * (s.length - 1)
    val lo = math.floor(r).toInt
    val hi = math.ceil(r).toInt
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
  def median(xs: Iterable[Double]): Double = pct(xs, 50)

  /** Total length of the union of intervals. */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (curE.isNaN || s > curE) {
        if (!curE.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curE.isNaN) total += curE - curS
    total
  }

  /** Memory the program keeps: the heap in use after a full collection,
    * plus non-heap memory in use (metaspace, code cache), in MB. */
  def liveMb(): Double = {
    // Spark's context cleaner frees the blocks of collected broadcasts
    // and shuffles on its own thread, so collect, let it run, collect
    System.gc()
    Thread.sleep(500)
    System.gc()
    val m = java.lang.management.ManagementFactory.getMemoryMXBean
    liveHeapMb = m.getHeapMemoryUsage.getUsed / 1048576.0
    liveHeapMb + m.getNonHeapMemoryUsage.getUsed / 1048576.0
  }
  /** The heap part of the last `liveMb`. */
  @volatile var liveHeapMb: Double = Double.NaN

  /** Time in garbage collections since JVM start, in ms. */
  def gcMs(): Double = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime.toDouble).sum

  /** Time the JIT compilers spent since JVM start, in ms. */
  def jitMs(): Double =
    java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble

  /** CPU time of this JVM, all threads, in ms. */
  def cpuMs(): Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e6

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }
}
