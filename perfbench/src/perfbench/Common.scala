package perfbench

import java.io.File
import java.util.Locale

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Minimal JSON rendering for the result file that run.py reads. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else String.format(Locale.ROOT, "%.6f", Double.box(v))
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case o => str(o.toString)
  }
  def write(path: String, v: Any): Unit = {
    val f = new File(path)
    val tmp = new File(path + ".tmp")
    val w = new java.io.PrintWriter(tmp, "UTF-8")
    try w.write(render(v)) finally w.close()
    if (!tmp.renameTo(f)) throw new java.io.IOException(s"rename failed: $path")
  }
}

/** One run's configuration: a flat properties file written by run.py. */
final class Conf(path: String) {
  private val p = new java.util.Properties()
  private val in = new java.io.FileInputStream(path)
  try p.load(in) finally in.close()
  def apply(k: String): String =
    Option(p.getProperty(k)).getOrElse(sys.error(s"missing config key $k"))
  def get(k: String): Option[String] = Option(p.getProperty(k))
  def int(k: String): Int = apply(k).toInt
  def dbl(k: String): Double = apply(k).toDouble
  def bool(k: String): Boolean = get(k).contains("1")
}

/** A span: one timed step, its parent, and wall-clock bounds (epoch ms). */
final case class Span(name: String, parent: String, startMs: Long, endMs: Long)

/** In-memory trace for the traced run: spans from the benchmark's own
  * calls, task/stage/job totals from a SparkListener, and per-batch
  * stream progress from a StreamingQueryListener. Nothing is written
  * until the run ends. With tracing off only the spans are kept (they
  * cost a clock read each) and no listener is attached.
  */
final class Trace(val on: Boolean) {
  val spans = mutable.ArrayBuffer[Span]()
  def span[T](name: String, parent: String)(f: => T): T = {
    val t0 = System.currentTimeMillis()
    try f finally spans.synchronized {
      spans += Span(name, parent, t0, System.currentTimeMillis())
    }
  }

  // SparkListener totals over the whole run, and one span per job
  final class Exec {
    var cpuNs, runMs, gcMs, shuffleWrite, spill, result = 0L
    var jobs, stages, tasks = 0L
  }
  val exec = new Exec
  /** Zero the totals: they then cover only what runs from here on. */
  def resetExec(): Unit = exec.synchronized {
    exec.cpuNs = 0; exec.runMs = 0; exec.gcMs = 0; exec.shuffleWrite = 0
    exec.spill = 0; exec.result = 0; exec.jobs = 0; exec.stages = 0; exec.tasks = 0
  }
  val jobSpans = mutable.ArrayBuffer[Span]()
  private val jobStart = mutable.Map[Int, (Long, String)]()

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = exec.synchronized {
      exec.jobs += 1
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("")
      jobStart(e.jobId) = (e.time, g)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = exec.synchronized {
      jobStart.remove(e.jobId).foreach { case (t0, g) =>
        jobSpans += Span(s"job${e.jobId}", g, t0, e.time)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      exec.synchronized { exec.stages += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = exec.synchronized {
      exec.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        exec.cpuNs += m.executorCpuTime
        exec.runMs += m.executorRunTime
        exec.gcMs += m.jvmGCTime
        exec.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        exec.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        exec.result += m.resultSize
      }
    }
  }

  /** Per-batch progress of every streaming query, as plain maps. */
  val progress = mutable.ArrayBuffer[Map[String, Any]]()
  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      def dur(k: String): Long = if (d.containsKey(k)) d.get(k).longValue else 0L
      val obs = Option(p.observedMetrics).flatMap(m => Option(m.get("graft_parse")))
      def ob(k: String): Long = obs.map(r => r.getAs[Long](k)).getOrElse(0L)
      val st = p.stateOperators.headOption
      val row = Map[String, Any](
        "query" -> p.id.toString,
        "batch" -> p.batchId,
        "ts" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "rows" -> p.numInputRows,
        "end_offset" -> p.sources.headOption.map(_.endOffset).getOrElse("0"),
        "latest_offset_ms" -> dur("latestOffset"),
        "query_planning_ms" -> dur("queryPlanning"),
        "wal_commit_ms" -> dur("walCommit"),
        "add_batch_ms" -> dur("addBatch"),
        "commit_offsets_ms" -> dur("commitOffsets"),
        "get_batch_ms" -> dur("getBatch"),
        "trigger_ms" -> dur("triggerExecution"),
        "state_commit_ms" -> st.map(_.commitTimeMs).getOrElse(0L),
        "state_bytes" -> st.map(_.memoryUsedBytes).getOrElse(0L),
        "regex_drop" -> ob("regex_drop"),
        "regex_drop_fresh" -> ob("regex_drop_fresh"),
        "cast_kill" -> ob("cast_kill"))
      progress.synchronized { progress += row }
    }
  }

  def attach(spark: SparkSession): Unit = if (on) {
    spark.sparkContext.addSparkListener(listener)
    spark.streams.addListener(streamListener)
  }

  def execJson(wallS: Double, cores: Int): Map[String, Any] = exec.synchronized {
    Map(
      "cpu_s" -> exec.cpuNs / 1e9,
      "core_util" -> (if (wallS > 0) exec.runMs / 1e3 / (wallS * cores) else 0.0),
      "shuffle_write_bytes" -> exec.shuffleWrite,
      "spill_bytes" -> exec.spill,
      "result_bytes" -> exec.result,
      "gc_s" -> exec.gcMs / 1e3,
      "jobs" -> exec.jobs,
      "stages" -> exec.stages,
      "tasks" -> exec.tasks)
  }

  def spansJson: Seq[Map[String, Any]] =
    (spans.synchronized(spans.toList) ++ exec.synchronized(jobSpans.toList)).map { s =>
      Map("name" -> s.name, "parent" -> s.parent, "start_ms" -> s.startMs, "end_ms" -> s.endMs)
    }
}

object Common {
  def session(cores: Int, app: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Process uptime in seconds — the JVM-start end of `setup_s`. */
  def uptimeS: Double =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb: Double = try {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0) finally src.close()
  } catch { case _: Exception => 0.0 }
}
