package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.jdk.CollectionConverters._

/** Small statistics helpers shared by every workload. */
object Stats {
  /** Linear-interpolated quantile (numpy's default); NaN on empty input. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def p50(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def p90(xs: Seq[Double]): Double = quantile(xs, 0.9)

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

/** One span: a timed call into a layer's public function. `req` ties the
  * spans of one request together (batch id, search number or row name). */
final case class Span(name: String, startNs: Long, endNs: Long,
                      parent: String, req: String) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Spans are kept only when tracing is on; the
  * timed calls run either way, so traced and untraced runs execute the
  * same work. */
final class Spans(val enabled: Boolean) {
  private val buf = new ConcurrentLinkedQueue[Span]()

  def time[T](name: String, req: String, parent: String = "")(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally if (enabled) buf.add(Span(name, t0, System.nanoTime(), parent, req))
  }

  def all: Seq[Span] = buf.asScala.toSeq
  def seconds(name: String): Seq[Double] = all.filter(_.name == name).map(_.seconds)

  /** Spans as JSON lines, start/end relative to `originNs`. */
  def writeJsonLines(path: java.nio.file.Path, originNs: Long): Unit = {
    val lines = all.sortBy(_.startNs).map { s =>
      Json.obj(Seq("name" -> s.name, "req" -> s.req, "parent" -> s.parent,
        "start_s" -> (s.startNs - originNs) / 1e9, "end_s" -> (s.endNs - originNs) / 1e9))
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Spark listener counting jobs, task CPU, shuffle, spill and GC. Jobs are
  * attributed to the `perfbench.req` / `perfbench.phase` local properties
  * of the thread that started them, so per-search and per-row counts
  * exclude concurrent work of other threads. */
final class SparkCounters extends SparkListener {
  val jobs = new AtomicInteger()
  val taskCpuNs = new AtomicLong()
  val shuffleWriteBytes = new AtomicLong()
  val spillBytes = new AtomicLong()
  val gcMs = new AtomicLong()
  /** (request, phase) of every job started, in start order. */
  val jobTags = new ConcurrentLinkedQueue[(String, String)]()

  /** Time spent in these callbacks: the listener's own cost. */
  val hookNs = new AtomicLong()

  private def hook(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    hookNs.addAndGet(System.nanoTime() - t0)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = hook {
    jobs.incrementAndGet()
    val p = Option(e.properties)
    jobTags.add((p.map(_.getProperty("perfbench.req", "")).getOrElse(""),
      p.map(_.getProperty("perfbench.phase", "")).getOrElse("")))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = hook {
    val m = e.taskMetrics
    if (m != null) {
      taskCpuNs.addAndGet(m.executorCpuTime)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      gcMs.addAndGet(m.jvmGCTime)
    }
  }

  def snapshot(): Counts = Counts(jobs.get(), taskCpuNs.get(), shuffleWriteBytes.get(),
    spillBytes.get(), gcMs.get())

  def jobsWhere(f: ((String, String)) => Boolean): Int = jobTags.asScala.count(f)
}

final case class Counts(jobs: Int, taskCpuNs: Long, shuffleWriteBytes: Long,
                        spillBytes: Long, gcMs: Long) {
  def -(o: Counts): Counts = Counts(jobs - o.jobs, taskCpuNs - o.taskCpuNs,
    shuffleWriteBytes - o.shuffleWriteBytes, spillBytes - o.spillBytes, gcMs - o.gcMs)
}

object SparkCounters {
  /** Tag the calling thread's subsequent jobs. */
  def tag(sc: SparkContext, req: String, phase: String): Unit = {
    sc.setLocalProperty("perfbench.req", req)
    sc.setLocalProperty("perfbench.phase", phase)
  }

  /** `spark.*` per-layer metrics for one measured window. */
  def layerMetrics(d: Counts, wallS: Double, cores: Int): Seq[(String, Double, String)] = Seq(
    ("spark.jobs", d.jobs.toDouble, "count"),
    ("spark.task_cpu_s", d.taskCpuNs / 1e9, "s"),
    ("spark.core_util", d.taskCpuNs / 1e9 / (wallS * cores), "ratio"),
    ("spark.shuffle_write_mb", d.shuffleWriteBytes / 1e6, "MB"),
    ("spark.spill_mb", d.spillBytes / 1e6, "MB"),
    ("spark.gc_s", d.gcMs / 1e3, "s"))
}

/** Samples the JVM's heap use on a daemon thread; `peakMb` is the highest
  * sample seen. */
final class HeapSampler extends Thread("perfbench-heap") {
  setDaemon(true)
  @volatile private var running = true
  private val peak = new AtomicLong()
  /** Time spent sampling: the sampler's own cost. */
  val sampleNs = new AtomicLong()
  private val mem = java.lang.management.ManagementFactory.getMemoryMXBean
  override def run(): Unit = while (running) {
    val t0 = System.nanoTime()
    peak.accumulateAndGet(mem.getHeapMemoryUsage.getUsed, (a, b) => math.max(a, b))
    sampleNs.addAndGet(System.nanoTime() - t0)
    Thread.sleep(50)
  }
  def stopAndPeakMb(): Double = { running = false; join(); peak.get() / 1e6 }
}

/** Minimal JSON rendering for the result record (no extra dependency). */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
