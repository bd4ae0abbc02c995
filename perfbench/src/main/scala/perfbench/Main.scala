package perfbench

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** What one workload run measured and checked; written as JSON for run.py. */
final class Result {
  var attempted = 0L
  var failed = 0L
  val checks = mutable.ArrayBuffer[(String, Boolean, String)]()
  /** End-to-end metrics (the untraced contract). */
  val e2e = mutable.LinkedHashMap[String, Double]()
  /** Per-layer metrics: name -> (value, unit). */
  val layers = mutable.LinkedHashMap[String, (Double, String)]()
  /** The workload's own figures under their descriptive names. */
  val named = mutable.LinkedHashMap[String, Double]()
  val info = mutable.LinkedHashMap[String, Any]()
  val setupS = mutable.ArrayBuffer[Double]()

  def check(name: String, ok: Boolean, detail: String): Unit = {
    checks += ((name, ok, detail))
    if (!ok) System.err.println(s"[perfbench] CHECK FAILED: $name ($detail)")
  }
  def layer(name: String, v: Double, unit: String): Unit = layers(name) = (v, unit)

  def json: String = Json.obj(Seq(
    "attempted" -> attempted, "failed" -> failed,
    "checks" -> checks.toSeq.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) },
    "e2e" -> e2e.toMap, "named" -> named.toMap,
    "layers" -> layers.toSeq.map { case (n, (v, u)) => Map("name" -> n, "value" -> v, "unit" -> u) },
    "setup_s" -> setupS.toSeq, "info" -> info.toMap))
}

/** Everything a workload needs: the session, its inputs and the tracing. */
final case class Env(spark: SparkSession, seed: Long, seconds: Int, trace: Boolean, work: Path,
                     cores: Int, spans: Spans, counters: Option[SparkCounters],
                     sfDir: String, rows: Seq[String]) {

  def countersSnapshot(): Counts = {
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    counters.map(_.snapshot()).getOrElse(Counts(0, 0, 0, 0, 0))
  }

  def sparkLayers(res: Result, d: Counts, wallS: Double): Unit =
    if (counters.isDefined) SparkCounters.layerMetrics(d, wallS, cores)
      .foreach { case (n, v, u) => res.layer(n, v, u) }

  /** Time one step of the run into the record's `info` (not a metric). */
  def step[T](res: Result, name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally res.info(s"step_${name}_s") = Stats.secondsSince(t0)
  }
}

/** Benchmark entry point. run.py builds this project and launches it:
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work <dir> --out <result.json> --sf <dir> --rows <file>
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val trace = opts("trace") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(work)

    val spark = graft.Sessions.configure(SparkSession.builder().master(s"local[$cores]"), cores.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val counters = if (trace) Some(new SparkCounters) else None
    counters.foreach(spark.sparkContext.addSparkListener)
    val heap = new HeapSampler
    if (trace) heap.start()
    val rows = opts.get("rows").map(p =>
      scala.io.Source.fromFile(p).getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toSeq)
      .getOrElse(Seq.empty)
    val env = Env(spark, seed, seconds, trace, work.resolve(workload), cores, new Spans(trace),
      counters, opts.getOrElse("sf", ""), rows)
    Fs.delete(env.work)
    Files.createDirectories(env.work)

    val origin = System.nanoTime()
    val res = new Result
    res.info("jvm_start_to_main_s") =
      (System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    res.info("workload") = workload
    res.info("cores") = cores
    workload match {
      case "cdc_serve" => Cdc.serve(env, res)
      case "cdc_ingest" => Cdc.ingest(env, res)
      case "corpus_sample" => CorpusSample.run(env, res)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    if (trace) {
      Sweep.fill(env, res, workload)
      res.layer("jvm.heap_peak_mb", heap.stopAndPeakMb(), "MB")
      // the tracing hooks' own time, for run.py's overhead estimate when no
      // untraced twin of this run is recorded
      res.info("trace_hook_s") = (counters.map(_.hookNs.get()).getOrElse(0L) + heap.sampleNs.get()) / 1e9
      env.spans.writeJsonLines(Paths.get(opts("out") + ".spans.jsonl"), origin)
    }
    res.info("jvm_main_s") = Stats.secondsSince(origin)
    Files.writeString(Paths.get(opts("out")), res.json)
    spark.stop()
  }
}
