package perfbench

import graft.{Merge, Model}
import graft.dsl.EsQueryJson
import graft.streaming.{BucketedIndex, Pipeline, SketchTable}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

/** One change-data-capture run around `Pipeline.startIncremental`: the
  * harness commits change-log files by atomic rename, and a poller records
  * when `_MANIFEST` first names each stream batch (the moment the batch is
  * queryable). Files map to batches through the checkpoint's source log,
  * never through row counts (`numInputRows` counts every re-read of the
  * uncached batch). */
final class CdcRun(spark: SparkSession, val cfg: Pipeline.Config, nBuckets: Int) {
  val commitNs = TrieMap.empty[String, Long] // file name -> rename time
  val publishNs = TrieMap.empty[Long, Long] // stream batch -> first seen in _MANIFEST
  @volatile private var lastSeen = -1L
  @volatile private var polling = true
  private var query: StreamingQuery = _

  private val poller = new Thread("perfbench-manifest-poller") {
    setDaemon(true)
    override def run(): Unit = while (polling) {
      try {
        val applied = BucketedIndex.readHeader(cfg.indexDir).get("appliedBatch").map(_.toLong)
        applied.foreach { a =>
          if (a > lastSeen) {
            val now = System.nanoTime()
            (math.max(lastSeen + 1, 0L) to a).foreach(b => publishNs.putIfAbsent(b, now))
            lastSeen = a
          }
        }
      } catch { case _: java.io.IOException => () }
      Thread.sleep(2)
    }
  }

  def start(): Unit = {
    Files.createDirectories(Paths.get(cfg.changeLogDir))
    poller.start()
    query = Pipeline.startIncremental(spark, cfg, nBuckets)
  }

  private var lastMtimeMs = 0L

  /** Commit one staged file: an atomic rename into the change-log dir. The
    * file source admits files in modification-time order, so each commit
    * gets a strictly later mtime than the one before: batches then follow
    * commit order, as they would behind a real change-log writer. */
  def commit(s: Staged): Long = synchronized {
    val dst = Paths.get(cfg.changeLogDir, s.path.getFileName.toString)
    lastMtimeMs = math.max(System.currentTimeMillis(), lastMtimeMs + 1)
    Files.setLastModifiedTime(s.path, java.nio.file.attribute.FileTime.fromMillis(lastMtimeMs))
    Files.move(s.path, dst, StandardCopyOption.ATOMIC_MOVE)
    val t = System.nanoTime()
    commitNs.put(dst.getFileName.toString, t)
    t
  }

  def applied: Long = lastSeen

  /** Stream batch id -> change-log file names, from the checkpoint's file
    * source log (`sources/0/<batch>` and its `.compact` roll-ups). */
  def batchFiles(): Map[Long, Seq[String]] = {
    val entry = "\"path\":\"([^\"]+)\".*?\"batchId\":(\\d+)".r
    Fs.list(Paths.get(cfg.checkpointDir, "sources", "0"))
      .filter(_.getFileName.toString.matches("\\d+(\\.compact)?"))
      .flatMap(p => try Files.readAllLines(p).asScala.toSeq catch { case _: java.io.IOException => Seq.empty })
      .flatMap(l => entry.findFirstMatchIn(l).map(m =>
        m.group(2).toLong -> m.group(1).split('/').last))
      .distinct.groupBy(_._1).map { case (b, fs) => b -> fs.map(_._2).sorted }
  }

  /** File names covered by a published batch. */
  def publishedFiles(files: Map[Long, Seq[String]] = batchFiles()): Set[String] =
    files.collect { case (b, fs) if b <= lastSeen => fs }.flatten.toSet

  /** Wait until every committed file is published and the stream has
    * reported the progress of that last batch (it does so after the batch
    * body returns); false on timeout. */
  def drain(timeoutS: Double): Boolean = {
    val t0 = System.nanoTime()
    while (Stats.secondsSince(t0) < timeoutS) {
      if (query.exception.isDefined) return false
      if (commitNs.keySet.subsetOf(publishedFiles()) &&
          query.recentProgress.exists(p => p.batchId >= lastSeen && p.durationMs.containsKey("addBatch")))
        return true
      Thread.sleep(20)
    }
    false
  }

  /** Stop the stream and the poller; returns the batches' progress. */
  def stop(): Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = {
    query.stop()
    polling = false
    poller.join()
    query.exception.foreach(e => System.err.println(s"[perfbench] stream failed: ${e.getMessage}"))
    query.recentProgress.toSeq.filter(_.durationMs.containsKey("addBatch"))
  }
}

/** The CDC workloads: an open-loop trickle into a standing index through
  * `Pipeline.startIncremental`, with Zipf keys beside one closed-loop
  * search client (cdc_serve) or with uniform keys and no reads
  * (cdc_ingest); their output checks and the traced per-step replay. */
object Cdc {

  val serveKeys = 20000
  val servePerFile = 100
  val serveFilesPerSecond = 5
  val serveBuckets = 16
  /** Longer than a batch takes on 4 cores (3-5 s), so batches start on the
    * trigger grid and every window holds the same number of them. With a
    * 1 s trigger the batches ran back to back and 5, 6 or 7 of them fit a
    * 20 s window depending on host speed, which swung freshness by ±20%. */
  val serveTriggerSeconds = 6

  def serveCfg(dir: Path, trigger: Int): Pipeline.Config = Pipeline.Config(
    changeLogDir = dir.resolve("changelog").toString, indexDir = dir.resolve("index").toString,
    checkpointDir = dir.resolve("checkpoint").toString,
    quarantineDir = Some(dir.resolve("quarantine").toString),
    triggerSeconds = trigger, maxFilesPerTrigger = 1000, vacuumEveryBatches = 5,
    sketchDir = Some(dir.resolve("sketch").toString), vacuumKeepManifests = 8,
    compactAfterDirs = 16)

  /** The search client's body mix: (kind, body). */
  val bodies: Seq[(String, String)] = Seq(
    "search" -> """{"query":{"term":{"info.cat":"c7"}},"sort":["id"],"size":100}""",
    "search" -> ("""{"query":{"bool":{"must":[{"term":{"info.cat":"c3"}}],""" +
      """"filter":[{"range":{"info.val":{"gte":"500"}}}]}},"sort":["id"],"size":100}"""),
    "search" -> ("""{"query":{"prefix":{"info.name":"n12"}},""" +
      """"sort":[{"info.val":{"order":"desc"}},"id"],"from":10,"size":20}"""),
    "search" -> """{"query":{"ids":{"values":["k0","k1","k2","k3","k5","k8","k13","k21","k34","k55"]}},"sort":["id"]}""",
    "aggs" -> ("""{"size":0,"aggs":{"by_cat":{"terms":{"field":"info.cat","size":5}},""" +
      """"names":{"cardinality":{"field":"info.name"}},""" +
      """"vals":{"percentiles":{"field":"info.val","percents":[50,90]}}}}"""),
    "count" -> """{"query":{"range":{"info.val":{"lt":"100"}}}}""")

  /** Build one body's result frames (the layer's public entry points). */
  def build(df: DataFrame, kind: String, body: String): Seq[DataFrame] = kind match {
    case "search" => Seq(EsQueryJson.search(df, body))
    case "aggs" => EsQueryJson.aggregations(df, body).toSeq.sortBy(_._1).map(_._2)
    case "count" => Seq(EsQueryJson.countApi(df, body))
  }

  /** Order-free canonical text of a result, for the output check. */
  def canon(frames: Seq[DataFrame]): Seq[String] = frames.map { f =>
    def v(x: Any): String = x match {
      case null => "null"
      case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, y) => s"${v(k)}=${v(y)}" }.sorted.mkString("{", ",", "}")
      case s: scala.collection.Seq[_] => s.map(v).mkString("[", ",", "]")
      case r: Row => r.toSeq.map(v).mkString("(", ",", ")")
      case d: Double => BigDecimal(d).setScale(9, BigDecimal.RoundingMode.HALF_EVEN).toString
      case o => o.toString
    }
    f.collect().map(v).toSeq.mkString("\n")
  }

  def serve(env: Env, res: Result): Unit =
    serveRun(env, res, serveKeys, env.seconds, serveTriggerSeconds, "cdc_serve")

  /** The same trickle with uniform keys (skew 0: almost every mutation is
    * its own key, as in a backfill) and no search client. */
  def ingest(env: Env, res: Result): Unit =
    serveRun(env, res, serveKeys, env.seconds, serveTriggerSeconds, "cdc_ingest",
      skew = 0.0, searchClient = false)

  def serveRun(env: Env, res: Result, keys: Int, seconds: Int, trigger: Int, name: String,
               skew: Double = 1.1, searchClient: Boolean = true): Unit = {
    val spark = env.spark
    val dir = env.work.resolve(name)
    val nFiles = seconds * serveFilesPerSecond
    val setup0 = System.nanoTime()
    val cfg = serveCfg(dir, trigger)
    val staged = env.step(res, "generate")(LoadGen.zipfTrickle(spark, env.seed, dir.resolve("gen"),
        dir.resolve("stage"), "serve-", nFiles, servePerFile, keys, skew = skew, deleteFrac = 0.05,
        malformedFrac = 0.01, seq0 = keys.toLong))
    // the standing index, published by the composed batch body as batch
    // -1 so that stream batch 0 is not mistaken for an applied retry
    env.step(res, "bootstrap")(Pipeline.applyIncrementalBatch(
      spark, cfg, LoadGen.bootstrap(spark, env.seed, keys), -1L, serveBuckets))
    if (searchClient) env.step(res, "search_warmup")(bodies.foreach { case (k, b) =>
      build(BucketedIndex.read(spark, cfg.indexDir), k, b).foreach(_.collect()) })
    res.setupS += Stats.secondsSince(setup0)
    val run = new CdcRun(spark, cfg, serveBuckets)
    val before = env.countersSnapshot()
    run.start()
    // the window opens just after a trigger fires (Spark aligns triggers to
    // multiples of the interval since the epoch), so every run sees the same
    // phase between commits and batch starts
    val periodMs = trigger * 1000L
    val nowMs = System.currentTimeMillis()
    Thread.sleep((nowMs / periodMs + 1) * periodMs + 200 - nowMs)
    val t0 = System.nanoTime()
    val deadline = t0 + seconds * 1000000000L

    // open-loop generator: file i is due at t0 + i/rate, whether or not
    // the pipeline keeps up
    val lateNs = new java.util.concurrent.atomic.AtomicLong()
    val commitFile = (s: Staged) => run.commit(s)
    val gen = new Thread("perfbench-loadgen") {
      override def run(): Unit = staged.zipWithIndex.foreach { case (s, i) =>
        val due = t0 + i * 1000000000L / serveFilesPerSecond
        val wait = due - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
        val t = commitFile(s)
        lateNs.accumulateAndGet(t - due, (a, b) => math.max(a, b))
      }
    }
    gen.start()

    // one closed-loop search client against BucketedIndex.read, or none
    val searchLat = scala.collection.mutable.ArrayBuffer[Double]()
    var searches = 0
    var searchFailed = 0
    val readPaths = scala.collection.mutable.ArrayBuffer[Double]()
    val sc = spark.sparkContext
    if (!searchClient) Thread.sleep(math.max(0L, (deadline - System.nanoTime()) / 1000000L))
    while (searchClient && System.nanoTime() < deadline) {
      val (kind, body) = bodies(searches % bodies.size)
      val req = s"search-$searches"
      searches += 1
      val s0 = System.nanoTime()
      val root = s"$name.search"
      env.spans.time(root, req) {
        try {
          SparkCounters.tag(sc, req, "build")
          readPaths += BucketedIndex.readManifest(cfg.indexDir).size
          val df = env.spans.time("bucketed_index.read", req, root)(BucketedIndex.read(spark, cfg.indexDir))
          val frames = env.spans.time("es_query.build", req, root)(build(df, kind, body))
          SparkCounters.tag(sc, req, "exec")
          env.spans.time("es_query.exec", req, root)(frames.foreach(_.collect()))
          searchLat += Stats.secondsSince(s0)
        } catch {
          case e: Exception =>
            searchFailed += 1
            System.err.println(s"[perfbench] $req failed: ${e.getMessage}")
        } finally SparkCounters.tag(sc, "", "")
      }
    }
    val windowS = Stats.secondsSince(t0)
    gen.join()
    val drained = run.drain(120)
    val wall = Stats.secondsSince(t0)
    val progress = run.stop()
    res.info("drain_s") = wall - windowS
    val after = env.countersSnapshot()

    val files = run.batchFiles()
    val published = run.publishedFiles(files)
    val batchOf = files.toSeq.flatMap { case (b, fs) => fs.map(_ -> b) }.toMap
    val rowsOf = staged.map(s => s.path.getFileName.toString -> s).toMap
    val fresh = published.toSeq.map(f => (run.publishNs(batchOf(f)) - run.commitNs(f)) / 1e9)
    res.attempted += run.commitNs.size + searches
    res.failed += run.commitNs.keySet.count(f => !published(f)) + searchFailed
    res.check("stream drained every committed file", drained, s"${published.size}/${run.commitNs.size} files published")

    // delivered rate: committed mutations / (first commit -> last publish).
    // The closed-loop search rate and the ingest capacity (mutations per
    // second spent in batches) both swung by 0.3 (IQR / median) across
    // seeds with the batches idle part of each trigger period; they stay
    // in the record only
    val mutations = published.toSeq.map(f => rowsOf(f).rows).sum
    val lastPublish = published.toSeq.map(f => run.publishNs(batchOf(f))).max
    val busyS = progress.flatMap(p => Option(p.durationMs.get("addBatch"))).map(_.toDouble / 1e3).sum
    res.e2e("throughput_per_s") = mutations / ((lastPublish - t0) / 1e9)
    res.named("delivered_mut_per_s") = res.e2e("throughput_per_s")
    res.named("ingest_mut_per_busy_s") = mutations / busyS
    if (searchClient) res.named("searches_per_s") = searchLat.size / windowS
    res.e2e("latency_p50_s") = Stats.p50(fresh)
    res.e2e("latency_p90_s") = Stats.p90(fresh)
    res.named("fresh_p50_s") = Stats.p50(fresh)
    res.named("fresh_p90_s") = Stats.p90(fresh)
    if (searchClient) {
      res.named("search_p50_s") = Stats.p50(searchLat.toSeq)
      res.named("search_p90_s") = Stats.p90(searchLat.toSeq)
    }
    res.info("searches") = searches
    res.info("files_committed") = run.commitNs.size

    pipelineLayers(spark, res, run, progress, files, published, rowsOf)
    if (searchClient) {
      res.layer("bucketed_index.read_p50_s", Stats.p50(env.spans.seconds("bucketed_index.read")), "s")
      res.layer("bucketed_index.read_paths", Stats.p50(readPaths.toSeq), "count")
      res.layer("es_query.build_p50_s", Stats.p50(env.spans.seconds("es_query.build")), "s")
      res.layer("es_query.exec_p50_s", Stats.p50(env.spans.seconds("es_query.exec")), "s")
      res.layer("es_query.jobs_per_search",
        env.counters.map(_.jobsWhere(_._1.startsWith("search-")).toDouble / math.max(1, searches)).getOrElse(0.0), "count")
    }
    res.layer("loadgen.late_max_s", lateNs.get() / 1e9, "s")
    env.sparkLayers(res, after - before, wall)

    // output checks, outside the timed region
    val checks0 = System.nanoTime()
    val committed = spark.read.schema(Model.mutationSchema)
      .parquet(run.commitNs.keys.toSeq.sorted.map(f => Paths.get(cfg.changeLogDir, f).toString): _*)
    val all = LoadGen.bootstrap(spark, env.seed, keys).unionByName(committed)
    val fold = Merge.fold(all.filter(!Pipeline.isMalformed)).persist()
    val index = BucketedIndex.read(spark, cfg.indexDir).persist()
    checkIndex(res, index, fold)
    val injected = staged.map(_.malformed).sum
    val quarantined = spark.read.parquet(s"${cfg.quarantineDir.get}/*").count()
    res.check("quarantine holds every malformed row", quarantined == injected,
      s"quarantined $quarantined, injected $injected")
    bodies.zipWithIndex.foreach { case ((kind, body), i) =>
      val a = canon(build(index, kind, body))
      val b = canon(build(fold, kind, body))
      res.check(s"search body $i on the index equals it on the fold", a == b, s"$kind ${a.size} frames")
    }
    fold.unpersist()
    index.unpersist()
    res.info("step_checks_s") = Stats.secondsSince(checks0)
    if (env.trace) replay(env, res, cfg, serveBuckets, files, published,
      Some(LoadGen.bootstrap(spark, env.seed, keys)))
  }

  /** `pipeline.*` and `bucketed_index.bytes_per_live_doc` from the stream's
    * progress, the source log and the final index. */
  def pipelineLayers(spark: SparkSession, res: Result, run: CdcRun,
                     progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress],
                     files: Map[Long, Seq[String]], published: Set[String],
                     rowsOf: Map[String, Staged]): Unit = {
    val batches = files.keys.filter(_ <= run.applied).toSeq.sorted
    val mutations = published.toSeq.map(f => rowsOf(f).rows).sum.toDouble
    val startMs = progress.map(p => p.batchId -> java.time.Instant.parse(p.timestamp).toEpochMilli).toMap
    // the wall clock at which each file was renamed, from its nanoTime
    val nanoToMs = System.currentTimeMillis() - System.nanoTime() / 1000000L
    val commitMs = run.commitNs.map { case (f, ns) => f -> (ns / 1000000L + nanoToMs) }
    val waits = for (b <- batches; s <- startMs.get(b).toSeq; f <- files(b)) yield (s - commitMs(f)) / 1e3
    val backlog = batches.flatMap(b => startMs.get(b).map { s =>
      commitMs.count { case (f, c) => c <= s && !files.exists { case (b2, fs) => b2 < b && fs.contains(f) } }
    })
    res.layer("pipeline.batches", batches.size.toDouble, "count")
    res.layer("pipeline.batch_p50_s", Stats.p50(progress.flatMap(p =>
      Option(p.durationMs.get("addBatch")).map(_.toDouble / 1e3))), "s")
    res.layer("pipeline.mutations_per_batch", mutations / math.max(1, batches.size), "count")
    res.layer("pipeline.trigger_wait_p50_s", Stats.p50(waits), "s")
    res.layer("pipeline.backlog_files_max", if (backlog.isEmpty) 0.0 else backlog.max.toDouble, "count")
    res.layer("pipeline.source_rows_per_mutation",
      progress.map(_.numInputRows).sum / math.max(1.0, mutations), "ratio")
    val manifest = BucketedIndex.readManifest(run.cfg.indexDir)
    val liveBytes = manifest.toSeq.map { case (k, v) =>
      Fs.bytes(Paths.get(run.cfg.indexDir, "batches", s"b$v", s"bucket=$k")) }.sum
    val liveDocs = BucketedIndex.read(spark, run.cfg.indexDir).count()
    res.layer("bucketed_index.bytes_per_live_doc", liveBytes.toDouble / math.max(1L, liveDocs), "B")
  }

  /** The final index must equal `Merge.fold` of every committed mutation. */
  def checkIndex(res: Result, index: DataFrame, fold: DataFrame): Unit = {
    def docs(df: DataFrame) = df.collect().map(r => r.getString(0) -> r.getMap[String, String](1).toMap).toMap
    val got = docs(index)
    val want = docs(fold)
    val differ = (got.keySet ++ want.keySet).count(k => got.get(k) != want.get(k))
    res.check("final index equals Merge.fold of the committed mutations", differ == 0,
      s"${got.size} docs in the index, ${want.size} in the fold, $differ differ")
  }

  /** Traced runs replay every published batch through the public steps in
    * the order `Pipeline.applyIncrementalBatch` calls them (quarantine,
    * sketch tables, bucket fold+write, compaction, vacuum) into a separate
    * index, to split a batch's time by step. `Merge.foldChanges` is timed
    * on its own into the noop sink. One compaction and one vacuum always
    * run at the end, so both steps are measured on every replay. */
  def replay(env: Env, res: Result, cfg: Pipeline.Config, nBuckets: Int,
             files: Map[Long, Seq[String]], published: Set[String],
             bootstrap: Option[DataFrame]): Unit = {
    val spark = env.spark
    val dir = Paths.get(cfg.indexDir).getParent.resolve("replay")
    Fs.delete(dir)
    val rcfg = cfg.copy(indexDir = dir.resolve("index").toString,
      quarantineDir = cfg.quarantineDir.map(_ => dir.resolve("quarantine").toString),
      sketchDir = cfg.sketchDir.map(_ => dir.resolve("sketch").toString))
    bootstrap.foreach(b => Pipeline.applyIncrementalBatch(spark, rcfg, b, -1L, nBuckets))
    val scheme = if (rcfg.compactAfterDirs > 0) "evenOdd" else "plain"
    val sp = env.spans
    var touched = 0L
    var written = 0L
    var goodRows = 0L
    var keys = 0L
    val batches = files.keys.toSeq.sorted.filter(b => files(b).forall(published))
    val root = "replay.batch"
    batches.foreach { b => sp.time(root, s"batch-$b") {
      val req = s"batch-$b"
      val batch = spark.read.schema(Model.mutationSchema)
        .parquet(files(b).map(f => Paths.get(cfg.changeLogDir, f).toString): _*)
      val good = batch.filter(!Pipeline.isMalformed)
      rcfg.quarantineDir.foreach { qd =>
        sp.time("pipeline.quarantine", req, root)(batch.filter(Pipeline.isMalformed)
          .withColumn("batch_id", lit(b)).write.mode("overwrite").parquet(s"$qd/b$b"))
      }
      rcfg.sketchDir.foreach(sd => sp.time("sketch_table.update", req, root)(
        SketchTable.updateForBatch(spark, sd, good, b)))
      val indexId = if (rcfg.compactAfterDirs > 0) 2 * b else b
      touched += sp.time("bucketed_index.apply", req, root)(BucketedIndex.applyBatch(
        spark, rcfg.indexDir, good, indexId, nBuckets, streamBatchId = b, scheme = scheme)).size
      written += Fs.bytes(Paths.get(rcfg.indexDir, "batches", s"b$indexId"))
      if (rcfg.compactAfterDirs > 0 &&
          BucketedIndex.readManifest(rcfg.indexDir).values.toSet.size > rcfg.compactAfterDirs)
        sp.time("bucketed_index.compact", req, root)(BucketedIndex.compact(spark, rcfg.indexDir, 2 * b + 1, nBuckets))
      if (rcfg.vacuumEveryBatches > 0 && b > 0 && b % rcfg.vacuumEveryBatches == 0)
        sp.time("bucketed_index.vacuum", req, root) {
          BucketedIndex.vacuum(rcfg.indexDir, rcfg.vacuumKeepManifests)
          rcfg.sketchDir.foreach(SketchTable.vacuum)
        }
      sp.time("merge.fold", req, root)(Merge.foldChanges(good).write.mode("overwrite").format("noop").save())
      goodRows += good.count()
      keys += Merge.foldChanges(good).count()
    }}
    val last = BucketedIndex.readManifest(rcfg.indexDir).values.max
    sp.time("bucketed_index.compact", "final")(BucketedIndex.compact(spark, rcfg.indexDir, last + 1, nBuckets))
    sp.time("bucketed_index.vacuum", "final")(BucketedIndex.vacuum(rcfg.indexDir, rcfg.vacuumKeepManifests))
    val n = math.max(1, batches.size)
    res.layer("bucketed_index.apply_p50_s", Stats.p50(sp.seconds("bucketed_index.apply")), "s")
    res.layer("bucketed_index.touched_bucket_frac", touched.toDouble / (n.toLong * nBuckets), "ratio")
    res.layer("bucketed_index.write_bytes_per_mutation", written.toDouble / math.max(1L, goodRows), "B")
    res.layer("bucketed_index.compact_s", Stats.p50(sp.seconds("bucketed_index.compact")), "s")
    res.layer("bucketed_index.vacuum_s", Stats.p50(sp.seconds("bucketed_index.vacuum")), "s")
    res.layer("merge.fold_p50_s", Stats.p50(sp.seconds("merge.fold")), "s")
    res.layer("merge.keys_per_mutation", keys.toDouble / math.max(1L, goodRows), "ratio")
    if (rcfg.sketchDir.isDefined)
      res.layer("sketch_table.update_p50_s", Stats.p50(sp.seconds("sketch_table.update")), "s")
    res.info("replayed_batches") = batches.size
    Fs.delete(dir)
  }
}
