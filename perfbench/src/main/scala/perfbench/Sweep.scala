package perfbench

/** Traced runs report every per-layer metric on every workload. A layer the
  * workload itself never calls (the queries layer on the CDC workloads;
  * search on cdc_ingest; search, sketches and the load generator on
  * corpus_sample) is measured by a short, fixed run of the workload that
  * does call it, after the main workload and outside its window. Metrics
  * the main workload measured are never replaced. */
object Sweep {
  val serveKeys = 2000
  val serveSeconds = 3

  def fill(env: Env, res: Result, workload: String): Unit = {
    val sources = scala.collection.mutable.LinkedHashMap[String, String]()
    res.layers.keys.foreach(k => sources(k) = workload)
    def merge(from: Result, name: String): Unit = {
      from.layers.foreach { case (k, v) =>
        if (!res.layers.contains(k)) { res.layers(k) = v; sources(k) = name }
      }
      val bad = from.checks.filterNot(_._2).map(_._1)
      res.check(s"$name ran cleanly", from.failed == 0 && bad.isEmpty,
        s"${from.failed} failed operations; failed checks: ${bad.mkString("; ")}")
    }
    def sub(name: String, seconds: Int, rows: Seq[String]) = {
      val work = env.work.resolveSibling(s"sweep_$name")
      Fs.delete(work) // a stale checkpoint would resume an old stream
      env.copy(spans = new Spans(true), seconds = seconds, rows = rows, work = work)
    }
    if (workload != "cdc_serve") {
      val r = new Result
      // a 1 s trigger: the small index batches in ~2 s, and the run stays short
      Cdc.serveRun(sub("cdc_serve", serveSeconds, Nil), r, serveKeys, serveSeconds, 1, "sweep_cdc_serve")
      merge(r, "sweep:cdc_serve")
    }
    if (workload != "corpus_sample") {
      val r = new Result
      // the first pinned row of each tier
      val rows = Seq("a", "b", "c").flatMap(t => env.rows.find(_.startsWith(t)))
      CorpusSample.run(sub("corpus_sample", 1, rows), r)
      merge(r, "sweep:corpus_sample")
    }
    res.info("layer_source") = sources.toMap
  }
}
