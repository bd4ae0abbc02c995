package perfbench

import graft.SparkEntry
import graft.queries.{Tables, TierC}
import java.nio.file.Files

/** The pinned corpus rows, run the way `graft.Bench` runs them: one
  * session, noop materialisation, `TierC.warmShared` in set-up. A first
  * pass writes every row's result to parquet for the DuckDB oracle check
  * (run.py) and doubles as the warm-up; timed passes follow until the
  * window closes. */
object CorpusSample {

  def run(env: Env, res: Result): Unit = {
    val spark = env.spark
    val sc = spark.sparkContext
    val sf = env.sfDir
    val queries = SparkEntry.queries
    val oracle = SparkEntry.oracleSql
    val missing = env.rows.filterNot(queries.contains)
    res.check("every pinned row exists in SparkEntry.queries", missing.isEmpty, missing.mkString(","))
    val rows = env.rows.filter(queries.contains)
    def materialize(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()

    // set-up: the generic scan+join warm-up graft.Bench runs, then the
    // shared fixtures every fixture-family row reads
    val s0 = System.nanoTime()
    val li = Tables.lineitem(spark, sf)
    val o = Tables.orders(spark, sf)
    env.step(res, "generic_warmup")(
      materialize(li.join(o, li("l_orderkey") === o("o_orderkey")).groupBy("l_returnflag").count()))
    val w0 = System.nanoTime()
    env.spans.time("queries.warm_shared", "setup")(TierC.warmShared(spark, sf))
    res.layer("queries.warm_shared_s", Stats.secondsSince(w0), "s")
    res.setupS += Stats.secondsSince(s0)

    // output pass (untimed): each row's result for the oracle check
    val o0 = System.nanoTime()
    val out = env.work.resolve("out")
    Files.createDirectories(out)
    var failedRows = Set.empty[String]
    rows.foreach { name =>
      try queries(name)(spark, sf).write.mode("overwrite").parquet(out.resolve(name).toString)
      catch { case e: Exception =>
        failedRows += name
        System.err.println(s"[perfbench] $name failed: ${e.getMessage}")
      }
    }
    Files.writeString(out.resolve("oracle_sql.json"),
      Json.value(rows.flatMap(n => oracle.get(n).map(n -> _)).toMap))

    res.info("step_output_pass_s") = Stats.secondsSince(o0)

    // timed passes
    val before = env.countersSnapshot()
    val rowS = scala.collection.mutable.ArrayBuffer[Double]()
    val passes = scala.collection.mutable.ArrayBuffer[Map[String, Double]]()
    val t0 = System.nanoTime()
    val deadline = t0 + env.seconds * 1000000000L
    var execs = 0
    while (passes.isEmpty || System.nanoTime() < deadline) {
      val p = passes.size
      val times = rows.map { name =>
        val req = s"p$p-$name"
        val r0 = System.nanoTime()
        execs += 1
        val root = "corpus_sample.row"
        val ok = env.spans.time(root, req) {
          try {
            SparkCounters.tag(sc, req, "build")
            val df = env.spans.time("queries.build", req, root)(queries(name)(spark, sf))
            SparkCounters.tag(sc, req, "exec")
            env.spans.time("queries.exec", req, root)(materialize(df))
            true
          } catch { case e: Exception =>
            failedRows += name
            System.err.println(s"[perfbench] $req failed: ${e.getMessage}")
            false
          } finally SparkCounters.tag(sc, "", "")
        }
        val s = Stats.secondsSince(r0)
        if (ok) rowS += s
        name -> s
      }
      passes += times.toMap
    }
    val wall = Stats.secondsSince(t0)
    val after = env.countersSnapshot()
    res.attempted += execs
    res.failed += execs - rowS.size
    res.info("passes") = passes.size
    res.info("rows") = rows.size
    res.info("failed_rows") = failedRows.toSeq.sorted

    res.e2e("throughput_per_s") = rowS.size / wall
    res.e2e("latency_p50_s") = Stats.p50(rowS.toSeq)
    res.e2e("latency_p90_s") = Stats.p90(rowS.toSeq)
    res.named("corpus_wall_s") = Stats.p50(passes.toSeq.map(_.values.sum))
    res.named("corpus_row_p50_s") = Stats.p50(rowS.toSeq)

    val perPass = passes.size.toDouble
    def spanSum(n: String) = env.spans.seconds(n).sum / perPass
    res.layer("queries.build_s", spanSum("queries.build"), "s")
    res.layer("queries.exec_s", spanSum("queries.exec"), "s")
    env.counters.foreach { c =>
      res.layer("queries.jobs", c.jobsWhere(t => t._1.startsWith("p") && t._2.nonEmpty) / perPass, "count")
      res.layer("queries.eager_jobs", c.jobsWhere(t => t._1.startsWith("p") && t._2 == "build") / perPass, "count")
    }
    Seq("a", "b", "c").foreach { tier =>
      res.layer(s"queries.tier_${tier}_s",
        Stats.p50(passes.toSeq.map(_.collect { case (n, s) if n.startsWith(tier) => s }.sum)), "s")
    }
    env.sparkLayers(res, after - before, wall)
  }
}
