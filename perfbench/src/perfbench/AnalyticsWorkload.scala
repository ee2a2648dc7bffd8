package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.SparkEntry

/** Closed-loop passes over a list of registered queries, each run through
  * the noop sink. The first pass writes every query's rows to parquet for
  * the oracle check and counts as set-up; the passes that follow it, for
  * `seconds` and at least two of them, are measured. */
final class AnalyticsWorkload(ctx: Ctx, tables: String, genS: Double) {
  private val spark = ctx.spark
  private val sc = spark.sparkContext
  private val queries: Seq[String] =
    ctx.conf(s"analytics.${ctx.workload}").elements().asScala.map(_.asText).toSeq
  private val queryFns = SparkEntry.queries

  def run(): Outcome = {
    val out = new Outcome
    val missing = queries.filterNot(queryFns.contains)
    missing.foreach(q => out.fail(s"$q is not a registered query"))
    val live = queries.filter(queryFns.contains)

    // ---- set-up: the correctness pass (cold), rows kept for the oracle
    val s0 = System.nanoTime()
    live.foreach { q =>
      Counters.tag(sc, "setup", q)
      out.attempted += 1
      try queryFns(q)(spark, tables).coalesce(1).write.mode("overwrite")
        .parquet(ctx.work.resolve("out").resolve(q).toString)
      catch { case e: Exception => out.fail(s"$q failed: ${e.getMessage.take(300)}") }
      SparkEntry.oracleSql.get(q) match {
        case Some(sql) => out.oracle(q) = sql
        case None => out.fail(s"$q has no oracle SQL")
      }
    }
    out.e2e("setup_s") = genS + ctx.sessionS + (System.nanoTime() - s0) / 1e9

    // ---- measured window: whole passes until `seconds` have elapsed
    val total = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val build = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    var executions = 0
    var passesRun = 0
    val w0 = System.nanoTime()
    val deadline = w0 + ctx.seconds * 1000000000L
    ctx.tracer.span("window", "bench") {
      do {
        val p0 = System.nanoTime()
        live.foreach { q =>
          val t0 = System.nanoTime()
          try {
            Counters.tag(sc, "build", q)
            val df = ctx.tracer.span(s"build:$q", "core")(queryFns(q)(spark, tables))
            val t1 = System.nanoTime()
            Counters.tag(sc, "action", q)
            ctx.tracer.span(s"action:$q", "operators")(
              df.write.format("noop").mode("overwrite").save())
            build.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += (t1 - t0) / 1e9
            total.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e9
          } catch { case e: Exception => out.fail(s"$q failed: ${e.getMessage.take(300)}") }
          executions += 1
        }
        passesRun += 1
        Log(f"pass $passesRun: ${(System.nanoTime() - p0) / 1e9}%.3f s")
      } while (System.nanoTime() < deadline || passesRun < 2)
    }
    val windowS = (System.nanoTime() - w0) / 1e9
    out.attempted += executions
    out.e2e("peak_rss_mb") = Main.peakRssMb()
    Counters.tag(sc, "check")
    ctx.counters.settle()

    // one pass = each query once, at its median time over the window
    val perQuery = live.map(q => q -> Stats.median(total.getOrElse(q, mutable.ArrayBuffer.empty).toSeq))
    val passes = executions.toDouble / math.max(1, live.size)
    out.e2e("pass_s") = perQuery.map(_._2).sum
    out.e2e("drain_rps") = live.size / out.e2e("pass_s")
    out.e2e("fresh_ms_p50") = Stats.quantile(perQuery.map(_._2 * 1e3), 0.5)
    out.e2e("fresh_ms_p95") = Stats.quantile(perQuery.map(_._2 * 1e3), 0.95)

    val window: ((String, String)) => Boolean = k => k._1 == "build" || k._1 == "action"
    val acc = ctx.counters.sum(window)
    Counters.metrics(acc, windowS, ctx.cores).foreach { case (k, v) =>
      // counts and seconds per pass, so a faster pass does not inflate them
      out.layers(k) = if (k == "spark.cpu_util") v else v / passes
    }
    out.layers("core.build_s") = live.map(q => Stats.median(build.getOrElse(q, mutable.ArrayBuffer.empty).toSeq)).sum
    out.layers("core.jobs_build") = ctx.counters.sum(_._1 == "build").jobs / passes
    perQuery.foreach { case (q, s) =>
      out.layers(s"query.$q.s") = s
      val n = total.get(q).map(_.size).getOrElse(0)
      out.layers(s"query.$q.cpu_s") =
        ctx.counters.sum(k => window(k) && k._2 == q).cpuNs / 1e9 / math.max(1, n)
    }
    out.layers("trace.overhead_frac") = ctx.tracer.overheadNs / 1e9 / windowS
    out
  }
}
