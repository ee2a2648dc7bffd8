package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

import graft.core.GraftSession
import graft.obs.MetricsFeed

/** Everything a workload needs: the session, its instruments and the run's
  * parameters. `work` is the run's private scratch directory. */
final case class Ctx(spark: SparkSession, cfg: JsonNode, workload: String, seed: Long,
                     seconds: Int, work: Path, cores: Int, sessionS: Double,
                     tracer: Tracer, counters: Counters, progress: ProgressLog,
                     feed: MetricsFeed) {
  def conf(path: String): JsonNode =
    path.split('.').foldLeft(cfg)((n, k) => n.get(k)) match {
      case null => throw new IllegalArgumentException(s"config.json: missing '$path'")
      case n => n
    }
}

/** What one run measured and checked. */
final class Outcome {
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer.empty[String]
  val oracle = mutable.LinkedHashMap.empty[String, String]

  /** Record a failed check; `count` is how many attempted units it covers. */
  def fail(what: String, count: Long = 1): Unit = {
    failed += count
    problems += what
  }

  def check(ok: Boolean, what: => String, count: Long = 1): Unit =
    if (!ok) fail(what, count)
}

object Main {
  /** The library's modules, as span layers. */
  private val LayerNames =
    Seq("core", "streaming", "sources", "codec", "sinks", "operators", "obs")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opt("workload")
    val work = Paths.get(opt("work"))
    val cfg = new ObjectMapper().readTree(Files.readString(Paths.get(opt("config"))))
    val trace = opt("trace") == "1"
    val seed = opt("seed").toLong
    val cores = Runtime.getRuntime.availableProcessors()
    val tracer = new Tracer(trace, s"$workload-$seed-${System.currentTimeMillis()}")

    Log(s"$workload seed $seed")
    val t0 = System.nanoTime()
    val spark = tracer.span("session", "core")(GraftSession.local(cores, "perfbench"))
    val sessionS = (System.nanoTime() - t0) / 1e9
    Log("session ready")
    val counters = new Counters
    spark.sparkContext.addSparkListener(counters)
    val progress = new ProgressLog
    val feed = new MetricsFeed
    spark.streams.addListener(progress)
    spark.streams.addListener(feed)

    val ctx = Ctx(spark, cfg, workload, seed, opt("seconds").toInt, work, cores, sessionS,
      tracer, counters, progress, feed)
    // stopping the session on every path lets the JVM exit at once, with a
    // non-zero status when the workload threw
    try {
      val out = workload match {
        case "jdbc_envelope" => new StreamWorkload(ctx).run()
        case "corpus_vector" =>
          new AnalyticsWorkload(ctx, opt("tables"), opt("gen-seconds").toDouble).run()
        case other => throw new IllegalArgumentException(s"unknown workload '$other'")
      }
      if (trace) {
        val self = tracer.selfSeconds
        LayerNames.foreach(l => out.layers(s"layer.$l.self_s") = self.getOrElse(l, 0.0))
        out.layers("trace.spans") = tracer.spanCount.toDouble
        tracer.write(work.resolve("trace.jsonl"))
      }
      writeResult(work.resolve("result.json"), out)
    } finally {
      spark.streams.active.foreach(_.stop())
      spark.stop()
      Log("session stopped")
    }
  }

  /** Peak resident set of this JVM so far, from the kernel's high-water mark. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(0.0)

  private def writeResult(path: Path, out: Outcome): Unit = {
    val m = new ObjectMapper()
    val root = m.createObjectNode()
    val e2e = root.putObject("e2e")
    out.e2e.foreach { case (k, v) => e2e.put(k, v) }
    val layers = root.putObject("layers")
    out.layers.foreach { case (k, v) => layers.put(k, v) }
    root.put("attempted", out.attempted)
    root.put("failed", out.failed)
    val problems = root.putArray("problems")
    out.problems.foreach(problems.add)
    val oracle = root.putObject("oracle")
    out.oracle.foreach { case (k, v) => oracle.put(k, v) }
    Files.writeString(path, m.writerWithDefaultPrettyPrinter().writeValueAsString(root)): Unit
  }
}

/** Progress notes on stderr (kept in the run's JVM log). */
object Log {
  private val t0 = System.nanoTime()
  def apply(msg: String): Unit =
    System.err.println(f"[perfbench +${(System.nanoTime() - t0) / 1e9}%.2fs] $msg")
}
