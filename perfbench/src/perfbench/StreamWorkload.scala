package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.codec.ConnectJson
import graft.core.{Pipeline, PipelineRegistry, PipelineSpec}
import graft.sources.FileSource

/** The reference's JDBC-source task as a connector pipeline: `file`
  * source -> `mask private_info` -> `envelope_encode` -> `file` sink,
  * submitted as `PipelineSpec` JSON through `PipelineRegistry.submit` and
  * run by Structured Streaming over a file spool. Two phases share one
  * query: drain a pre-spooled backlog, then an open-loop tail published at
  * a fixed offered rate with Poisson arrivals. Outputs are checked once the
  * query has stopped. */
final class StreamWorkload(ctx: Ctx) {
  import StreamWorkload._

  private val spark = ctx.spark
  private val sc = spark.sparkContext
  private val wc = ctx.conf(s"streaming.${ctx.workload}")
  private val rpf = wc.get("records_per_file").asInt
  private val backlogFiles = wc.get("backlog_files").asInt
  private val maxFiles = wc.get("max_files_per_trigger").asInt
  private val offeredRps = wc.get("offered_rps").asDouble
  private val pacedS = ctx.conf("streaming.paced_share").asDouble * ctx.seconds
  private val triggerMs = ctx.conf("streaming.trigger_ms").asInt
  private val registry = new PipelineRegistry(spark)

  private val usersSchema = "id INT, name STRING, updated_at TIMESTAMP, private_info STRING"

  /** Mean `name` length that makes the encoded envelope average the
    * reference's record size (BASELINE.md: 528 B). */
  private lazy val nameChars: Int = {
    val masked = StructType.fromDDL(usersSchema)
    val fixed = s"""{"schema": ${ConnectJson.connectSchemaJson(masked, "users")}, "payload": """.length +
      """{"id":12345,"name":"","updated_at":1739695594000,"private_info":"CENSORED"}}""".length
    math.max(12, wc.get("envelope_bytes").asInt - fixed)
  }

  private def newFeed(seed: Long): UsersFeed = new UsersFeed(seed, rpf, nameChars)

  /** Directories of one pipeline instance. */
  private final case class Dirs(root: Path) {
    val spool: Path = root.resolve("spool")
    val stage: Path = root.resolve("stage")
    val sink: Path = root.resolve("sink")
    val checkpoint: Path = root.resolve("checkpoint")
    Files.createDirectories(spool)
    Files.createDirectories(stage)
  }

  private def spec(name: String, d: Dirs, availableNow: Boolean): PipelineSpec = {
    val m = new ObjectMapper()
    val root = m.createObjectNode()
    root.put("name", name)
    val src = root.putObject("source")
    src.put("type", "file")
    val so = src.putObject("options")
    so.put("format", "json")
    so.put("path", d.spool.toString)
    so.put("schema", usersSchema)
    so.put("maxFilesPerTrigger", maxFiles.toString)
    val ts = root.putArray("transforms")
    def transform(tpe: String, opts: (String, String)*): Unit = {
      val t = ts.addObject()
      t.put("type", tpe)
      val o = t.putObject("options")
      opts.foreach { case (k, v) => o.put(k, v) }
    }
    val sink = root.putObject("sink")
    val ko = sink.putObject("options")
    transform("mask", "field" -> "private_info")
    transform("envelope_encode", "name" -> "users")
    sink.put("type", "file")
    ko.put("format", "text")
    ko.put("path", d.sink.toString)
    ko.put("checkpoint", d.checkpoint.toString)
    if (availableNow) ko.put("trigger", "availableNow") else ko.put("trigger.ms", triggerMs.toString)
    PipelineSpec.fromJson(m.writeValueAsString(root))
  }

  /** Publish one spool file by atomic rename; the modification time orders
    * the file source's listing. Returns the file's size in bytes. */
  private def publish(d: Dirs, name: String, lines: Array[String], mtimeMs: Long): Long = {
    val bytes = lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8)
    val tmp = d.stage.resolve(name)
    Files.write(tmp, bytes)
    tmp.toFile.setLastModified(mtimeMs)
    Files.move(tmp, d.spool.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    bytes.length.toLong
  }

  private def fileName(i: Int) = f"part-$i%06d.json"

  /** One warm-up round: a small spool through the same spec with an
    * available-now trigger, on its own directories. */
  private def warmUp(round: Int): Double = {
    val d = Dirs(ctx.work.resolve(s"warmup$round"))
    val f = newFeed(ctx.seed + 1000 + round)
    val base = System.currentTimeMillis() - 1000
    (0 until maxFiles).foreach(i => publish(d, fileName(i), f.next(), base + i))
    val t0 = System.nanoTime()
    val name = s"${ctx.workload}-warmup$round"
    registry.submit(spec(name, d, availableNow = true)).awaitTermination()
    registry.delete(name)
    (System.nanoTime() - t0) / 1e9
  }

  def run(): Outcome = {
    val out = new Outcome
    Counters.tag(sc, "setup")

    // ---- set-up: generate every input file, spool the backlog, warm up
    val g0 = System.nanoTime()
    val feed = newFeed(ctx.seed)
    val arrivals = poissonArrivals(ctx.seed, offeredRps / rpf, pacedS)
    val backlog = Array.fill(backlogFiles)(feed.next())
    val paced = Array.fill(arrivals.length)(feed.next())
    val d = Dirs(ctx.work.resolve("pipeline"))
    val base = System.currentTimeMillis() - backlogFiles - 1
    var inputBytes = backlog.indices.map(i => publish(d, fileName(i), backlog(i), base + i)).sum
    val genS = (System.nanoTime() - g0) / 1e9
    Log("inputs generated")
    val warm = (1 to ctx.conf("warmup_rounds").asInt).map(warmUp)
    Log(s"warm-up rounds ${warm.mkString(", ")}")
    out.e2e("setup_s") = ctx.sessionS + genS + Stats.median(warm)

    val backlogRecords = backlogFiles.toLong * rpf
    val totalRecords = backlogRecords + paced.length.toLong * rpf
    out.attempted = totalRecords

    // ---- measured window
    Counters.tag(sc, "stream")
    val name = ctx.workload
    val watch = new CommitWatch(d.checkpoint)
    val backlogNames = (0 until backlogFiles).map(fileName)
    val allNames = (0 until backlogFiles + paced.length).map(fileName)
    val dueNs = new Array[Long](paced.length)
    val pubNs = new Array[Long](paced.length)
    var lastMtime = 0L
    var submitEndNs = 0L
    var pacedStartNs = 0L
    var allCommitted = true
    val w0 = System.nanoTime()
    val q = ctx.tracer.span("window", "bench") {
      val s0 = System.nanoTime()
      val q = ctx.tracer.span("submit", "core")(registry.submit(spec(name, d, availableNow = false)))
      submitEndNs = System.nanoTime()
      out.layers("core.submit_ms") = (submitEndNs - s0) / 1e6
      val qid = q.id.toString
      allCommitted = waitFor(60)(watch.committed(backlogNames))
      Log("backlog drained")
      // open-loop tail: the schedule is fixed by the seed, never by the drain
      pacedStartNs = System.nanoTime()
      arrivals.indices.foreach { i =>
        val due = pacedStartNs + (arrivals(i) * 1e9).toLong
        dueNs(i) = due
        val wait = due - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
        lastMtime = math.max(System.currentTimeMillis(), lastMtime + 1)
        inputBytes += publish(d, fileName(backlogFiles + i), paced(i), lastMtime)
        pubNs(i) = System.nanoTime()
      }
      val end = pacedStartNs + (pacedS * 1e9).toLong
      if (end > System.nanoTime()) Thread.sleep((end - System.nanoTime()) / 1000000)
      allCommitted &&= waitFor(30)(watch.committed(allNames))
      Log("paced tail committed")
      recordTriggers(qid)
      q
    }
    val windowS = (System.nanoTime() - w0) / 1e9
    out.e2e("peak_rss_mb") = Main.peakRssMb()
    registry.delete(name)
    Log("pipeline stopped")
    Counters.tag(sc, "check")
    ctx.counters.settle()
    out.check(allCommitted, s"not every record was committed within the wait")

    // ---- end-to-end metrics from progress reports and the source log
    val qid = q.id.toString
    val batches = ctx.progress.batches(qid)
    val commitNs = batches.map(b => b.batchId -> b.atNs).toMap
    watch.refresh()
    val batchOf = watch.batchOf.toMap
    def committedAt(i: Int): Option[Long] = batchOf.get(fileName(i)).flatMap(commitNs.get)
    val filesIn = batchOf.values.groupBy(identity).map { case (b, fs) => b -> fs.size }
    def rowsOf(batchId: Long): Long = filesIn.getOrElse(batchId, 0).toLong * rpf
    val drainBatch = (0 until backlogFiles).flatMap(i => batchOf.get(fileName(i))).maxOption.getOrElse(0L)
    val drainEnd = commitNs.getOrElse(drainBatch, System.nanoTime())
    // drain rate on the engine's own clock: rows of each backlog batch over
    // its triggerExecution time, median over the backlog batches. The gap
    // between commits never drops below the trigger interval, so it would
    // cap the rate at one full batch per interval. One pass is the whole
    // backlog at that rate.
    val drained = batches.filter(b => b.batchId <= drainBatch && rowsOf(b.batchId) > 0)
    out.e2e("drain_rps") = Stats.median(drained.map(b =>
      rowsOf(b.batchId) / (math.max(1L, b.durations.getOrElse("triggerExecution", 0L)) / 1e3)))
    out.e2e("pass_s") = backlogRecords / out.e2e("drain_rps")
    out.layers("stream.drain_wall_s") = (drainEnd - submitEndNs) / 1e9
    // freshness counts from when each file was due, so a late generator
    // shows in the latency instead of hiding it
    val fresh = paced.indices.flatMap(i => committedAt(backlogFiles + i).map(c => (c - dueNs(i)) / 1e6))
    out.check(fresh.size == paced.length, s"${paced.length - fresh.size} paced files never committed")
    out.e2e("fresh_ms_p50") = Stats.quantile(fresh, 0.5)
    out.e2e("fresh_ms_p95") = Stats.quantile(fresh, 0.95)
    out.layers("stream.fresh_samples") = fresh.size.toDouble
    out.layers("stream.generator_late_ms_max") =
      paced.indices.map(i => (pubNs(i) - dueNs(i)) / 1e6).maxOption.getOrElse(0.0)

    // ---- per-layer metrics of the micro-batch engine
    def dur(k: String) = batches.map(_.durations.getOrElse(k, 0L).toDouble)
    // rows per batch come from the source log (the files each batch took),
    // not from numInputRows, which counts a batch once per evaluation
    out.layers("stream.batches") = batches.size.toDouble
    out.layers("stream.rows_per_batch_p50") = Stats.median(batches.map(b => rowsOf(b.batchId).toDouble))
    out.layers("stream.trigger_ms_p50") = Stats.quantile(dur("triggerExecution"), 0.5)
    out.layers("stream.trigger_ms_p95") = Stats.quantile(dur("triggerExecution"), 0.95)
    out.layers("stream.latest_offset_ms_p50") = Stats.median(dur("latestOffset"))
    out.layers("stream.get_batch_ms_p50") = Stats.median(dur("getBatch"))
    out.layers("stream.planning_ms_p50") = Stats.median(dur("queryPlanning"))
    out.layers("stream.add_batch_ms_p50") = Stats.quantile(dur("addBatch"), 0.5)
    out.layers("stream.add_batch_ms_p95") = Stats.quantile(dur("addBatch"), 0.95)
    out.layers("stream.wal_commit_ms_p50") = Stats.median(dur("walCommit"))
    out.layers("stream.commit_offsets_ms_p50") = Stats.median(dur("commitOffsets"))
    // backlog = rows published but not yet committed, sampled at each
    // commit of the paced phase and at its end
    val pacedEndNs = pacedStartNs + (pacedS * 1e9).toLong
    def backlogAt(t: Long): Double = {
      val published = backlogRecords + pubNs.count(p => p > 0 && p <= t).toLong * rpf
      val committed = batches.filter(_.atNs <= t).map(b => rowsOf(b.batchId)).sum
      (published - committed).toDouble
    }
    val samples = batches.map(_.atNs).filter(t => t >= pacedStartNs && t <= pacedEndNs) :+ pacedEndNs
    out.layers("stream.backlog_rows_max") = samples.map(backlogAt).max
    out.layers("stream.backlog_rows_end") = backlogAt(pacedEndNs)
    if (backlogAt(pacedEndNs) > 2.0 * maxFiles * rpf)
      System.err.println(s"[perfbench] paced phase ended with a growing backlog: " +
        s"${backlogAt(pacedEndNs).toLong} rows published but not committed")

    val acc = ctx.counters.sum(_._1 == "stream")
    Counters.metrics(acc, windowS, ctx.cores).foreach { case (k, v) => out.layers(k) = v }

    // ---- obs cross-check: MetricsFeed must have seen every record. Spark
    // counts a micro-batch's input rows once per evaluation of the batch;
    // the file sink evaluates it once, so the feed must match exactly.
    ctx.tracer.span("metrics_feed", "obs") {
      val fd = ctx.feed.toDF(spark).filter(col("query") === qid)
      val r = fd.agg(
        sum(when(col("name") === "num_input_rows", col("value"))).as("rows"),
        count(lit(1)).as("n")).head()
      val feedRows = if (r.isNullAt(0)) 0.0 else r.getDouble(0)
      out.layers("obs.feed_rows") = feedRows
      out.layers("obs.feed_samples") = r.getLong(1).toDouble
      out.layers("obs.feed_rows_per_record") = feedRows / totalRecords
      out.check(feedRows == totalRecords.toDouble,
        s"MetricsFeed summed $feedRows input rows, generated $totalRecords")
    }

    // ---- output checks and sink accounting
    val sinkFiles = listFiles(d.sink)
    out.layers("sinks.files_written") = sinkFiles.size.toDouble
    out.layers("sinks.bytes_written") = sinkFiles.map(Files.size).sum.toDouble
    out.layers("sinks.write_amp") = out.layers("sinks.bytes_written") / inputBytes
    check(feed, d, out)

    // ---- traced run: isolated replays of single layers
    Log("outputs checked")
    if (ctx.tracer.enabled) replay(d, totalRecords, out)
    out.layers("trace.overhead_frac") = ctx.tracer.overheadNs / 1e9 / windowS
    out
  }

  /** Rebuild each micro-batch as a span tree from its progress durations. */
  private def recordTriggers(qid: String): Unit = if (ctx.tracer.enabled) {
    val parent = ctx.tracer.currentId
    ctx.progress.batches(qid).foreach { b =>
      val total = b.durations.getOrElse("triggerExecution", 0L) * 1000000L
      val start = b.atNs - total
      val id = ctx.tracer.record("trigger", "streaming", start, b.atNs, parent)
      var t = start
      TriggerSteps.foreach { case (step, layer) =>
        val len = b.durations.getOrElse(step, 0L) * 1000000L
        ctx.tracer.record(step, layer, t, t + len, id)
        t += len
      }
    }
  }

  private def check(f: UsersFeed, d: Dirs, out: Outcome): Unit = {
    val r = spark.read.text(d.sink.toString)
      .select(length(col("value")).as("bytes"),
        ConnectJson.decodeEnvelope(col("value"), StructType.fromDDL(usersSchema)).as("p"))
      .agg(count(lit(1)), countDistinct(col("p.id")), min(col("p.id")), max(col("p.id")),
        sum(when(col("p.private_info") =!= "CENSORED" || col("p.private_info").isNull, 1).otherwise(0)),
        sum(length(col("p.name"))), sum(unix_millis(col("p.updated_at"))), avg(col("bytes")))
      .head()
    val n = f.records
    val rows = r.getLong(0)
    val distinct = r.getLong(1)
    out.check(rows == n && distinct == n && r.getInt(2) == 0 && r.getInt(3) == n - 1,
      s"sink holds $rows rows / $distinct distinct ids in [${r.get(2)}, ${r.get(3)}], generated ids 0..${n - 1}",
      math.max(1L, math.abs(n - distinct) + (rows - distinct)))
    out.check(r.getLong(4) == 0, s"${r.getLong(4)} rows kept private_info unmasked", math.max(1L, r.getLong(4)))
    out.check(r.getLong(5) == f.nameCharsTotal && r.getLong(6) == f.updatedAtMsTotal,
      "decoded name / updated_at differ from the generated rows")
    out.layers("sinks.table_rows") = rows.toDouble
    out.layers("codec.envelope_bytes_avg") = r.getDouble(7)
  }

  /** Time single layers in isolation on this run's own inputs. */
  private def replay(d: Dirs, records: Long, out: Outcome): Unit = {
    Counters.tag(sc, "replay")
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def median3(name: String, layer: String)(body: => Unit): Double =
      Stats.median((1 to 3).map { _ =>
        val t0 = System.nanoTime()
        ctx.tracer.span(name, layer)(body)
        (System.nanoTime() - t0) / 1e3
      })
    val sp = spec("replay", d, availableNow = true)
    val b0 = System.nanoTime()
    val jobs0 = ctx.counters.sum(_._1 == "build").jobs
    Counters.tag(sc, "build")
    ctx.tracer.span("build", "core")(Pipeline.build(spark, sp, streaming = true))
    Counters.tag(sc, "replay")
    out.layers("core.build_s") = (System.nanoTime() - b0) / 1e9
    ctx.counters.settle(100, 1000)
    out.layers("core.jobs_build") = (ctx.counters.sum(_._1 == "build").jobs - jobs0).toDouble

    val src = Pipeline.source(sp.source).asInstanceOf[FileSource]
    out.layers("sources.scan_us_per_rec") =
      median3("scan", "sources")(noop(src.batch(spark))) / records
    val raw = src.batch(spark).cache()
    raw.count()
    val masked = graft.operators.Relational.maskColumn(raw, "private_info")
    val enc = ConnectJson.encodeEnvelope(masked.schema, "users")
    out.layers("codec.encode_us_per_rec") =
      median3("encode", "codec")(noop(masked.select(enc))) / records
    raw.unpersist(): Unit
  }
}

object StreamWorkload {
  /** Micro-batch steps in execution order, with the layer each belongs to. */
  val TriggerSteps: Seq[(String, String)] = Seq(
    "latestOffset" -> "sources", "walCommit" -> "streaming", "getBatch" -> "sources",
    "queryPlanning" -> "core", "addBatch" -> "sinks", "commitOffsets" -> "streaming")

  /** Arrival offsets (seconds) of a Poisson process of `ratePerS` over
    * `[0, horizonS)`, drawn from the seed. */
  def poissonArrivals(seed: Long, ratePerS: Double, horizonS: Double): Array[Double] = {
    val rnd = new Random(seed * 7919 + 17)
    Iterator.iterate(0.0)(t => t - math.log(1.0 - rnd.nextDouble()) / ratePerS)
      .drop(1).takeWhile(_ < horizonS).toArray
  }

  /** Poll `cond` every 20 ms for at most `seconds`. */
  def waitFor(seconds: Int)(cond: => Boolean): Boolean = {
    val deadline = System.nanoTime() + seconds * 1000000000L
    while (!cond && System.nanoTime() < deadline) Thread.sleep(20)
    cond
  }

  def listFiles(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else Files.walk(dir).iterator().asScala
      .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith(".")).toSeq
}

/** Which spool files a query has committed: the file source's metadata log
  * in the checkpoint (`sources/0/<batch>`, compacted every few batches)
  * maps each file to its micro-batch, and `commits/<batch>` marks the batch
  * done. Log files are immutable once renamed into place, so each is read
  * once. */
final class CommitWatch(checkpoint: Path) {
  private val log = checkpoint.resolve("sources").resolve("0")
  private val read = mutable.Set.empty[String]
  private val mapper = new ObjectMapper()
  val batchOf = mutable.Map.empty[String, Long]

  def refresh(): Unit = if (Files.isDirectory(log)) {
    val fresh = Files.list(log).iterator().asScala.map(_.getFileName.toString)
      .filter(n => !n.startsWith(".") && !read.contains(n)).toSeq
    fresh.foreach { n =>
      Files.readAllLines(log.resolve(n)).asScala.filter(_.startsWith("{")).foreach { line =>
        val e = mapper.readTree(line)
        val path = e.get("path").asText()
        batchOf(path.substring(path.lastIndexOf('/') + 1)) = e.get("batchId").asLong
      }
      read += n
    }
  }

  /** True once every named file sits in a committed micro-batch. */
  def committed(files: Seq[String]): Boolean = {
    refresh()
    files.forall(batchOf.contains) && {
      val last = files.map(batchOf).max
      Files.exists(checkpoint.resolve("commits").resolve(last.toString))
    }
  }
}
