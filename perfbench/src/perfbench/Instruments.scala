package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Spark work counters, split by the `perfbench.phase` / `perfbench.query`
  * local properties in force when each job started. Jobs started while a
  * DataFrame is being built carry phase `build`; jobs run by the action
  * carry `action`; micro-batches inherit `stream` from the thread that
  * started the query. */
final class Counters extends SparkListener {
  final class Acc {
    var jobs, stages, tasks, cpuNs, runMs, gcMs, shuffleWrite, shuffleRead, spill = 0L
    def +=(o: Acc): Unit = {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks; cpuNs += o.cpuNs
      runMs += o.runMs; gcMs += o.gcMs; shuffleWrite += o.shuffleWrite
      shuffleRead += o.shuffleRead; spill += o.spill
    }
  }

  private val accs = mutable.Map.empty[(String, String), Acc]
  private val stageKey = mutable.Map.empty[Int, (String, String)]
  private val lastEventNs = new AtomicLong(System.nanoTime())

  private def acc(k: (String, String)): Acc = accs.getOrElseUpdate(k, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    lastEventNs.set(System.nanoTime())
    val p = Option(e.properties)
    def prop(n: String) = p.flatMap(x => Option(x.getProperty(n)))
    val k = (prop(Counters.Phase).getOrElse("other"), prop(Counters.Query).getOrElse(""))
    acc(k).jobs += 1
    e.stageIds.foreach(s => stageKey.getOrElseUpdate(s, k))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    lastEventNs.set(System.nanoTime())
    stageKey.get(e.stageInfo.stageId).foreach(k => acc(k).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    lastEventNs.set(System.nanoTime())
    val m = e.taskMetrics
    stageKey.get(e.stageId).foreach { k =>
      val a = acc(k)
      a.tasks += 1
      if (m != null) {
        a.cpuNs += m.executorCpuTime
        a.runMs += m.executorRunTime
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Block until the listener bus has been quiet for `quietMs` (events are
    * delivered asynchronously; read counters only after they settle). */
  def settle(quietMs: Long = 300, maxMs: Long = 5000): Unit = {
    val deadline = System.nanoTime() + maxMs * 1000000L
    while (System.nanoTime() - lastEventNs.get() < quietMs * 1000000L &&
           System.nanoTime() < deadline) Thread.sleep(20)
  }

  /** Sum over every (phase, query) key accepted by `keep`. */
  def sum(keep: ((String, String)) => Boolean): Acc = synchronized {
    val out = new Acc
    accs.foreach { case (k, a) => if (keep(k)) out += a }
    out
  }
}

object Counters {
  val Phase = "perfbench.phase"
  val Query = "perfbench.query"

  def tag(sc: SparkContext, phase: String, query: String = null): Unit = {
    sc.setLocalProperty(Phase, phase)
    sc.setLocalProperty(Query, query)
  }

  /** The `spark.*` per-layer metrics for one window of wall time. */
  def metrics(a: Counters#Acc, wallS: Double, cores: Int): Map[String, Double] = Map(
    "spark.jobs" -> a.jobs.toDouble,
    "spark.stages" -> a.stages.toDouble,
    "spark.tasks" -> a.tasks.toDouble,
    "spark.executor_cpu_s" -> a.cpuNs / 1e9,
    "spark.executor_run_s" -> a.runMs / 1e3,
    "spark.gc_s" -> a.gcMs / 1e3,
    "spark.shuffle_write_bytes" -> a.shuffleWrite.toDouble,
    "spark.shuffle_read_bytes" -> a.shuffleRead.toDouble,
    "spark.spill_bytes" -> a.spill.toDouble,
    "spark.cpu_util" -> (if (wallS > 0) a.cpuNs / 1e9 / (wallS * cores) else 0.0))
}

/** Per-trigger progress of every streaming query, stamped with this JVM's
  * clock when the event arrived (just after the batch committed). */
final class ProgressLog extends StreamingQueryListener {
  final case class Progress(queryId: String, batchId: Long,
                            durations: Map[String, Long], atNs: Long)

  private val events = new ConcurrentLinkedQueue[Progress]()

  override def onQueryStarted(event: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(event: QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(event: QueryIdleEvent): Unit = ()
  override def onQueryProgress(event: QueryProgressEvent): Unit = {
    val p = event.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    events.add(Progress(p.id.toString, p.batchId, d, System.nanoTime())): Unit
  }

  /** Executed micro-batches of one query, in batch order (no-data
    * progress reports carry no `addBatch` and are skipped). */
  def batches(queryId: String): Seq[Progress] =
    events.asScala.toSeq
      .filter(p => p.queryId == queryId && p.durations.contains("addBatch"))
      .groupBy(_.batchId).values.map(_.minBy(_.atNs)).toSeq.sortBy(_.batchId)
}

/** In-memory span recorder. One trace id per (workload, seed, run); spans
  * carry name, layer, start, end and parent, and are written out as JSON
  * lines once the run is over. Disabled, `span` is a plain call. */
final class Tracer(val enabled: Boolean, val traceId: String) {
  final case class Span(id: Long, parent: Long, name: String, layer: String,
                        startNs: Long, endNs: Long)

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  private val bookkeepingNs = new AtomicLong(0)

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val b0 = System.nanoTime()
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0L)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      bookkeepingNs.addAndGet(t0 - b0)
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        spans.add(Span(id, parent, name, layer, t0, t1))
        bookkeepingNs.addAndGet(System.nanoTime() - t1)
      }
    }

  /** Record a span whose bounds were measured elsewhere (a micro-batch
    * rebuilt from its progress report). Returns its id for children. */
  def record(name: String, layer: String, startNs: Long, endNs: Long, parent: Long): Long =
    if (!enabled) 0L
    else {
      val b0 = System.nanoTime()
      val id = ids.incrementAndGet()
      spans.add(Span(id, parent, name, layer, startNs, endNs))
      bookkeepingNs.addAndGet(System.nanoTime() - b0)
      id
    }

  def currentId: Long = stack.get.headOption.getOrElse(0L)

  def spanCount: Int = spans.size

  /** Wall time spent inside the tracer itself. */
  def overheadNs: Long = bookkeepingNs.get()

  /** Self time (span minus its children) summed per layer, in seconds. */
  def selfSeconds: Map[String, Double] = {
    val all = spans.asScala.toSeq
    val childNs = all.groupBy(_.parent).map { case (p, cs) => p -> cs.map(s => s.endNs - s.startNs).sum }
    all.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => (s.endNs - s.startNs) - childNs.getOrElse(s.id, 0L)).sum / 1e9
    }
  }

  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.asScala.toSeq.sortBy(_.startNs).map { s =>
      s"""{"trace_id":"$traceId","span_id":${s.id},"parent_id":${s.parent},""" +
        s""""name":"${s.name}","layer":"${s.layer}","start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.write(path, lines.asJava): Unit
  }
}

object Stats {
  /** Linear-interpolated quantile (the same rule as numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
