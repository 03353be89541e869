package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.DoubleAdder

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded interval. Times are epoch nanoseconds; `parent` is -1
  * for the root. */
final case class Span(id: Int, parent: Int, name: String, label: String,
                      start: Long, var end: Long)

/** In-memory spans and counters for the traced run.
  *
  * Benchmark-side spans (`run`, `pass`, `query`, `build`, `sink`,
  * `check`) are opened around the calls into each layer. Spark jobs
  * become `job` spans under the innermost open span: the span id rides
  * a thread-local Spark property, which the stream-execution threads a
  * lane starts inherit (they overwrite the job group, so the job group
  * cannot carry it). Counters are global and monotone; a pass reads
  * them after [[quiesce]] and takes the difference. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  private val originNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def nowNs: Long = originNs + System.nanoTime()

  private val spans = ArrayBuffer.empty[Span]
  private var current = -1
  private val counters = new ConcurrentHashMap[String, DoubleAdder]()
  private val jobSpans = new ConcurrentHashMap[Int, Span]()

  def add(name: String, v: Double): Unit =
    counters.computeIfAbsent(name, _ => new DoubleAdder).add(v)

  def snapshot(): Map[String, Double] =
    counters.asScala.map { case (k, v) => k -> v.sum }.toMap

  /** Blocks until the listener bus has delivered every posted event. */
  def quiesce(): Unit = org.apache.spark.perfbench.ListenerBusDrain(sc)

  private def open(parent: Int, name: String, label: String, start: Long): Span =
    spans.synchronized {
      val s = Span(spans.length, parent, name, label, start, -1L)
      spans += s
      s
    }

  private def nameOf(id: Int): String =
    spans.synchronized(if (id >= 0 && id < spans.length) spans(id).name else "")

  /** Runs `body` inside a span that is a child of the innermost open one. */
  def span[T](name: String, label: String)(body: => T): T = {
    val parent = current
    val s = open(parent, name, label, nowNs)
    current = s.id
    sc.setLocalProperty(SpanProp, s.id.toString)
    try body
    finally {
      s.end = nowNs
      add(s"span.${name}_s", (s.end - s.start) / 1e9)
      current = parent
      sc.setLocalProperty(SpanProp, if (parent < 0) null else parent.toString)
    }
  }

  def allSpans: Seq[Span] = spans.synchronized(spans.toList)

  private object Jobs extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val parent = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toInt).getOrElse(-1)
      add("exec.jobs", 1)
      if (nameOf(parent) == "build") add("queries.build_jobs", 1)
      jobSpans.put(e.jobId, open(parent, "job", s"job ${e.jobId}", e.time * 1000000L))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpans.remove(e.jobId)).foreach(_.end = e.time * 1000000L)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add("exec.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("exec.tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("exec.task_s", m.executorRunTime / 1e3)
        add("exec.task_cpu_s", m.executorCpuTime / 1e9)
        add("exec.gc_s", m.jvmGCTime / 1e3)
        add("exec.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
        add("shuffle.write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
        add("shuffle.read_mb", m.shuffleReadMetrics.totalBytesRead / 1e6)
        add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        add("driver.result_mb", m.resultSize / 1e6)
        add("sources.read_mb", m.inputMetrics.bytesRead / 1e6)
        add("sources.read_rows", m.inputMetrics.recordsRead.toDouble)
        add("sources.write_mb", m.outputMetrics.bytesWritten / 1e6)
      }
    }
  }

  private object Plans extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      add("queries.plan_s", qe.tracker.phases.values.map(_.durationMs).sum / 1e3)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private object Streams extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def sec(key: String): Double =
        Option(p.durationMs.get(key)).map(_.doubleValue / 1e3).getOrElse(0.0)
      add("streaming.batches", 1)
      add("streaming.plan_s", sec("queryPlanning"))
      add("streaming.add_batch_s", sec("addBatch"))
      add("streaming.wal_s", sec("walCommit"))
      p.stateOperators.foreach { s =>
        add("streaming.state_rows", s.numRowsTotal.toDouble)
        add("streaming.state_mb", s.memoryUsedBytes / 1e6)
        add("streaming.state_commit_s", s.commitTimeMs / 1e3)
      }
    }
  }

  sc.addSparkListener(Jobs)
  spark.listenerManager.register(Plans)
  spark.streams.addListener(Streams)

  /** Writes every span as one JSON object per line. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = allSpans.map { s =>
      LayerBench.toJson(ListMap("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "label" -> s.label, "start_ns" -> s.start, "end_ns" -> s.end))
    }
    java.nio.file.Files.write(path, lines.asJava)
  }

  /** Self time per span name, in seconds: each span's duration minus
    * the union of the intervals its children cover. */
  def selfSeconds(): Map[String, Double] = {
    val all = allSpans.filter(_.end >= 0)
    val kids = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val covered = union(kids.getOrElse(s.id, Nil)
          .map(c => (c.start.max(s.start), c.end.min(s.end))).filter(i => i._2 > i._1))
        (s.end - s.start - covered) / 1e9
      }.sum
    }
  }
}

object Tracer {
  val SpanProp = "perfbench.span"

  /** Total length of a set of half-open intervals. */
  def union(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.sortBy(_._1).foreach { case (a, b) =>
      if (a > curEnd) { total += curEnd - curStart; curStart = a; curEnd = b }
      else if (b > curEnd) curEnd = b
    }
    total + (curEnd - curStart)
  }
}
