package perfbench

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Totals for one pass, or one span of one pass, summed over its tasks. */
final class Counters {
  var jobs = 0L
  var failedJobs = 0L
  var taskMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var outBytes = 0L
  var peakExecMem = 0L
  val batches = mutable.Set.empty[String]

  def toMap: ListMap[String, Any] = ListMap(
    "jobs" -> jobs, "failed_jobs" -> failedJobs, "task_s" -> taskMs / 1000.0,
    "shuffle_bytes" -> shuffleBytes, "spill_bytes" -> spillBytes,
    "out_bytes" -> outBytes, "peak_exec_mem_bytes" -> peakExecMem,
    "batches" -> batches.size)
}

/** Watches the program from outside: a `SparkListener` sums task metrics
  * per pass and per span, read off the local properties the benchmark sets
  * on the calling thread (Spark copies them to every job the thread, its
  * broadcast threads and its stream threads submit). With `tracePlans` a
  * `QueryExecutionListener` also records every query's Catalyst phases
  * (analysis, optimization, planning) with their wall-clock start, so that
  * planning time can be attributed to the span that was open.
  */
final class Probe(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  import Probe._

  private val sc = spark.sparkContext
  private val jobTag = mutable.Map.empty[Int, (String, String)]
  private val stageTag = mutable.Map.empty[Int, (String, String)]
  private val byPass = mutable.Map.empty[String, Counters]
  private val bySpan = mutable.Map.empty[(String, String), Counters]
  private val phases = mutable.ArrayBuffer.empty[(Long, Long)]
  private val fenced = mutable.Set.empty[String]
  private var fences = 0

  sc.addSparkListener(this)

  def tracePlans(): Unit = spark.listenerManager.register(this)

  private def touched(tag: (String, String)): Seq[Counters] =
    Option(tag._1).toSeq.flatMap { pass =>
      byPass.getOrElseUpdate(pass, new Counters) +:
        Option(tag._2).map(s => bySpan.getOrElseUpdate((pass, s), new Counters)).toSeq
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val tag = (props.map(_.getProperty(PassKey)).orNull,
      props.map(_.getProperty(SpanKey)).orNull)
    jobTag(e.jobId) = tag
    e.stageIds.foreach(id => stageTag.getOrElseUpdate(id, tag))
    val batch = props.flatMap(p => Option(p.getProperty(BatchKey)))
    touched(tag).foreach { c => c.jobs += 1; batch.foreach(c.batches += _) }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobTag.remove(e.jobId).foreach { tag =>
      if (e.jobResult != JobSucceeded) touched(tag).foreach(_.failedJobs += 1)
      Option(tag._2).filter(_.startsWith(FencePrefix)).foreach(fenced += _)
    }
    notifyAll()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageTag.get(e.stageId).foreach { tag =>
      touched(tag).foreach { c =>
        c.taskMs += m.executorRunTime
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.diskBytesSpilled
        c.outBytes += m.outputMetrics.bytesWritten
        c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = record(qe)

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = record(qe)

  private def record(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.values.foreach(p => phases += ((p.startTimeMs, p.durationMs)))
  }

  /** Runs one tiny job and waits until this listener has seen it end.
    * Listener events arrive in order on one queue (the query listeners
    * share it), so every event posted before the fence has been counted.
    */
  def fence(): Unit = {
    fences += 1
    val name = FencePrefix + fences
    sc.setLocalProperty(SpanKey, name)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(SpanKey, null)
    val deadline = System.currentTimeMillis() + 60000
    synchronized {
      while (!fenced(name) && System.currentTimeMillis() < deadline) wait(100)
      require(fenced(name), s"listener never saw fence $name")
    }
  }

  def pass(id: String): ListMap[String, Any] = synchronized {
    byPass.getOrElse(id, new Counters).toMap
  }

  def span(pass: String, name: String): ListMap[String, Any] = synchronized {
    bySpan.getOrElse((pass, name), new Counters).toMap
  }

  def planPhases: Seq[Seq[Long]] = synchronized {
    phases.map { case (start, ms) => Seq(start, ms) }.toSeq
  }
}

object Probe {
  val PassKey = "perfbench.pass"
  val SpanKey = "perfbench.span"
  val BatchKey = "streaming.sql.batchId"
  val FencePrefix = "fence:"
}

/** One timed region: a pass, or one public call inside a pass. */
final case class Span(name: String, pass: String, parent: String,
                      startMs: Long, seconds: Double,
                      extra: ListMap[String, Any])

/** Times the pass and every call in it. A span is always timed (two clock
  * reads); when `traced`, the calls also carry their span name as a job
  * group and a local property, so the probe can attribute jobs to them.
  */
final class Tracer(spark: SparkSession, traced: Boolean) {
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private var passId: String = null
  private var extra = ListMap.empty[String, Any]

  def pass[T](id: String)(body: => T): (T, Double) = {
    passId = id
    sc.setLocalProperty(Probe.PassKey, id)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val out = body
      val s = (System.nanoTime() - t0) / 1e9
      spans += Span("pass", id, null, startMs, s, ListMap.empty)
      (out, s)
    } finally {
      sc.setLocalProperty(Probe.PassKey, null)
      passId = null
    }
  }

  def span[T](name: String)(body: => T): T = {
    if (traced) {
      sc.setJobGroup(name, name, interruptOnCancel = false)
      sc.setLocalProperty(Probe.SpanKey, name)
    }
    extra = ListMap.empty
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val s = (System.nanoTime() - t0) / 1e9
      spans += Span(name, passId, "pass", startMs, s, extra)
      if (traced) {
        sc.clearJobGroup()
        sc.setLocalProperty(Probe.SpanKey, null)
      }
    }
  }

  /** Attaches a call-specific figure to the span that is open. */
  def note(key: String, value: Any): Unit = extra += key -> value
}
