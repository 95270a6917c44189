package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.BenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Engine counters summed over the tasks and jobs that ended in some interval. */
final case class Counts(jobs: Long = 0, tasks: Long = 0, cpuNs: Long = 0,
    runMs: Long = 0, gcMs: Long = 0, shuffleWriteBytes: Long = 0,
    spillBytes: Long = 0, resultBytes: Long = 0, inputBytes: Long = 0,
    inputRecords: Long = 0, outputBytes: Long = 0, outputRecords: Long = 0) {
  private def zip(o: Counts)(f: (Long, Long) => Long): Counts = Counts(
    f(jobs, o.jobs), f(tasks, o.tasks), f(cpuNs, o.cpuNs), f(runMs, o.runMs),
    f(gcMs, o.gcMs), f(shuffleWriteBytes, o.shuffleWriteBytes),
    f(spillBytes, o.spillBytes), f(resultBytes, o.resultBytes),
    f(inputBytes, o.inputBytes), f(inputRecords, o.inputRecords),
    f(outputBytes, o.outputBytes), f(outputRecords, o.outputRecords))
  def +(o: Counts): Counts = zip(o)(_ + _)
  def -(o: Counts): Counts = zip(o)(_ - _)
  def toMap: Map[String, Long] = Map("jobs" -> jobs, "tasks" -> tasks,
    "task_cpu_ns" -> cpuNs, "task_run_ms" -> runMs, "gc_ms" -> gcMs,
    "shuffle_write_bytes" -> shuffleWriteBytes, "spill_bytes" -> spillBytes,
    "result_bytes" -> resultBytes, "input_bytes" -> inputBytes,
    "input_records" -> inputRecords, "output_bytes" -> outputBytes,
    "output_records" -> outputRecords)
}

/** The benchmark's own SparkListener: running totals of [[Counts]]. */
final class EngineListener extends SparkListener {
  private var total = Counts()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    total = total.copy(jobs = total.jobs + 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) synchronized {
      total = total + Counts(tasks = 1, cpuNs = m.executorCpuTime,
        runMs = m.executorRunTime, gcMs = m.jvmGCTime,
        shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
        spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled,
        resultBytes = m.resultSize, inputBytes = m.inputMetrics.bytesRead,
        inputRecords = m.inputMetrics.recordsRead,
        outputBytes = m.outputMetrics.bytesWritten,
        outputRecords = m.outputMetrics.recordsWritten)
    }
  }

  def snapshot: Counts = synchronized(total)
}

/** One finished micro-batch of a streaming query. */
final case class BatchProgress(queryId: String, batchId: Long,
    durationMs: Long, inputRows: Long)

/** The benchmark's own StreamingQueryListener: every progress event. */
final class ProgressListener extends StreamingQueryListener {
  private val seen = ArrayBuffer.empty[BatchProgress]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = Option(p.durationMs.get("triggerExecution")).map(_.longValue)
    // AvailableNow ends with an empty trigger that processes no batch
    if (p.numInputRows > 0) synchronized {
      seen += BatchProgress(p.id.toString, p.batchId, d.getOrElse(0L),
        p.numInputRows)
    }
  }

  def batches: Seq[BatchProgress] = synchronized(seen.toList)
}

/** A timed interval around a call into the program. `parent` is -1 for a
  * root; roots are the setup, each cycle of the timed loop and each staged
  * materialization. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long,
    endNs: Long, counts: Counts, attrs: Map[String, Double]) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans and engine counts for one run. Outside a traced phase `span` only
  * runs its body, so untraced timings carry no drains or bookkeeping. */
final class Recorder(spark: SparkSession, val runId: String) {
  val engine = new EngineListener
  val progress = new ProgressListener
  spark.sparkContext.addSparkListener(engine)
  spark.streams.addListener(progress)

  private val t0 = System.nanoTime()
  private val done = ArrayBuffer.empty[Span]
  private var open = List.empty[(Int, OpenSpan)]
  private var nextId = 0
  @volatile var tracing = false

  private final class OpenSpan(val name: String, val startNs: Long,
      val start: Counts)

  /** Engine totals once every event posted so far has been delivered. */
  def settled(): Counts = {
    BenchBus.drain(spark.sparkContext)
    engine.snapshot
  }

  def span[T](name: String)(body: => T): T =
    if (!tracing) body
    else {
      val id = nextId
      nextId += 1
      val before = settled()
      val m = new OpenSpan(name, System.nanoTime() - t0, before)
      val parent = open.headOption.map(_._1).getOrElse(-1)
      open = (id, m) :: open
      try body
      finally {
        val end = System.nanoTime() - t0
        val c = settled() - m.start
        open = open.tail
        done += Span(id, parent, name, m.startNs, end, c, Map.empty)
      }
    }

  /** A call whose construction (the public function returning) and
    * execution (materializing all of its output) are timed apart, as the
    * children `<name>.construct` and `<name>.execute` of span `<name>`. */
  def call[T](name: String)(construct: => T)(execute: T => Unit): T =
    span(name) {
      val v = span(name + ".construct")(construct)
      span(name + ".execute")(execute(v))
      v
    }

  /** Attach values to the latest finished span called `name`, measured
    * after it closed so that the measuring stays out of its time. */
  def annotate(name: String)(values: => Map[String, Double]): Unit =
    if (tracing) {
      val i = done.lastIndexWhere(_.name == name)
      if (i >= 0) done(i) = done(i).copy(attrs = done(i).attrs ++ values)
    }

  def spans: Seq[Span] = done.toList
}
