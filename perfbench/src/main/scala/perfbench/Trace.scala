package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval around a call into a graft layer. `name` starts
  * with the layer (`api.search.bm25`, `index.probe.ngram`, ...);
  * `parent` is the enclosing span's id (-1 at top level) and `op` the
  * benchmark operation it belongs to (-1 outside timed operations).
  */
final case class Span(id: Int, name: String, parent: Int, op: Long,
    startMs: Long, startNs: Long, var endNs: Long = 0L)

/** Spark counters of one job, attributed to the span open when it was
  * submitted.
  */
final class JobRec(val id: Int, val span: Int, val submitMs: Long,
    val stages: Seq[Int]) {
  @volatile var endMs: Long = 0L
}

final class StageRec {
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
}

/** The benchmark's own tracer. Spans stay in memory and are written
  * out once at exit. When off, `apply` runs the body and records
  * nothing, and no listener is registered.
  */
final class Tracer(sc: SparkContext, val on: Boolean) {
  private val PropKey = "perfbench.span"
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[Int, StageRec]()
  val streamBatches = ArrayBuffer.empty[(String, Long)]
  @volatile private var active = false

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val fromProp = Option(e.properties).flatMap(p =>
        Option(p.getProperty(PropKey))).map(_.toInt)
      // -1: submitted outside any span; resolved by time at exit for
      // jobs from threads that did not inherit the property
      jobs.put(e.jobId, new JobRec(e.jobId, fromProp.getOrElse(-1),
        e.time, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val s = stages.computeIfAbsent(e.stageId, _ => new StageRec)
        s.synchronized {
          s.tasks += 1
          s.runMs += m.executorRunTime
          s.cpuNs += m.executorCpuTime
          s.inputBytes += m.inputMetrics.bytesRead
          s.inputRecords += m.inputMetrics.recordsRead
          s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      streamBatches.synchronized {
        val d = e.progress.durationMs.asScala.get("triggerExecution")
        streamBatches += ((Option(e.progress.name).getOrElse("stream"),
          d.map(_.longValue).getOrElse(0L)))
      }
  }

  /** Turn span recording and the listeners on or off (the traced run
    * alternates, so it can also measure its own overhead).
    */
  def enable(spark: org.apache.spark.sql.SparkSession, flag: Boolean): Unit =
    if (on && flag != active) {
      active = flag
      if (flag) {
        sc.addSparkListener(listener)
        spark.streams.addListener(streamListener)
      } else {
        sc.removeSparkListener(listener)
        spark.streams.removeListener(streamListener)
      }
    }

  def recording: Boolean = active

  def apply[T](name: String, op: Long = -1L)(body: => T): T =
    if (!active) body
    else {
      val parent = stack.headOption
      val s = Span(spans.size, name, parent.map(_.id).getOrElse(-1),
        if (op >= 0) op else parent.map(_.op).getOrElse(-1L),
        System.currentTimeMillis(), System.nanoTime())
      spans += s
      stack = s :: stack
      sc.setLocalProperty(PropKey, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(PropKey,
          stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Wait until the listener bus has delivered every event posted so
    * far: run one marker job and poll for its end event.
    */
  def drain(): Unit = if (on) {
    val wasActive = active
    if (!wasActive) sc.addSparkListener(listener)
    sc.setLocalProperty(PropKey, null)
    val before = jobs.keySet().asScala.toSet
    sc.parallelize(Seq(1), 1).count()
    val deadline = System.currentTimeMillis() + 20000
    def markerDone: Boolean = jobs.values().asScala.exists(j =>
      !before.contains(j.id) && j.endMs > 0)
    while (!markerDone && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    if (!wasActive) sc.removeSparkListener(listener)
    // the marker job is the benchmark's, not the program's
    jobs.values().asScala.filter(j => !before.contains(j.id))
      .foreach(j => jobs.remove(j.id))
  }
}
