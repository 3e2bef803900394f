package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval at a layer boundary. `op` is the op id
  * (`<pass>:<op name>`) the span belongs to, or "" outside any op.
  */
final case class Span(id: Int, name: String, start: Long, end: Long, parent: Int, op: String) {
  def secs: Double = (end - start) / 1e9
}

/** In-memory span recorder. Spans nest per thread; nothing is written
  * until the run ends. A disabled tracer runs the body and records
  * nothing, so untraced runs pay one branch per boundary.
  */
final class Tracer(@volatile var enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  private var nextId = 0
  @volatile var op: String = ""

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = stack.get.headOption.getOrElse(0)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        synchronized { spans += Span(id, name, t0, t1, parent, op) }
      }
    }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Summed self time per span name: a span's duration minus the time
    * its direct children cover (children run inside their parent on the
    * same thread, so they never overlap each other).
    */
  def selfSeconds: Map[String, Double] = {
    val ss = all
    val childSum = ss.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.secs).sum }
    ss.groupBy(_.name).map { case (n, group) =>
      n -> group.map(s => s.secs - childSum.getOrElse(s.id, 0.0)).sum
    }
  }

  def totalSeconds(name: String, op: String => Boolean): Double =
    all.filter(s => s.name == name && op(s.op)).map(_.secs).sum
}

/** Always-on task counters keyed by the `perfbench.pass` local property
  * of the job that ran the task: input rows and bytes read. Cheap enough
  * for untraced runs (two additions per finished task).
  */
final class PassCounters extends SparkListener {
  final class Acc { var rows = 0L; var bytes = 0L }
  private val stagePass = mutable.Map.empty[Int, String]
  private val acc = mutable.Map.empty[String, Acc]
  @volatile var events = 0L

  override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
    val p = Option(js.properties).flatMap(x => Option(x.getProperty(PassCounters.Key))).getOrElse("")
    js.stageIds.foreach(s => stagePass(s) = p)
    events += 1
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
    events += 1
    val m = te.taskMetrics
    if (m != null) {
      val a = acc.getOrElseUpdate(stagePass.getOrElse(te.stageId, ""), new Acc)
      a.rows += m.inputMetrics.recordsRead
      a.bytes += m.inputMetrics.bytesRead
    }
  }

  def of(pass: String): Acc = synchronized(acc.getOrElse(pass, new Acc))
}

object PassCounters {
  val Key = "perfbench.pass"
  val OpKey = "perfbench.op"

  /** Listener events arrive asynchronously; wait until the event count
    * has stopped moving for a few polls before reading totals.
    */
  def settle(counts: () => Long): Unit = {
    var last = -1L
    var still = 0
    var polls = 0
    while (still < 3 && polls < 100) {
      Thread.sleep(50)
      val now = counts()
      if (now == last) still += 1 else { still = 0; last = now }
      polls += 1
    }
  }
}

/** Per-layer Spark runtime trace: jobs, stages and tasks of every job
  * whose `perfbench.op` property is set while the listener is attached.
  */
final class SparkTrace extends SparkListener {
  import SparkTrace._
  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.Map.empty[Int, Stage]
  @volatile var events = 0L

  override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
    events += 1
    val op = Option(js.properties).flatMap(p => Option(p.getProperty(PassCounters.OpKey))).getOrElse("")
    jobs(js.jobId) = Job(js.jobId, op, js.time, 0L, js.stageIds)
  }
  override def onJobEnd(je: SparkListenerJobEnd): Unit = synchronized {
    events += 1
    jobs.get(je.jobId).foreach(_.end = je.time)
  }
  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
    events += 1
    val st = stages.getOrElseUpdate(te.stageId, new Stage)
    val info = te.taskInfo
    if (info.failed || info.killed) st.failed += 1
    val m = te.taskMetrics
    if (m != null) {
      st.durations += info.duration
      st.busyMs += m.executorRunTime
      st.cpuNs += m.executorCpuTime
      st.gcMs += m.jvmGCTime
      st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      st.spill += m.diskBytesSpilled + m.memoryBytesSpilled
      // the Spark UI's scheduler delay: task wall not spent running,
      // deserializing, serializing or fetching the result
      val fetchMs = if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
      st.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - fetchMs)
    }
  }

  def jobsOf(pred: String => Boolean): Seq[Job] = synchronized(jobs.values.filter(j => pred(j.op)).toList)
  def stagesOf(js: Seq[Job]): Seq[Stage] = synchronized(js.flatMap(_.stages).distinct.flatMap(stages.get))
}

object SparkTrace {
  final case class Job(id: Int, op: String, start: Long, var end: Long, stages: Seq[Int])
  final class Stage {
    val durations = mutable.ArrayBuffer.empty[Long]
    var busyMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
    var schedDelayMs = 0L; var failed = 0L
  }
}

/** Micro-batch progress of every streaming query run while attached. */
final class StreamTrace extends StreamingQueryListener {
  import StreamingQueryListener._
  val batchMs = mutable.ArrayBuffer.empty[Long]
  var inputRows = 0L
  var stateRows = 0L
  var stateBytes = 0L
  private val started = mutable.Map.empty[java.util.UUID, Long]
  var runNs = 0L
  @volatile var events = 0L

  override def onQueryStarted(e: QueryStartedEvent): Unit = synchronized {
    events += 1; started(e.runId) = System.nanoTime()
  }
  override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
    events += 1
    val p = e.progress
    batchMs += p.batchDuration
    inputRows += p.numInputRows
    p.stateOperators.foreach { s =>
      stateRows = math.max(stateRows, s.numRowsTotal)
      stateBytes = math.max(stateBytes, s.memoryUsedBytes)
    }
  }
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = synchronized {
    events += 1
    started.remove(e.runId).foreach(t0 => runNs += System.nanoTime() - t0)
  }
}
