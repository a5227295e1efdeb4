package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Job-to-layer attribution from outside the engine.
  *
  * Each Spark job gets the layer `module.Object` of the innermost
  * `graft.<module>.<Object>` frame on the call stack of the action that
  * launched it. The stack is read, in this order, from
  *  1. the SQL execution the job belongs to (`spark.sql.execution.id`), so
  *     jobs AQE launches from its own threads get the action's layer;
  *  2. the job's own call site (RDD jobs such as spark.ml fits);
  *  3. the owner the benchmark declared for the step that forces a lazily
  *     built plan (local property [[Trace.OwnerProp]]): the module that
  *     built the plan, since no engine frame is on the stack then.
  * A job none of these name is unattributed. The JVM must run with a deep
  * `spark.callstack.depth`, or the engine frames fall off the recorded stack.
  */
object Trace {
  val OwnerProp = "perfbench.owner"
  val StepProp = "perfbench.step"
  private val Frame = """(?:at )?graft\.([a-z]+)\.([A-Za-z0-9_]+)""".r.unanchored

  /** The innermost `module.Object` of a call-site long form, if any. */
  def layerOf(stack: String): Option[String] =
    stack.linesIterator.collectFirst { case Frame(m, o) => s"$m.$o" }

  final case class Job(id: Int, layer: String, step: String, start: Long, var end: Long,
      var ok: Boolean = true)
  final class Tasks {
    var runMs = 0L; var shuffleWrite = 0L; var spill = 0L
    var failed = 0L; var peakMem = 0L; var shuffleRead = 0L
    val durations = mutable.ArrayBuffer.empty[Long]
  }
}

final class Trace extends SparkListener {
  import Trace._

  private val execStacks = new ConcurrentHashMap[Long, String]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  val jobs = new ConcurrentHashMap[Int, Job]()
  val stageTasks = new ConcurrentHashMap[Int, Tasks]()
  @volatile private var sentinelSeen = false

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart => execStacks.put(e.executionId, e.details)
    case _                                 =>
  }

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    val props = Option(js.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val fromExec = prop("spark.sql.execution.id").flatMap(id => Option(execStacks.get(id.toLong)))
      .flatMap(layerOf)
    val fromJob = js.stageInfos.sortBy(-_.stageId).headOption.flatMap(s => layerOf(s.details))
    val layer = fromExec.orElse(fromJob).orElse(prop(OwnerProp)).getOrElse("unattributed")
    js.stageIds.foreach(s => stageJob.putIfAbsent(s, js.jobId))
    jobs.put(js.jobId, Job(js.jobId, layer, prop(StepProp).getOrElse(""), js.time, js.time))
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit = {
    val j = jobs.get(je.jobId)
    if (j != null) {
      j.end = je.time
      j.ok = je.jobResult == JobSucceeded
      if (j.step == "sentinel") sentinelSeen = true
    }
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val t = stageTasks.computeIfAbsent(te.stageId, _ => new Tasks)
    t.synchronized {
      if (te.reason != org.apache.spark.Success) t.failed += 1
      val m = te.taskMetrics
      if (m != null) {
        t.runMs += m.executorRunTime
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        t.spill += m.diskBytesSpilled
        t.peakMem = math.max(t.peakMem, m.peakExecutionMemory)
      }
      t.durations += te.taskInfo.duration
    }
  }

  /** Runs a marker job and waits until the listener has seen its end: the
    * listener bus delivers events in order, so every earlier event is in.
    */
  def drain(sc: SparkContext): Unit = {
    sentinelSeen = false
    sc.setLocalProperty(StepProp, "sentinel")
    try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(StepProp, null)
    val deadline = System.currentTimeMillis() + 30000
    while (!sentinelSeen && System.currentTimeMillis() < deadline) Thread.sleep(5)
  }

  def jobList: Seq[Job] =
    jobs.values.asScala.toSeq.filter(_.step != "sentinel").sortBy(_.id)

  def jobOfStage(stage: Int): Option[Job] = Option(stageJob.get(stage)).flatMap(j => Option(jobs.get(j)))
}

/** Union length of time intervals, in the intervals' unit. */
object Intervals {
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter(p => p._2 > p._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  def clip(iv: Seq[(Long, Long)], lo: Long, hi: Long): Seq[(Long, Long)] =
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter(p => p._2 > p._1)
}
