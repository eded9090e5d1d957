package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** One traced call: `layer` is the module the call enters. */
final case class Span(id: Int, name: String, layer: String, parent: Int, request: Int,
                      startNs: Long, var endNs: Long = 0L)

/** One completed Spark stage: wall interval (epoch ms), call site, shuffle
  * bytes written, job. */
final case class StageRec(startMs: Long, endMs: Long, name: String, shuffleBytes: Long, jobId: Int)

/** Task and stage totals of the Spark work attributed to one span. */
final class SparkTotals {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var fetchWaitMs = 0L
  var schedDelayMs = 0L
  val stageRecs = mutable.ArrayBuffer.empty[StageRec]
  /** Task durations of the span's widest stage. */
  var widest: Array[Long] = Array.emptyLongArray
}

/**
 * Spans recorded by the benchmark around each call it makes into an engine
 * layer, plus a listener that attributes Spark work to the span whose job
 * group was set on the submitting thread. When disabled, `span` only runs
 * its body. Everything stays in memory until the run ends.
 */
final class Trace(val enabled: Boolean, sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val open = new ThreadLocal[List[Span]] { override def initialValue(): List[Span] = Nil }
  private val bySpan = mutable.HashMap.empty[Int, SparkTotals]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stageTasks = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  var tracing = enabled

  private val GroupPrefix = "perfbench-span-"

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      g.filter(_.startsWith(GroupPrefix)).foreach { s =>
        val id = s.stripPrefix(GroupPrefix).toInt
        totals(id).jobs += 1
        e.stageIds.foreach { st => stageSpan(st) = id; stageJob(st) = e.jobId }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageSpan.get(e.stageId).foreach { id =>
        val t = totals(id)
        val m = e.taskMetrics
        val info = e.taskInfo
        t.tasks += 1
        stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += info.duration
        if (m != null) {
          t.runMs += m.executorRunTime
          t.cpuNs += m.executorCpuTime
          t.gcMs += m.jvmGCTime
          t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          t.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          t.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val st = e.stageInfo
      stageSpan.get(st.stageId).foreach { id =>
        val t = totals(id)
        t.stages += 1
        val shuffleBytes = if (st.taskMetrics == null) 0L else st.taskMetrics.shuffleWriteMetrics.bytesWritten
        for (a <- st.submissionTime; b <- st.completionTime)
          t.stageRecs += StageRec(a, b, st.name, shuffleBytes, stageJob.getOrElse(st.stageId, -1))
        val durs = stageTasks.remove(st.stageId).getOrElse(mutable.ArrayBuffer.empty[Long])
        if (durs.size > t.widest.length) t.widest = durs.toArray
      }
    }
  }
  if (enabled) sc.addSparkListener(listener)

  private def totals(id: Int): SparkTotals = bySpan.getOrElseUpdate(id, new SparkTotals)

  /** Time `body` as a span of `layer`; Spark jobs it submits are attributed to it. */
  def span[A](name: String, layer: String, request: Int = -1)(body: => A): A =
    if (!tracing) body
    else {
      val stack = open.get()
      val parent = stack.headOption
      val s = synchronized {
        val sp = Span(spans.size, name, layer, parent.fold(-1)(_.id),
          if (request >= 0) request else parent.fold(-1)(_.request), System.nanoTime())
        spans += sp
        sp
      }
      open.set(s :: stack)
      sc.setJobGroup(GroupPrefix + s.id, name, interruptOnCancel = false)
      try body
      finally {
        s.endNs = System.nanoTime()
        open.set(stack)
        parent match {
          case Some(p) => sc.setJobGroup(GroupPrefix + p.id, p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.PerfbenchBridge.drainListeners(sc)

  def sparkOf(id: Int): SparkTotals = synchronized(bySpan.getOrElse(id, new SparkTotals))

  def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq

  /** Span duration minus the time covered by its child spans and by Spark
    * stages attributed to it (those belong to the `spark` layer). */
  def selfNs(s: Span, wallOffsetNs: Long): Long = {
    val own = intervalsNs(sparkOf(s.id), wallOffsetNs) ++ children(s.id).map(c => (c.startNs, c.endNs))
    math.max(0L, (s.endNs - s.startNs) - coveredNs(own, s.startNs, s.endNs))
  }

  /** Spark stage intervals of `t`, converted from epoch ms to this JVM's nanoTime. */
  def intervalsNs(t: SparkTotals, wallOffsetNs: Long): Seq[(Long, Long)] =
    t.stageRecs.toSeq.map(r => toNs(r, wallOffsetNs))

  def toNs(r: StageRec, wallOffsetNs: Long): (Long, Long) =
    (r.startMs * 1000000L - wallOffsetNs, r.endMs * 1000000L - wallOffsetNs)

  /** Length of the union of `iv`, clipped to [lo, hi]. */
  def coveredNs(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(p => p._2 > p._1).sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }
}
