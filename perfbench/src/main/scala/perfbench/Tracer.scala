package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Work counters of the Spark jobs attributed to one phase or span. */
final class Counters {
  var jobs, stages, tasks = 0L
  var cpuNs, runMs, gcMs, schedDelayMs = 0L
  var shuffleWrite, shuffleRead, spill = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    cpuNs += o.cpuNs; runMs += o.runMs; gcMs += o.gcMs
    schedDelayMs += o.schedDelayMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead; spill += o.spill
  }
}

/** A traced call: one call the benchmark made into a layer. Times are
  * wall-clock milliseconds (to line up with Spark's event times) plus
  * nanoTime for the duration itself. */
final case class Span(id: Int, parent: Int, name: String, phase: String,
                      startMs: Long, startNs: Long) {
  var endMs: Long = 0L
  var endNs: Long = 0L
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Outside-in tracer: one SparkListener and one QueryExecutionListener,
  * registered on each session the benchmark starts.
  *
  * Every call runs under a tag `phase|spanId`, set as a Spark local
  * property, so each job (and its stages and tasks) lands on the phase
  * and span that started it. Phases (setup, build, op, check, audit)
  * are always counted: the end-to-end work counts come from them.
  * Spans are recorded only when `traced`; they stay in memory and are
  * written once, at the end of the run. */
final class Tracer(val traced: Boolean) {
  private val TagKey = "perfbench.tag"
  private val Untagged = ("untagged", -1)

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var phase = "setup"
  private var sc: SparkContext = _

  // written on the listener-bus thread, read on the main thread after
  // drain(); guarded by `this`
  private val byPhase = mutable.Map.empty[String, Counters]
  private val bySpan = mutable.Map.empty[Int, Counters]
  private val stageTag = mutable.Map.empty[Int, (String, Int)]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val planIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  private def tagOf(props: java.util.Properties): (String, Int) =
    Option(props).flatMap(p => Option(p.getProperty(TagKey))).map { t =>
      val i = t.indexOf('|'); (t.substring(0, i), t.substring(i + 1).toInt)
    }.getOrElse(Untagged)

  private def counters(tag: (String, Int)): Seq[Counters] =
    byPhase.getOrElseUpdate(tag._1, new Counters) +:
      (if (tag._2 >= 0) Seq(bySpan.getOrElseUpdate(tag._2, new Counters)) else Nil)

  private object listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val tag = tagOf(e.properties)
      counters(tag).foreach(_.jobs += 1)
      e.stageIds.foreach(s => if (!stageTag.contains(s)) stageTag(s) = tag)
      jobStart(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStart.remove(e.jobId).foreach(s => jobIntervals += ((s, e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        counters(stageTag.getOrElse(e.stageInfo.stageId, Untagged)).foreach(_.stages += 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      val info = e.taskInfo
      counters(stageTag.getOrElse(e.stageId, Untagged)).foreach { c =>
        c.tasks += 1
        if (m != null) {
          c.cpuNs += m.executorCpuTime
          c.runMs += m.executorRunTime
          c.gcMs += m.jvmGCTime
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.spill += m.diskBytesSpilled
          if (info != null && info.finished)
            c.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
              m.executorDeserializeTime - m.resultSerializationTime)
        }
      }
    }
  }

  private object planListener extends QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = if (traced) Tracer.this.synchronized {
      Seq("analysis", "optimization", "planning").foreach { p =>
        qe.tracker.phases.get(p).foreach(s => planIntervals += ((s.startTimeMs, s.endTimeMs)))
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  /** Registers both listeners on a freshly started session. */
  def attach(spark: SparkSession): Unit = {
    sc = spark.sparkContext
    sc.addSparkListener(listener)
    spark.listenerManager.register(planListener)
    setTag()
  }

  private def setTag(): Unit = if (sc != null)
    sc.setLocalProperty(TagKey, s"$phase|${stack.headOption.map(_.id).getOrElse(-1)}")

  def inPhase[T](p: String)(body: => T): T = {
    val prev = phase
    phase = p; setTag()
    try body finally { phase = prev; setTag() }
  }

  /** Runs `body` as one call into layer `name`; a no-op wrapper when
    * tracing is off. */
  def span[T](name: String)(body: => T): T =
    if (!traced) body
    else {
      val s = Span(spans.length, stack.headOption.map(_.id).getOrElse(-1), name, phase,
        System.currentTimeMillis(), System.nanoTime())
      spans += s; stack = s :: stack; setTag()
      try body finally {
        s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
        stack = stack.tail; setTag()
      }
    }

  /** Waits until every listener event posted so far is delivered. */
  def drain(): Unit = if (sc != null && !sc.isStopped)
    org.apache.spark.perfbenchglue.Bus.drain(sc)

  def phaseCounters(p: String): Counters = synchronized {
    val c = new Counters; byPhase.get(p).foreach(c.add); c
  }

  /** Counters of span `id` and every span below it. */
  def inclusive(id: Int): Counters = synchronized {
    val c = new Counters
    def walk(i: Int): Unit = {
      bySpan.get(i).foreach(c.add)
      spans.iterator.filter(_.parent == i).foreach(ch => walk(ch.id))
    }
    walk(id); c
  }

  private def overlapMs(s: Span, iv: Iterable[(Long, Long)]): Long = {
    // union of the intervals clipped to the span
    val clipped = iv.iterator.map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered + (curB - curA)
  }

  /** Span time with no Spark job running, in seconds. */
  def noJobSeconds(s: Span): Double = synchronized {
    math.max(0L, (s.endMs - s.startMs) - overlapMs(s, jobIntervals)) / 1e3
  }

  /** Query analysis + optimization + planning time inside the span. */
  def planSeconds(s: Span): Double = synchronized { overlapMs(s, planIntervals) / 1e3 }

  /** A span's duration minus the part its child spans cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.iterator.filter(_.parent == s.id).map(_.seconds).sum
}
