package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One timed interval. Times are milliseconds since the run's epoch;
  * spans of one request or catalog key share `op`. */
final case class Span(op: Long, id: Long, parent: Long, name: String,
                      start: Double, end: Double) {
  def dur: Double = end - start
}

object Trace {

  /** Self time of every span: its duration minus the part of it that its
    * children cover (overlapping children are counted once, and a child
    * is clipped to its parent's interval). */
  def selfTimes(spans: Seq[Span]): Map[Long, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = union(kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a })
      s.id -> (s.dur - covered)
    }.toMap
  }

  /** Total length of a set of intervals, overlaps counted once. */
  def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}

/** Work Spark did for one stage, as the stage-completed event reports it. */
final case class StageWork(stageId: Int, start: Double, end: Double,
                           tasks: Int, runS: Double, cpuS: Double, gcS: Double,
                           inputRows: Long, shuffleRecords: Long,
                           shuffleBytes: Long, spillBytes: Long)

/** One Spark job with the span it ran under (the `perfbench.span` local
  * property of the thread that started it). */
final case class JobWork(jobId: Int, span: Long, start: Double, end: Double,
                         stages: Seq[StageWork])

/** Span recorder plus the benchmark's own `SparkListener`. When disabled
  * every call runs its body untouched: no listener, no local properties,
  * no drains. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val epochNs = System.nanoTime()
  private val epochMs = System.currentTimeMillis() -
    (System.nanoTime() - epochNs) / 1e6
  private def now: Double = (System.nanoTime() - epochNs) / 1e6
  private def fromWall(ms: Long): Double = ms - epochMs

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1L
  private var current = 0L

  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Double, Seq[Int])]
  private val stageDone = new java.util.concurrent.ConcurrentHashMap[Int, StageWork]
  private val jobsDone = new ConcurrentLinkedQueue[JobWork]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties)
        .flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
        .map(_.toLong).getOrElse(0L)
      jobStarts.put(e.jobId, (span, fromWall(e.time), e.stageIds))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      stageDone.put(i.stageId, StageWork(i.stageId,
        fromWall(i.submissionTime.getOrElse(0L)),
        fromWall(i.completionTime.getOrElse(0L)),
        i.numTasks, m.executorRunTime / 1e3, m.executorCpuTime / 1e9,
        m.jvmGCTime / 1e3, m.inputMetrics.recordsRead,
        m.shuffleWriteMetrics.recordsWritten,
        m.shuffleWriteMetrics.bytesWritten,
        m.diskBytesSpilled + m.memoryBytesSpilled))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach { case (span, start, stageIds) =>
        // skipped stages never complete; only stages that ran did work
        jobsDone.add(JobWork(e.jobId, span, start, fromWall(e.time),
          stageIds.flatMap(s => Option(stageDone.remove(s)))))
      }
  }

  if (enabled) spark.sparkContext.addSparkListener(listener)

  /** Run `body` as a span named `name` of operation `op`, nested under
    * the innermost open span. Spark jobs it starts become its children. */
  def span[A](op: Long, name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = current
      current = id
      val sc = spark.sparkContext
      sc.setLocalProperty(Tracer.SpanKey, id.toString)
      val t0 = now
      try body
      finally {
        spans += Span(op, id, parent, name, t0, now)
        current = parent
        sc.setLocalProperty(Tracer.SpanKey,
          if (parent == 0L) null else parent.toString)
      }
    }

  /** The latest span of `op` named `name`. */
  def find(op: Long, name: String): Option[Span] =
    spans.reverseIterator.find(s => s.op == op && s.name == name)

  /** Record an interval measured elsewhere (wall-clock milliseconds) as a
    * child of `parent`, clipped to it; nothing when they do not overlap. */
  def addChild(parent: Span, name: String, startWallMs: Long, endWallMs: Long): Unit = {
    val a = math.max(fromWall(startWallMs), parent.start)
    val b = math.min(fromWall(endWallMs), parent.end)
    if (b > a) {
      spans += Span(parent.op, nextId, parent.id, name, a, b)
      nextId += 1
    }
  }

  /** Deliver every queued listener event (stage metrics arrive on the
    * listener bus after the job that produced them returns). */
  def drain(): Unit =
    if (enabled) org.apache.spark.sql.graft.bridge.drainListenerBus(spark)

  def stop(): Unit = if (enabled) spark.sparkContext.removeSparkListener(listener)

  /** Every span recorded so far, with each finished Spark job as a child
    * of the span it ran under and each of its stages as a child of the
    * job. Job and stage spans take ids above every phase id. */
  def allSpans(): (Vector[Span], Vector[JobWork]) = {
    drain()
    val jobs = jobsDone.asScala.toVector
    val byId = spans.map(s => s.id -> s).toMap
    var id = nextId + 1000000L
    val extra = jobs.flatMap { j =>
      val op = byId.get(j.span).map(_.op).getOrElse(0L)
      val jid = id; id += 1
      Span(op, jid, j.span, s"job ${j.jobId}", j.start, j.end) +:
        j.stages.map { s =>
          val sid = id; id += 1
          Span(op, sid, jid, s"stage ${s.stageId}", s.start, s.end)
        }
    }
    (spans.toVector ++ extra, jobs)
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
}
