package linkbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** A span recorded by the benchmark around one call into the engine.
 * Times are epoch milliseconds, comparable with Spark's event times. */
final case class Span(id: Int, name: String, parent: Int, startMs: Double, endMs: Double)

/** What one Spark context's listener saw, keyed by the span that was
 * open on the driver thread when each job was submitted. */
final class JobListener extends SparkListener {
  final case class Job(span: Int, startMs: Long, var endMs: Long)
  final case class Task(span: Int, stage: Int, durationMs: Long, shuffleReadB: Long, shuffleWriteB: Long)

  val jobs = mutable.LinkedHashMap[Int, Job]()
  val tasks = mutable.ArrayBuffer[Task]()
  private val stageSpan = mutable.HashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toInt).getOrElse(0)
    jobs(e.jobId) = Job(span, e.time, e.time)
    // AQE submits stages from its own threads and their call sites read
    // as CompletableFuture frames, so stages are attributed through the
    // job that owns them, never through their names.
    e.stageIds.foreach(s => stageSpan(s) = span)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val (rd, wr) =
      if (m == null) (0L, 0L)
      else (m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten)
    tasks += Task(stageSpan.getOrElse(e.stageId, 0), e.stageId, e.taskInfo.duration, rd, wr)
  }
}

/** Counters of one span (and its descendants), from every context. */
final case class SpanStats(
    wallS: Double,
    jobs: Int,
    inJobS: Double,
    taskS: Double,
    shuffleWriteMb: Double,
    taskSkew: Double)

/**
 * Outside-in tracer: spans come from the benchmark's own code around
 * each public engine call; Spark jobs are tagged with the open span
 * through a thread-local Spark property, so the engine is unchanged.
 * Spans are kept in memory and written out as JSONL when the run ends.
 */
final class Tracer(val runId: String) {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  private def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  val spans = mutable.ArrayBuffer[Span]()
  private val listeners = mutable.ArrayBuffer[(SparkContext, JobListener)]()
  private var stack = List.empty[Int]
  private var nextId = 0
  private var sc: SparkContext = _

  /** Register a listener on a new session's context. */
  def attach(spark: SparkSession): Unit = {
    sc = spark.sparkContext
    val l = new JobListener
    sc.addSparkListener(l)
    listeners += ((sc, l))
    sc.setLocalProperty(Tracer.SpanKey, stack.headOption.map(_.toString).orNull)
  }

  /** Deliver every queued event of the live context to its listener. */
  def drain(): Unit = if (sc != null && !sc.isStopped) org.apache.spark.linkbench.Bus.drain(sc)

  def span[T](name: String)(f: => T): T = {
    nextId += 1
    val id = nextId
    val parent = stack.headOption.getOrElse(0)
    stack = id :: stack
    sc.setLocalProperty(Tracer.SpanKey, id.toString)
    val start = nowMs
    try f
    finally {
      val end = nowMs
      stack = stack.tail
      sc.setLocalProperty(Tracer.SpanKey, stack.headOption.map(_.toString).orNull)
      spans += Span(id, name, parent, start, end)
    }
  }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).sortBy(_.id).toSeq

  private def withDescendants(id: Int): Set[Int] = {
    val kids = spans.filter(_.parent == id).map(_.id)
    kids.foldLeft(Set(id))((acc, k) => acc ++ withDescendants(k))
  }

  def stats(s: Span): SpanStats = {
    val ids = withDescendants(s.id)
    val jobs = listeners.flatMap(_._2.jobs.values).filter(j => ids.contains(j.span))
    // AQE runs jobs concurrently, so in-job time is the union of job
    // intervals (clipped to the span), not the sum of their durations.
    val iv = jobs.map(j => (math.max(j.startMs.toDouble, s.startMs), math.min(j.endMs.toDouble, s.endMs)))
      .filter(p => p._2 > p._1).sortBy(_._1)
    var covered = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.foreach { case (a, b) =>
      if (curS.isNaN || a > curE) {
        if (!curS.isNaN) covered += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (!curS.isNaN) covered += curE - curS
    val tasks = listeners.flatMap(_._2.tasks).filter(t => ids.contains(t.span))
    val skew =
      if (tasks.isEmpty) 1.0
      else {
        val byStage = tasks.groupBy(_.stage)
        // the stage that reads the most shuffle (else the busiest one)
        val (_, ts) = byStage.maxBy { case (_, ts) =>
          (ts.map(_.shuffleReadB).sum, ts.map(_.durationMs).sum) }
        val d = ts.map(_.durationMs.toDouble).sorted
        math.max(d.last, 1.0) / math.max(Stats.median(d.toSeq), 1.0)
      }
    SpanStats(
      (s.endMs - s.startMs) / 1e3, jobs.size, covered / 1e3,
      tasks.map(_.durationMs).sum / 1e3,
      tasks.map(_.shuffleWriteB).sum / 1048576.0, skew)
  }

  def jsonl: String = spans.sortBy(_.id).map { s =>
    val st = stats(s)
    s"""{"run":"$runId","id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
      f""""start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f,"jobs":${st.jobs},""" +
      s""""in_job_s":${st.inJobS},"task_s":${st.taskS},"shuffle_write_mb":${st.shuffleWriteMb}}"""
  }.mkString("", "\n", "\n")
}

object Tracer {
  val SpanKey = "linkbench.span"
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) Double.NaN
    else if (n % 2 == 1) s(n / 2)
    else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
