package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, WholeStageCodegenExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch milliseconds (fractional) so
  * they line up with the job times Spark's listener bus reports. */
final class Span(val id: Int, val name: String, val parent: Int,
                 val run: String, val start: Double) {
  var end: Double = Double.NaN
  val counters: mutable.Map[String, Double] = mutable.Map.empty
  def wall: Double = (end - start) / 1000.0
}

final case class Job(id: Int, group: Option[String], start: Long,
                     var end: Long = -1L) {
  val m: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
}

final case class Batch(rows: Long, durations: Map[String, Long])

/** In-memory tracer: spans recorded by the benchmark around each call
  * into a library module, plus the Spark jobs, planning phases and
  * streaming progress the engine reports through its listeners.
  *
  * Jobs are attributed to spans by job group (each span sets its own);
  * a job from another thread without one (stream micro-batches) goes
  * to the innermost span open when it started. With `enabled` false
  * only the op spans and stream progress are kept, which is what the
  * end-to-end metrics need. */
final class Tracer(spark: SparkSession, val enabled: Boolean, run: String) {
  private val sc: SparkContext = spark.sparkContext
  private val epochOffset: Double =
    System.currentTimeMillis().toDouble - System.nanoTime() / 1e6
  private def now: Double = epochOffset + System.nanoTime() / 1e6

  val spans = mutable.ArrayBuffer[Span]()
  private var open: List[Span] = Nil
  private val groupPrefix = s"pb-$run-"

  val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageJob = mutable.Map[Int, Int]()
  val phases = mutable.ArrayBuffer[(Double, String, Double)]() // start, phase, ms
  val batches = mutable.ArrayBuffer[Batch]()
  @volatile private var lastEvent = System.nanoTime()

  private def touch(): Unit = lastEvent = System.nanoTime()

  /** Run `body` inside a span named `name`. Op spans (depth 0) are
    * always kept; nested spans only when tracing is enabled. */
  def span[T](name: String)(body: => T): T =
    if (!enabled && open.nonEmpty) body
    else {
      val s = new Span(spans.size + 1, name, open.headOption.map(_.id).getOrElse(0),
        run, now)
      spans += s
      open = s :: open
      if (enabled) sc.setJobGroup(groupPrefix + s.id, name)
      val codegen0 = (WholeStageCodegenExec.codeGenTime, CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
      try body
      finally {
        s.end = now
        s.counters("codegen.compile_s") = (WholeStageCodegenExec.codeGenTime - codegen0._1) / 1e9
        s.counters("codegen.classes") =
          (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - codegen0._2).toDouble
        open = open.tail
        if (enabled) open.headOption match {
          case Some(p) => sc.setJobGroup(groupPrefix + p.id, p.name)
          case None    => sc.clearJobGroup()
        }
      }
    }

  /** Add `v` to counter `key` of the innermost open span. */
  def count(key: String, v: Double): Unit =
    open.headOption.foreach(s => s.counters(key) = s.counters.getOrElse(key, 0.0) + v)

  /** Block until the listener bus has been quiet for `quietMs`. */
  def drain(quietMs: Long = 400L, maxMs: Long = 10000L): Unit = {
    val t0 = System.nanoTime()
    while ((System.nanoTime() - lastEvent) / 1e6 < quietMs &&
           (System.nanoTime() - t0) / 1e6 < maxMs) Thread.sleep(50)
  }

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      touch()
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      jobs(e.jobId) = Job(e.jobId, g, e.time)
      e.stageIds.foreach(st => stageJob(st) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      touch(); jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      touch()
      stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.m("stages") += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      touch()
      stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
        j.m("tasks") += 1
        if (!e.taskInfo.successful) j.m("failed_tasks") += 1
        val t: TaskMetrics = e.taskMetrics
        if (t != null) {
          j.m("run_s") += t.executorRunTime / 1e3
          j.m("cpu_s") += t.executorCpuTime / 1e9
          j.m("gc_s") += t.jvmGCTime / 1e3
          j.m("shuffle_write_mb") += t.shuffleWriteMetrics.bytesWritten / 1048576.0
          j.m("shuffle_read_mb") += t.shuffleReadMetrics.totalBytesRead / 1048576.0
          j.m("shuffle_wait_s") += t.shuffleReadMetrics.fetchWaitTime / 1e3
          j.m("spill_mb") += t.diskBytesSpilled / 1048576.0
        }
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = synchronized {
      touch()
      qe.tracker.phases.foreach { case (p, s) =>
        phases += ((s.startTimeMs.toDouble, p, s.durationMs.toDouble))
      }
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = touch()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = touch()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = touch()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = touch()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
      touch()
      val p = e.progress
      if (p.numInputRows > 0) {
        val d = scala.jdk.CollectionConverters.MapHasAsScala(p.durationMs).asScala
          .map { case (k, v) => k -> v.longValue }.toMap
        batches += Batch(p.numInputRows, d)
      }
    }
  }

  def install(): Unit = {
    spark.streams.addListener(streamListener)
    if (enabled) {
      sc.addSparkListener(jobListener)
      spark.listenerManager.register(queryListener)
    }
  }

  // ------------------------------------------------------------ analysis

  private def union(ivs: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var cur = (Double.NaN, Double.NaN)
    ivs.sortBy(_._1).foreach { case (a, b) =>
      if (cur._1.isNaN) cur = (a, b)
      else if (a <= cur._2) cur = (cur._1, math.max(cur._2, b))
      else { total += cur._2 - cur._1; cur = (a, b) }
    }
    if (!cur._1.isNaN) total += cur._2 - cur._1
    total / 1000.0
  }

  private lazy val byId: Map[Int, Span] = spans.map(s => s.id -> s).toMap
  private lazy val children: Map[Int, Seq[Span]] = spans.toSeq.groupBy(_.parent)

  /** The innermost span whose interval holds time `t`. */
  private def innermost(t: Double): Option[Span] =
    spans.filter(s => s.start <= t && t <= s.end).maxByOption(depth)
  private def depth(s: Span): Int =
    if (s.parent == 0) 0 else 1 + depth(byId(s.parent))

  /** Span each finished job belongs to. */
  lazy val jobSpan: Map[Int, Span] = synchronized {
    jobs.values.filter(_.end >= 0).flatMap { j =>
      val byGroup = j.group.filter(_.startsWith(groupPrefix))
        .flatMap(g => g.stripPrefix(groupPrefix).toIntOption).flatMap(byId.get)
      byGroup.orElse(innermost(j.start.toDouble)).map(j.id -> _)
    }.toMap
  }

  /** `s` and every span below it. */
  def subtree(s: Span): Seq[Span] = s +: children.getOrElse(s.id, Nil).flatMap(subtree)

  def jobsUnder(s: Span): Seq[Job] = {
    val ids = subtree(s).map(_.id).toSet
    jobs.values.toSeq.filter(j => jobSpan.get(j.id).exists(sp => ids(sp.id)))
  }

  def phasesUnder(s: Span): Seq[(String, Double)] = {
    val ids = subtree(s).map(_.id).toSet
    phases.toSeq.flatMap { case (t, p, ms) =>
      innermost(t).filter(sp => ids(sp.id)).map(_ => p -> ms)
    }
  }

  /** Wall time of `s` outside every Spark job it caused. */
  def driverGap(s: Span): Double =
    math.max(0.0, s.wall - union(jobsUnder(s).map(j => (j.start.toDouble, j.end.toDouble))))

  /** Wall time of `s` not covered by its child spans, Spark jobs
    * included as children. */
  def self(s: Span): Double = {
    val kids = children.getOrElse(s.id, Nil).map(k => (k.start, k.end)) ++
      jobs.values.filter(j => jobSpan.get(j.id).exists(_.id == s.id))
        .map(j => (j.start.toDouble, j.end.toDouble))
    math.max(0.0, s.wall - union(kids.toSeq))
  }

  def jobUnion(s: Span): Double =
    union(jobsUnder(s).map(j => (j.start.toDouble, j.end.toDouble)))

  def toJson(s: Span): String = {
    val cs = s.counters.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"run":"${s.run}",""" +
      s""""start_ms":${Json.num(s.start)},"end_ms":${Json.num(s.end)},""" +
      s""""wall_s":${Json.num(s.wall)},"self_s":${Json.num(self(s))},""" +
      s""""jobs":${jobsUnder(s).size},"counters":{$cs}}"""
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
