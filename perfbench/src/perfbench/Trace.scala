package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced call: name, start, end, the span that caused it and the
  * request (cycle or batch) it belongs to. */
final class Span(
    val id: Int, val name: String, val parent: Int, val req: Long,
    val startMs: Long, val startNs: Long, val gcStartMs: Long) {
  var endMs = 0L
  var endNs = 0L
  var gcEndMs = 0L
  val attrs = mutable.LinkedHashMap.empty[String, Double]
  def ms: Double = (endNs - startNs) / 1e6
  def group: String = Tracer.groupOf(id)
}

/** A completed stage, attributed through the job group its submitting
  * job carried. */
final case class StageRec(
    group: String, wallMs: Long, tasks: Int, runMs: Long, maxTaskMs: Long, cpuNs: Long, gcMs: Long,
    shuffleRead: Long, shuffleWrite: Long, spill: Long, inputBytes: Long, outputBytes: Long)

final class JobRec(val group: String, val callSite: String, val startMs: Long) {
  @volatile var endMs: Long = -1L
}

/** Records every job and stage with the job group it ran under. */
final class SparkRecorder extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val maxTask = new ConcurrentHashMap[Int, java.lang.Long]()

  private def prop(p: java.util.Properties, key: String): String =
    Option(p).flatMap(x => Option(x.getProperty(key))).getOrElse("")

  // the long call site (the submitting stack) rides on the stage infos
  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.put(e.jobId, new JobRec(prop(e.properties, "spark.jobGroup.id"),
      e.stageInfos.map(_.details).mkString("\n"), e.time))

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageGroup.put(e.stageInfo.stageId, prop(e.properties, "spark.jobGroup.id"))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null)
      maxTask.merge(e.stageId, java.lang.Long.valueOf(e.taskMetrics.executorRunTime),
        (a: java.lang.Long, b: java.lang.Long) => java.lang.Long.valueOf(math.max(a.longValue, b.longValue)))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val m = si.taskMetrics
    val wall = (for (a <- si.completionTime; b <- si.submissionTime) yield a - b).getOrElse(0L)
    if (m != null)
      stages.add(StageRec(
        Option(stageGroup.get(si.stageId)).getOrElse(""), wall, si.numTasks,
        m.executorRunTime, maxTask.getOrDefault(si.stageId, 0L).longValue, m.executorCpuTime, m.jvmGCTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten))
  }
}

/** Sums the sealed-search rerank row counts the engine publishes through
  * `Dataset.observe`. */
final class RerankRows extends QueryExecutionListener {
  val rows = new AtomicLong(0L)
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    qe.observedMetrics.foreach { case (name, row) =>
      if (name.startsWith("graft_sealed_rerank_") || name.startsWith("graft_dist_rerank_"))
        rows.addAndGet(row.getLong(0))
    }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Tracer {
  def groupOf(spanId: Int): String = s"perfbench-span-$spanId"

  /** Total collection time of every garbage collector of this JVM. */
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum
}

/** Spans around the benchmark's calls into the engine. Disabled, `span`
  * only runs its body. Enabled, each span tags the Spark jobs it starts
  * with its own job group, so the recorder attributes jobs, stages and
  * tasks to exactly one span; spans stay in memory until the run ends. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var lastClosed: Option[Span] = None
  var enabled = false
  val recorder = new SparkRecorder
  val rerank = new RerankRows

  def start(): Unit = {
    sc.addSparkListener(recorder)
    spark.listenerManager.register(rerank)
    enabled = true
  }

  /** Stop tracing and wait until every listener event has been delivered. */
  def stop(): Unit = {
    enabled = false
    org.apache.spark.perfbench.Bus.drain(sc)
    sc.removeSparkListener(recorder)
    spark.listenerManager.unregister(rerank)
  }

  def span[T](name: String, req: Long)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(spans.size, name, stack.headOption.fold(-1)(_.id), req,
        System.currentTimeMillis(), System.nanoTime(), Tracer.gcMs())
      spans += s
      stack = s :: stack
      sc.setJobGroup(s.group, name)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        s.gcEndMs = Tracer.gcMs()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(p.group, p.name)
          case None => sc.clearJobGroup()
        }
        lastClosed = Some(s)
      }
    }

  /** Attach a value to the span that closed last (e.g. segments sealed). */
  def note(key: String, v: Double): Unit =
    if (enabled) lastClosed.foreach(_.attrs(key) = v)

  // ---- aggregation (after stop) ------------------------------------------

  private lazy val children: Map[Int, Seq[Span]] = spans.toSeq.groupBy(_.parent)
  private lazy val jobsByGroup: Map[String, Seq[JobRec]] =
    recorder.jobs.values.asScala.toSeq.groupBy(_.group)
  private lazy val stagesByGroup: Map[String, Seq[StageRec]] =
    recorder.stages.asScala.toSeq.groupBy(_.group)

  def jobsOf(s: Span): Seq[JobRec] = jobsByGroup.getOrElse(s.group, Nil)
  def stagesOf(s: Span): Seq[StageRec] = stagesByGroup.getOrElse(s.group, Nil)

  private def subtree(s: Span): Seq[Span] =
    s +: children.getOrElse(s.id, Nil).flatMap(subtree)

  /** Span time minus the time its children cover. */
  def selfMs(s: Span): Double = s.ms - children.getOrElse(s.id, Nil).map(_.ms).sum

  /** Time inside the span with no Spark job of its subtree running:
    * analysis, planning, driver-side work and the gaps between jobs. */
  def driverGapMs(s: Span): Double = {
    val iv = subtree(s).flatMap(jobsOf).filter(_.endMs >= 0)
      .map(j => (math.max(j.startMs, s.startMs), math.min(j.endMs, s.endMs)))
      .filter(t => t._2 > t._1).sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (a, b) =>
      if (a > curE) { covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    covered += curE - curS
    math.max(0.0, s.ms - covered)
  }

  /** Collector time of this JVM inside the span, minus its children's. */
  def selfGcMs(s: Span): Double =
    (s.gcEndMs - s.gcStartMs) - children.getOrElse(s.id, Nil).map(c => c.gcEndMs - c.gcStartMs).sum

  def named(name: String): Seq[Span] = spans.toSeq.filter(_.name == name)

  /** Spans as JSON lines (written when the run ends). */
  def spansJson: Iterator[String] = spans.iterator.map { s =>
    val attrs = s.attrs.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"req":${s.req},""" +
      s""""start_ms":${s.startMs},"end_ms":${s.endMs},"ms":${Json.num(s.ms)},""" +
      s""""self_ms":${Json.num(selfMs(s))},"driver_gap_ms":${Json.num(driverGapMs(s))},""" +
      s""""jobs":${jobsOf(s).size},"tasks":${stagesOf(s).map(_.tasks).sum},"attrs":{$attrs}}"""
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
