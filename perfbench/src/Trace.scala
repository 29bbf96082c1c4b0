package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on
  * the same base as Spark's listener event times and file mtimes.
  */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One timed interval at a layer boundary. `parent` is 0 for a root.
  * Counts measured at the same boundary ride along in `attrs`.
  */
final case class Span(id: Int, parent: Int, name: String, layer: String,
    start: Double, end: Double, attrs: Map[String, Double] = Map.empty) {
  def dur: Double = end - start
}

/** In-memory span store; written out once when the run ends. */
final class Tracer {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)

  def newId(): Int = ids.incrementAndGet()
  def add(s: Span): Unit = spans.add(s)
  def all: Seq[Span] = spans.iterator().asScala.toSeq

  /** Time `body`, which receives the new span's id for its children. */
  def span[A](name: String, layer: String, parent: Int)(body: Int => A): (A, Span) = {
    val id = newId()
    val t0 = Clock.nowMs
    val a = body(id)
    val s = Span(id, parent, name, layer, t0, Clock.nowMs)
    add(s)
    (a, s)
  }
}

object Tracer {
  /** Self time of every span: the time it is active while none of its
    * children are, with time shared between concurrently active
    * siblings split evenly among them. Under this rule the children's
    * self times plus the parent's own never exceed the parent's
    * duration, even when sink jobs run side by side.
    */
  def selfTimes(spans: Seq[Span]): Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    val self = scala.collection.mutable.Map[Int, Double]().withDefaultValue(0.0)
    def covered(s: Span, t: Double): Boolean =
      kids.getOrElse(s.id, Nil).exists(c => c.start <= t && t < c.end)
    // roots: spans whose parent is absent
    val ids = spans.map(_.id).toSet
    val roots = spans.filter(s => !ids.contains(s.parent))
    def share(parent: Option[Span], group: Seq[Span]): Unit = {
      val clipped = group.map { c =>
        parent.fold(c)(p => c.copy(start = math.max(c.start, p.start),
          end = math.max(math.max(c.start, p.start), math.min(c.end, p.end))))
      }
      // cut at every sibling's and every grandchild's boundary, so each
      // segment has one set of active siblings and one covered state
      val cuts = clipped.flatMap(c => Seq(c.start, c.end) ++
        kids.getOrElse(c.id, Nil).flatMap(g => Seq(g.start, g.end))
          .filter(t => t > c.start && t < c.end)).distinct.sorted
      cuts.zip(cuts.drop(1)).foreach { case (a, b) =>
        val mid = (a + b) / 2
        val active = clipped.filter(c => c.start <= mid && mid < c.end)
        active.foreach { c =>
          if (!covered(c, mid)) self(c.id) += (b - a) / active.size
        }
      }
    }
    share(None, roots)
    spans.foreach(p => kids.get(p.id).foreach(ch => share(Some(p), ch)))
    self.toMap
  }

  /** Parents whose children's self times sum past their own duration. */
  def overCommitted(spans: Seq[Span], self: Map[Int, Double]): Seq[Span] = {
    val kids = spans.groupBy(_.parent)
    spans.filter { p =>
      kids.get(p.id).exists(ch => ch.map(c => self.getOrElse(c.id, 0.0)).sum > p.dur + 1e-6)
    }
  }

  def toJson(spans: Seq[Span], self: Map[Int, Double]): String =
    spans.sortBy(_.start).map { s =>
      val attrs = s.attrs.map { case (k, v) => s""""${Json.esc(k)}":${Json.num(v)}""" }
      s"""{"id":${s.id},"parent":${s.parent},"name":"${Json.esc(s.name)}",""" +
        s""""layer":"${Json.esc(s.layer)}","start_ms":${Json.num(s.start)},""" +
        s""""dur_ms":${Json.num(s.dur)},"self_ms":${Json.num(self.getOrElse(s.id, 0.0))},""" +
        s""""attrs":{${attrs.mkString(",")}}}"""
    }.mkString("[\n", ",\n", "\n]\n")
}

/** Engine-side observation through Spark's public listener APIs: one job
  * record per Spark job with its task metrics, the output path of every
  * file write (keyed by SQL execution id, from the execution-start
  * event), and every streaming progress event.
  */
final class EngineProbe extends SparkListener {
  final class Job(val id: Int, val start: Long, val desc: String, val execId: Long) {
    @volatile var end: Long = -1
    var runMs, cpuNs, gcMs, shuffleBytes, spillBytes, tasks = 0L
  }

  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Job]()
  /** SQL execution id -> description of the file write it ran, output path included. */
  val writes = new ConcurrentHashMap[Long, String]()
  val progress = new ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val desc = p.flatMap(x => Option(x.getProperty("spark.job.description"))).getOrElse("")
    val exec = p.flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
      .flatMap(_.toLongOption).getOrElse(-1L)
    val j = new Job(e.jobId, e.time, desc, exec)
    jobs.put(e.jobId, j)
    e.stageIds.foreach(s => stageJob.put(s, j))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val j = stageJob.get(e.stageId)
    val m = e.taskMetrics
    if (j != null && m != null) j.synchronized {
      j.runMs += m.executorRunTime
      j.cpuNs += m.executorCpuTime
      j.gcMs += m.jvmGCTime
      j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      j.spillBytes += m.diskBytesSpilled
      j.tasks += 1
    }
  }

  private def write(p: SparkPlanInfo): Option[String] =
    if (p.nodeName.contains("InsertIntoHadoopFsRelationCommand")) Some(p.simpleString)
    else p.children.iterator.flatMap(write).nextOption()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => write(s.sparkPlanInfo).foreach(writes.put(s.executionId, _))
    case s: SparkListenerSQLAdaptiveExecutionUpdate =>
      write(s.sparkPlanInfo).foreach(writes.put(s.executionId, _))
    case _ =>
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = progress.add(e.progress)
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  def openJobs: Int = jobs.values().asScala.count(_.end < 0)
}
