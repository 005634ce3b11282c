package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan, SparkPlanInfo}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call the benchmark made into a layer. `op` is the id of the
  * operation's root span; `parent` is 0 for a root.
  */
final class Span(val id: Int, val op: Int, val parent: Int, val name: String, val start: Long) {
  @volatile var end: Long = -1L
}

/** Spans around every call the benchmark makes into a layer, plus the
  * Spark work those calls submit. Attribution is by job tag: entering a
  * span puts `gb-<id>` on the calling thread's job tags (a thread-local
  * property that Spark copies onto every job, SQL execution and stream
  * thread the call starts), so listener events are tied to a span by
  * what caused them, never by time overlap. With tracing off only the
  * operation roots are timed and no listener is registered.
  */
object Trace {
  @volatile var enabled = false
  private val ids = new AtomicInteger(0)
  private val current = new ThreadLocal[Span]
  val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private def now(): Long = System.nanoTime()

  private def tag(s: Span) = s"gb-${s.id}"

  /** Run `body` as a span named `name`, a child of the thread's current
    * span, or a new operation root when there is none.
    */
  def span[T](name: String)(body: => T): T = {
    if (!enabled) body
    else {
      val parent = current.get
      val id = ids.incrementAndGet()
      val s = new Span(id, if (parent == null) id else parent.op,
        if (parent == null) 0 else parent.id, name, now())
      spans.add(s)
      val sc = SparkSession.getDefaultSession.map(_.sparkContext)
      sc.foreach { c => if (parent != null) c.removeJobTag(tag(parent)); c.addJobTag(tag(s)) }
      current.set(s)
      try body
      finally {
        s.end = now()
        current.set(parent)
        sc.foreach { c => c.removeJobTag(tag(s)); if (parent != null) c.addJobTag(tag(parent)) }
      }
    }
  }

  def reset(): Unit = { spans.clear(); Events.reset() }

  // ---------- listener-side records ----------

  final case class JobRec(jobId: Int, span: Int, start: Long, stages: Seq[Int]) {
    @volatile var end: Long = -1L
  }
  final class StageAcc {
    var tasks = 0; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shufReadB = 0L; var shufWriteB = 0L; var spillB = 0L
    val durs = mutable.ArrayBuffer.empty[Long]
  }
  /** A file scan (format, first root path, rows, bytes) or a file write
    * (path, rows, bytes, files) seen in an executed plan.
    */
  final case class Scan(format: String, path: String, rows: Long, bytes: Long)
  final case class Write(path: String, rows: Long, bytes: Long, files: Long)
  /** One SQL execution's plan. `cachedScans` holds the scans inside the
    * cached (persisted) plans it reads, by cache: they run once, when the
    * cache is first filled, however many executions read the cache.
    */
  final case class QeRec(exec: Long, analysis: Double, optimization: Double, planning: Double,
      exchanges: Int, bhj: Int, smj: Int, scans: Seq[Scan], writes: Seq[Write],
      cachedScans: Map[Int, Seq[Scan]])
  /** Every file scan of a set of executions, each cache's scans once. */
  def scansOf(qes: Seq[QeRec]): Seq[Scan] =
    qes.flatMap(_.scans) ++ qes.flatMap(_.cachedScans).toMap.values.flatten
  final case class ExecRec(span: Int, start: Long) { @volatile var end: Long = -1L }

  /** Listener state. Spark posts to listeners on its bus thread. */
  object Events {
    val jobs = new ConcurrentHashMap[Int, JobRec]()
    val stages = new ConcurrentHashMap[Int, StageAcc]()
    val execs = new ConcurrentHashMap[Long, ExecRec]()
    val accExec = new ConcurrentHashMap[Long, Long]()
    val qes = new java.util.concurrent.ConcurrentLinkedQueue[QeRec]()
    @volatile var drainSeen = false
    def reset(): Unit = {
      jobs.clear(); stages.clear(); execs.clear(); accExec.clear(); qes.clear()
    }
  }

  private def spanOfTags(tags: Iterable[String]): Int =
    tags.iterator.filter(_.startsWith("gb-")).map(_.drop(3))
      .flatMap(_.toIntOption).foldLeft(0)(math.max)

  private def metricIds(p: SparkPlanInfo): Iterator[Long] =
    p.metrics.iterator.map(_.accumulatorId) ++ p.children.iterator.flatMap(metricIds)

  private object PlanWalk extends AdaptiveSparkPlanHelper {
    def all(p: SparkPlan): Seq[SparkPlan] = collectWithSubqueries(p) { case x => x }
  }

  private class Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
        .toSeq.flatMap(_.split(","))
      if (tags.contains("gb-drain")) Events.drainSeen = true
      Events.jobs.put(e.jobId, JobRec(e.jobId, spanOfTags(tags), e.time, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(Events.jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val acc = Events.stages.computeIfAbsent(e.stageId, _ => new StageAcc)
      acc.synchronized {
        acc.tasks += 1
        acc.durs += e.taskInfo.duration
        if (m != null) {
          acc.runMs += m.executorRunTime
          acc.cpuNs += m.executorCpuTime
          acc.gcMs += m.jvmGCTime
          acc.shufReadB += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
          acc.shufWriteB += m.shuffleWriteMetrics.bytesWritten
          acc.spillB += m.diskBytesSpilled
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        Events.execs.put(s.executionId, ExecRec(spanOfTags(s.jobTags), s.time))
        metricIds(s.sparkPlanInfo).foreach(Events.accExec.put(_, s.executionId))
      case u: SparkListenerSQLAdaptiveExecutionUpdate =>
        metricIds(u.sparkPlanInfo).foreach(Events.accExec.put(_, u.executionId))
      case x: SparkListenerSQLExecutionEnd =>
        Option(Events.execs.get(x.executionId)).foreach(_.end = x.time)
      case _ =>
    }
  }

  private def metric(p: SparkPlan, k: String) = p.metrics.get(k).map(_.value).getOrElse(0L)

  private def fileScans(nodes: Seq[SparkPlan]): Seq[Scan] = nodes.collect { case f: FileSourceScanExec =>
    Scan(f.relation.fileFormat.toString.toLowerCase,
      f.relation.location.rootPaths.headOption.map(_.toString).getOrElse(""),
      metric(f, "numOutputRows"), metric(f, "filesSize"))
  }

  /** Scans inside the cached plans `nodes` read, nested caches included. */
  private def cachedScans(nodes: Seq[SparkPlan]): Map[Int, Seq[Scan]] =
    nodes.collect { case m: InMemoryTableScanExec => m.relation.cacheBuilder }.flatMap { b =>
      val inner = PlanWalk.all(b.cachedPlan)
      cachedScans(inner) + (System.identityHashCode(b) -> fileScans(inner))
    }.toMap

  private class QeListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val nodes = PlanWalk.all(qe.executedPlan)
      val exec = nodes.iterator.flatMap(_.metrics.values.map(_.id))
        .map(id => Events.accExec.getOrDefault(id, -1L)).find(_ >= 0).getOrElse(-1L)
      val ph = qe.tracker.phases
      def phase(k: String) = ph.get(k).map(p => (p.endTimeMs - p.startTimeMs) / 1000.0).getOrElse(0.0)
      Events.qes.add(QeRec(exec, phase("analysis"), phase("optimization"), phase("planning"),
        nodes.count(_.isInstanceOf[ShuffleExchangeExec]),
        nodes.count(_.isInstanceOf[BroadcastHashJoinExec]),
        nodes.count(_.isInstanceOf[SortMergeJoinExec]),
        fileScans(nodes),
        nodes.collect { case w: DataWritingCommandExec =>
          val path = w.cmd match {
            case i: InsertIntoHadoopFsRelationCommand => i.outputPath.toString
            case _ => ""
          }
          Write(path, metric(w, "numOutputRows"), metric(w, "numOutputBytes"), metric(w, "numFiles"))
        },
        cachedScans(nodes)))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private var installed: Option[(Listener, QeListener)] = None

  /** Register the listeners on `spark` for the traced window. */
  def install(spark: SparkSession): Unit = {
    val l = (new Listener, new QeListener)
    spark.sparkContext.addSparkListener(l._1)
    spark.listenerManager.register(l._2)
    installed = Some(l)
  }

  def uninstall(spark: SparkSession): Unit = {
    installed.foreach { case (l, q) =>
      spark.sparkContext.removeSparkListener(l)
      spark.listenerManager.unregister(q)
    }
    installed = None
  }

  /** Wait until the listener bus has delivered everything posted so far:
    * a tagged marker job's start event arrives after all earlier events.
    */
  def drain(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    Events.drainSeen = false
    sc.addJobTag("gb-drain")
    try sc.parallelize(Seq(1), 1).count() finally sc.removeJobTag("gb-drain")
    val deadline = System.currentTimeMillis() + 20000
    while (!Events.drainSeen && System.currentTimeMillis() < deadline) Thread.sleep(20)
  }

  // ---------- aggregation ----------

  /** Length of the union of [start, end) intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Per-operation view of the recorded spans and Spark work. Listener
    * times are wall-clock milliseconds; span times are nanoTime, so job
    * intervals are mapped onto the span clock through one offset.
    */
  final class OpView(val root: Span, val all: Seq[Span], val jobs: Seq[JobRec],
      val stageAccs: Seq[StageAcc], val qes: Seq[QeRec], val execs: Seq[(Long, ExecRec)]) {
    def wallS: Double = (root.end - root.start) / 1e9
    def spansNamed(p: String => Boolean): Seq[Span] = all.filter(s => p(s.name))
    def jobsUnder(ss: Seq[Span]): Seq[JobRec] = {
      val ids = ss.map(_.id).toSet
      jobs.filter(j => ids.contains(j.span))
    }
  }

  private val clockOffsetNs: Long = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def msToSpanClock(ms: Long): Long = ms * 1000000L - clockOffsetNs

  def opViews(): Seq[OpView] = {
    val all = spans.asScala.toSeq.filter(_.end > 0)
    val byOp = all.groupBy(_.op)
    val jobsBySpan = Events.jobs.values.asScala.toSeq.groupBy(_.span)
    val qesByExec = Events.qes.asScala.toSeq.groupBy(_.exec)
    byOp.toSeq.sortBy(_._1).flatMap { case (op, ss) =>
      ss.find(_.id == op).map { root =>
        val spanIds = ss.map(_.id).toSet
        val jobs = spanIds.toSeq.flatMap(id => jobsBySpan.getOrElse(id, Nil))
        val stageAccs = jobs.flatMap(_.stages).distinct.flatMap(s => Option(Events.stages.get(s)))
        val execs = Events.execs.asScala.toSeq.filter { case (_, e) => spanIds.contains(e.span) }
        val qes = execs.flatMap { case (id, _) => qesByExec.getOrElse(id, Nil) }
        new OpView(root, ss, jobs, stageAccs, qes, execs)
      }
    }
  }

  /** Self time of span `s` in `v`: its duration minus the part covered by
    * its child spans and by the Spark jobs attributed to it.
    */
  def selfNs(v: OpView, s: Span): Long = {
    val kids = v.all.filter(_.parent == s.id).map(k => (k.start, k.end)) ++
      v.jobs.filter(j => j.span == s.id && j.end > 0)
        .map(j => (msToSpanClock(j.start), msToSpanClock(j.end)))
    val clipped = kids.map { case (a, b) => (math.max(a, s.start), math.min(b, s.end)) }
    (s.end - s.start) - covered(clipped)
  }

  /** Share of the operation's wall that no child span of the root covers. */
  def unattributedNs(v: OpView): Long = {
    val kids = v.all.filter(_.parent == v.root.id).map(k => (k.start, k.end))
    (v.root.end - v.root.start) - covered(kids)
  }
}
