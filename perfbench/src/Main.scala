package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession

/** One measured operation: a corpus pass, a delta, a stream micro-batch.
  * `window` is "untraced", "traced" or "untraced_after".
  */
final case class OpRec(kind: String, window: String, wallS: Double, ok: Boolean,
    err: String, info: Map[String, Any])

object Ops {
  val recs = mutable.ArrayBuffer.empty[OpRec]
  var window = "untraced"

  /** Time `body` as one operation; a throw marks it failed. */
  def op(kind: String, info: Map[String, Any] = Map.empty)(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    val err = try { Trace.span(s"op:$kind")(body); null }
      catch { case e: Throwable => s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500) }
    add(OpRec(kind, window, (System.nanoTime() - t0) / 1e9, err == null, err, info))
  }

  /** Record an operation timed elsewhere (stream micro-batches). */
  def add(r: OpRec): Unit = recs.synchronized(recs += r)
}

/** Workload parameters, read from the `key=value` file the launcher writes. */
final class Params(m: Map[String, String]) {
  def str(k: String): String = m.getOrElse(k, throw new IllegalArgumentException(s"missing param $k"))
  def int(k: String): Int = str(k).toInt
  def long(k: String): Long = str(k).toLong
  def dbl(k: String): Double = str(k).toDouble
}

object Params {
  def load(path: String): Params = {
    val props = new java.util.Properties()
    val in = Files.newBufferedReader(Paths.get(path), UTF_8)
    try props.load(in) finally in.close()
    new Params(props.asScala.toMap)
  }
}

trait Workload {
  /** Input generation done inside the JVM (the cdc backlog); the launcher
    * generates the batch inputs before the JVM starts.
    */
  def prepare(spark: SparkSession): Unit = ()
  def warmup(spark: SparkSession): Unit
  def measure(spark: SparkSession, seconds: Double): Unit
  /** Output checks done in the JVM: name -> (ok, detail). */
  def checks: Map[String, Map[String, Any]] = Map.empty
  /** Workload-specific per-layer metrics of the traced window. */
  def layers(views: Seq[Trace.OpView]): Map[String, Double] = Map.empty
  def info: Map[String, Any] = Map.empty
}

/** Peak heap in use right after a collection, from the collectors' GC
  * notifications: the program's live data plus what survived so far,
  * unlike the committed heap or the process RSS, which follow how far
  * the collector chose to grow the heap.
  */
object HeapWatch {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  @volatile private var peakB = 0L

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter =>
      e.addNotificationListener((n: Notification, _: AnyRef) =>
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          synchronized { peakB = math.max(peakB, used) }
        }, null, null)
    case _ =>
  }
  def reset(): Unit = synchronized { peakB = 0L }
  def peakMb: Double = peakB / 1048576.0
}

/** Benchmark entry point: sets up a `local[cores]` Graft session several times
  * (timing each set-up), measures one untraced window and, with
  * `--trace 1`, a traced window followed by a second untraced one, then
  * writes everything it saw as one JSON file for the launcher
  * (`perfbench/run.py`) to check and report.
  *
  * Usage: Main --workload W --params FILE --work DIR --seconds S --trace 0|1
  *             --cores N --setups K --result FILE --spans FILE [--corrupt]
  *        Main --workload cdc_stream --params FILE --work DIR --gen-only 1
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val flags = args.filter(_.startsWith("--")).map(_.drop(2)).toSet
    val workloadName = a("workload")
    val params = Params.load(a("params"))
    val work = new File(a("work")).getAbsolutePath
    if (flags.contains("gen-only")) {
      // input generation alone (the determinism self-test): the cdc backlog
      new CdcStream(params, work, corrupt = false).prepare(null)
      return
    }
    val seconds = a("seconds").toDouble
    val traced = a.get("trace").contains("1")
    val cores = a("cores").toInt
    val setups = a("setups").toInt
    val corrupt = flags.contains("corrupt")

    val workload: Workload = workloadName match {
      case "llm_corpus" => new LlmCorpus(params, work)
      case "cdc_stream" => new CdcStream(params, work, corrupt)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    HeapWatch.install()
    val setupRecs = mutable.ArrayBuffer.empty[Map[String, Double]]
    var spark: SparkSession = null
    for (_ <- 1 to setups) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = graft.api.GraftSession.create(s"local[$cores]", "graftbench", cores, Map(
        "spark.local.dir" -> s"$work/spark-local",
        "spark.sql.warehouse.dir" -> s"$work/warehouse",
        "spark.sql.streaming.numRecentProgressUpdates" -> "100000"))
      spark.sparkContext.setLogLevel("ERROR")
      val t1 = System.nanoTime()
      workload.prepare(spark)
      val t2 = System.nanoTime()
      workload.warmup(spark)
      val t3 = System.nanoTime()
      setupRecs += Map("session_s" -> (t1 - t0) / 1e9, "prepare_s" -> (t2 - t1) / 1e9,
        "warmup_s" -> (t3 - t2) / 1e9)
    }

    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs = gcBeans.map(_.getCollectionTime).filter(_ >= 0).sum

    def window(name: String): Map[String, Double] = {
      Ops.window = name
      HeapWatch.reset()
      val gc0 = gcMs
      val t0 = System.nanoTime()
      workload.measure(spark, seconds)
      Map("wall_s" -> (System.nanoTime() - t0) / 1e9, "jvm.gc_s" -> (gcMs - gc0) / 1000.0,
        "jvm.heap_peak_mb" -> HeapWatch.peakMb)
    }

    val windows = mutable.LinkedHashMap("untraced" -> window("untraced"))
    var layers = Map.empty[String, Double]
    var layersByOp = Map.empty[String, Map[String, Double]]
    var traceOps = Seq.empty[Map[String, Any]]
    var selfTimes = Map.empty[String, Double]
    if (traced) {
      Trace.reset()
      Trace.install(spark)
      Trace.enabled = true
      val tracedWin = window("traced")
      windows("traced") = tracedWin
      Trace.enabled = false
      Trace.drain(spark)
      Trace.uninstall(spark)
      // the workload's layer metrics read its last window: take them now
      val views = Trace.opViews()
      layers = Layers.common(views, cores) ++ workload.layers(views) ++
        Map("jvm.gc_s" -> tracedWin("jvm.gc_s"), "jvm.heap_peak_mb" -> tracedWin("jvm.heap_peak_mb"))
      layersByOp = views.groupBy(_.root.name.stripPrefix("op:")).map { case (k, vs) =>
        k -> Layers.common(vs, cores).filter(_._1.startsWith("exec."))
      }
      traceOps = Layers.unattributed(views)
      selfTimes = Layers.selfTimes(views)
      Layers.writeSpans(views, a("spans"))
      // untraced again: the JIT keeps warming through the run, so the
      // tracing overhead is taken against the windows on both sides
      windows("untraced_after") = window("untraced_after")
    }
    val checks = workload.checks
    spark.stop()

    val result = Map(
      "workload" -> workloadName,
      "setups" -> setupRecs.toSeq,
      "ops" -> Ops.recs.toSeq.map(r => Map("kind" -> r.kind, "window" -> r.window,
        "wall_s" -> r.wallS, "ok" -> r.ok, "err" -> r.err, "info" -> r.info)),
      "windows" -> windows.toMap,
      "layers" -> layers,
      "layers_by_op" -> layersByOp,
      "trace_ops" -> traceOps,
      "self_s" -> selfTimes,
      "checks" -> checks,
      "peak_rss_mb" -> peakRssMb(),
      "info" -> (workload.info ++ Map("cores" -> cores)))
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.write(Paths.get(a("result")), mapper.writeValueAsBytes(result))
  }

  /** Peak resident set (VmHWM) of this process, in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(0.0)
}
