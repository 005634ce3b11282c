package graftbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{col, max, min, timestamp_millis}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import org.apache.spark.sql.types.{LongType, StringType, StructType}

import graft.sources.CdcFormats
import graft.streaming.StreamingOps

/** Seeded Debezium-JSON change feed over keys 1..`keys` with Zipf-skewed
  * key choice. A present key gets an update or a delete, an absent key an
  * insert, so per-key order is the log order. Each event carries its log
  * position (`lsn`) and scheduled creation time (`ts_ms`) in both row
  * images. A share of events is delivered a second time, one to three
  * files later. `state` is the table the feed describes after every event
  * generated so far.
  */
final class CdcGen(seed: Long, keys: Int, zipf: Double, updateShare: Double,
    deleteShare: Double, redeliverShare: Double) {
  private val rnd = new java.util.SplittableRandom(seed)
  private val cdf: Array[Double] = {
    val w = (1 to keys).map(k => 1.0 / math.pow(k, zipf))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
  }
  val state = mutable.HashMap.empty[Long, (String, Long)]
  private var lsn = 0L
  var events = 0L
  private val redeliveries = mutable.HashMap.empty[Int, mutable.ArrayBuffer[String]]

  private def pickKey(): Long = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
    (if (i >= 0) i else -i - 1).min(keys - 1) + 1L
  }
  private def image(id: Long, v: String, l: Long, ts: Long) =
    s"""{"id":$id,"v":"$v","lsn":$l,"ts_ms":$ts}"""

  /** The lines of file `file`: `n` new events stamped by `tsOf(i)`, then
    * the redeliveries due in this file.
    */
  def file(file: Int, n: Int, tsOf: Int => Long): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    for (i <- 0 until n) {
      val id = pickKey(); lsn += 1; events += 1
      val ts = tsOf(i)
      val v = s"v${rnd.nextInt(1000000)}"
      val r = rnd.nextDouble()
      val line = state.get(id) match {
        case None =>
          state(id) = (v, lsn)
          s"""{"before":null,"after":${image(id, v, lsn, ts)},"op":"c","ts_ms":$ts}"""
        case Some((old, _)) if r < deleteShare / (updateShare + deleteShare) =>
          state.remove(id)
          s"""{"before":${image(id, old, lsn, ts)},"after":null,"op":"d","ts_ms":$ts}"""
        case Some((old, _)) =>
          state(id) = (v, lsn)
          s"""{"before":${image(id, old, lsn, ts)},"after":${image(id, v, lsn, ts)},"op":"u","ts_ms":$ts}"""
      }
      out += line
      if (rnd.nextDouble() < redeliverShare)
        redeliveries.getOrElseUpdate(file + 1 + rnd.nextInt(3), mutable.ArrayBuffer.empty) += line
    }
    out ++= redeliveries.remove(file).getOrElse(Nil)
    out.toSeq
  }

  /** Write a file atomically into `dir`: Spark's file source skips names
    * starting with `.`, so it sees the file only after the rename.
    */
  def write(dir: String, file: Int, lines: Seq[String], mtime: Option[Long] = None): Unit = {
    val tmp = Paths.get(dir, f".f$file%06d.json.tmp")
    Files.write(tmp, lines.mkString("", "\n", "\n").getBytes(UTF_8))
    val dst = Paths.get(dir, f"f$file%06d.json")
    Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
    mtime.foreach(t => dst.toFile.setLastModified(t))
  }
}

/** `cdc_stream`: an open-loop generator thread writes change files at a
  * fixed rate while `readStream` text -> `CdcFormats.parseDebezium` ->
  * `StreamingOps.streamingDedup` -> `StreamingOps.applyCdcStream` keeps a
  * durable parquet snapshot; then a second query drains a pre-written
  * backlog with a per-trigger file cap. One operation is one committed
  * micro-batch that carried data. Both final snapshots are compared with
  * the generator's table state.
  */
final class CdcStream(p: Params, work: String, corrupt: Boolean) extends Workload {
  private val keys = p.int("cdc.keys")
  private val rate = p.dbl("cdc.rate_eps")
  private val perFile = p.int("cdc.events_per_file")
  private val backlogFiles = p.int("cdc.backlog_files")
  private val cap = p.int("cdc.max_files_per_trigger")
  private val liveShare = p.dbl("cdc.live_share")
  private val delay = p.str("cdc.watermark_delay")
  private val seed = p.long("cdc.seed")
  private def newGen(salt: Long) = new CdcGen(seed * 1000003L + salt, keys, p.dbl("cdc.zipf"),
    p.dbl("cdc.update_share"), p.dbl("cdc.delete_share"), p.dbl("cdc.redeliver_share"))

  private val dataSchema = new StructType()
    .add("id", LongType).add("v", StringType).add("lsn", LongType).add("ts_ms", LongType)

  private def fresh(dir: String): String = {
    val f = new File(dir)
    if (f.exists()) org.apache.commons.io.FileUtils.deleteDirectory(f)
    f.mkdirs()
    f.getAbsolutePath
  }

  // ---------- backlog (part of set-up) ----------
  private val backlogDir = s"$work/cdc_in/backlog"
  private var backlogState = Map.empty[Long, (String, Long)]
  private var backlogEvents = 0L

  override def prepare(spark: SparkSession): Unit = {
    fresh(backlogDir)
    val gen = newGen(1)
    val base = 1700000000000L
    for (j <- 0 until backlogFiles)
      gen.write(backlogDir, j, gen.file(j, perFile, i => base + ((j * perFile + i) * 1000.0 / rate).toLong),
        mtime = Some(base + j * 1000L))
    backlogState = gen.state.toMap
    backlogEvents = gen.events
  }

  // ---------- the stream ----------
  private val commits = new ConcurrentHashMap[Long, Long]()

  private def start(spark: SparkSession, inDir: String, name: String, maxFiles: Option[Int]): StreamingQuery = {
    val stateDir = fresh(s"$work/cdc_state/$name")
    val ckpt = fresh(s"$work/cdc_ckpt/$name")
    commits.clear()
    val raw = Trace.span("sources.readStream") {
      val r = spark.readStream.schema("value string")
      maxFiles.fold(r)(n => r.option("maxFilesPerTrigger", n.toLong)).text(inDir)
    }
    val changes = Trace.span("sources.parseDebezium")(CdcFormats.parseDebezium(raw, "value", dataSchema))
      .withColumn("ts", timestamp_millis(col("ts_ms")))
    val deduped = Trace.span("streaming.streamingDedup") {
      StreamingOps.streamingDedup(changes, Seq("lsn", "__row_kind"), "ts", delay)
    }.drop("ts").observe("cdc_batch", min("ts_ms").as("min_ts"), max("ts_ms").as("max_ts"))
    val initial = spark.createDataFrame(java.util.List.of[Row](), dataSchema)
    val writer = Trace.span("streaming.applyCdcStream") {
      StreamingOps.applyCdcStream(deduped, initial, Seq("id"), "lsn", ckpt, stateDir) { _ =>
        val b = spark.sparkContext.getLocalProperty("streaming.sql.batchId")
        if (b != null) commits.put(b.toLong, System.currentTimeMillis())
      }
    }
    Trace.span("streaming.start")(writer.queryName(name).start())
  }

  /** Final snapshot of `name` against the expected table state. */
  private def compare(spark: SparkSession, name: String,
      want: Map[Long, (String, Long)]): (Boolean, String) = {
    val snap = StreamingOps.currentSnapshot(spark, s"$work/cdc_state/$name")
    val got = snap.map(_.select("id", "v", "lsn").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap).getOrElse(Map.empty)
    val expected = if (corrupt && want.nonEmpty) want - want.keys.min else want
    val missing = expected.keySet.diff(got.keySet).size
    val extra = got.keySet.diff(expected.keySet).size
    val wrong = expected.count { case (k, v) => got.get(k).exists(_ != v) }
    (missing == 0 && extra == 0 && wrong == 0,
      s"rows=${got.size} expected=${expected.size} missing=$missing extra=$extra wrong=$wrong")
  }

  private def observed(pr: StreamingQueryProgress, k: String): Option[Long] =
    Option(pr.observedMetrics.get("cdc_batch")).flatMap(r =>
      if (r.isNullAt(r.fieldIndex(k))) None else Some(r.getAs[Long](k)))

  // per-window records for the per-layer metrics
  private val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  private var genLate = 0L
  private var genEvents = 0L
  private var inputLagMs = 0L
  private val checkResults = mutable.LinkedHashMap.empty[String, Map[String, Any]]

  /** Run the live phase for `seconds`: returns (query, generator, per-file
    * (write time, newest stamp)).
    */
  private def live(spark: SparkSession, name: String, seconds: Double, salt: Long) = {
    val inDir = fresh(s"$work/cdc_in/$name")
    val gen = newGen(salt)
    val q = start(spark, inDir, name, None)
    val interval = perFile * 1000.0 / rate
    val nFiles = math.max(1, (seconds * 1000 / interval).toInt)
    val written = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    var late = 0L
    val t0 = System.currentTimeMillis() + 100
    val thread = new Thread(() => {
      for (j <- 0 until nFiles) {
        val due = t0 + ((j + 1) * interval).toLong
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        val stamp: Int => Long = i => t0 + ((j * perFile + i) * 1000.0 / rate).toLong
        gen.write(inDir, j, gen.file(j, perFile, stamp))
        val now = System.currentTimeMillis()
        late = math.max(late, now - due)
        written.add((now, stamp(perFile - 1)))
      }
    }, "cdc-generator")
    thread.start()
    Trace.span("streaming.await") {
      thread.join()
      q.processAllAvailable()
      q.stop()
    }
    (q, gen, written.asScala.toSeq, late)
  }

  private var provider = ""
  override def warmup(spark: SparkSession): Unit = {
    provider = spark.conf.get("spark.sql.streaming.stateStore.providerClass")
    live(spark, "warm", 0.5, 99)
  }

  private var windows = 0
  override def measure(spark: SparkSession, seconds: Double): Unit = {
    windows += 1
    val tag = Ops.window
    progress.clear()
    // live phase: one sample per committed micro-batch that carried data
    var liveOk = false
    val liveRecs = mutable.ArrayBuffer.empty[OpRec]
    Ops.op("live_phase") {
      val (q, gen, written, late) = live(spark, s"live_$tag", seconds * liveShare, 2 + windows)
      val prs = q.recentProgress.toSeq
      progress ++= prs
      genLate = late; genEvents = gen.events
      var newestCommitted = Long.MinValue
      prs.sortBy(_.batchId).foreach { pr =>
        for (oldest <- observed(pr, "min_ts"); newest <- observed(pr, "max_ts");
             commit <- Option(commits.get(pr.batchId))) {
          newestCommitted = math.max(newestCommitted, newest)
          val generated = written.filter(_._1 <= commit).map(_._2).maxOption.getOrElse(newest)
          inputLagMs = math.max(inputLagMs, generated - newestCommitted)
          liveRecs += OpRec("batch", Ops.window, (commit - oldest) / 1000.0, ok = true, null,
            Map("batch" -> pr.batchId, "rows" -> pr.numInputRows))
        }
      }
      val (ok, detail) = compare(spark, s"live_$tag", gen.state.toMap)
      liveOk = ok
      checkResults(s"live_$tag") = Map("ok" -> ok, "detail" -> detail)
    }
    liveRecs.foreach(r => Ops.add(r.copy(ok = liveOk)))

    // drain phase: the pre-written backlog with a per-trigger file cap
    var drainOk = false
    var drainRecs = Seq.empty[OpRec]
    Ops.op("drain_phase", Map("events" -> backlogEvents)) {
      val t0 = System.currentTimeMillis()
      val q = start(spark, backlogDir, s"drain_$tag", Some(cap))
      Trace.span("streaming.await") { q.processAllAvailable(); q.stop() }
      val prs = q.recentProgress.toSeq
      progress ++= prs
      val lastCommit = prs.filter(_.numInputRows > 0)
        .flatMap(pr => Option(commits.get(pr.batchId))).maxOption.getOrElse(System.currentTimeMillis())
      val (ok, detail) = compare(spark, s"drain_$tag", backlogState)
      drainOk = ok
      checkResults(s"drain_$tag") = Map("ok" -> ok, "detail" -> detail)
      drainRecs = prs.filter(_.numInputRows > 0).map(pr => OpRec("drain_batch", Ops.window,
        pr.batchDuration / 1000.0, ok = true, null, Map("batch" -> pr.batchId, "rows" -> pr.numInputRows)))
      Ops.add(OpRec("drain", Ops.window, (lastCommit - t0) / 1000.0, ok = true, null,
        Map("events" -> backlogEvents)))
    }
    drainRecs.foreach(r => Ops.add(r.copy(ok = drainOk)))
  }

  override def checks: Map[String, Map[String, Any]] = checkResults.toMap

  override def info: Map[String, Any] = Map(
    "state_store_provider" -> provider,
    "checkpoint_dir" -> s"$work/cdc_ckpt",
    "snapshot_dir" -> s"$work/cdc_state",
    "backlog_events" -> backlogEvents)

  override def layers(views: Seq[Trace.OpView]): Map[String, Double] = {
    val MB = 1048576.0
    val data = progress.filter(_.numInputRows > 0).toSeq
    def durMed(k: String) = Layers.median(data.map(pr =>
      Option(pr.durationMs.get(k)).map(_.toDouble / 1000.0).getOrElse(0.0)))
    def stateSum(pr: StreamingQueryProgress)(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double) =
      pr.stateOperators.map(f).sum
    val snapWrites = views.flatMap(v => v.qes.filter(_.writes.exists(_.path.contains("/cdc_state/")))
      .flatMap(q => v.execs.find(_._1 == q.exec).map(e => (q, e._2))))
    val batches = math.max(1, data.size)
    Map(
      "stream.batches" -> progress.size.toDouble,
      "stream.rows_per_batch" -> Layers.mean(data.map(_.numInputRows.toDouble)),
      "stream.batch_p50_s" -> Layers.median(data.map(_.batchDuration / 1000.0)),
      "stream.addBatch_s" -> durMed("addBatch"),
      "stream.queryPlanning_s" -> durMed("queryPlanning"),
      "stream.walCommit_s" -> durMed("walCommit"),
      "stream.commitOffsets_s" -> durMed("commitOffsets"),
      "stream.latestOffset_s" -> durMed("latestOffset"),
      "stream.getBatch_s" -> durMed("getBatch"),
      "stream.input_lag_s" -> inputLagMs / 1000.0,
      "state.commit_s" -> Layers.median(data.map(pr => stateSum(pr)(_.commitTimeMs / 1000.0))),
      "state.rows_total" -> Layers.mean(data.map(pr => stateSum(pr)(_.numRowsTotal.toDouble))),
      "state.mem_mb" -> data.map(pr => stateSum(pr)(_.memoryUsedBytes / MB)).maxOption.getOrElse(0.0),
      "state.rows_removed" -> progress.map(pr => stateSum(pr)(_.numRowsRemoved.toDouble)).sum,
      "state.rows_dropped_late" ->
        progress.map(pr => stateSum(pr)(_.numRowsDroppedByWatermark.toDouble)).sum,
      "sinks.snapshot_write_s" -> snapWrites.filter(_._2.end > 0)
        .map { case (_, e) => (e.end - e.start) / 1000.0 }.sum / batches,
      "sinks.snapshot_mb" -> snapWrites.flatMap(_._1.writes).map(_.bytes / MB).sum / batches,
      "gen.late_s" -> genLate / 1000.0,
      "gen.events" -> genEvents.toDouble)
  }
}
