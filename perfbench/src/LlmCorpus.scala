package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

import graft.GraftCaches
import graft.api.{Hocon, Pipeline}
import graft.dedup.Dedup
import graft.text.{Decontamination, TextAnalysis}

/** `llm_corpus`: rounds of one corpus pass followed by a fixed sequence
  * of small deltas deduplicated against the signature store the pass
  * wrote and appended to it. A pass lands the raw JSON-lines dump with a
  * SeaTunnel HOCON job (`perfbench/jobs/ingest.conf` through
  * Pipeline.parseHocon and Pipeline.runWithMetrics), then runs language
  * id, quality and gopher flags, exact dedup, minhash and n-gram near-dup
  * pairs resolved into components, decontamination, the kept-corpus
  * write and the signature-store write. Each corpus pass and each delta
  * is one operation; each round writes under its own directory so the
  * launcher can check the ingest output and the kept ids of every pass
  * and delta.
  */
final class LlmCorpus(p: Params, work: String) extends Workload {
  private val in = p.str("llm.in")
  private val deltaCount = p.int("llm.delta_count")
  private def deltaPath(d: Int) = f"$in/deltas/delta_$d%02d.parquet"
  private val ingestConf = new String(Files.readAllBytes(Paths.get(p.str("llm.ingest_conf"))), UTF_8)

  private def ingest(spark: SparkSession, raw: String, out: String): Unit = {
    val job = Trace.span("api.parseHocon") {
      Pipeline.parseHocon(Hocon.substituteVariables(ingestConf,
        Map("in" -> raw, "out" -> out, "parallelism" -> p.str("llm.parallelism"))))
    }
    Trace.span("api.Pipeline.runWithMetrics")(Pipeline.runWithMetrics(spark, job))
  }

  /** Release the operation's persisted intermediates when it ends. */
  private def scoped(body: => Unit): Unit = {
    val scope = GraftCaches.newScope()
    try GraftCaches.inScope(scope)(body)
    finally Trace.span("caches.release")(scope.release())
  }

  private def corpusPass(spark: SparkSession, raw: String, dir: String): Unit = scoped {
    ingest(spark, raw, s"$dir/ingested")
    val docs = Trace.span("sources.read")(spark.read.parquet(s"$dir/ingested"))
    val flagged = Trace.span("text.TextAnalysis") {
      TextAnalysis.gopherFlags(TextAnalysis.qualityFeatures(
        docs.withColumn("lang", TextAnalysis.langId(col("text"))), "text"), "text")
    }
    val keepers = Trace.span("dedup.exact")(Dedup.exact(docs, "id", "text"))
      .select(col("keep_id").as("id"))
    val unique = flagged.join(keepers, Seq("id"), "left_semi")
    val minhash = Trace.span("dedup.minHashPairs")(Dedup.minHashPairs(unique, "id", "text"))
    val ngram = Trace.span("dedup.ngramJaccardPairs")(Dedup.ngramJaccardPairs(unique, "id", "text"))
    val pairs = minhash.select("id_a", "id_b").union(ngram.select("id_a", "id_b")).distinct()
    val kept = Trace.span("dedup.dropByComponents")(Dedup.dropByComponents(unique, "id", pairs))
    val bench = Trace.span("sources.read")(spark.read.parquet(s"$in/bench.parquet"))
    val clean = Trace.span("text.decontaminate") {
      Decontamination.decontaminate(kept, bench, "id", "text", "text")
    }
    Trace.span("sinks.write") {
      clean.select("id", "text", "lang", "g_n_words", "gopher_pass", "stopword_ratio")
        .write.mode("overwrite").parquet(s"$dir/kept")
    }
    val written = Trace.span("sources.read")(spark.read.parquet(s"$dir/kept"))
    Trace.span("dedup.writeSignatures")(Dedup.writeSignatures(written, "id", "text", s"$dir/store"))
  }

  private def deltaPass(spark: SparkSession, delta: String, dir: String): Unit = scoped {
    val docs = Trace.span("sources.read")(spark.read.parquet(delta))
    val pairs = Trace.span("dedup.incrementalFromStore") {
      Dedup.incrementalFromStore(docs, s"$dir/store", "id", "text")
    }
    val kept = Trace.span("dedup.dropNearDups")(Dedup.dropNearDups(docs, "id", pairs))
    Trace.span("dedup.writeSignatures") {
      Dedup.writeSignatures(kept, "id", "text", s"$dir/store", mode = SaveMode.Append)
    }
  }

  /** A corpus pass over the small warm-up corpus and two deltas against
    * its store: with one delta, measured deltas still ran faster one after
    * another (the JIT was still compiling their path).
    */
  private var warm = 0
  override def warmup(spark: SparkSession): Unit = {
    val dir = s"$work/llm_warm/$warm"
    corpusPass(spark, s"$in/warm_corpus.json", dir)
    deltaPass(spark, deltaPath(0), dir)
    deltaPass(spark, deltaPath(1), dir)
    warm += 1
  }

  private var round = 0
  override def measure(spark: SparkSession, seconds: Double): Unit = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (System.nanoTime() < deadline) {
      val dir = s"$work/llm_out/${Ops.window}/$round"
      Ops.op("corpus", Map("dir" -> dir, "round" -> round, "docs" -> p.long("llm.docs"))) {
        corpusPass(spark, s"$in/corpus.json", dir)
      }
      for (d <- 0 until deltaCount)
        Ops.op("delta", Map("dir" -> dir, "round" -> round, "delta" -> d)) {
          deltaPass(spark, deltaPath(d), dir)
        }
      round += 1
    }
  }

  override def layers(views: Seq[Trace.OpView]): Map[String, Double] = {
    val MB = 1048576.0
    val corpus = views.filter(_.root.name == "op:corpus")
    val deltas = views.filter(_.root.name == "op:delta")
    def callS(vs: Seq[Trace.OpView], prefix: String) =
      Layers.perOp(vs)(_.spansNamed(_.startsWith(prefix)).map(Layers.dur).sum)
    // jobs a dedup or text call submits while building its plan; the
    // signature-store writes are the store's sink, not probes
    def eagerJobs(vs: Seq[Trace.OpView], prefix: String) = Layers.perOp(vs)(v =>
      v.jobsUnder(v.spansNamed(n => n.startsWith(prefix) && n != "dedup.writeSignatures")).size.toDouble)
    val keptRows = corpus.flatMap(_.qes.flatMap(_.writes)).filter(_.path.endsWith("/kept")).map(_.rows)
    Map(
      "dedup.call_s" -> callS(deltas, "dedup."),
      "dedup.corpus_call_s" -> callS(corpus, "dedup."),
      "dedup.eager_jobs" -> eagerJobs(deltas, "dedup."),
      "dedup.corpus_eager_jobs" -> eagerJobs(corpus, "dedup."),
      "dedup.store_mb_read" -> Layers.perOp(deltas)(
        v => Trace.scansOf(v.qes).filter(_.path.contains("/store/")).map(_.bytes / MB).sum),
      "dedup.store_mb_written" -> Layers.perOp(deltas)(
        _.qes.flatMap(_.writes).filter(_.path.contains("/store/")).map(_.bytes / MB).sum),
      "dedup.kept_ratio" -> Layers.mean(keptRows.map(_ / p.dbl("llm.docs"))),
      "text.call_s" -> callS(corpus, "text."),
      "text.eager_jobs" -> eagerJobs(corpus, "text."))
  }
}
