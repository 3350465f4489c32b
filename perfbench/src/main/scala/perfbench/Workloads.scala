package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.SparkEntry
import graft.operators.{DedupIndex, LshIndex, NpmPipeline, Retrieval, Similarity}
import graft.sources.{Registry, ThrottledLinesSource}

/** One benchmark workload: what set-up builds, what one timed pass runs,
  * and what runs once after the timed loop. */
trait Workload {
  /** Oracle SQL keys the out-of-process check needs. */
  def oracleKeys: Set[String]
  /** Directory whose generated tables the timed ops read. */
  def mainDir: Path
  /** Untimed layout and state builds of the set-up. */
  def build(h: Harness): Unit = ()
  /** One pass of the closed loop (the warm-up runs one untimed pass). */
  def pass(h: Harness): Unit
  /** Runs once after the timed passes (timed, but not part of a pass). */
  def finish(h: Harness): Unit = ()
  /** Extra measurements of a traced run. */
  def tracedExtras(h: Harness): Unit = ()
}

object Workload {
  def apply(a: Args): Workload = a.workload match {
    case "npm-stream" => new NpmStream(a.inputs, a.opts("lines-per-trigger").toInt)
    case "batch-analytics" => new BatchAnalytics(a.inputs)
    case "corpus-dedup" => new CorpusDedup(a.inputs, a.opts("ingest-batches").toInt)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def run(h: Harness, key: String, layer: String, dir: Path, check: Check): Unit =
    h.query(key, layer, check)(SparkEntry.queries(key)(h.spark, dir.toString))

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val walk = Files.walk(p)
      try walk.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally walk.close()
    }
}

/** The reference's own pipeline on a throttled gz source, plus the paced
  * event stream q30b. */
final class NpmStream(root: Path, perTrigger: Int) extends Workload {
  private val tables = root.resolve("tables")
  private val npm = root.resolve("npm")
  private val Streams = Seq("q30b_stream_paced")
  val oracleKeys: Set[String] = Streams.toSet
  def mainDir: Path = tables

  def pass(h: Harness): Unit = {
    drain(h, npm)
    Streams.foreach(k => Workload.run(h, k, "StreamOps", tables, Oracle(k, tables)))
  }

  /** gz names → throttled source → snapshot enrichment → per-version
    * counts → streaming (package, version) state, then the final nested
    * accumulation. Each micro-batch trigger is one op. */
  private def drain(h: Harness, dir: Path): Unit = {
    val s = h.spark
    val name = s"npm_state_${h.phase}_${h.passNo}"
    val lines = h.call("ThrottledLinesSource.load", "ThrottledLinesSource") {
      s.readStream.format(classOf[ThrottledLinesSource].getName)
        .option("path", dir.resolve("packages.txt.gz").toString)
        .option("linesPerTrigger", perTrigger.toString).load()
    }
    val snapshot = s.read.parquet(dir.resolve("registry.parquet").toString)
    val enriched = h.call("Registry.enrichFromSnapshot", "Registry") {
      Registry.enrichFromSnapshot(lines, snapshot)
    }
    val counts = h.call("NpmPipeline.dependencyCounts", "NpmPipeline") {
      NpmPipeline.dependencyCounts(enriched)
    }
    val state = counts.groupBy("package", "version")
      .agg(max("dependencies").as("dependencies"), max("devDependencies").as("devDependencies"))
    var q: StreamingQuery = null
    val err =
      try {
        h.call("npm_stream", "NpmPipeline") {
          q = state.writeStream.format("memory").queryName(name).outputMode("update")
            .option("checkpointLocation", h.tmp.resolve(s"ckpt-$name").toString)
            .trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
        }
        null
      } catch { case e: Throwable => String.valueOf(e.getMessage).take(300) }
    val triggers = Option(q).map(_.recentProgress.filter(_.numInputRows > 0).toSeq)
      .getOrElse(Nil)
    triggers.foreach(p => h.trigger("npm_trigger", "NpmPipeline",
      p.durationMs.get("triggerExecution").doubleValue, err == null, err))
    if (triggers.isEmpty) h.trigger("npm_trigger", "NpmPipeline", 0.0, ok = false,
      Option(err).getOrElse("stream admitted no rows"))
    h.query("npm_accumulate", "NpmPipeline", NpmFold) {
      NpmPipeline.accumulate(s.table(name).groupBy("package", "version")
        .agg(max("dependencies").as("dependencies"),
          max("devDependencies").as("devDependencies")))
    }
    s.catalog.dropTempView(name)
  }

  /** A source-only drain of the same gz file (isolates the source and
    * gives its per-trigger offset slope) and the pipeline at local[1]. */
  override def tracedExtras(h: Harness): Unit = {
    val s = h.spark
    val progress = {
      var q: StreamingQuery = null
      h.call("source_drain", "ThrottledLinesSource") {
        q = s.readStream.format(classOf[ThrottledLinesSource].getName)
          .option("path", npm.resolve("packages.txt.gz").toString)
          .option("linesPerTrigger", perTrigger.toString).load()
          .writeStream.format("noop")
          .option("checkpointLocation", h.tmp.resolve("ckpt-source-drain").toString)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      q.recentProgress.filter(_.numInputRows > 0).toSeq
    }
    val pts = progress.map { p =>
      val start = Option(p.sources.head.startOffset).filter(_ != "null").map(_.toDouble)
        .getOrElse(0.0)
      (start / 1000.0, p.durationMs.get("triggerExecution").doubleValue)
    }
    val n = pts.size.toDouble
    val mx = pts.map(_._1).sum / n
    val my = pts.map(_._2).sum / n
    val sxx = pts.map { case (x, _) => (x - mx) * (x - mx) }.sum
    val slope = if (sxx > 0) pts.map { case (x, y) => (x - mx) * (y - my) }.sum / sxx else 0.0
    h.extra("ThrottledLinesSource.offset_slope_ms_per_kline") = slope
    h.extra("source_drain_triggers") = pts.size

    val nCoreDrain = h.calls.filter(c => c.name == "npm_stream" && c.phase == "timed" && !c.traced)
      .map(_.wallNs / 1e9).toSeq
    // the 1-core run only prices scaling; keep it out of the layer counters
    h.phase = "scaling"
    h.stopSession()
    h.startSession("local1", 1)
    h.tracer.attach()
    drain(h, npm)
    val oneCore = h.calls.filter(c => c.name == "npm_stream" && c.phase == "scaling")
      .map(_.wallNs / 1e9).sum
    val nCore = Harness.median(nCoreDrain)
    h.extra("npm-stream.scaling") = if (nCore > 0) oneCore / nCore else 0.0
  }
}

/** Relational and event registry queries over the seeded star schema. */
final class BatchAnalytics(root: Path) extends Workload {
  private val tables = root.resolve("tables")
  val Queries: Seq[(String, String)] = Seq(
    "q01_agg_pricing" -> "Relational", "q04_multi_join" -> "Relational",
    "q07_window_rank" -> "Relational", "q10b_cube" -> "Relational",
    "q11_correlated_subq" -> "Relational", "q18_asof_join" -> "Relational",
    "q13_sessionize" -> "EventOps", "q20_json_extract" -> "EventOps",
    "q23_accumulate_nested" -> "EventOps", "q89_pagerank" -> "Graph")
  val oracleKeys: Set[String] = Queries.map(_._1).toSet
  def mainDir: Path = tables

  def pass(h: Harness): Unit =
    Queries.foreach { case (k, l) => Workload.run(h, k, l, tables, Oracle(k, tables)) }
}

/** LLM-data traffic: persisted layouts built in set-up and probed in the
  * timed passes; the traced run then appends a held-out slice, compacts
  * and probes again. */
final class CorpusDedup(root: Path, ingestBatches: Int) extends Workload {
  private val core = root.resolve("core")
  private val full = root.resolve("full")
  val Probes: Seq[(String, String)] = Seq(
    "q51_dedup_minhash_lsh" -> "Dedup", "q53_ngram_jaccard" -> "Dedup",
    "q55_dedup_embedding_lsh" -> "Dedup",
    "q106_lsh_index_probe" -> "LshIndex", "q113b_bm25_indexed" -> "Retrieval",
    "q76c_knn_ivf_indexed" -> "Similarity")
  // the training-corpus pipeline runs once, in the traced run (see finish)
  private val Q64 = "q64_training_corpus"
  private val Q55 = "q55_dedup_embedding_lsh"
  private val Q55Bridge = "q55b_dedup_embedding_lsh_full"
  val oracleKeys: Set[String] = Probes.map(_._1).toSet - Q55 + Q55Bridge + Q64
  def mainDir: Path = core

  private def checkOf(key: String, dir: Path): Check =
    if (key == Q55) Subset(Q55Bridge, dir) else Oracle(key, dir)

  override def build(h: Harness): Unit = {
    val s = h.spark
    val ds = core.toString
    h.call("DedupIndex.ensureWord", "DedupIndex")(DedupIndex.ensureWord(s, ds))
    h.call("LshIndex.buildIndex", "LshIndex")(LshIndex.buildIndex(s, ds))
    h.call("Retrieval.buildIndex", "Retrieval") {
      Retrieval.buildIndex(s, ds)
      Retrieval.compactIfNeeded(s, ds)
      // the registry path verifies the index against the corpus once
      // per JVM; pay that here, as a deployment would at attach time
      Retrieval.bm25Indexed(s, ds).collect()
    }
    h.call("Similarity.buildIvfIndex", "Similarity") {
      Similarity.knnIvfIndexed(s, ds, nprobe = 8).collect()
    }
  }

  def pass(h: Harness): Unit =
    Probes.foreach { case (k, l) => Workload.run(h, k, l, core, checkOf(k, core)) }

  /** Run the training-corpus pipeline (q64) once, then feed the held-out
    * slice through the LSH and inverted-index append paths in batches,
    * compact both, and re-probe: the answers must equal the oracle over the
    * whole corpus. */
  override def finish(h: Harness): Unit = {
    val s = h.spark
    val d = core.toString
    Workload.run(h, Q64, "Pipeline", core, Oracle(Q64, core))
    val held = s.read.parquet(root.resolve("heldout.parquet").toString)
    val ids = held.select("doc_id").collect().map(_.getLong(0)).sorted
    val size = math.max(1, math.ceil(ids.length.toDouble / ingestBatches).toInt)
    val t0 = System.nanoTime()
    var ingestNs = 0L
    def timed(name: String, layer: String)(body: => Unit): Unit = {
      val c0 = System.nanoTime()
      h.call(name, layer)(body)
      ingestNs += System.nanoTime() - c0
    }
    ids.grouped(size).foreach { batch =>
      val docs = held.filter(col("doc_id").isin(batch.toSeq: _*))
      timed("LshIndex.append", "LshIndex")(LshIndex.append(s, docs, d))
      timed("Retrieval.append", "Retrieval")(Retrieval.append(s, docs, d))
    }
    timed("LshIndex.compact", "LshIndex")(LshIndex.compact(s, d))
    timed("Retrieval.compact", "Retrieval")(Retrieval.compact(s, d))
    h.extra("ingest_s") = ingestNs / 1e9
    h.extra("ingest_docs") = ids.length
    h.query("q106_after_ingest", "LshIndex", Oracle("q106_lsh_index_probe", full)) {
      LshIndex.probe(s, d)
    }
    h.query("q113b_after_ingest", "Retrieval", Oracle("q113b_bm25_indexed", full)) {
      Retrieval.bm25Indexed(s, d, validateCorpus = false)
    }
    h.extra("ingest_phase_s") = (System.nanoTime() - t0) / 1e9
  }

  override def tracedExtras(h: Harness): Unit = {
    val warehouse = java.nio.file.Paths.get(
      java.net.URI.create(h.spark.conf.get("spark.sql.warehouse.dir")))
    val input = Seq("documents.parquet", "embeddings.parquet")
      .map(f => Files.size(core.resolve(f))).sum + Files.size(root.resolve("heldout.parquet"))
    h.extra("layout.bytes_per_input_byte") = Workload.dirBytes(warehouse).toDouble / input
  }
}
