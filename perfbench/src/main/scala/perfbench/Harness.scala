package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types.StructType

/** Command-line options passed by `run.py`. */
final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      inputs: Path, out: Path, cores: Int, opts: Map[String, String])

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      Paths.get(m("inputs")).toAbsolutePath, Paths.get(m("out")).toAbsolutePath,
      m("cores").toInt, m)
  }
}

/** One timed call of the harness into an engine module. */
final case class Call(name: String, layer: String, phase: String, pass: Int,
                      wallNs: Long, cpuNs: Long, ok: Boolean, traced: Boolean)

/** One op: a query execution, a probe or a micro-batch trigger. */
final case class OpRec(key: String, layer: String, phase: String, pass: Int,
                       ms: Double, ok: Boolean, consistent: Boolean, error: String)

/** How the returned rows of an op are checked (outside all timing). */
sealed trait Check
/** Against the DuckDB oracle `oracleKey` over the tables in `dir`. */
final case class Oracle(oracleKey: String, dir: Path) extends Check
/** Rows must be a subset of an exact bridge's oracle answer. */
final case class Subset(oracleKey: String, dir: Path) extends Check
/** Against a plain fold of the generated registry snapshot. */
case object NpmFold extends Check

/** Runs one workload in one JVM: set-up, the timed closed loop,
  * the correctness bookkeeping and the traced extras. Writes
  * `<out>/raw.json` (numbers and op records), `<out>/spans.jsonl` and one
  * parquet file per checked result under `<out>/results`.
  */
final class Harness(val args: Args) {
  val tmp: Path = Files.createDirectories(args.out.resolve("tmp"))
  val results: Path = Files.createDirectories(args.out.resolve("results"))
  var spark: SparkSession = _
  var tracer: Tracer = _
  val calls = mutable.ArrayBuffer.empty[Call]
  val ops = mutable.ArrayBuffer.empty[OpRec]
  val manifest = mutable.LinkedHashMap.empty[String, Map[String, Any]]
  val extra = mutable.LinkedHashMap.empty[String, Any]
  private var phase0 = "setup"
  private var pass0 = 0
  def phase: String = phase0
  def phase_=(p: String): Unit = { phase0 = p; if (tracer != null) tracer.phase = p }
  def passNo: Int = pass0
  def passNo_=(p: Int): Unit = { pass0 = p; if (tracer != null) tracer.pass = p }
  private val firstRows = mutable.HashMap.empty[String, Vector[String]]
  private val rowsOfKey = mutable.HashMap.empty[String, Long]
  private var tableRows = Map.empty[String, Long]
  private val streamRows = new java.util.concurrent.atomic.AtomicLong(0L)
  private var countStreamRows = false

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs(): Long = osBean.getProcessCpuTime

  private val rowCounter = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (countStreamRows) streamRows.addAndGet(e.progress.numInputRows)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** A fresh session with its own warehouse, checkpoint and scratch dirs. */
  def startSession(tag: String, cores: Int): SparkSession = {
    val dir = tmp.resolve(s"session-$tag")
    val b = SparkSession.builder().master(s"local[$cores]").appName(s"perfbench-$tag")
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toUri.toString)
      .config("spark.local.dir", dir.resolve("local").toString)
      .config("spark.sql.streaming.checkpointLocation", dir.resolve("checkpoints").toString)
    val s = graft.GraftSession.configure(b, cores).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.streams.addListener(rowCounter)
    spark = s
    if (tracer == null) tracer = new Tracer(args.workload, s) else tracer.rebind(s)
    tracer.phase = phase
    tracer.pass = passNo
    s
  }

  /** Stop the session; the tracer is detached and must be re-attached. */
  def stopSession(): Unit = if (spark != null) {
    tracer.detach()
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = null
  }

  private def message(e: Throwable): String =
    (e.getClass.getName + ": " + String.valueOf(e.getMessage)).replaceAll("\\s+", " ").take(300)

  /** Time one call into `layer`; a failure is recorded and rethrown. */
  def call[T](name: String, layer: String)(body: => T): T = {
    val c0 = cpuNs()
    val t0 = System.nanoTime()
    var ok = false
    try {
      val r = tracer.span(name, layer)(body)
      ok = true
      r
    } finally {
      calls += Call(name, layer, phase, passNo, System.nanoTime() - t0, cpuNs() - c0, ok,
        tracer.isAttached)
    }
  }

  /** Run one query op: build the DataFrame and materialise every row and
    * column (`collect`), then check the rows outside the timing. */
  def query(key: String, layer: String, check: Check)(mk: => DataFrame): Unit = {
    val t0 = System.nanoTime()
    val got: Either[String, (Array[Row], StructType, DataFrame)] =
      try Right(call(key, layer) { val df = mk; (df.collect(), df.schema, df) })
      catch { case e: Throwable => Left(message(e)) }
    val ms = (System.nanoTime() - t0) / 1e6
    got match {
      case Left(err) =>
        System.err.println(s"perfbench: op $key FAILED: $err")
        ops += OpRec(key, layer, phase, passNo, ms, ok = false, consistent = true, err)
      case Right((rows, schema, df)) =>
        val consistent = if (phase == "warmup") true else record(key, rows, schema, df, check)
        ops += OpRec(key, layer, phase, passNo, ms, ok = true, consistent, null)
    }
  }

  /** Record a trigger op read from a stream's own progress. */
  def trigger(key: String, layer: String, ms: Double, ok: Boolean, err: String): Unit =
    ops += OpRec(key, layer, phase, passNo, ms, ok, consistent = true, err)

  private def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN) "nan" else f"$d%.4f"
    case f: Float => canon(f.toDouble)
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case a: Array[_] => a.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  /** First sighting of `key`: keep its rows for later passes, dump them
    * for the out-of-process check and count the source rows it reads.
    * Later sightings must return the same multiset of rows. */
  private def record(key: String, rows: Array[Row], schema: StructType, df: DataFrame,
                     check: Check): Boolean = {
    val c = rows.iterator.map(canon).toVector.sorted
    firstRows.get(key) match {
      case Some(first) => first == c
      case None =>
        firstRows(key) = c
        rowsOfKey(key) = sourceRows(df)
        val path = results.resolve(s"$key.parquet")
        spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
          .write.mode("overwrite").parquet(path.toString)
        manifest(key) = (check match {
          case Oracle(k, d) => Map("check" -> "oracle", "oracle_key" -> k, "dir" -> d.toString)
          case Subset(k, d) => Map("check" -> "subset", "oracle_key" -> k, "dir" -> d.toString)
          case NpmFold => Map("check" -> "npm")
        }) ++ Map("parquet" -> path.toString, "rows" -> rows.length)
        true
    }
  }

  /** Rows of the generated input tables a query plan reads. */
  private def sourceRows(df: DataFrame): Long =
    try df.queryExecution.analyzed.collectLeaves().map {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.map(p => tableRows.getOrElse(p.getName, 0L)).sum
          case _ => 0L
        }
      case _ => 0L
    }.sum catch { case _: Throwable => 0L }

  /** Row counts of the generated tables, by file name, from the
    * `rows.txt` (`<file> <rows>` lines) the generator writes next to them. */
  def readTableRows(dir: Path): Unit =
    tableRows = Files.readAllLines(dir.resolve("rows.txt")).asScala
      .map(_.split(' ')).collect { case Array(f, n) => f -> n.toLong }.toMap

  /** Heap still in use after a full GC. The second collection runs after
    * Spark's ContextCleaner has dropped the broadcast and shuffle state the
    * first one released, so the figure does not depend on cleaner timing. */
  def heapUsedMb(): Double = {
    System.gc()
    Thread.sleep(250)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  def startCountingStreamRows(): Unit = { streamRows.set(0L); countStreamRows = true }
  def stopCountingStreamRows(): Long = {
    Thread.sleep(300) // progress events are delivered asynchronously
    countStreamRows = false
    streamRows.get()
  }
  def batchRowsOf(key: String): Long = rowsOfKey.getOrElse(key, 0L)
}

object Harness {
  /** Layers the harness calls during passes (GraftSession is measured by
    * its start and warm-up times only). */
  val Layers: Seq[String] = Seq("ThrottledLinesSource", "Registry", "NpmPipeline", "StreamOps", "Relational", "EventOps", "Graph", "Dedup",
    "DedupIndex", "LshIndex", "Retrieval", "Similarity", "Pipeline")
  val Builders: Seq[String] = Seq("DedupIndex", "LshIndex", "Retrieval", "Similarity")

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val h = new Harness(args)
    val w = Workload(args)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    Files.writeString(args.out.resolve("oracle_sql.json"),
      Json(graft.SparkEntry.oracleSql.filter { case (k, _) => w.oracleKeys.contains(k) }))

    // ---- set-up: session start (from JVM start), builds, warm-up ----
    h.phase = "setup"
    h.startSession("main", args.cores)
    if (args.trace) h.tracer.attach()
    val startS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val b0 = System.nanoTime()
    w.build(h)
    val buildS = (System.nanoTime() - b0) / 1e9
    h.phase = "warmup"
    val w0 = System.nanoTime()
    w.pass(h)
    val warmupS = (System.nanoTime() - w0) / 1e9
    System.err.println(f"perfbench: set-up: session $startS%.2f s, builds $buildS%.2f s, " +
      f"warm-up pass $warmupS%.2f s")
    val setupS = startS + buildS + warmupS

    // ---- timed phase: closed-loop passes for the requested seconds ----
    h.readTableRows(w.mainDir)
    h.phase = "timed"
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val deadline = System.nanoTime() + (args.seconds * 1e9).toLong
    // a traced run alternates untraced and traced passes to price tracing
    val minPasses = if (args.trace) 2 else 1
    h.startCountingStreamRows()
    var p = 0
    while (p < minPasses || (System.nanoTime() < deadline && p < 200)) {
      h.passNo = p
      val traced = args.trace && p % 2 == 1
      if (traced) h.tracer.attach() else h.tracer.detach()
      val firstCall = h.calls.size
      w.pass(h)
      val cs = h.calls.drop(firstCall)
      val heap = h.heapUsedMb()
      passes += Map("pass" -> p, "traced" -> traced,
        "wall_s" -> cs.map(_.wallNs).sum / 1e9, "cpu_s" -> cs.map(_.cpuNs).sum / 1e9,
        "heap_mb" -> heap)
      p += 1
    }
    h.tracer.detach()
    val streamRows = h.stopCountingStreamRows()
    val timedOps = h.ops.filter(_.phase == "timed")
    val batchRows = timedOps.filter(_.ok).map(o => h.batchRowsOf(o.key)).sum

    // ---- after the loop: ingest, traced extras ----
    // The one-off phase after the loop (corpus-dedup's ingest) and the
    // extra measurements run in the traced run only, which keeps the
    // untraced run inside the time budget of a benchmark run.
    if (args.trace) {
      h.tracer.attach()
      h.phase = "ingest"
      h.passNo = p
      w.finish(h)
      h.phase = "extra"
      w.tracedExtras(h)
      h.tracer.detach()
    }

    // ---- output ----
    val untraced = passes.filter(_("traced") == false)
    val tracedP = passes.filter(_("traced") == true)
    def med(ps: Iterable[Map[String, Any]], k: String) =
      median(ps.map(_(k).asInstanceOf[Double]).toSeq)
    val timedWall = untraced.map(_("wall_s").asInstanceOf[Double]).sum +
      tracedP.map(_("wall_s").asInstanceOf[Double]).sum
    val e2e = Map(
      "setup_s" -> setupS,
      "wall_s" -> med(untraced, "wall_s"),
      "cpu_s" -> med(untraced, "cpu_s"),
      "live_heap_peak_mb" -> untraced.map(_("heap_mb").asInstanceOf[Double]).max,
      "rows_per_s" -> (batchRows + streamRows) / math.max(1e-9, timedWall))
    val perLayer = PerLayer(h, passes.toSeq, startS, warmupS)
    val raw = Map(
      "workload" -> args.workload, "seed" -> args.seed, "cores" -> args.cores,
      "trace" -> args.trace, "e2e" -> e2e,
      "setup" -> Map("start_s" -> startS, "build_s" -> buildS, "warmup_s" -> warmupS),
      "passes" -> passes,
      "ops" -> h.ops.filter(o => o.phase == "timed" || o.phase == "ingest").map(o => Map(
        "key" -> o.key, "layer" -> o.layer, "phase" -> o.phase, "pass" -> o.pass,
        "ms" -> o.ms, "ok" -> o.ok, "consistent" -> o.consistent, "error" -> o.error)),
      "results" -> h.manifest, "per_layer" -> perLayer, "extra" -> h.extra,
      "input_rows" -> Map("batch" -> batchRows, "stream" -> streamRows))
    Files.writeString(args.out.resolve("raw.json"), Json(raw))
    val spans = h.tracer.spans.map { s =>
      Json(Map("id" -> s.id, "name" -> s.name, "layer" -> s.layer, "parent" -> s.parent,
        "workload" -> s.workload, "phase" -> s.phase, "pass" -> s.pass,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "traced" -> s.traced))
    }
    Files.write(args.out.resolve("spans.jsonl"), spans.asJava)
    h.stopSession()
  }
}
