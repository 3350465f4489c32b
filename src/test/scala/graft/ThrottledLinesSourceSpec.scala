package graft

import graft.sources.{ThrottledLinesScan, ThrottledLinesSource}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.MicroBatchScanExec
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

class ThrottledLinesSourceSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def runAvailableNow(path: String, perTrigger: Int) = {
    val name = "tls_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = spark.readStream
      .format(classOf[ThrottledLinesSource].getName)
      .option("path", path)
      .option("linesPerTrigger", perTrigger.toString)
      .load()
      .writeStream.format("memory").queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    (name, q.recentProgress.toSeq)
  }

  test("streams a gz file completely, in order, at most N lines per micro-batch") {
    val dir = java.nio.file.Files.createTempDirectory("tls_")
    val f = dir.resolve("in.txt.gz")
    val out = new java.util.zip.GZIPOutputStream(java.nio.file.Files.newOutputStream(f))
    out.write((0 until 23).map(i => s"pkg-$i").mkString("\n").getBytes("UTF-8"))
    out.close()

    val (name, progress) = runAvailableNow(f.toString, perTrigger = 5)
    val rows = spark.table(name).orderBy("line_no").as[(Long, String)].collect()
    assert(rows.length == 23)
    assert(rows.map(_._2).toSeq == (0 until 23).map(i => s"pkg-$i"))
    assert(rows.map(_._1).toSeq == (0L until 23L))
    // the throttle: no batch admitted more than 5 rows, and the 23 lines
    // needed at least ceil(23/5) = 5 batches
    val batchSizes = progress.map(_.numInputRows).filter(_ > 0)
    assert(batchSizes.forall(_ <= 5), s"batch sizes: $batchSizes")
    assert(batchSizes.sum == 23)
    assert(batchSizes.length == 5)
  }

  test("checkpoint resume: stop mid-stream, restart, no loss and no duplicates") {
    val dir = java.nio.file.Files.createTempDirectory("tls_resume_")
    val f = dir.resolve("in.txt")
    java.nio.file.Files.writeString(f, (0 until 200).map(i => s"row-$i").mkString("\n"))
    val ckpt = dir.resolve("ckpt").toString
    val outDir = dir.resolve("out").toString

    def start(drainAll: Boolean) = {
      val w = spark.readStream
        .format(classOf[ThrottledLinesSource].getName)
        .option("path", f.toString)
        .option("linesPerTrigger", "3")
        .load()
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
      // AvailableNow drains the remaining backlog then terminates — a
      // deterministic end state (polling the output with a wall-clock
      // timeout was flaky: 200 lines at 3/trigger is ~67 parquet+commit
      // micro-batches, which can exceed any fixed budget on a loaded box)
      (if (drainAll) w.trigger(Trigger.AvailableNow()) else w).start()
    }

    // first run: let a few batches commit, then stop mid-stream
    val q1 = start(drainAll = false)
    eventually { assert(q1.recentProgress.count(_.numInputRows > 0) >= 2) }
    q1.stop(); q1.awaitTermination()
    val afterFirst = spark.read.parquet(outDir).count()
    assert(afterFirst > 0 && afterFirst < 200, s"first run wrote $afterFirst")

    // second run resumes from the committed line offset and drains
    val q2 = start(drainAll = true)
    q2.awaitTermination()
    assert(spark.read.parquet(outDir).count() == 200)
    val rows = spark.read.parquet(outDir).as[(Long, String)].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq == (0L until 200L), "line_no gap or dup")
    assert(rows.map(_._2).toSeq == (0 until 200).map(i => s"row-$i"))
  }

  private def eventually(assertion: => Unit, timeoutMs: Long = 30000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var last: Throwable = null
    while (System.currentTimeMillis() < deadline) {
      try { assertion; return }
      catch { case t: Throwable => last = t; Thread.sleep(200) }
    }
    throw last
  }

  test("reads the reference's packages.txt.gz through the custom source") {
    val p = getClass.getResource("/packages.txt.gz").getPath
    val (name, _) = runAvailableNow(p, perTrigger = 2)
    val streamed = spark.table(name).as[(Long, String)].collect().map(_._2).toSeq
    val batch = graft.sources.GzipLines.read(spark, p).as[String].collect().toSeq
    assert(streamed.filter(_.nonEmpty) == batch)
  }

  test("statistics: one batch's rows and a bound on its bytes, from the one pass at stream start") {
    val p = getClass.getResource("/packages.txt.gz").getPath
    for (perTrigger <- Seq(1, 2, 7, 30, 100)) {
      // the bytes Spark holds of each emitted batch: UTF-8 text + 8 per line_no
      val batchBytes = scala.collection.mutable.ArrayBuffer.empty[Long]
      val record: (DataFrame, Long) => Unit = (df, _) =>
        batchBytes += df.as[(Long, String)].collect()
          .map(_._2.getBytes(java.nio.charset.StandardCharsets.UTF_8).length + 8L).sum
      val q = spark.readStream
        .format(classOf[ThrottledLinesSource].getName)
        .option("path", p)
        .option("linesPerTrigger", perTrigger.toString)
        .load()
        .writeStream.foreachBatch(record)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()

      val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
      val scan = collectFirst(plan) { case m: MicroBatchScanExec => m.scan }.get
        .asInstanceOf[ThrottledLinesScan]
      val stats = scan.estimateStatistics()
      assert(batchBytes.size == (30 + perTrigger - 1) / perTrigger, s"perTrigger $perTrigger")
      assert(stats.numRows().getAsLong == math.min(perTrigger, 30), s"perTrigger $perTrigger")
      assert(stats.sizeInBytes().getAsLong >= batchBytes.max, s"perTrigger $perTrigger: $batchBytes")
      // a batch of the whole file is sized exactly
      if (perTrigger >= 30) assert(stats.sizeInBytes().getAsLong == batchBytes.max)
      // counting and sizing decompress the file once, although every
      // trigger asked for the end offset and every batch for statistics
      assert(scan.passes == 1, s"perTrigger $perTrigger")
    }
  }
}
