package graft

import graft.operators.NpmPipeline
import graft.sources.{GzipLines, Registry, SyntheticRegistry}

/** End-to-end analog of the reference's Main.scala runnable graph:
  * gz name list → (rate-limited) ingestion → registry enrichment →
  * per-version dependency counts → accumulated nested map → printed
  * sink in the reference's format (Main.scala:88-95).
  *
  * Usage: runMain graft.NpmDemo [packages.txt.gz] [limit]
  * The default input is the test fixture in the reference's format
  * (one npm name per line, gzip), resolved from the repository root.
  */
object NpmDemo {
  def main(args: Array[String]): Unit = {
    val path = args.headOption
      .getOrElse("src/test/resources/packages.txt.gz")
    val limit = args.lift(1).map(_.toInt).getOrElse(25)
    val spark = GraftSession.local(4)

    val names = GzipLines.read(spark, path).limit(limit)
    val parsed = Registry.enrichWithClient(names, new SyntheticRegistry)
    val acc = NpmPipeline.accumulate(NpmPipeline.dependencyCounts(parsed))
    val lines = NpmPipeline.prettyLines(acc)
      .collect() // bounded: one line per (package, version) of the demo slice
    var current = ""
    lines.foreach { r =>
      val pkg = r.getString(1)
      if (pkg != current) { println(s"Analysing $pkg"); current = pkg }
      println(r.getString(0))
    }
    spark.stop()
  }
}
