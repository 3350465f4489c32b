package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Reference-parity pipeline: npm dependency counting (SURVEY.md §1).
  *
  * Reference dataflow (Main.scala): gz lines → throttle → HTTP fetch →
  * explode versions → dual-branch runtime/dev counts (Broadcast+Zip,
  * Balance+Merge) → fold into pkg→version→(deps, devDeps) → print.
  *
  * Spark-first dataflow: names → enrichment (snapshot join or per-partition
  * client) → `explode(versions)` → ONE projection computing
  * both counts (`map_size` of each dependency map — Catalyst evaluates
  * both in the same codegen'd stage, which strictly dominates the
  * reference's duplicated branches) → grouped accumulation as a real
  * nested map. Parallelism (the reference's Balance across 2 lanes) is
  * partitioning, not topology.
  */
object NpmPipeline {

  /** One row per (package, version, v) of each well-formed document.
    * Malformed or unparseable registry bodies, and documents without a
    * name or a versions map, yield no rows, matching the reference's
    * catch-and-continue (NpmPackage.scala:17-19).
    *
    * The validity check sits inside the generator rather than in a
    * `filter`: a filter on `meta` is a predicate over `from_json`, which
    * Catalyst pushes through a join onto the registry side and splits
    * into one schema-pruned parse per referenced field, so every body on
    * that side would be parsed three times per query. A generator over a
    * non-attribute input infers no filter, so each joined body is parsed
    * once, after the join.
    */
  private def validVersions(parsed: DataFrame): DataFrame =
    parsed.select(col("meta.name").as("package"),
      explode(when(col("meta.name").isNotNull, col("meta.versions"))).as(Seq("version", "v")))

  /** Per-(package, version) dependency counts from parsed metadata
    * (Registry.parseMetadata output with a `meta` column).
    * Matches DependencyCount(packageName, version, dependencies,
    * devDependencies) — reference DependencyCount.scala.
    */
  def dependencyCounts(parsed: DataFrame): DataFrame =
    validVersions(parsed)
      .select(
        col("package"),
        col("version"),
        coalesce(size(col("v.dependencies")), lit(0)).as("dependencies"),
        coalesce(size(col("v.devDependencies")), lit(0)).as("devDependencies"))

  /** Reverse-dependency analytics — the inverse of the reference's
    * per-version counts: for every dependency, how many distinct packages
    * depend on it (in any version). The classic "most-depended-upon"
    * registry query; scales as explode → distinct → count.
    */
  def reverseDependencyCounts(parsed: DataFrame): DataFrame =
    validVersions(parsed)
      .filter(col("v.dependencies").isNotNull)
      .select(col("package"), explode(map_keys(col("v.dependencies"))).as("dep"))
      .distinct()
      .groupBy(col("dep"))
      .agg(count(lit(1)).as("n_dependents"))
      .orderBy(col("n_dependents").desc, col("dep"))

  /** Global accumulation: package → sorted map(version → (deps, devDeps))
    * — the reference's AccumulatedDependencyCount as one grouped
    * aggregation instead of a single-threaded fold.
    */
  def accumulate(counts: DataFrame): DataFrame =
    counts
      .groupBy(col("package"))
      .agg(map_from_entries(array_sort(collect_list(
        struct(col("version"), struct(col("dependencies"), col("devDependencies"))))))
        .as("versions"))

  /** The reference's sink format (Main.scala:88-95) as data: one line per
    * package header + one per version.
    */
  def prettyLines(accumulated: DataFrame): DataFrame = {
    val spark = accumulated.sparkSession
    import spark.implicits._
    accumulated
      .select(col("package"), explode(col("versions")).as(Seq("version", "c")))
      .select(col("package"), col("version"),
        col("c.dependencies").as("deps"), col("c.devDependencies").as("devs"))
      .orderBy("package", "version")
      .select(concat(
        lit("version: "), col("version"),
        lit(", Dependencies: "), col("deps"),
        lit(", DevDependencies: "), col("devs")).as("line"),
        col("package"))
  }
}
