package graft.sinks

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFns

/** Output sinks (SURVEY.md §2.2). All formatting is Column-expression work
  * (distributed, codegen'd); only the final write touches storage. Writers
  * use dynamic partition overwrite semantics so re-runs are idempotent
  * (K2's timestamped-file pattern becomes overwrite-by-partition).
  */
object Sinks {

  /** K2: single-pass threshold-partitioned JSON sink — records land in
    * bucket=high / bucket=failed subdirectories without two filter passes.
    * Reference: zara_hybrid_etl.py:240-243.
    */
  def thresholdJson(df: DataFrame, scoreCol: String, threshold: Double, path: String): Unit =
    df.withColumn("bucket",
        when(col(scoreCol) >= threshold, lit("high")).otherwise(lit("failed")))
      .write.mode("overwrite").partitionBy("bucket").json(path)

  /** K3: markdown + YAML front-matter rendering as one Column expression.
    * Reference: zara_hybrid_etl.py:96-128 (front matter keys, "> " pull
    * quotes, "## What This Means" takeaway bullets).
    */
  def markdownColumn(headline: Column, subtitle: Column, tags: Column,
                     authors: Column, docId: Column, wordCount: Column,
                     metaDescription: Column, body: Column,
                     pullQuotes: Column, takeaways: Column): Column = {
    def yamlList(c: Column): Column =
      concat(lit("["), array_join(transform(coalesce(c, array()), x => concat(lit("\""), x, lit("\""))), ", "), lit("]"))
    val front = concat(
      lit("---\ntitle: \""), coalesce(headline, lit("")),
      lit("\"\nsubtitle: \""), coalesce(subtitle, lit("")),
      lit("\"\ntags: "), yamlList(tags),
      lit("\nauthors: "), yamlList(authors),
      lit("\ndoc_id: "), docId.cast("string"),
      lit("\nword_count: "), wordCount.cast("string"),
      lit("\nmeta_description: \""), coalesce(metaDescription, lit("")),
      lit("\"\n---\n\n"))
    val quotes = when(size(coalesce(pullQuotes, array())) > 0,
      concat(lit("\n\n> "), array_join(pullQuotes, "\n> "))).otherwise(lit(""))
    val bullets = when(size(coalesce(takeaways, array())) > 0,
      concat(lit("\n\n## What This Means\n"),
        array_join(transform(takeaways, t => concat(lit("- "), t)), "\n"))).otherwise(lit(""))
    concat(front, coalesce(body, lit("")), quotes, bullets)
  }

  /** K3 writer: one directory per slug, markdown content as text.
    *
    * The rows are hash-partitioned by slug first, so each slug lands in
    * one file and the slug directories are written by parallel tasks (a
    * file costs several filesystem calls, which add up when one task
    * writes them all). The partition count is the session's parallelism,
    * given explicitly: adaptive execution would coalesce a repartition
    * without one back to a single task. Articles that share a slug follow
    * one another in the order of their markdown text, not in the order the
    * shuffle fetched them, so a rerun writes the same bytes. (The input's
    * own order is not kept: the repartition makes any sort under it moot,
    * and the optimizer drops that sort.)
    */
  def writeMarkdown(df: DataFrame, headlineCol: String, mdCol: Column, path: String): Unit =
    df.select(TextFns.slugify(col(headlineCol)).as("slug"), mdCol.as("value"))
      .repartition(df.sparkSession.sparkContext.defaultParallelism, col("slug"))
      .sortWithinPartitions("slug", "value")
      .write.mode("overwrite").partitionBy("slug").text(path)

  /** K6: n-field manifest JSON (ingestion manifest analog). */
  def writeManifest(df: DataFrame, cols: Seq[String], path: String): Unit =
    df.select(cols.map(col): _*).coalesce(1).write.mode("overwrite").json(path)

  /** Training-shard writer: the layout trainers actually read — parquet
    * shards capped at `rowsPerShard` rows each (maxRecordsPerFile splits
    * oversized task outputs), plus a shard manifest (file, rows) so a
    * loader can size its epoch without listing-and-counting the data.
    * Returns the manifest. At cluster scale pair with repartition(n) to
    * also bound the shard COUNT per executor wave.
    */
  def trainingShards(df: DataFrame, path: String, rowsPerShard: Int): DataFrame = {
    require(rowsPerShard > 0, "rowsPerShard must be positive")
    df.write.mode("overwrite")
      .option("maxRecordsPerFile", rowsPerShard.toLong)
      .parquet(path)
    val spark = df.sparkSession
    import org.apache.spark.sql.functions.{col, count, input_file_name, lit}
    val manifest = spark.read.parquet(path)
      .groupBy(input_file_name().as("file"))
      .agg(count(lit(1)).as("rows"))
    manifest.coalesce(1).write.mode("overwrite").json(s"$path.manifest")
    manifest
  }

  /** K4: run-summary — aggregate stats of the quality gate
    * (zara_hybrid_etl.py:233-239 field-for-field).
    */
  def qualityStats(df: DataFrame, scoreCol: String, threshold: Double): DataFrame =
    df.agg(
      count(lit(1)).as("total_articles"),
      sum(when(col(scoreCol) >= threshold, 1L).otherwise(0L)).as("passed_quality"),
      sum(when(col(scoreCol) < threshold, 1L).otherwise(0L)).as("failed_quality"),
      round(avg(when(col(scoreCol) >= threshold, 1.0).otherwise(0.0)), 4).as("pass_rate"),
      round(avg(col(scoreCol)), 4).as("avg_quality"))
}
