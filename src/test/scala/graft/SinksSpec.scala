package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sinks.Sinks

class SinksSpec extends SparkSpec {
  import spark.implicits._

  private val articles = Seq(
    (1L, "A Fine Headline Of Decent Size", 0.9),
    (2L, "Low Quality", 0.3),
    (3L, "Another Good One Here", 0.8)).toDF("doc_id", "headline", "quality_score")

  test("threshold sink writes bucket=high / bucket=failed partitions in one pass") {
    val out = Files.createTempDirectory("graft_sink_").toString
    Sinks.thresholdJson(articles, "quality_score", 0.7, out)
    val back = spark.read.json(out)
    assert(back.filter(col("bucket") === "high").count() == 2)
    assert(back.filter(col("bucket") === "failed").count() == 1)
  }

  test("markdown column renders front matter, pull quotes and takeaways (K3)") {
    val df = Seq((5L, "Title Here", "Sub", "Body text.", "Meta d",
      Seq("quote one", "quote two"), Seq("t1", "t2", "t3"), 2)).toDF(
      "doc_id", "headline", "subtitle", "article_body", "meta_description",
      "pull_quotes", "key_takeaways", "word_count")
    val md = df.select(Sinks.markdownColumn(col("headline"), col("subtitle"),
      col("key_takeaways"), array(lit("au")), col("doc_id"), col("word_count"),
      col("meta_description"), col("article_body"), col("pull_quotes"),
      col("key_takeaways"))).as[String].head()
    assert(md.startsWith("---\ntitle: \"Title Here\""))
    assert(md.contains("\n---\n\nBody text."))
    assert(md.contains("> quote one\n> quote two"))
    assert(md.contains("## What This Means\n- t1\n- t2\n- t3"))
    assert(md.contains("word_count: 2"))
  }

  test("markdown sink writes one file per slug, whatever partitions its rows come from") {
    // the file holds them in the order of their text, not the input's
    val md = Seq("# second take", "# first take")
    val df = spark.sparkContext.parallelize(md.map(("One Shared Headline", _)), 2)
      .toDF("headline", "md")
    assert(df.rdd.glom().collect().map(_.length).toSeq == Seq(1, 1))
    val out = Files.createTempDirectory("graft_md_").toFile
    Sinks.writeMarkdown(df, "headline", col("md"), out.toString)
    val slugDirs = out.listFiles().filter(_.isDirectory)
    assert(slugDirs.length == 1, slugDirs.toSeq)
    val files = slugDirs.head.listFiles().filter(f => f.isFile && !f.getName.startsWith("."))
    assert(files.length == 1, s"one slug must land in one file, got ${files.toSeq}")
    val lines = scala.io.Source.fromFile(files.head, "UTF-8")
    try assert(lines.getLines().toSeq == md.sorted) finally lines.close()
  }

  test("quality stats mirror the reference fields (zara_hybrid_etl.py:233-239)") {
    val st = Sinks.qualityStats(articles, "quality_score", 0.7).collect()(0)
    assert(st.getAs[Long]("total_articles") == 3)
    assert(st.getAs[Long]("passed_quality") == 2)
    assert(st.getAs[Long]("failed_quality") == 1)
    assert(math.abs(st.getAs[Double]("pass_rate") - 0.6667) < 1e-9)
  }

  test("flagship pipeline end-to-end with sinks produces articles + markdown + summary") {
    val out = Files.createTempDirectory("graft_flag_").toString
    val articles = Flagship.runWithSinks(spark, sfDir, out)
    assert(articles.count() > 0)
    assert(spark.read.json(s"$out/articles").count() == articles.count())
    assert(spark.read.json(s"$out/summary").count() == 1)
    val md = spark.read.text(s"$out/markdown").count()
    assert(md > 0)
  }

  test("training shards: every file capped at rowsPerShard, manifest adds up") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft_shards_").toString
    val df = (1L to 1000L).toDF("id").repartition(3)
    val manifest = graft.sinks.Sinks.trainingShards(df, s"$out/shards", rowsPerShard = 100)
      .as[(String, Long)].collect()
    assert(manifest.forall(_._2 <= 100), s"oversized shard: ${manifest.toSeq}")
    assert(manifest.map(_._2).sum == 1000L, "manifest rows must cover the dataset")
    assert(manifest.length >= 10, "1000 rows at <=100/shard means >= 10 files")
    assert(spark.read.parquet(s"$out/shards").count() == 1000L)
    assert(spark.read.json(s"$out/shards.manifest").count() == manifest.length.toLong)
  }
}
