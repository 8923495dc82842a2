package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Flagship, Tables}
import graft.semantic.{SemanticOps, StubModelClient}

/** Semantic-operator surface (SURVEY.md §2.11: M-ops, A1 reduce, P6 judge
  * filter, K5 dead-letter). LLM output is inherently engine-specific =>
  * rows-only checks (deterministic via the stub client, so row counts and
  * shapes are stable across runs).
  */
object SemanticQueries {
  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables(s, dir, n)
  private def client = new StubModelClient()

  def all: Seq[Q] = Seq(

    // ---- M1-shape: schema-constrained extraction map with validation. ----
    Q("q70_semantic_extract",
      (s, dir) => {
        val schema = StructType(Seq(
          StructField("title", StringType),
          StructField("abstract_summary", StringType),
          StructField("key_findings", ArrayType(StringType)),
          StructField("confidence", DoubleType)))
        SemanticOps.semanticMap(
            t(s, dir, "documents").select(col("doc_id"), col("text")),
            "Extract structured content: {{ input.text }}",
            schema, client,
            validations = Seq("length(abstract_summary) > 0"), retries = 1)
          .ok
          .select(col("doc_id"), col("title"), col("abstract_summary"),
            size(col("key_findings")).as("n_findings"), round(col("confidence"), 3).as("confidence"))
          .orderBy(col("doc_id"))
      },
      None),

    // ---- A1-shape: semantic reduce (hierarchical fold per group). ----
    Q("q71_semantic_reduce",
      (s, dir) => {
        val schema = StructType(Seq(
          StructField("summary", StringType),
          StructField("themes", ArrayType(StringType))))
        SemanticOps.semanticReduce(
            t(s, dir, "documents").select(col("lang"), col("doc_id"), col("text")),
            Seq("lang"),
            "Synthesize a summary of these documents:",
            schema, client, fanIn = 8)
          .select(col("lang"), col("summary"), size(col("themes")).as("n_themes"))
          .orderBy(col("lang"))
      },
      None),

    // ---- A1 via custom Aggregator (agg()-syntax): semantic synthesis
    // composed with ordinary aggregates in ONE groupBy/agg pass. ----
    Q("q78_semantic_agg",
      (s, dir) => {
        val schema = StructType(Seq(
          StructField("summary", StringType),
          StructField("themes", ArrayType(StringType))))
        t(s, dir, "documents")
          .select(col("lang"), col("doc_id"), col("text"))
          .withColumn("__doc", to_json(struct(col("doc_id"), col("text"))))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            graft.semantic.SemanticAgg.synthesize(col("__doc"),
              "Synthesize a summary of these documents:", schema, client, fanIn = 8)
              .as("__resp"))
          .withColumn("__out", from_json(col("__resp"), schema))
          .select(col("lang"), col("n_docs"),
            col("__out.summary").as("summary"),
            size(col("__out.themes")).as("n_themes"))
          .orderBy(col("lang"))
      },
      None),

    // ---- P6: LLM-judge filter. ----
    Q("q72_judge_filter",
      (s, dir) => {
        SemanticOps.semanticFilter(
            t(s, dir, "documents").select(col("doc_id"), col("text")),
            "Is this document high quality? {{ input.text }}", client).ok
          .select(col("doc_id"))
          .orderBy(col("doc_id"))
      },
      None),

    // ---- K5: dead-letter channel — a validation no output satisfies
    // routes every row to the dead letter instead of failing the job. ----
    Q("q73_dead_letter",
      (s, dir) => {
        val schema = StructType(Seq(StructField("summary", StringType),
          StructField("confidence", DoubleType)))
        val res = SemanticOps.semanticMap(
          t(s, dir, "documents").select(col("doc_id"), col("text")).limit(50),
          "Summarize: {{ input.text }}", schema, client,
          validations = Seq("confidence > 1.5"), retries = 1)
        res.dead.select(col("doc_id"), col("__error").as("error")).orderBy(col("doc_id"))
      },
      None),

    // ---- M4/M5-shape: 3-level NESTED output schema (the reference's
    // synthesis records, paper_extraction.yaml:89-108) parsed through
    // from_json into nested StructTypes. ----
    Q("q75_nested_semantic",
      (s, dir) => {
        val schema = StructType(Seq(
          StructField("paper_metadata", StructType(Seq(
            StructField("title", StringType),
            StructField("authors", ArrayType(StringType)),
            StructField("quality", StructType(Seq(
              StructField("completeness", DoubleType),
              StructField("confidence_notes", ArrayType(StringType)))))))),
          StructField("content_summary", StructType(Seq(
            StructField("abstract", StringType),
            StructField("key_findings", ArrayType(StringType))))),
          StructField("extraction_confidence", DoubleType)))
        SemanticOps.semanticMap(
            t(s, dir, "documents").select(col("doc_id"), col("text")).limit(100),
            "Synthesize nested record: {{ input.text }}", schema, client)
          .ok
          .select(col("doc_id"),
            col("paper_metadata.title").as("title"),
            size(col("paper_metadata.authors")).as("n_authors"),
            round(col("paper_metadata.quality.completeness"), 3).as("completeness"),
            size(col("content_summary.key_findings")).as("n_findings"),
            round(col("extraction_confidence"), 3).as("confidence"))
          .orderBy(col("doc_id"))
      },
      None),

    // ---- M8-shape: multi-channel content variants (twitter thread as a
    // list, per-network posts, hashtags) with P4 validations on list
    // sizes (article_generation.yaml:98-147 analog). ----
    Q("q76_social_variants",
      (s, dir) => {
        val schema = StructType(Seq(
          StructField("twitter_thread", ArrayType(StringType)),
          StructField("linkedin_post", StringType),
          StructField("facebook_post", StringType),
          StructField("instagram_caption", StringType),
          StructField("hashtags", ArrayType(StringType))))
        SemanticOps.semanticMap(
            t(s, dir, "documents").select(col("doc_id"), col("text")).limit(100),
            "Create social variants for: {{ input.text }}", schema, client,
            validations = Seq("size(twitter_thread) >= 2", "size(hashtags) >= 1"),
            retries = 2)
          .ok
          .select(col("doc_id"), size(col("twitter_thread")).as("n_tweets"),
            length(col("linkedin_post")).as("li_len"),
            size(col("hashtags")).as("n_tags"))
          .orderBy(col("doc_id"))
      },
      None),

    // ---- M9-shape: multi-format email versions as a nested struct per
    // format (article_generation.yaml:149-207 analog), with P4 validations
    // on subject lengths. ----
    Q("q79_email_versions",
      (s, dir) => {
        val email = StructType(Seq(
          StructField("subject", StringType), StructField("body", StringType)))
        val schema = StructType(Seq(
          StructField("newsletter", email), StructField("digest", email),
          StructField("alert", email), StructField("promotional", email)))
        SemanticOps.semanticMap(
            t(s, dir, "documents").select(col("doc_id"), col("text")).limit(100),
            "Create four email versions of: {{ input.text }}", schema, client,
            validations = Seq("length(newsletter.subject) > 0",
              "length(alert.subject) > 0"),
            retries = 1)
          .ok
          .select(col("doc_id"),
            length(col("newsletter.subject")).as("nl_subj_len"),
            length(col("digest.body")).as("digest_len"),
            length(col("alert.subject")).as("alert_subj_len"),
            length(col("promotional.body")).as("promo_len"))
          .orderBy(col("doc_id"))
      },
      None),

    // ---- M10-shape: 4-dimension scored rubric -> weighted composite ->
    // readiness buckets (article_generation.yaml:209-278 analog). The
    // dimension scores are semantic; the composite and bucketing are pure
    // Column arithmetic, as in the reference's deterministic tail. ----
    Q("q64_composite_quality",
      (s, dir) => {
        val schema = StructType(Seq(
          StructField("content_accuracy", DoubleType),
          StructField("engagement_potential", DoubleType),
          StructField("format_compliance", DoubleType),
          StructField("brand_alignment", DoubleType)))
        val scored = SemanticOps.semanticMap(
            t(s, dir, "documents").select(col("doc_id"), col("text")).limit(200),
            "Score this content on four dimensions: {{ input.text }}",
            schema, client, retries = 0).ok
        val clamp = (c: org.apache.spark.sql.Column) =>
          least(greatest(abs(c) * 100, lit(0.0)), lit(100.0))
        val composite = round(clamp(col("content_accuracy")) * 0.35 +
          clamp(col("engagement_potential")) * 0.3 +
          clamp(col("format_compliance")) * 0.2 +
          clamp(col("brand_alignment")) * 0.15, 2)
        scored
          .withColumn("composite", composite)
          .withColumn("readiness",
            when(col("composite") >= 80, "publish")
              .when(col("composite") >= 60, "review")
              .otherwise("rework"))
          .groupBy(col("readiness"))
          .agg(count(lit(1)).as("n"), round(avg(col("composite")), 2).as("avg_score"))
          .orderBy(col("readiness"))
      },
      None),

    // ---- Declarative entry point: a DocETL-shaped YAML config parsed by
    // the hand-rolled loader, validated, rewritten (auto-chunk) and compiled
    // onto the same semantic operators (SURVEY §1.1 row 5 / §3.3). ----
    Q("q77_yaml_pipeline",
      (s, dir) => {
        val yaml =
          """name: yaml_article_pipeline
            |operations:
            |  - name: extract
            |    type: map
            |    prompt: |
            |      Extract the key points from this document:
            |      {{ input.text }}
            |    output:
            |      schema:
            |        title: string
            |        key_points: list[string]
            |        confidence: number
            |    validate:
            |      - length(title) > 0
            |    num_retries_on_validate_failure: 1
            |  - name: keep_confident
            |    type: filter
            |    predicate: confidence >= 0.1
            |""".stripMargin
        val spec = graft.pipeline.YamlSpec.load(yaml)
        val compiled = graft.pipeline.Compiler.run(
          t(s, dir, "documents").select(col("doc_id"), col("text")), spec, client)
        compiled.result
          .select(col("doc_id"), col("title"),
            size(col("key_points")).as("n_points"),
            round(col("confidence"), 3).as("confidence"))
          .orderBy(col("doc_id"))
      },
      None),

    // ---- The full DAG-equivalent pipeline (t1 flagship). ----
    Q("q74_flagship_articles",
      (s, dir) => {
        Flagship.run(s, dir)
          .select(col("doc_id"), col("headline"), col("word_count"),
            col("quality_score"), col("bucket"))
          .orderBy(col("doc_id"))
      },
      None)
  )
}
