package graft

import org.apache.spark.sql.functions._

import graft.operators.{Bm25, GenStore, TextIndex}

/** Pins the inverted-index lifecycle laws: an incrementally-built index
  * serves bit-for-bit what the one-shot [[Bm25.search]] computes over
  * the same corpus (the increment law), replays are ledger-detected,
  * purge erases the subject everywhere and repairs the corpus stats
  * exactly (post-purge serving equals a fresh build on the surviving
  * corpus), suppression blocks re-sends until re-admission.
  */
class TextIndexSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_ti_").toString + "/ix"

  private val docsAll = Seq(
    (1L, "apple banana apple kiwi"),
    (2L, "banana cherry banana"),
    (3L, "cherry apple date plum"),
    (4L, "date egg fig"),
    (5L, "egg fig grape apple"),
    (6L, "plum kiwi grape date banana"))

  private def docs(f: Long => Boolean) =
    docsAll.filter(d => f(d._1)).toDF("doc_id", "text")

  private val queries = Seq((1L, "apple date"), (2L, "banana grape egg"))
    .toDF("qid", "qtext")

  private def served(path: String): Set[(Long, Long, Double, Int)] =
    TextIndex.serveTextIndex(spark, path, queries, "qid", "qtext",
        "doc_id", k = 3)
      .select(col("qid"), col("doc_id"), round(col("score"), 6).as("s"),
        col("rn"))
      .as[(Long, Long, Double, Int)].collect().toSet

  private def oneShot(d: org.apache.spark.sql.DataFrame) =
    Bm25.search(d, "doc_id", "text", queries, "qid", "qtext", k = 3)
      .select(col("qid"), col("doc_id"), round(col("score"), 6).as("s"),
        col("rn"))
      .as[(Long, Long, Double, Int)].collect().toSet

  test("incremental build + append serves what the one-shot batch computes") {
    val path = tmp()
    TextIndex.buildTextIndex(docs(_ % 2 == 1), path, "doc_id", "text",
      nBuckets = 4, appliedId = Some("batch-0"))
    TextIndex.mergeIntoTextIndex(docs(_ % 2 == 0), path, "doc_id", "text",
      appliedId = Some("batch-1"))
    assert(served(path) == oneShot(docsAll.toDF("doc_id", "text")),
      "incrementally-built index must serve the full-corpus BM25")
  }

  test("a replayed append id is a detected no-op in all three substores") {
    val path = tmp()
    TextIndex.buildTextIndex(docs(_ % 2 == 1), path, "doc_id", "text",
      nBuckets = 4, appliedId = Some("batch-0"))
    TextIndex.mergeIntoTextIndex(docs(_ % 2 == 0), path, "doc_id", "text",
      appliedId = Some("batch-1"))
    val gens = Seq("postings", "dl", "stats")
      .map(s => GenStore.read(spark, s"$path/$s").get.gen)
    TextIndex.mergeIntoTextIndex(docs(_ % 2 == 0), path, "doc_id", "text",
      appliedId = Some("batch-1")) // replay
    assert(Seq("postings", "dl", "stats")
      .map(s => GenStore.read(spark, s"$path/$s").get.gen) == gens,
      "a replay must not advance any substore generation")
    assert(served(path) == oneShot(docsAll.toDF("doc_id", "text")),
      "a replay must not double tf/dl/stats")
  }

  test("a query over terms absent from the index returns no rows") {
    val path = tmp()
    TextIndex.buildTextIndex(docs(_ => true), path, "doc_id", "text",
      nBuckets = 4)
    val out = TextIndex.serveTextIndex(spark, path,
      Seq((9L, "zzz qqq")).toDF("qid", "qtext"), "qid", "qtext", "doc_id")
    assert(out.isEmpty)
  }

  test("conjunctive mode keeps only documents matching every query term") {
    val path = tmp()
    TextIndex.buildTextIndex(docs(_ => true), path, "doc_id", "text",
      nBuckets = 4)
    val got = TextIndex.serveTextIndex(spark, path, queries,
        "qid", "qtext", "doc_id", k = 10, requireAll = true)
      .select(col("qid"), col("doc_id"))
      .as[(Long, Long)].collect().toSet
    // "apple date": only doc 3 holds both; "banana grape egg": no doc
    // holds all three
    assert(got == Set((1L, 3L)), s"conjunctive candidates wrong: $got")
  }

  test("rollback reverts an append pointer-only; the re-feed applies") {
    val path = tmp()
    TextIndex.buildTextIndex(docs(_ % 2 == 1), path, "doc_id", "text",
      nBuckets = 4, appliedId = Some("b0"), positional = true)
    // BAD load: the even docs arrive with corrupted text
    TextIndex.mergeIntoTextIndex(
      docs(_ % 2 == 0).withColumn("text", lit("garbage garbage")),
      path, "doc_id", "text", appliedId = Some("b1"))
    TextIndex.rollbackTextIndex(spark, path, batchesBack = 1)
    TextIndex.mergeIntoTextIndex(docs(_ % 2 == 0), path, "doc_id", "text",
      appliedId = Some("b1")) // ledger reverted: same id applies
    assert(served(path) == oneShot(docsAll.toDF("doc_id", "text")),
      "post-rollback re-feed must equal the never-corrupted index")
    // the positional substore reverted in lockstep
    assert(TextIndex.phraseSearch(spark, path, "egg fig", "doc_id")
      .select(col("doc_id")).as[Long].collect().toSet == Set(4L, 5L),
      "the positional substore must carry the corrected load")
  }

  test("serve as-of replays the index exactly as each batch committed it") {
    val path = tmp()
    TextIndex.buildTextIndex(docs(_ % 2 == 1), path, "doc_id", "text",
      nBuckets = 4, appliedId = Some("b0"))
    TextIndex.mergeIntoTextIndex(docs(_ % 2 == 0), path, "doc_id", "text",
      appliedId = Some("b1"))
    val fresh = tmp()
    TextIndex.buildTextIndex(docs(_ % 2 == 1), fresh, "doc_id", "text",
      nBuckets = 4)
    def at(p: String, g: Option[Long]) =
      TextIndex.serveTextIndex(spark, p, queries, "qid", "qtext",
          "doc_id", k = 3, asOfGen = g)
        .select(col("qid"), col("doc_id"), round(col("score"), 6), col("rn"))
        .as[(Long, Long, Double, Int)].collect().toSet
    assert(at(path, Some(1L)) == at(fresh, None),
      "generation 1 must serve exactly the build-time corpus " +
        "(postings, lengths, AND stats)")
    assert(at(path, None) == oneShot(docsAll.toDF("doc_id", "text")),
      "the current generation serves the full corpus")
  }

  test("phrase search intersects start-aligned positional postings, " +
    "across incremental appends") {
    val path = tmp()
    TextIndex.buildTextIndex(docs(_ % 2 == 1), path, "doc_id", "text",
      nBuckets = 4, appliedId = Some("b0"), positional = true)
    TextIndex.mergeIntoTextIndex(docs(_ % 2 == 0), path, "doc_id", "text",
      appliedId = Some("b1"))
    def hits(p: String) = TextIndex.phraseSearch(spark, path, p, "doc_id")
      .select(col("doc_id"), col("phrase_tf"))
      .as[(Long, Long)].collect().toSet
    // "egg fig": doc 4 ("date egg fig", built) and doc 5 ("egg fig grape
    // apple", appended) — once each
    assert(hits("egg fig") == Set((4L, 1L), (5L, 1L)))
    // 3-term with a repeated term: only doc 1
    assert(hits("apple banana apple") == Set((1L, 1L)))
    // adjacent-in-wrong-order must NOT match
    assert(hits("kiwi apple") == Set.empty)
  }

  test("vacuum trims history to the retention window; serving unaffected") {
    val path = tmp()
    TextIndex.buildTextIndex(docs(_ % 2 == 1), path, "doc_id", "text",
      nBuckets = 4, appliedId = Some("b0"))
    TextIndex.mergeIntoTextIndex(docs(_ % 2 == 0), path, "doc_id", "text",
      appliedId = Some("b1"))
    val before = served(path)
    val deleted = TextIndex.vacuumTextIndex(spark, path, keepGens = 1)
    assert(deleted.nonEmpty, "generation-1 dirs and manifests must retire")
    assert(served(path) == before, "vacuum must not move the served answer")
    val err = intercept[IllegalArgumentException] {
      TextIndex.serveTextIndex(spark, path, queries, "qid", "qtext",
        "doc_id", asOfGen = Some(1L)).collect()
    }
    assert(err.getMessage.contains("not retained"),
      "a vacuumed generation must fail loudly, never scan partially")
  }

  test("purge repairs stats exactly, erases every byte, and suppresses " +
    "re-sends until re-admission") {
    val path = tmp()
    TextIndex.buildTextIndex(docs(_ => true), path, "doc_id", "text",
      nBuckets = 4, appliedId = Some("batch-0"))
    val (postDel, dlDel) = TextIndex.purgeTextIndexDocs(
      Seq(1L, 4L).toDF("id"), path, purgeId = "ticket-7")
    assert(dlDel == 2L, s"both docs' dl rows must go, got $dlDel")
    assert(postDel == 6L,
      s"doc 1 and doc 4 carry 3 distinct terms each, got $postDel")
    // serving now equals a FRESH index on the survivors — stats included
    val fresh = tmp()
    TextIndex.buildTextIndex(docs(d => d != 1L && d != 4L), fresh,
      "doc_id", "text", nBuckets = 4)
    assert(served(path) == served(fresh),
      "post-purge serving must equal a fresh build on the survivors " +
        "(nd, avgdl, df all repaired)")

    // residue sweep: no parquet file under the index may hold the ids
    def walk(d: java.io.File): Seq[java.io.File] =
      if (d.isDirectory) d.listFiles().toSeq.flatMap(walk)
      else if (d.getName.endsWith(".parquet")) Seq(d) else Seq.empty
    walk(new java.io.File(path)).foreach { f =>
      val df = spark.read.parquet(f.getAbsolutePath)
      if (df.columns.contains("id"))
        assert(df.filter(col("id").isin(1L, 4L)).isEmpty, s"residue in $f")
      if (df.columns.contains("dl") && df.columns.contains("key"))
        assert(df.filter(col("key").isin(1L, 4L)).isEmpty, s"residue in $f")
    }

    // upstream re-send of the purged subject: suppressed...
    TextIndex.mergeIntoTextIndex(docs(_ == 1L), path, "doc_id", "text",
      appliedId = Some("resend"))
    assert(served(path) == served(fresh), "re-send must be suppressed")
    // ...until re-admission
    assert(TextIndex.readmitTextIndexDocs(Seq(1L).toDF("id"), path) == 1L)
    TextIndex.mergeIntoTextIndex(docs(_ == 1L), path, "doc_id", "text",
      appliedId = Some("post-readmit"))
    val rebuilt = tmp()
    TextIndex.buildTextIndex(docs(_ != 4L), rebuilt, "doc_id", "text",
      nBuckets = 4)
    assert(served(path) == served(rebuilt),
      "a re-admitted doc must index again")
  }

  test("purge keys stay the stored id's native type — string ids erase") {
    val path = tmp()
    val sdocs = docsAll.map { case (i, t) => (s"doc-$i", t) }
    TextIndex.buildTextIndex(sdocs.toDF("doc_id", "text"), path,
      "doc_id", "text", nBuckets = 4)
    val (postDel, dlDel) = TextIndex.purgeTextIndexDocs(
      Seq("doc-1", "doc-4").toDF("id"), path, purgeId = "ticket-s")
    assert(dlDel == 2L && postDel == 6L,
      s"string-id purge must sweep the same rows as long ids " +
        s"(got post=$postDel dl=$dlDel) — a cast-to-long would null the " +
        "keys and silently erase nothing")
    // serving equals a fresh build on the survivors
    val fresh = tmp()
    TextIndex.buildTextIndex(
      sdocs.filter(d => d._1 != "doc-1" && d._1 != "doc-4")
        .toDF("doc_id", "text"), fresh, "doc_id", "text", nBuckets = 4)
    def servedS(p: String) =
      TextIndex.serveTextIndex(spark, p, queries, "qid", "qtext",
          "doc_id", k = 3)
        .select(col("qid"), col("doc_id"), round(col("score"), 6), col("rn"))
        .as[(Long, String, Double, Int)].collect().toSet
    assert(servedS(path) == servedS(fresh))
    // suppression list holds the native ids, and re-admission clears them
    assert(spark.read.parquet(s"$path/_purged/ids")
      .as[String].collect().toSet == Set("doc-1", "doc-4"))
    assert(TextIndex.readmitTextIndexDocs(
      Seq("doc-1", "doc-4").toDF("id"), path) == 2L)
  }

  test("appends land as LSM segments; compaction folds them; serving " +
    "unchanged") {
    val path = tmp()
    TextIndex.buildTextIndex(docs(_ % 2 == 1), path, "doc_id", "text",
      nBuckets = 4, appliedId = Some("b0"))
    TextIndex.mergeIntoTextIndex(docs(_ % 2 == 0), path, "doc_id", "text",
      appliedId = Some("b1"))
    // the stats key (0) repeats every batch — its bucket holds two
    // segments now, folded at serve time
    val mStats = GenStore.read(spark, s"$path/stats").get
    assert(mStats.entries.size == 2 &&
      mStats.entries.map(_._1).distinct.size == 1,
      s"stats must hold two segments of one bucket, got ${mStats.entries}")
    val before = served(path)
    val compacted = TextIndex.compactTextIndex(spark, path).toMap
    assert(compacted("stats") == 1,
      s"the stats bucket must fold, got $compacted")
    assert(GenStore.read(spark, s"$path/stats").get.entries.size == 1)
    assert(served(path) == before,
      "compaction must not move the served ranking")
    // every substore advanced exactly once (pointer-only where nothing
    // folded) — the batch-relative alignment invariant
    val gens = Seq("postings", "dl", "stats")
      .map(s => GenStore.read(spark, s"$path/$s").get.gen)
    assert(gens.distinct.size == 1, s"substores must stay aligned: $gens")
  }

  test("a non-positional build tokenizes the corpus exactly once") {
    // r20 optimization pin: the postings/dl/stats commits all derive
    // from one tf aggregate — a lazy tf re-ran the tokenize pipeline
    // from the raw corpus once PER COMMIT (three full passes per
    // build). The accumulator counts raw text-row reads.
    val path = tmp()
    val acc = spark.sparkContext.longAccumulator("tokenize-evals")
    val counted = udf((t: String) => { acc.add(1L); t })
    val instr = docs(_ => true)
      .select(col("doc_id"), counted(col("text")).as("text"))
    TextIndex.buildTextIndex(instr, path, "doc_id", "text")
    assert(acc.value == docsAll.size.toLong,
      s"the corpus (${docsAll.size} docs) must tokenize exactly once " +
        s"per build, got ${acc.value} per-row evaluations")
    assert(served(path) == {
      val ref = tmp()
      TextIndex.buildTextIndex(docs(_ => true), ref, "doc_id", "text")
      served(ref)
    }, "single-tokenize must not change the served ranking")
  }

  test("a positional build and append tokenize the corpus exactly once each") {
    // r20 optimization pin: the per-occurrence pos rows are the
    // finest-grained view of the token stream, so tf derives from the
    // checkpointed pos aggregate — the old shape ran tfOf AND posOf,
    // two full tokenize passes per positional build (and per append).
    val path = tmp()
    val acc = spark.sparkContext.longAccumulator("tokenize-evals-pos")
    val counted = udf((t: String) => { acc.add(1L); t })
    def instr(f: Long => Boolean) = docs(f)
      .select(col("doc_id"), counted(col("text")).as("text"))
    TextIndex.buildTextIndex(instr(_ % 2 == 1), path, "doc_id", "text",
      positional = true)
    val nBuild = docsAll.count(_._1 % 2 == 1).toLong
    assert(acc.value == nBuild,
      s"a positional build must tokenize its $nBuild docs exactly once, " +
        s"got ${acc.value} per-row evaluations")
    TextIndex.mergeIntoTextIndex(instr(_ % 2 == 0), path, "doc_id", "text",
      appliedId = Some("batch-1"))
    assert(acc.value == docsAll.size.toLong,
      "a positional append must tokenize its increment exactly once, got " +
        s"${acc.value - nBuild} per-row evaluations over " +
        s"${docsAll.size - nBuild.toInt} docs")
    // the derived tf must serve and phrase-match exactly like a
    // reference positional lifecycle over the same corpus split
    val ref = tmp()
    TextIndex.buildTextIndex(docs(_ % 2 == 1), ref, "doc_id", "text",
      positional = true)
    TextIndex.mergeIntoTextIndex(docs(_ % 2 == 0), ref, "doc_id", "text",
      appliedId = Some("batch-1"))
    assert(served(path) == served(ref),
      "pos-derived tf must not change the served ranking")
    def phrase(p: String) =
      TextIndex.phraseSearch(spark, p, "banana apple", "doc_id", k = 5)
        .as[(Long, Long, Int)].collect().toSet
    assert(phrase(path) == phrase(ref),
      "the positional substore must be unchanged by the single-tokenize")
  }
}
