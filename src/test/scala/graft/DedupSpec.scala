package graft

import org.apache.spark.sql.functions._

import graft.operators.{AsOfJoin, Dedup}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again today"),
    (2L, "the quick brown fox jumps over the lazy dog again and again tonight"), // near-dup of 1
    (3L, "completely different content about query engines and shuffles at scale"),
    (4L, "the quick brown fox jumps over the lazy dog again and again today") // exact dup of 1
  ).toDF("doc_id", "text")

  test("exact dedup keeps lowest id per identical content") {
    val out = Dedup.exact(docs, "doc_id", Seq("text"))
    assert(out.count() == 3)
    val dupRow = out.filter(col("n_dupes") === 2).select("doc_id").as[Long].collect()
    assert(dupRow.toSeq == Seq(1L))
  }

  test("minhash LSH finds planted near-duplicates and the exact duplicate") {
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text",
        numHashes = 32, bands = 16, shingleK = 3, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L)), "exact duplicate must be found")
    assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 4L)), "near-duplicate must be found")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L), "unrelated doc must not pair")
  }

  test("native MinHashSig equals the declarative shingleHashes+minhashSignature") {
    import graft.functions.TextFns
    val sh = array_distinct(TextFns.wordShingles(TextFns.tokens(col("text")), 3))
    val base = docs.select(col("doc_id"), sh.as("sh")).filter(size(col("sh")) > 0)
    val native = base.select(col("doc_id"),
        graft.expressions.MinHashSig(col("sh"), 32, 7).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    val declarative = base
      .withColumn("hs", Dedup.shingleHashes(col("sh")))
      .select(col("doc_id"), Dedup.minhashSignature(col("hs"), 32).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(native == declarative)
  }

  test("portable MinHashSig equals its declarative md5-hash formulation") {
    import graft.functions.TextFns
    val sh = array_distinct(TextFns.wordShingles(TextFns.tokens(col("text")), 3))
    val base = docs.select(col("doc_id"), sh.as("sh")).filter(size(col("sh")) > 0)
    val native = base.select(col("doc_id"),
        graft.expressions.MinHashSig(col("sh"), 32, 7, portableHash = true).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    val declarative = base
      .withColumn("hs", Dedup.shingleHashesPortable(col("sh")))
      .select(col("doc_id"), Dedup.minhashSignature(col("hs"), 32).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(native == declarative)
    // the portable pipeline finds the same planted duplicates
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text",
        numHashes = 32, bands = 16, shingleK = 3, threshold = 0.5, portableHash = true)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L)))
  }

  test("simhash of identical docs is identical; hamming pairs found") {
    val sig = Dedup.simhash(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(sig(1L) == sig(4L))
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L)))
  }

  test("simhash portable hash: same vote algorithm, signatures bounded to 60 bits") {
    val sig = Dedup.simhash(docs, "doc_id", "text", Dedup.portableTokHash _, bits = 60)
      .as[(Long, Long)].collect().toMap
    assert(sig(1L) == sig(4L), "identical docs still collide under the portable hash")
    assert(sig.values.forall(v => v >= 0 && v < (1L << 60)))
  }

  test("connected components resolve transitive chains; corpus dedup keeps representatives") {
    // chain 1-2, 2-5 (no direct 1-5 edge) plus isolated pair 3-4
    val pairs = Seq((1L, 2L), (2L, 5L), (3L, 4L)).toDF("id_a", "id_b")
    val expected = Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 3L -> 3L, 4L -> 3L)
    // driver union-find regime
    val comps = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(comps == expected)
    // distributed label-propagation regime (forced)
    val compsDist = Dedup.connectedComponents(pairs, smallGraphThreshold = 0L)
      .as[(Long, Long)].collect().toMap
    assert(compsDist == expected)

    val surviving = Dedup.dedupCorpus(docs, "doc_id", "text", threshold = 0.8)
      .select("doc_id").as[Long].collect().toSet
    // docs 1 and 4 are exact dups (cluster rep 1); doc 2 is a near-dup of 1
    // at jaccard > 0.8; doc 3 unrelated
    assert(surviving.contains(1L) && surviving.contains(3L))
    assert(!surviving.contains(4L))
  }

  test("small-corpus dedupCorpus equals the distributed composition in both hash modes, " +
      "in at most 2 jobs") {
    for (portable <- Seq(false, true)) {
      val (kept, jobs) = jobsDuring(
        Dedup.dedupCorpus(docs, "doc_id", "text", portableHash = portable))
      assert(jobs <= 2, s"portable=$portable: dedupCorpus ran $jobs jobs")
      val pairs = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.8,
        portableHash = portable)
      val losers = Dedup.connectedComponents(pairs, smallGraphThreshold = 0L)
        .filter(col("id") =!= col("label")).select(col("id").as("doc_id"))
      val composed = docs.join(losers, Seq("doc_id"), "left_anti")
      val keptRows = kept.as[(Long, String)].collect().toSet
      assert(keptRows == composed.as[(Long, String)].collect().toSet, s"portable=$portable")
      assert(keptRows.map(_._1) == Set(1L, 3L), s"portable=$portable")
    }
  }

  test("connected components converge on a long path graph (diameter >> 2^5)") {
    // path 0-1-2-...-100: min-label propagation alone moves label 0 one hop
    // per round, so the old fixed-5-round loop would have stopped unconverged
    // and SILENTLY returned wrong labels. Pointer jumping makes convergence
    // O(log diameter) and the loop now runs to an actual fixpoint.
    val n = 100
    val chain = (0 until n).map(i => (i.toLong, i.toLong + 1)).toDF("id_a", "id_b")
    val comps = Dedup.connectedComponents(chain, smallGraphThreshold = 0L)
      .as[(Long, Long)].collect().toMap
    assert(comps.size == n + 1)
    assert(comps.values.forall(_ == 0L), "every node must label to the path head")
    // an impossible round budget fails loudly, never returns wrong labels
    assertThrows[IllegalStateException] {
      Dedup.connectedComponents(chain, maxIters = 2, smallGraphThreshold = 0L).count()
    }
  }

  test("as-of join matches a naive per-row scan") {
    val left = Seq((1L, 10L, "e1"), (1L, 20L, "e2"), (2L, 5L, "e3"), (3L, 9L, "e4"))
      .toDF("k", "t", "ev").withColumn("t", col("t").cast("timestamp"))
    val right = Seq((1L, 5L, 100.0), (1L, 15L, 200.0), (2L, 5L, 300.0))
      .toDF("k", "t", "price").withColumn("t", col("t").cast("timestamp"))
    val got = AsOfJoin.asof(left, right, "k", "t")
      .select(col("ev"), col("price")).as[(String, Option[Double])].collect().toMap
    // e1@10: latest right for k=1 with t<=10 is t=5 -> 100
    // e2@20: t=15 -> 200 ; e3@5: inclusive tie t=5 -> 300 ; e4: no right rows
    assert(got == Map("e1" -> Some(100.0), "e2" -> Some(200.0),
      "e3" -> Some(300.0), "e4" -> None))
  }

  test("as-of join: a genuinely-NULL right payload field is not backfilled") {
    val left = Seq((1L, 10L, "e1"), (1L, 20L, "e2"))
      .toDF("k", "t", "ev").withColumn("t", col("t").cast("timestamp"))
    // newer right row (t=15) has price NULL but venue set; per-column last()
    // would wrongly attach price=100 from the t=5 row to e2
    val right = Seq((1L, 5L, Some(100.0), "A"), (1L, 15L, None, "B"))
      .toDF("k", "t", "price", "venue").withColumn("t", col("t").cast("timestamp"))
    val got = AsOfJoin.asof(left, right, "k", "t")
      .select(col("ev"), col("price"), col("venue"))
      .as[(String, Option[Double], String)].collect()
      .map { case (e, p, v) => e -> (p, v) }.toMap
    assert(got("e1") == (Some(100.0), "A"))
    assert(got("e2") == (None, "B"), "NULL field must stay attached to its own right row")
  }

  test("as-of join rejects overlapping payload column names") {
    val left = Seq((1L, 10L, "x")).toDF("k", "t", "p")
      .withColumn("t", col("t").cast("timestamp"))
    val right = Seq((1L, 5L, "y")).toDF("k", "t", "p")
      .withColumn("t", col("t").cast("timestamp"))
    val e = intercept[IllegalArgumentException](AsOfJoin.asof(left, right, "k", "t"))
    assert(e.getMessage.contains("disjoint"))
  }

  test("incremental dedup: new-vs-existing and new-vs-new, never old-vs-old") {
    import spark.implicits._
    val a = "a b c d e f g h i j"
    val b = "p q r s t u v w x y"
    // existing corpus holds an internal duplicate pair (10, 11) that must
    // NOT be reported; new docs 1 (dup of existing) and 2/3 (dups of each
    // other) must
    val existing = Seq((10L, a), (11L, a), (12L, b)).toDF("doc_id", "text")
    val fresh = Seq((1L, a), (2L, "k l m n o k2 l2 m2 n2 o2"),
      (3L, "k l m n o k2 l2 m2 n2 o2")).toDF("doc_id", "text")
    val out = Dedup.incrementalMinhashPairs(fresh, existing, "doc_id", "text",
        threshold = 0.5)
      .select("new_id", "dup_id", "dup_is_existing", "jaccard")
      .as[(Long, Long, Boolean, Double)].collect().toSet
    assert(out == Set(
      (1L, 10L, true, 1.0), (1L, 11L, true, 1.0), (2L, 3L, false, 1.0)),
      s"got $out")
  }

  test("semantic dedup: in-cell near-dup drops, lowest id survives, cross-cluster stays") {
    import spark.implicits._
    import graft.operators.Similarity
    // two tight clusters far apart; 1/2 near-identical, 5 a scaled copy of
    // 1 (cosine 1.0), 3/4 the opposite corner and not near-dups of each
    // other (cosine(3,4) < 0.9)
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f, 0.1f)), (2L, Seq(1.0f, 0.01f, 0.1f)),
      (5L, Seq(2.0f, 0.0f, 0.2f)),
      (3L, Seq(0.0f, 1.0f, -0.9f)), (4L, Seq(0.0f, 0.1f, -1.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.semanticDedup(emb, "vec_id", "embedding",
        nCells = 2, threshold = 0.9)
      .select("vec_id", "keep").as[(Long, Boolean)].collect().toMap
    assert(out(1L), "lowest id of the near-dup group survives")
    assert(!out(2L) && !out(5L), "higher-id near-dups drop")
    assert(out(3L) && out(4L), "sub-threshold neighbors both survive")
  }

  test("semantic dedup: an oversized cell contributes no pairs (maxCell guard)") {
    import spark.implicits._
    import graft.operators.Similarity
    // nCells=1 collapses everything into one cell of 4 > maxCell=3: the
    // hot-cell cap must zero the pairwise pass and keep every row
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(1.0f, 0.001f)),
      (3L, Seq(1.0f, 0.002f)), (4L, Seq(1.0f, 0.003f))
    ).toDF("vec_id", "embedding")
    val capped = Similarity.semanticDedup(emb, "vec_id", "embedding",
        nCells = 1, threshold = 0.9, maxCell = 3)
      .select("vec_id", "keep").as[(Long, Boolean)].collect().toMap
    assert(capped.values.forall(identity), s"hot cell must pair nothing: $capped")
    val uncapped = Similarity.semanticDedup(emb, "vec_id", "embedding",
        nCells = 1, threshold = 0.9, maxCell = 100)
      .select("vec_id", "keep").as[(Long, Boolean)].collect().toMap
    assert(uncapped == Map(1L -> true, 2L -> false, 3L -> false, 4L -> false),
      s"same cell under the cap must dedup normally: $uncapped")
  }

  test("leakage-safe split: no near-dup cluster straddles the split, " +
    "every doc assigned, split pure in the label") {
    val docs = Tables(spark, sfDir, "documents")
    val split = Dedup.leakageSafeSplit(docs, "doc_id", "text",
        threshold = 0.8, portableHash = true)
      .select("doc_id", "label", "split")
      .as[(Long, Long, String)].collect()
    assert(split.length.toLong === docs.count(), "every doc gets a side")
    // the whole point: one side per cluster
    split.groupBy(_._2).foreach { case (label, members) =>
      assert(members.map(_._3).distinct.length === 1,
        s"cluster $label straddles the split")
    }
    // the fixture's planted near-dups produce multi-member clusters
    assert(split.groupBy(_._2).exists(_._2.length > 1),
      "fixture must contain non-trivial clusters")
    // both sides populated at a ~90/10 bucket rule
    val sides = split.groupBy(_._3).view.mapValues(_.length).toMap
    assert(sides.keySet === Set("train", "val") && sides("train") > sides("val"))
  }
}
