package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFns
import graft.operators.{Chunker, Dedup, GenStore, Similarity}

/** Dedup / similarity / chunking surface (BASELINE.json north star):
  * exact + MinHash-LSH + SimHash + n-gram-Jaccard + embedding near-dup,
  * ANN search, token-window chunking. Custom-hash operators (xxhash64-based)
  * are not portable to the oracle => rows-only checks; the set-algebra and
  * chunking ops have exact DuckDB oracles.
  */
object DedupQueries {
  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables(s, dir, n)

  /** r20 (guide §1.2): ONE signing of the base corpus shared across a
    * build + an incremental pass (the q284 lifecycle) — the two passes
    * each re-tokenized and re-signed the same 2/3 of the corpus.
    * r21 (guide §5): the shared signing is a WRITTEN signature store
    * (parquet next to the fixture's label store), not an executor-memory
    * localCheckpoint — a corpus-sized eager checkpoint pins unreplicated
    * blocks in executor storage for the whole lifecycle and dies with an
    * executor, and the driver's cold captures showed the materialization
    * costing more than it saved. One signing pass feeds the write; the
    * build pairing and the incremental pairing then read pruned columns
    * from disk — the production shape (signatures persisted at ingest).
    * `__sig` is dropped at the write: both consumers band from the
    * stored `__bk` and verify from `__sh`.
    */
  private def withSignedStore[T](s: SparkSession, signed: DataFrame,
                                 dir: String)(f: DataFrame => T): T = {
    signed.drop("__sig").write.mode("overwrite").parquet(dir)
    f(s.read.parquet(dir))
  }

  /** q92 oracle: replays the whole MinHash-LSH pipeline in DuckDB. The
    * universal-hash constants (MinHashSig.constants(32, 7) — exactly what
    * the Spark side plans) are inlined as literals; the md5-based shingle
    * and band hashes are portable by construction. The hot-bucket cap is
    * the HAVING count(*) <= 1000 filter (same anti-join semantics: a hot
    * (band, key) contributes no candidates, its members can still pair
    * through other bands).
    */
  /** The MinHash-LSH pipeline PREFIX (shingles -> signatures -> bands ->
    * hot-bucket filter) as DuckDB CTEs, shared by q92/q94 and the
    * incremental q112, which differ only in candidate generation.
    */
  private def minhashPrefixCtes: String = {
    val ab = graft.expressions.MinHashSig.constants(32, 7)
    val sigExprs = ab.map { case Array(a, b) =>
      s"list_min(list_transform(hh, v -> (v * $a + $b) % 2147483647))"
    }
    s"""t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
       |           FROM documents WHERE length(trim(text)) > 0),
       |s AS (SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
       |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
       |      FROM t WHERE len(toks) >= 3),
       |h AS (SELECT doc_id, sh, list_transform(sh, x ->
       |        CAST(concat('0x', substr(md5(x), 1, 15)) AS BIGINT) % 2147483647) AS hh
       |      FROM s),
       |g AS (SELECT doc_id, sh,
       |    [${sigExprs.mkString(",\n     ")}] AS sig
       |  FROM h),
       |banded AS (SELECT doc_id, b.band,
       |    md5(array_to_string(sig[b.band*4+1 : b.band*4+4], ',')) AS key
       |  FROM g CROSS JOIN (SELECT unnest(range(8)) AS band) b),
       |ok AS (SELECT band, key FROM banded GROUP BY band, key HAVING count(*) <= 1000)""".stripMargin
  }

  /** Prefix + the all-pairs candidate/verify tail: `j` ends with
    * (id_a, id_b, jaccard).
    */
  private def minhashCtes: String =
    s"""$minhashPrefixCtes,
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
       |  FROM banded a
       |  JOIN ok ON ok.band = a.band AND ok.key = a.key
       |  JOIN banded c ON a.band = c.band AND a.key = c.key AND a.doc_id < c.doc_id),
       |j AS (SELECT id_a, id_b,
       |    round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
       |      / CAST(len(list_distinct(sa.sh || sb.sh)) AS DOUBLE), 4) AS jaccard
       |  FROM cand JOIN g sa ON sa.doc_id = cand.id_a JOIN g sb ON sb.doc_id = cand.id_b)""".stripMargin

  /** q112 oracle: the incremental variant — doc_id % 3 == 0 plays the
    * "new" increment, the rest the existing corpus. Candidates must touch
    * a new doc; pairs orient new-first (smaller id when both new).
    */
  private lazy val q112OracleSql: String =
    s"""WITH $minhashPrefixCtes,
       |cand0 AS (SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
       |  FROM banded a
       |  JOIN ok ON ok.band = a.band AND ok.key = a.key
       |  JOIN banded c ON a.band = c.band AND a.key = c.key AND a.doc_id < c.doc_id
       |  WHERE a.doc_id % 3 = 0 OR c.doc_id % 3 = 0),
       |cand AS (SELECT
       |    CASE WHEN id_a % 3 = 0 THEN id_a ELSE id_b END AS new_id,
       |    CASE WHEN id_a % 3 = 0 THEN id_b ELSE id_a END AS dup_id,
       |    NOT (id_a % 3 = 0 AND id_b % 3 = 0) AS dup_is_existing
       |  FROM cand0),
       |j AS (SELECT new_id, dup_id, dup_is_existing,
       |    round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
       |      / CAST(len(list_distinct(sa.sh || sb.sh)) AS DOUBLE), 4) AS jaccard
       |  FROM cand JOIN g sa ON sa.doc_id = cand.new_id
       |            JOIN g sb ON sb.doc_id = cand.dup_id)
       |SELECT new_id, dup_id, dup_is_existing, jaccard FROM j WHERE jaccard >= 0.2
       |ORDER BY new_id, dup_id""".stripMargin

  /** q115 oracle: batch-equivalence for the STREAMING incremental dedup.
    * The stream feeds documents in three microbatches (batch r carries
    * doc_id % 3 == r, in r order), each paired against the store of all
    * earlier batches plus itself — so across the whole run, a banded
    * candidate pair is emitted exactly once, when its LATER-batch member
    * arrives: new_id is the later-batch doc (the smaller id when both
    * share a batch), dup_is_existing iff the batches differ. Signatures,
    * banding, and the verification jaccard are the q92/q112 portable
    * formulation, so the replay is closed-form.
    *
    * Hot-bucket cap caveat: the STREAM evaluates maxBucket at ARRIVAL
    * time (each increment defends itself against the store as it stands —
    * the production-correct semantics), while this closed-form replay
    * uses final whole-corpus counts. The two coincide exactly while no
    * (band, key) bucket crosses the cap, which holds at gate scale by two
    * orders of magnitude; the capped path itself is pinned by the
    * maxBucket specs, not by this oracle.
    */
  private lazy val q115OracleSql: String =
    s"""WITH $minhashPrefixCtes,
       |cand0 AS (SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
       |  FROM banded a
       |  JOIN ok ON ok.band = a.band AND ok.key = a.key
       |  JOIN banded c ON a.band = c.band AND a.key = c.key AND a.doc_id < c.doc_id),
       |cand AS (SELECT
       |    CASE WHEN id_a % 3 >= id_b % 3 THEN id_a ELSE id_b END AS new_id,
       |    CASE WHEN id_a % 3 >= id_b % 3 THEN id_b ELSE id_a END AS dup_id,
       |    id_a % 3 != id_b % 3 AS dup_is_existing
       |  FROM cand0),
       |j AS (SELECT new_id, dup_id, dup_is_existing,
       |    round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
       |      / CAST(len(list_distinct(sa.sh || sb.sh)) AS DOUBLE), 4) AS jaccard
       |  FROM cand JOIN g sa ON sa.doc_id = cand.new_id
       |            JOIN g sb ON sb.doc_id = cand.dup_id)
       |SELECT new_id, dup_id, dup_is_existing, jaccard FROM j WHERE jaccard >= 0.2
       |ORDER BY new_id, dup_id""".stripMargin

  private lazy val q92OracleSql: String =
    s"""WITH $minhashCtes
       |SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.2
       |ORDER BY id_a, id_b""".stripMargin

  /** q94 oracle: corpus dedup end-to-end — the q92 pipeline at threshold
    * 0.8, transitive closure via WITH RECURSIVE (duplicate clusters are
    * tiny near-cliques, so the fixpoint is shallow), keep the minimum id
    * per component (isolated docs keep themselves).
    */
  private lazy val q94OracleSql: String =
    s"""WITH RECURSIVE $minhashCtes,
       |und AS (SELECT id_a AS a, id_b AS b FROM j WHERE jaccard >= 0.8
       |        UNION SELECT id_b, id_a FROM j WHERE jaccard >= 0.8),
       |reach(src, dst) AS (
       |  SELECT a, b FROM und
       |  UNION
       |  SELECT r.src, u.b FROM reach r JOIN und u ON r.dst = u.a),
       |losers AS (SELECT src AS id FROM reach GROUP BY src
       |           HAVING least(src, min(dst)) < src)
       |SELECT doc_id, n_chars FROM documents
       |WHERE doc_id NOT IN (SELECT id FROM losers)
       |ORDER BY doc_id""".stripMargin

  /** q209 oracle: the q94 keep-set aggregated to the impact summary. */
  private lazy val q209OracleSql: String =
    s"""WITH RECURSIVE $minhashCtes,
       |und AS (SELECT id_a AS a, id_b AS b FROM j WHERE jaccard >= 0.8
       |        UNION SELECT id_b, id_a FROM j WHERE jaccard >= 0.8),
       |reach(src, dst) AS (
       |  SELECT a, b FROM und
       |  UNION
       |  SELECT r.src, u.b FROM reach r JOIN und u ON r.dst = u.a),
       |losers AS (SELECT src AS id FROM reach GROUP BY src
       |           HAVING least(src, min(dst)) < src),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |          CAST(sum(n_chars) AS BIGINT) AS chars_total
       |        FROM documents),
       |k AS (SELECT CAST(count(*) AS BIGINT) AS n_kept,
       |        CAST(sum(n_chars) AS BIGINT) AS chars_kept
       |      FROM documents
       |      WHERE doc_id NOT IN (SELECT id FROM losers))
       |SELECT tot.n_docs, k.n_kept, tot.n_docs - k.n_kept AS n_dropped,
       |  tot.chars_total, k.chars_kept,
       |  k.n_kept * 1000000 // tot.n_docs AS docs_kept_ppm,
       |  k.chars_kept * 1000000 // tot.chars_total AS chars_kept_ppm
       |FROM tot, k""".stripMargin

  /** q230 oracle: the q94 closure re-labeled — every doc mapped to its
    * component minimum (singletons to themselves) — then the md5-bucket
    * split applied to the LABEL, so near-dup clusters provably land
    * whole on one side.
    */
  private lazy val q230OracleSql: String =
    s"""WITH RECURSIVE $minhashCtes,
       |und AS (SELECT id_a AS a, id_b AS b FROM j WHERE jaccard >= 0.8
       |        UNION SELECT id_b, id_a FROM j WHERE jaccard >= 0.8),
       |reach(src, dst) AS (
       |  SELECT a, b FROM und
       |  UNION
       |  SELECT r.src, u.b FROM reach r JOIN und u ON r.dst = u.a),
       |lbl AS (SELECT src AS id, least(src, min(dst)) AS label
       |        FROM reach GROUP BY src),
       |alld AS (SELECT doc_id, coalesce(l.label, doc_id) AS label
       |         FROM documents LEFT JOIN lbl l ON l.id = doc_id)
       |SELECT doc_id, label,
       |  CASE WHEN CAST(concat('0x', substr(md5(concat('s:', label)), 1, 8))
       |         AS BIGINT) % 10 < 9
       |       THEN 'train' ELSE 'val' END AS split
       |FROM alld ORDER BY doc_id""".stripMargin

  /** q272 oracle: the q230 closure labeling without the split column —
    * every doc mapped to its component minimum, singletons to themselves.
    */
  private lazy val q272OracleSql: String =
    s"""WITH RECURSIVE $minhashCtes,
       |und AS (SELECT id_a AS a, id_b AS b FROM j WHERE jaccard >= 0.8
       |        UNION SELECT id_b, id_a FROM j WHERE jaccard >= 0.8),
       |reach(src, dst) AS (
       |  SELECT a, b FROM und
       |  UNION
       |  SELECT r.src, u.b FROM reach r JOIN und u ON r.dst = u.a),
       |lbl AS (SELECT src AS id, least(src, min(dst)) AS label
       |        FROM reach GROUP BY src)
       |SELECT doc_id, coalesce(l.label, doc_id) AS label
       |FROM documents LEFT JOIN lbl l ON l.id = doc_id
       |ORDER BY doc_id""".stripMargin

  /** q284 oracle: the q272 closure labels restricted to nodes that appear
    * in at least one pair — exactly what the cluster store holds (docs
    * with no near-dup pair never enter it).
    */
  private lazy val q284OracleSql: String =
    s"""WITH RECURSIVE $minhashCtes,
       |und AS (SELECT id_a AS a, id_b AS b FROM j WHERE jaccard >= 0.8
       |        UNION SELECT id_b, id_a FROM j WHERE jaccard >= 0.8),
       |reach(src, dst) AS (
       |  SELECT a, b FROM und
       |  UNION
       |  SELECT r.src, u.b FROM reach r JOIN und u ON r.dst = u.a),
       |lbl AS (SELECT src AS id, least(src, min(dst)) AS label
       |        FROM reach GROUP BY src)
       |SELECT id, label FROM lbl ORDER BY id""".stripMargin

  /** q295 oracle: the q284 closure restricted to BASE documents
    * (doc_id % 3 != 0) on both candidate endpoints — exactly the pairs
    * `minhashPairs(base)` emits, because banding is per-document
    * deterministic and the hot-bucket cap (1000) binds in neither the
    * base-only nor the full run at this scale (the same slack q284's
    * union-equals-full argument already leans on). This is the state
    * the store committed at generation 1, which the time-travel read
    * must reproduce byte-exactly AFTER the day-1 increment merged.
    */
  private lazy val q295OracleSql: String =
    s"""WITH RECURSIVE $minhashPrefixCtes,
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
       |  FROM banded a
       |  JOIN ok ON ok.band = a.band AND ok.key = a.key
       |  JOIN banded c ON a.band = c.band AND a.key = c.key AND a.doc_id < c.doc_id
       |  WHERE a.doc_id % 3 <> 0 AND c.doc_id % 3 <> 0),
       |j AS (SELECT id_a, id_b,
       |    round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
       |      / CAST(len(list_distinct(sa.sh || sb.sh)) AS DOUBLE), 4) AS jaccard
       |  FROM cand JOIN g sa ON sa.doc_id = cand.id_a JOIN g sb ON sb.doc_id = cand.id_b),
       |und AS (SELECT id_a AS a, id_b AS b FROM j WHERE jaccard >= 0.8
       |        UNION SELECT id_b, id_a FROM j WHERE jaccard >= 0.8),
       |reach(src, dst) AS (
       |  SELECT a, b FROM und
       |  UNION
       |  SELECT r.src, u.b FROM reach r JOIN und u ON r.dst = u.a),
       |lbl AS (SELECT src AS id, least(src, min(dst)) AS label
       |        FROM reach GROUP BY src)
       |SELECT id, label FROM lbl ORDER BY id""".stripMargin

  /** q297 oracle: both closures side by side — the base-only labels
    * (q295's tail, generation 1) full-outer-joined to the full-corpus
    * labels (q284's tail, generation 2) — keeping exactly the rows whose
    * membership or label changed. The store never drops ids, so the
    * `removed` branch is provably empty here (the full pair set contains
    * the base pair set under the shared hot-bucket-cap slack), but the
    * CASE keeps the operator's full contract in the hash.
    */
  private lazy val q297OracleSql: String =
    s"""WITH RECURSIVE $minhashPrefixCtes,
       |candb AS (SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
       |  FROM banded a
       |  JOIN ok ON ok.band = a.band AND ok.key = a.key
       |  JOIN banded c ON a.band = c.band AND a.key = c.key AND a.doc_id < c.doc_id
       |  WHERE a.doc_id % 3 <> 0 AND c.doc_id % 3 <> 0),
       |jb AS (SELECT id_a, id_b,
       |    round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
       |      / CAST(len(list_distinct(sa.sh || sb.sh)) AS DOUBLE), 4) AS jaccard
       |  FROM candb JOIN g sa ON sa.doc_id = candb.id_a JOIN g sb ON sb.doc_id = candb.id_b),
       |undb AS (SELECT id_a AS a, id_b AS b FROM jb WHERE jaccard >= 0.8
       |         UNION SELECT id_b, id_a FROM jb WHERE jaccard >= 0.8),
       |reachb(src, dst) AS (
       |  SELECT a, b FROM undb
       |  UNION
       |  SELECT r.src, u.b FROM reachb r JOIN undb u ON r.dst = u.a),
       |blb AS (SELECT src AS id, least(src, min(dst)) AS label
       |        FROM reachb GROUP BY src),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
       |  FROM banded a
       |  JOIN ok ON ok.band = a.band AND ok.key = a.key
       |  JOIN banded c ON a.band = c.band AND a.key = c.key AND a.doc_id < c.doc_id),
       |j AS (SELECT id_a, id_b,
       |    round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
       |      / CAST(len(list_distinct(sa.sh || sb.sh)) AS DOUBLE), 4) AS jaccard
       |  FROM cand JOIN g sa ON sa.doc_id = cand.id_a JOIN g sb ON sb.doc_id = cand.id_b),
       |und AS (SELECT id_a AS a, id_b AS b FROM j WHERE jaccard >= 0.8
       |        UNION SELECT id_b, id_a FROM j WHERE jaccard >= 0.8),
       |reach(src, dst) AS (
       |  SELECT a, b FROM und
       |  UNION
       |  SELECT r.src, u.b FROM reach r JOIN und u ON r.dst = u.a),
       |flb AS (SELECT src AS id, least(src, min(dst)) AS label
       |        FROM reach GROUP BY src)
       |SELECT coalesce(b.id, f.id) AS id, b.label AS label_a,
       |  f.label AS label_b,
       |  CASE WHEN b.id IS NULL THEN 'added'
       |       WHEN f.id IS NULL THEN 'removed'
       |       ELSE 'moved' END AS change
       |FROM blb b FULL OUTER JOIN flb f ON b.id = f.id
       |WHERE b.id IS NULL OR f.id IS NULL OR b.label <> f.label
       |ORDER BY id""".stripMargin

  /** q288 oracle: the q284 closure at q115's threshold (0.2) — the
    * streaming cluster store's labels must equal a from-scratch closure
    * over every pair the arrival-order pipeline emits, and the union of
    * arrival-order pairs is exactly the full run's pair set (same band
    * collisions, same Jaccard gate; the q115 cap approximation).
    */
  private lazy val q288OracleSql: String =
    s"""WITH RECURSIVE $minhashCtes,
       |und AS (SELECT id_a AS a, id_b AS b FROM j WHERE jaccard >= 0.2
       |        UNION SELECT id_b, id_a FROM j WHERE jaccard >= 0.2),
       |reach(src, dst) AS (
       |  SELECT a, b FROM und
       |  UNION
       |  SELECT r.src, u.b FROM reach r JOIN und u ON r.dst = u.a),
       |lbl AS (SELECT src AS id, least(src, min(dst)) AS label
       |        FROM reach GROUP BY src)
       |SELECT id, label FROM lbl ORDER BY id""".stripMargin

  /** q53 oracle: replays hyperplane-LSH bucketing + cosine verification in
    * DuckDB. The planes (VectorFns.planeFor, seeds 0..3, dim 64 — exactly
    * what embeddingPairs(nBits = 4) uses) are emitted as double literals via
    * Double.toString, whose shortest-round-trip form parses back to the
    * identical double in any IEEE-754 strtod, so the projection signs match
    * bit-for-bit. Bucket equality is compared as the per-plane sign list.
    */
  /** Hyperplane sign bit as DuckDB SQL with the plane inlined as literals
    * (shortest-round-trip doubles parse back bit-identically). Shared by the
    * q53/q54 oracles.
    */
  private def planeBitSql(plane: Array[Double]): String = {
    val lits = plane.map(java.lang.Double.toString).mkString("[", ", ", "]")
    s"""CASE WHEN list_sum(list_transform(list_zip(embedding, $lits),
       |  x -> coalesce(CAST(x[1] AS DOUBLE) * x[2], 0.0))) >= 0 THEN 1 ELSE 0 END""".stripMargin
  }

  /** q54 oracle: multi-table hyperplane-LSH ANN. Table t uses planes
    * planeFor(t*nBits + b) — exactly lshTopK(nBits = 4, nTables = 4)'s
    * seedBase layout. Candidates are any-table bucket collisions; ranking
    * re-computes exact cosine (bit-identical fold), tie-broken on nid.
    */
  private lazy val q54OracleSql: String = {
    val tables = Array.tabulate(4)(t => Array.tabulate(4)(b =>
      planeBitSql(graft.functions.VectorFns.planeFor(t * 4 + b, 64))))
    val tableLists = tables.map(_.mkString("[", ",\n      ", "]")).mkString("[", ",\n     ", "]")
    s"""WITH bk AS (SELECT vec_id, embedding,
       |    $tableLists AS tb
       |  FROM embeddings),
       |bt AS (SELECT vec_id, embedding, t.t AS tbl, tb[t.t + 1] AS bkt
       |  FROM bk CROSS JOIN (SELECT unnest(range(4)) AS t) t),
       |cand AS (SELECT DISTINCT q.vec_id AS qid, c.vec_id AS nid
       |  FROM bt q JOIN bt c ON q.tbl = c.tbl AND q.bkt = c.bkt AND q.vec_id != c.vec_id
       |  WHERE q.vec_id < 5),
       |sims AS (SELECT cand.qid, cand.nid,
       |    list_sum(list_transform(list_zip(a.embedding, b.embedding),
       |        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
       |      / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       |       * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS sim
       |  FROM cand JOIN embeddings a ON a.vec_id = cand.qid
       |            JOIN embeddings b ON b.vec_id = cand.nid),
       |r AS (SELECT qid, nid, sim,
       |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn
       |  FROM sims)
       |SELECT qid, nid, round(sim, 4) AS sim, rn FROM r WHERE rn <= 5
       |ORDER BY qid, rn""".stripMargin
  }

  /** q57 oracle GENERATOR (runs at Verify time with a live session): the IVF
    * codebook is trained driver-side on the corpus being verified
    * (Similarity.lloyd, seed 42, bounded sample ordered by vec_id — exactly
    * what ivfTopK plans), so the SQL cannot be a static string. Both centroid
    * forms are inlined as shortest-round-trip double literals: the raw
    * doubles (cell ASSIGNMENT — NearestCell's math) and the float-widened
    * doubles (query PROBING, which joins ivfTopK's float-cast centroid
    * table). DuckDB then replays the assignment argmin (strict <, lower cell
    * on ties == ORDER BY dist, cell), the nProbe=4 probing, and the exact-
    * cosine re-rank (the q42/q54-proven bit-identical fold). round(...)+0.0
    * canonicalizes IEEE -0.0 (Spark's BigDecimal round never emits it).
    */
  /** q271 oracle GENERATOR: q57's IVF replay with the label predicate
    * applied to BOTH the codebook training sample and the corpus
    * assignment — the pre-filter contract: cells are trained and probed
    * over exactly the rows the predicate admits, so a hash match proves
    * the filtered index end-to-end (training, assignment, probing,
    * cosine ranking).
    */
  private def q271OracleGen(s: SparkSession, dir: String): String = {
    val sample = Tables(s, dir, "embeddings")
      .filter(col("label") === 3)
      .select(col("vec_id"), col("embedding")).orderBy(col("vec_id"))
      .limit(100000).collect()
      .map(_.getSeq[Number](1).map(_.doubleValue()).toArray)
    val cents = Similarity.lloyd(sample, 16, iters = 10, seed = 42)
    def vec(a: Array[Double]): String =
      a.map(java.lang.Double.toString).mkString("[", ", ", "]")
    val centsD = cents.zipWithIndex
      .map { case (v, i) => s"($i, ${vec(v)})" }.mkString(",\n    ")
    val centsF = cents.zipWithIndex
      .map { case (v, i) => s"($i, ${vec(v.map(_.toFloat.toDouble))})" }
      .mkString(",\n    ")
    def l2(e: String, c: String): String =
      s"""list_sum(list_transform(list_zip($e, $c),
         |          x -> (CAST(x[1] AS DOUBLE) - x[2]) * (CAST(x[1] AS DOUBLE) - x[2])))""".stripMargin
    s"""WITH centsd(cell, cvec) AS (VALUES
       |    $centsD),
       |centsf(cell, cvec) AS (VALUES
       |    $centsF),
       |a AS (SELECT e.vec_id AS nid, e.embedding AS ne, c.cell,
       |        row_number() OVER (PARTITION BY e.vec_id
       |          ORDER BY ${l2("e.embedding", "c.cvec")}, c.cell) AS arn
       |      FROM embeddings e CROSS JOIN centsd c
       |      WHERE e.label = 3),
       |asg AS (SELECT nid, ne, cell FROM a WHERE arn = 1),
       |p AS (SELECT q.vec_id AS qid, q.embedding AS qe, c.cell,
       |        row_number() OVER (PARTITION BY q.vec_id
       |          ORDER BY ${l2("q.embedding", "c.cvec")}, c.cell) AS crn
       |      FROM embeddings q CROSS JOIN centsf c
       |      WHERE q.vec_id < 5),
       |probed AS (SELECT qid, qe, cell FROM p WHERE crn <= 4),
       |sims AS (SELECT probed.qid, asg.nid,
       |    list_sum(list_transform(list_zip(probed.qe, asg.ne),
       |        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
       |      / (sqrt(list_sum(list_transform(probed.qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       |       * sqrt(list_sum(list_transform(asg.ne, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS sim
       |  FROM probed JOIN asg ON probed.cell = asg.cell AND asg.nid != probed.qid),
       |r AS (SELECT qid, nid, sim,
       |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn
       |  FROM sims)
       |SELECT qid, nid, round(sim, 4) + 0.0 AS sim, rn FROM r WHERE rn <= 5
       |ORDER BY qid, rn""".stripMargin
  }

  private def q57OracleGen(s: SparkSession, dir: String): String = {
    val sample = Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding")).orderBy(col("vec_id"))
      .limit(100000).collect()
      .map(_.getSeq[Number](1).map(_.doubleValue()).toArray)
    val cents = Similarity.lloyd(sample, 16, iters = 10, seed = 42)
    def vec(a: Array[Double]): String =
      a.map(java.lang.Double.toString).mkString("[", ", ", "]")
    val centsD = cents.zipWithIndex
      .map { case (v, i) => s"($i, ${vec(v)})" }.mkString(",\n    ")
    val centsF = cents.zipWithIndex
      .map { case (v, i) => s"($i, ${vec(v.map(_.toFloat.toDouble))})" }.mkString(",\n    ")
    def l2(e: String, c: String): String =
      s"""list_sum(list_transform(list_zip($e, $c),
         |          x -> (CAST(x[1] AS DOUBLE) - x[2]) * (CAST(x[1] AS DOUBLE) - x[2])))""".stripMargin
    s"""WITH centsd(cell, cvec) AS (VALUES
       |    $centsD),
       |centsf(cell, cvec) AS (VALUES
       |    $centsF),
       |a AS (SELECT e.vec_id AS nid, e.embedding AS ne, c.cell,
       |        row_number() OVER (PARTITION BY e.vec_id
       |          ORDER BY ${l2("e.embedding", "c.cvec")}, c.cell) AS arn
       |      FROM embeddings e CROSS JOIN centsd c),
       |asg AS (SELECT nid, ne, cell FROM a WHERE arn = 1),
       |p AS (SELECT q.vec_id AS qid, q.embedding AS qe, c.cell,
       |        row_number() OVER (PARTITION BY q.vec_id
       |          ORDER BY ${l2("q.embedding", "c.cvec")}, c.cell) AS crn
       |      FROM embeddings q CROSS JOIN centsf c
       |      WHERE q.vec_id < 5),
       |probed AS (SELECT qid, qe, cell FROM p WHERE crn <= 4),
       |sims AS (SELECT probed.qid, asg.nid,
       |    list_sum(list_transform(list_zip(probed.qe, asg.ne),
       |        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
       |      / (sqrt(list_sum(list_transform(probed.qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       |       * sqrt(list_sum(list_transform(asg.ne, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS sim
       |  FROM probed JOIN asg ON probed.cell = asg.cell AND asg.nid != probed.qid),
       |r AS (SELECT qid, nid, sim,
       |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn
       |  FROM sims)
       |SELECT qid, nid, round(sim, 4) + 0.0 AS sim, rn FROM r WHERE rn <= 5
       |ORDER BY qid, rn""".stripMargin
  }

  /** q96 oracle GENERATOR: product-quantization ADC ranking, replayed
    * end-to-end. The per-subspace codebooks (trainPq: Lloyd, seed 42+m,
    * trained on the verified corpus like q57's codebook) are inlined as one
    * (m, c, cvec) VALUES table of raw-double literals — both the Spark
    * encode pass (NearestCell on subspace slices) and the distance table
    * (PqDistTable) use the raw doubles, so ONE table serves both. DuckDB
    * replays: per-subspace argmin assignment (strict <, lower c on ties ==
    * ORDER BY d, c), then adist = the m-ordered sum of the query's subspace
    * distances to each candidate's assigned sub-centroids (list_sum over a
    * list(... ORDER BY m) — DuckDB's plain sum() has no deterministic order).
    */
  private def q96OracleGen(s: SparkSession, dir: String): String = {
    val sample = Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding")).orderBy(col("vec_id"))
      .limit(100000).collect()
      .map(_.getSeq[Number](1).map(_.doubleValue()).toArray)
    val cbs = Similarity.trainPq(sample, m = 8, kSub = 16)
    val sub = cbs(0)(0).length
    def vecLit(a: Array[Double]): String =
      a.map(java.lang.Double.toString).mkString("[", ", ", "]")
    val cbRows = (for (mi <- cbs.indices; c <- cbs(mi).indices)
      yield s"($mi, $c, ${vecLit(cbs(mi)(c))})").mkString(",\n    ")
    def l2sub(embExpr: String, mExpr: String): String =
      s"""list_sum(list_transform(list_zip($embExpr[$mExpr*$sub+1 : $mExpr*$sub+$sub], cb.cvec),
         |          x -> (CAST(x[1] AS DOUBLE) - x[2]) * (CAST(x[1] AS DOUBLE) - x[2])))""".stripMargin
    s"""WITH cb(m, c, cvec) AS (VALUES
       |    $cbRows),
       |a AS (SELECT e.vec_id AS nid, cb.m, cb.c,
       |        row_number() OVER (PARTITION BY e.vec_id, cb.m
       |          ORDER BY ${l2sub("e.embedding", "cb.m")}, cb.c) AS arn
       |      FROM embeddings e CROSS JOIN cb),
       |codes AS (SELECT nid, m, c FROM a WHERE arn = 1),
       |pd AS (SELECT q.vec_id AS qid, codes.nid, codes.m,
       |         ${l2sub("q.embedding", "codes.m")} AS d
       |       FROM embeddings q
       |       JOIN codes ON codes.nid != q.vec_id
       |       JOIN cb ON cb.m = codes.m AND cb.c = codes.c
       |       WHERE q.vec_id < 5),
       |ad AS (SELECT qid, nid, list_sum(list(d ORDER BY m)) AS adist
       |       FROM pd GROUP BY qid, nid),
       |r AS (SELECT qid, nid, adist,
       |        row_number() OVER (PARTITION BY qid ORDER BY adist, nid) AS rn
       |      FROM ad)
       |SELECT qid, nid, round(adist, 4) AS adist, rn FROM r WHERE rn <= 5
       |ORDER BY qid, rn""".stripMargin
  }

  /** q99 oracle GENERATOR: the composed IVF-PQ (FAISS IVFADC) pipeline,
    * replayed end-to-end in DuckDB. Two inlined constant tables — the coarse
    * centroids (lloyd, seed 42) and the residual-trained PQ codebooks
    * (trainPq over v - c(v), seed 42+m) — then the replay: coarse argmin
    * assignment (strict <, lower cell on ties), per-subspace residual code
    * argmin, nProbe probing, query-residual ADC distances, and the m-ordered
    * sum (list_sum over list(... ORDER BY m), q96's determinism convention).
    * Residuals are double-exact on both engines: CAST(float AS DOUBLE) is
    * exact widening and both sides subtract the same raw-double centroids.
    */
  /** The IVF-PQ replay CTEs (constants + assignment + codes + probing +
    * ADC ranking, through ranked `r`), shared by q99 (the ranked answers)
    * and q136 (recall@k against exact search). Memoized per data dir —
    * both generators run in one oracle dump and the 100k-sample collect +
    * lloyd + trainPq is the heaviest driver-side work in the pass;
    * training it twice on identical inputs/seeds would double it.
    */
  private val ivfPqCtesCache =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** `trainWhere`: optional SQL predicate restricting the TRAINING sample
    * (the q275 incremental case trains on the base corpus only); the
    * assignment/encode replay always runs over ALL embeddings — exactly
    * what build-on-base + append-increment produces with frozen
    * codebooks.
    */
  /** `serveExclude`: optional SQL predicate over `codes` dropped from the
    * serving candidates (the q276 tombstone case) — the replay's encode
    * still covers every vector; only the ANSWER path excludes, exactly
    * like the tombstone anti-join.
    */
  /** `srcView`: optional SOURCE transform — a SQL CTE body producing
    * `(vec_id, embedding)` plus the equivalent Spark transform, applied
    * identically to the training sample and the whole replay (the q290
    * drifted-increment fixture: both engines shift the same rows by the
    * same exact double ops, so the replay stays bit-identical).
    */
  private def ivfPqReplayCtes(s: SparkSession, dir: String,
                              trainWhere: Option[String] = None,
                              serveExclude: Option[String] = None,
                              srcView: Option[(String, DataFrame => DataFrame)] = None,
                              extraProbes: Seq[Int] = Seq.empty)
      : String =
    ivfPqCtesCache.getOrElseUpdate(
      s"$dir|t=${trainWhere.mkString}|x=${serveExclude.mkString}|" +
        s"s=${srcView.map(_._1).mkString}|p=${extraProbes.mkString(",")}",
      ivfPqReplayCtesUncached(s, dir, trainWhere, serveExclude, srcView,
        extraProbes))

  private def ivfPqReplayCtesUncached(s: SparkSession, dir: String,
                                      trainWhere: Option[String],
                                      serveExclude: Option[String],
                                      srcView: Option[(String, DataFrame => DataFrame)],
                                      extraProbes: Seq[Int])
      : String = {
    val src = srcView.fold(Tables(s, dir, "embeddings"))(v =>
      v._2(Tables(s, dir, "embeddings")))
    val sample = trainWhere.fold(src)(w => src.filter(w))
      .select(col("vec_id"), col("embedding")).orderBy(col("vec_id"))
      .limit(100000).collect()
      .map(_.getSeq[Number](1).map(_.doubleValue()).toArray)
    val cents = Similarity.lloyd(sample, 16, iters = 10, seed = 42)
    val cbs = Similarity.trainPq(Similarity.residualsOf(sample, cents), m = 8, kSub = 16)
    val sub = cbs(0)(0).length
    def vecLit(a: Array[Double]): String =
      a.map(java.lang.Double.toString).mkString("[", ", ", "]")
    val centsD = cents.zipWithIndex
      .map { case (v, i) => s"($i, ${vecLit(v)})" }.mkString(",\n    ")
    val cbRows = (for (mi <- cbs.indices; c <- cbs(mi).indices)
      yield s"($mi, $c, ${vecLit(cbs(mi)(c))})").mkString(",\n    ")
    def l2(e: String, c: String): String =
      s"""list_sum(list_transform(list_zip($e, $c),
         |          x -> (CAST(x[1] AS DOUBLE) - x[2]) * (CAST(x[1] AS DOUBLE) - x[2])))""".stripMargin
    def l2res(rv: String, mExpr: String): String =
      s"""list_sum(list_transform(list_zip($rv[$mExpr*$sub+1 : $mExpr*$sub+$sub], cb.cvec),
         |          x -> (x[1] - x[2]) * (x[1] - x[2])))""".stripMargin
    val srcTbl = srcView.fold("embeddings")(_ => "esrc")
    val srcCte = srcView.fold("")(v => s"esrc AS MATERIALIZED (${v._1}),\n")
    s"""${srcCte}cents(cell, cvec) AS (VALUES
       |    $centsD),
       |cb(m, c, cvec) AS (VALUES
       |    $cbRows),
       |a AS (SELECT e.vec_id AS nid, e.embedding AS ne, c.cell, c.cvec,
       |        row_number() OVER (PARTITION BY e.vec_id
       |          ORDER BY ${l2("e.embedding", "c.cvec")}, c.cell) AS arn
       |      FROM $srcTbl e CROSS JOIN cents c),
       |asg AS (SELECT nid, cell,
       |          list_transform(list_zip(ne, cvec), x -> CAST(x[1] AS DOUBLE) - x[2]) AS rvec
       |        FROM a WHERE arn = 1),
       |cd AS (SELECT asg.nid, asg.cell, cb.m, cb.c,
       |         row_number() OVER (PARTITION BY asg.nid, cb.m
       |           ORDER BY ${l2res("asg.rvec", "cb.m")}, cb.c) AS crn
       |       FROM asg CROSS JOIN cb),
       |codes AS (SELECT nid, cell, m, c FROM cd WHERE crn = 1),
       |p AS (SELECT q.vec_id AS qid, q.embedding AS qe, c.cell, c.cvec,
       |        row_number() OVER (PARTITION BY q.vec_id
       |          ORDER BY ${l2("q.embedding", "c.cvec")}, c.cell) AS prn
       |      FROM $srcTbl q CROSS JOIN cents c
       |      WHERE q.vec_id < 5),
       |${(Seq((4, "")) ++ extraProbes.filter(_ != 4).distinct.sorted
             .map(np => (np, s"_$np"))).map { case (np, sx) =>
           s"""probed$sx AS (SELECT qid, cell,
              |             list_transform(list_zip(qe, cvec), x -> CAST(x[1] AS DOUBLE) - x[2]) AS qr
              |           FROM p WHERE prn <= $np),
              |pd$sx AS (SELECT probed$sx.qid, codes.nid, codes.m,
              |         ${l2res(s"probed$sx.qr", "codes.m")} AS d
              |       FROM probed$sx JOIN codes ON codes.cell = probed$sx.cell AND codes.nid != probed$sx.qid
              |         AND (${serveExclude.fold("TRUE")(e => s"NOT ($e)")})
              |       JOIN cb ON cb.m = codes.m AND cb.c = codes.c),
              |ad$sx AS (SELECT qid, nid, list_sum(list(d ORDER BY m)) AS adist
              |       FROM pd$sx GROUP BY qid, nid),
              |r$sx AS (SELECT qid, nid, adist,
              |        row_number() OVER (PARTITION BY qid ORDER BY adist, nid) AS rn
              |      FROM ad$sx)""".stripMargin
         }.mkString(",\n")}""".stripMargin
  }

  private def q99OracleGen(s: SparkSession, dir: String): String =
    s"""WITH ${ivfPqReplayCtes(s, dir)}
       |SELECT qid, nid, round(adist, 4) AS adist, rn FROM r WHERE rn <= 5
       |ORDER BY qid, rn""".stripMargin

  /** q275 oracle GENERATOR: the q99 replay with the TRAINING sample
    * restricted to the base corpus (vec_id % 3 != 0) while the encode
    * replay covers all vectors — the frozen-codebook incremental-append
    * equivalence.
    */
  private def q275OracleGen(s: SparkSession, dir: String): String =
    s"""WITH ${ivfPqReplayCtes(s, dir, Some("vec_id % 3 != 0"))}
       |SELECT qid, nid, round(adist, 4) AS adist, rn FROM r WHERE rn <= 5
       |ORDER BY qid, rn""".stripMargin

  /** q276 oracle GENERATOR: the q275 replay with tombstoned vectors
    * (vec_id % 7 = 0) excluded from the SERVING candidates only — the
    * delete must not shift anything about the index's constants or the
    * surviving rows' codes.
    */
  private def q276OracleGen(s: SparkSession, dir: String): String =
    s"""WITH ${ivfPqReplayCtes(s, dir, Some("vec_id % 3 != 0"),
          serveExclude = Some("codes.nid % 7 = 0"))}
       |SELECT qid, nid, round(adist, 4) AS adist, rn FROM r WHERE rn <= 5
       |ORDER BY qid, rn""".stripMargin

  /** q305 oracle GENERATOR: the q99 full-corpus replay with the purged
    * vectors (vec_id % 5 = 0) excluded from the serving candidates —
    * a purge must not move the constants or any survivor's codes (the
    * q276 delete semantics; what the purge ADDS over a delete is the
    * bytes-gone guarantee, which PlanSpec sweeps files for).
    */
  private def q305OracleGen(s: SparkSession, dir: String): String =
    s"""WITH ${ivfPqReplayCtes(s, dir,
          serveExclude = Some("codes.nid % 5 = 0"))}
       |SELECT qid, nid, round(adist, 4) AS adist, rn FROM r WHERE rn <= 5
       |ORDER BY qid, rn""".stripMargin

  /** q281 oracle GENERATOR: the q99 FULL-corpus-trained replay — a
    * rebuild retrains on the live corpus with the monolithic build's
    * sample/seed discipline, so rebuild(build(base)+append(inc)) must
    * serve exactly what a from-scratch build on base ∪ inc serves.
    * (Memoized with q99's CTEs — one training pass covers both.)
    */
  private def q281OracleGen(s: SparkSession, dir: String): String =
    s"""WITH ${ivfPqReplayCtes(s, dir)}
       |SELECT qid, nid, round(adist, 4) AS adist, rn FROM r WHERE rn <= 5
       |ORDER BY qid, rn""".stripMargin

  /** q285 oracle GENERATOR: per-subspace quantization error against the
    * q275 base-trained constants — min over sub-centroids of the residual
    * slice's L2², floored to micro-units PER (nid, m) so the row sum and
    * both cohort aggregates are exact integers (min over doubles is
    * commutative, so the only float op is replayed bit-identically).
    * Reuses the memoized q275 replay CTEs (one training pass serves
    * q275/q276/q285).
    */
  private def q285OracleGen(s: SparkSession, dir: String): String = {
    val sub = 8
    def l2res(rv: String, mExpr: String): String =
      s"""list_sum(list_transform(list_zip($rv[$mExpr*$sub+1 : $mExpr*$sub+$sub], cb.cvec),
         |          x -> (x[1] - x[2]) * (x[1] - x[2])))""".stripMargin
    s"""WITH ${ivfPqReplayCtes(s, dir, Some("vec_id % 3 != 0"))},
       |errm AS (SELECT asg.nid, cb.m,
       |    CAST(floor(min(${l2res("asg.rvec", "cb.m")}) * 1000000) AS BIGINT) AS e
       |  FROM asg CROSS JOIN cb GROUP BY 1, 2),
       |errrow AS (SELECT nid, CAST(sum(e) AS BIGINT) AS err_micro
       |           FROM errm GROUP BY 1)
       |SELECT CASE WHEN nid % 3 = 0 THEN 'increment' ELSE 'base' END AS cohort,
       |  CAST(count(*) AS BIGINT) AS n_vecs,
       |  CAST(sum(err_micro) AS BIGINT) AS err_micro_total,
       |  CAST(sum(err_micro) AS BIGINT) // CAST(count(*) AS BIGINT)
       |    AS err_micro_avg
       |FROM errrow GROUP BY 1 ORDER BY cohort""".stripMargin
  }

  /** The q290 DRIFTED source: increment rows (vec_id % 3 = 0) walk away
    * from the training distribution by the exact double map 3x + 2 (the
    * VectorFnsSpec fixture pattern); base rows widen float→double
    * unchanged. Both engines apply the identical IEEE ops in the
    * identical order, so the whole replay stays bit-exact.
    */
  private val q290Src: (String, DataFrame => DataFrame) = (
    """SELECT vec_id,
      |    CASE WHEN vec_id % 3 = 0
      |      THEN list_transform(embedding, x -> CAST(x AS DOUBLE) * 3 + 2)
      |      ELSE list_transform(embedding, x -> CAST(x AS DOUBLE)) END
      |      AS embedding
      |  FROM embeddings""".stripMargin,
    df => df.select(col("vec_id"),
      when(col("vec_id") % 3 === 0,
        transform(col("embedding").cast("array<double>"),
          x => x * lit(3.0) + lit(2.0)))
        .otherwise(col("embedding").cast("array<double>"))
        .as("embedding"),
      col("label")))

  /** The Spark half of [[q290Src]], shared by the query body. */
  private def q290SparkSrc(df: DataFrame): DataFrame = q290Src._2(df)

  /** q290 oracle GENERATOR: the q99 replay over the DRIFTED source,
    * trained on the FULL drifted corpus — exactly what a fired
    * drift-triggered rebuild must serve. The pre-rebuild index (trained
    * on the unshifted base only) cannot satisfy this hash, so a policy
    * that silently skips the retrain fails the row.
    */
  private def q290OracleGen(s: SparkSession, dir: String): String =
    s"""WITH ${ivfPqReplayCtes(s, dir, srcView = Some(q290Src))}
       |SELECT qid, nid, round(adist, 4) AS adist, rn FROM r WHERE rn <= 5
       |ORDER BY qid, rn""".stripMargin

  /** q136 oracle GENERATOR: recall@5 of the IVF-PQ replay against exact
    * L2 top-5 — set intersection of two deterministically-ranked id sets,
    * an exact integer per query.
    */
  private def q136OracleGen(s: SparkSession, dir: String): String = {
    val l2e =
      """list_sum(list_transform(list_zip(q.embedding, e.embedding),
        |           x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
        |              * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))))""".stripMargin
    s"""WITH ${ivfPqReplayCtes(s, dir)},
       |approx AS (SELECT qid, nid FROM r WHERE rn <= 5),
       |ex AS (SELECT q.vec_id AS qid, e.vec_id AS nid,
       |         row_number() OVER (PARTITION BY q.vec_id
       |           ORDER BY $l2e, e.vec_id) AS ern
       |       FROM embeddings q CROSS JOIN embeddings e
       |       WHERE q.vec_id < 5 AND e.vec_id != q.vec_id),
       |exact AS (SELECT qid, nid FROM ex WHERE ern <= 5),
       |hits AS (SELECT exact.qid, CAST(count(approx.nid) AS BIGINT) AS n_hit
       |         FROM exact LEFT JOIN approx
       |           ON approx.qid = exact.qid AND approx.nid = exact.nid
       |         GROUP BY exact.qid)
       |SELECT qid, n_hit, CAST(5 AS BIGINT) AS k FROM hits ORDER BY qid""".stripMargin
  }

  /** q307 oracle GENERATOR: the q136 recall replay at EVERY candidate
    * nProbe (per-probe serving chains from the shared prefix), each
    * scored against the same exact top-5, with `chosen` on the smallest
    * candidate reaching 80% recall (800000 ppm) — or the highest-recall,
    * ties to the smaller probe count, when none passes. Integer-exact
    * recall via floored division on both engines.
    */
  private def q307OracleGen(s: SparkSession, dir: String): String = {
    val l2e =
      """list_sum(list_transform(list_zip(q.embedding, e.embedding),
        |           x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
        |              * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))))""".stripMargin
    val cands = Seq(1, 2, 4, 8)
    val recCtes = cands.map { np =>
      val r = if (np == 4) "r" else s"r_$np"
      s"""rec_$np AS (SELECT CAST($np AS BIGINT) AS n_probe,
         |    CAST(count(approx.nid) AS BIGINT) AS n_hit
         |  FROM exact LEFT JOIN (SELECT qid, nid FROM $r WHERE rn <= 5) approx
         |    ON approx.qid = exact.qid AND approx.nid = exact.nid)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${ivfPqReplayCtes(s, dir, extraProbes = cands.filter(_ != 4))},
       |ex AS (SELECT q.vec_id AS qid, e.vec_id AS nid,
       |         row_number() OVER (PARTITION BY q.vec_id
       |           ORDER BY $l2e, e.vec_id) AS ern
       |       FROM embeddings q CROSS JOIN embeddings e
       |       WHERE q.vec_id < 5 AND e.vec_id != q.vec_id),
       |exact AS (SELECT qid, nid FROM ex WHERE ern <= 5),
       |nex AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM exact),
       |$recCtes,
       |u AS (${cands.map(np =>
             s"SELECT n_probe, n_hit FROM rec_$np").mkString("\n  UNION ALL\n  ")}),
       |scored AS (SELECT u.n_probe, u.n_hit, nex.n_exact,
       |    1000000 * u.n_hit // nex.n_exact AS recall_ppm
       |  FROM u CROSS JOIN nex),
       |pick AS (SELECT coalesce(
       |    (SELECT min(n_probe) FROM scored WHERE recall_ppm >= 800000),
       |    (SELECT n_probe FROM scored
       |     ORDER BY recall_ppm DESC, n_probe ASC LIMIT 1)) AS c)
       |SELECT scored.n_probe, scored.n_hit, scored.n_exact,
       |  CAST(scored.recall_ppm AS BIGINT) AS recall_ppm,
       |  scored.n_probe = pick.c AS chosen
       |FROM scored CROSS JOIN pick ORDER BY n_probe""".stripMargin
  }

  /** q139 oracle GENERATOR: recall@5 of the REFINED IVF-PQ serving path —
    * ADC shortlists k·refine candidates (the shared replay CTEs through
    * `r`), exact L2 re-ranks the shortlist, and the kept top-5 intersects
    * the exact top-5 exactly as in q136. Same probes, same cells: the
    * only difference vs q136 is the refine stage, so the recall delta IS
    * the refine stage's contribution.
    */
  private def q139OracleGen(s: SparkSession, dir: String): String = {
    val l2e =
      """list_sum(list_transform(list_zip(q.embedding, e.embedding),
        |           x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
        |              * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))))""".stripMargin
    val l2s =
      """list_sum(list_transform(list_zip(q.embedding, e.embedding),
        |             x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
        |                * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))))""".stripMargin
    s"""WITH ${ivfPqReplayCtes(s, dir)},
       |sl AS (SELECT qid, nid FROM r WHERE rn <= 20),
       |rr AS (SELECT sl.qid, sl.nid,
       |         row_number() OVER (PARTITION BY sl.qid
       |           ORDER BY $l2s, sl.nid) AS rrn
       |       FROM sl JOIN embeddings q ON q.vec_id = sl.qid
       |         JOIN embeddings e ON e.vec_id = sl.nid),
       |approx AS (SELECT qid, nid FROM rr WHERE rrn <= 5),
       |ex AS (SELECT q.vec_id AS qid, e.vec_id AS nid,
       |         row_number() OVER (PARTITION BY q.vec_id
       |           ORDER BY $l2e, e.vec_id) AS ern
       |       FROM embeddings q CROSS JOIN embeddings e
       |       WHERE q.vec_id < 5 AND e.vec_id != q.vec_id),
       |exact AS (SELECT qid, nid FROM ex WHERE ern <= 5),
       |hits AS (SELECT exact.qid, CAST(count(approx.nid) AS BIGINT) AS n_hit
       |         FROM exact LEFT JOIN approx
       |           ON approx.qid = exact.qid AND approx.nid = exact.nid
       |         GROUP BY exact.qid)
       |SELECT qid, n_hit, CAST(5 AS BIGINT) AS k FROM hits ORDER BY qid""".stripMargin
  }

  private lazy val q53OracleSql: String = {
    val bitExprs = Array.tabulate(4)(b =>
      planeBitSql(graft.functions.VectorFns.planeFor(b, 64)))
    s"""WITH b AS (SELECT vec_id, embedding,
       |    [${bitExprs.mkString(",\n     ")}] AS bits
       |  FROM embeddings),
       |p AS (SELECT a.vec_id AS id_a, c.vec_id AS id_b,
       |    round(list_sum(list_transform(list_zip(a.embedding, c.embedding),
       |        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
       |      / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       |       * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) AS cosine
       |  FROM b a JOIN b c ON a.bits = c.bits AND a.vec_id < c.vec_id)
       |SELECT id_a, id_b, cosine FROM p WHERE cosine >= 0.35 ORDER BY id_a, id_b""".stripMargin
  }

  /** q278 oracle: the q53 hyperplane replay split bipartite (corpus
    * vec_id % 5 != 0 vs benchmark % 5 = 0), aggregated to the per-corpus-
    * vector keep decision.
    */
  private lazy val q278OracleSql: String = {
    val bitExprs = Array.tabulate(4)(b =>
      planeBitSql(graft.functions.VectorFns.planeFor(b, 64)))
    s"""WITH b AS (SELECT vec_id, embedding,
       |    [${bitExprs.mkString(",\n     ")}] AS bits
       |  FROM embeddings),
       |p AS (SELECT a.vec_id AS id_l, c.vec_id AS id_r
       |  FROM b a JOIN b c ON a.bits = c.bits
       |    AND a.vec_id % 5 <> 0 AND c.vec_id % 5 = 0
       |  WHERE round(list_sum(list_transform(list_zip(a.embedding, c.embedding),
       |        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
       |      / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       |       * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) >= 0.35),
       |h AS (SELECT id_l AS vec_id, CAST(count(*) AS BIGINT) AS n_hits
       |      FROM p GROUP BY 1)
       |SELECT e.vec_id, COALESCE(h.n_hits, 0) AS n_hits,
       |  h.vec_id IS NULL AS keep
       |FROM embeddings e LEFT JOIN h USING (vec_id)
       |WHERE e.vec_id % 5 <> 0
       |ORDER BY e.vec_id""".stripMargin
  }

  def all: Seq[Q] = Seq(

    // ---- SEMANTIC decontamination (Dedup.crossCorpusEmbeddingMatches):
    // the embedding-level benchmark-leakage check — corpus vectors
    // (vec_id % 5 != 0) vs a benchmark corpus (% 5 = 0), bucket-blocked
    // under the shared hyperplanes, exact-cosine verified; a corpus doc
    // with ANY benchmark match at cosine >= 0.35 is dropped. Catches the
    // paraphrased leak q101's n-gram probe structurally misses. Oracle =
    // the q53 plane replay split bipartite + the keep aggregation. ----
    Q("q278_semantic_decontamination",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val corpus = emb.filter(col("vec_id") % 5 =!= 0)
        val bench = emb.filter(col("vec_id") % 5 === 0)
        val hits = Dedup.crossCorpusEmbeddingMatches(
            corpus, "vec_id", bench, "vec_id", "embedding",
            threshold = 0.35, nBits = 4)
          .groupBy(col("id_l").as("vec_id")).agg(count(lit(1)).as("n_hits"))
        corpus.select(col("vec_id"))
          .join(hits, Seq("vec_id"), "left")
          .select(col("vec_id"),
            coalesce(col("n_hits"), lit(0L)).as("n_hits"),
            col("n_hits").isNull.as("keep"))
          .orderBy(col("vec_id"))
      },
      Some(q278OracleSql)),

    // ---- MinHash+LSH near-dup candidate pairs, Jaccard-verified. ----
    Q("q50_minhash_pairs",
      (s, dir) => {
        Dedup.minhashPairs(t(s, dir, "documents"), "doc_id", "text",
            numHashes = 32, bands = 8, shingleK = 3, threshold = 0.2)
          .orderBy(col("id_a"), col("id_b"))
      },
      None),

    // ---- SimHash signatures. The oracle-facing form uses the md5-derived
    // 60-bit token hash so DuckDB can replay the per-bit vote + reassembly
    // exactly (integer shifts/sums are portable; xxhash64 is not). The
    // production default (xxhash64/64-bit) runs the identical vote logic —
    // pinned by SimHash specs — so this hash-proves the algorithm. ----
    Q("q51_simhash_pairs",
      (s, dir) => {
        Dedup.simhash(t(s, dir, "documents"), "doc_id", "text",
            Dedup.portableTokHash _, bits = 60)
          .select(col("doc_id"), col("simhash"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS t
             |             FROM documents WHERE length(trim(text)) > 0),
             |h AS (SELECT doc_id,
             |        CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT) AS hv FROM tok),
             |v AS (SELECT doc_id, i,
             |        sum(CASE WHEN (hv >> i) & 1 = 1 THEN 1 ELSE -1 END) AS vote
             |      FROM h CROSS JOIN (SELECT unnest(range(60)) AS i) bits
             |      GROUP BY doc_id, i)
             |SELECT doc_id,
             |  CAST(sum(CASE WHEN vote > 0 THEN (1::BIGINT << CAST(i AS INT)) ELSE 0 END) AS BIGINT) AS simhash
             |FROM v GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ---- Exact pairwise token-set Jaccard on a capped block (the
    // verification kernel of MinHash, oracle-checkable via set algebra). ----
    Q("q52_jaccard_exact",
      (s, dir) => {
        val d = t(s, dir, "documents")
          .filter(col("doc_id") < 60)
          .select(col("doc_id"), array_distinct(TextFns.tokens(col("text"))).as("toks"))
        val jac = size(array_intersect(col("a.toks"), col("b.toks"))).cast("double") /
          size(array_union(col("a.toks"), col("b.toks"))).cast("double")
        d.as("a").join(d.as("b"), col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
            round(jac, 4).as("jac"))
          .filter(col("jac") >= 0.2)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("""WITH d AS (SELECT doc_id,
             |        list_distinct(string_split_regex(trim(text), '\s+')) AS toks
             |      FROM documents WHERE doc_id < 60)
             |SELECT id_a, id_b, jac FROM (
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |    round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
             |      / CAST(len(list_distinct(a.toks || b.toks)) AS DOUBLE), 4) AS jac
             |  FROM d a JOIN d b ON a.doc_id < b.doc_id)
             |WHERE jac >= 0.2
             |ORDER BY id_a, id_b""".stripMargin)),

    // ---- Exact set-similarity self-join WITHOUT the q52 block cap
    // (operators/SetJoin): AllPairs prefix filtering over 3-word
    // shingles at Jaccard >= 1/2 — only each set's rarest
    // |d| - ceil(|d|/2) + 1 shingles are indexed, an equi-join on those
    // prefix keys finds every qualifying pair (pigeonhole), and the
    // verify is pure integer arithmetic (tDen·|∩| >= tNum·|∪|). The
    // oracle is an INDEPENDENT brute-force threshold join over all
    // pairs, so a hash match proves the no-false-negatives theorem
    // held end-to-end. Finds exactly the 25 planted near-dup pairs. ----
    Q("q155_setsim_join",
      (s, dir) => {
        val sets = t(s, dir, "documents").select(col("doc_id"),
          TextFns.wordShingles(TextFns.tokens(col("text")), 3).as("sh"))
        graft.operators.SetJoin.allPairs(sets, "doc_id", "sh", 1, 2)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("""WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
             |           FROM documents WHERE length(trim(text)) > 0),
             |s AS MATERIALIZED (SELECT doc_id,
             |        list_distinct(list_transform(range(1, len(toks) - 1),
             |          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
             |      FROM t WHERE len(toks) >= 3),
             |u AS MATERIALIZED (SELECT doc_id, unnest(sh) AS g FROM s),
             |sz AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n FROM s),
             |-- exact |intersection| by equi-join on shingles (a pair with
             |-- J >= 1/2 must share one, so no qualifying pair is missed);
             |-- |union| by inclusion-exclusion — unlike a list_intersect
             |-- over all O(n^2) doc pairs, this is hash-joinable
             |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |        CAST(count(*) AS BIGINT) AS isect
             |      FROM u a JOIN u b ON a.g = b.g AND a.doc_id < b.doc_id
             |      GROUP BY 1, 2)
             |SELECT id_a, id_b, isect, sa.n + sb.n - isect AS uni
             |FROM p JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
             |WHERE 2 * isect >= sa.n + sb.n - isect
             |ORDER BY id_a, id_b""".stripMargin)),

    // ---- Leakage-safe train/val split (Dedup.leakageSafeSplit): the
    // dedup-aware holdout — a plain per-doc split leaks through
    // near-duplicates (a training doc's 0.9-Jaccard twin in eval
    // inflates every metric); here the md5-bucket split is applied to
    // each doc's transitive near-dup CLUSTER label, so twins can never
    // straddle. Oracle = the q94 closure re-labeled + the bucket rule
    // on the label. ----
    Q("q230_leakage_safe_split",
      (s, dir) => {
        Dedup.leakageSafeSplit(t(s, dir, "documents"), "doc_id", "text",
            threshold = 0.8, portableHash = true)
          .select(col("doc_id"), col("label"), col("split"))
          .orderBy(col("doc_id"))
      },
      Some(q230OracleSql)),

    // ---- Bipartite (R–S) set-similarity join (SetJoin.bipartite): the
    // set-level decontamination query — corpus docs (doc_id % 5 != 0) vs
    // a reference corpus (doc_id % 5 = 0) at Jaccard >= 1/4 over 3-word
    // shingles. One COMMON rarest-first order from the union df, prefix
    // filtering on both sides, cross-presence prefix drop, and the same
    // fused integer verify kernel as q155. The oracle is the independent
    // exact threshold join (equi-join on shingles, inclusion-exclusion
    // union), so a hash match proves no-false-negatives across corpora. ----
    Q("q218_setsim_bipartite",
      (s, dir) => {
        val docs = t(s, dir, "documents").select(col("doc_id"),
          TextFns.wordShingles(TextFns.tokens(col("text")), 3).as("sh"))
        val corpus = docs.filter(col("doc_id") % 5 =!= 0)
        val ref = docs.filter(col("doc_id") % 5 === 0)
        graft.operators.SetJoin
          .bipartite(corpus, "doc_id", ref, "doc_id", "sh", 1, 4)
          .orderBy(col("id_l"), col("id_r"))
      },
      Some("""WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
             |           FROM documents WHERE length(trim(text)) > 0),
             |s AS MATERIALIZED (SELECT doc_id,
             |        list_distinct(list_transform(range(1, len(toks) - 1),
             |          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
             |      FROM t WHERE len(toks) >= 3),
             |u AS MATERIALIZED (SELECT doc_id, unnest(sh) AS g FROM s),
             |sz AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n FROM s),
             |p AS (SELECT a.doc_id AS id_l, b.doc_id AS id_r,
             |        CAST(count(*) AS BIGINT) AS isect
             |      FROM u a JOIN u b ON a.g = b.g
             |        AND a.doc_id % 5 <> 0 AND b.doc_id % 5 = 0
             |      GROUP BY 1, 2)
             |SELECT id_l, id_r, isect, sa.n + sb.n - isect AS uni
             |FROM p JOIN sz sa ON sa.doc_id = id_l
             |  JOIN sz sb ON sb.doc_id = id_r
             |WHERE 4 * isect >= sa.n + sb.n - isect
             |ORDER BY id_l, id_r""".stripMargin)),

    // ---- Asymmetric CONTAINMENT bipartite join
    // (SetJoin.bipartiteContainment): the decontamination predicate
    // proper — |corpus ∩ ref| / |corpus| >= 1/2 over 3-word shingles,
    // same two-corpus fixture as q218. Jaccard under-fires when the
    // reference doc is much larger; containment catches a corpus doc
    // mostly inside ANY reference doc regardless of the reference's
    // size. Prefix cut on the contained side only (the containing side
    // has no prefix bound), cross-presence drop on both. Oracle: the
    // independent exact containment join — so a hash match proves
    // no-false-negatives for the asymmetric mode too. ----
    Q("q273_setsim_containment",
      (s, dir) => {
        val docs = t(s, dir, "documents").select(col("doc_id"),
          TextFns.wordShingles(TextFns.tokens(col("text")), 3).as("sh"))
        val corpus = docs.filter(col("doc_id") % 5 =!= 0)
        val ref = docs.filter(col("doc_id") % 5 === 0)
        graft.operators.SetJoin
          .bipartiteContainment(corpus, "doc_id", ref, "doc_id", "sh", 1, 2)
          .orderBy(col("id_l"), col("id_r"))
      },
      Some("""WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
             |           FROM documents WHERE length(trim(text)) > 0),
             |s AS MATERIALIZED (SELECT doc_id,
             |        list_distinct(list_transform(range(1, len(toks) - 1),
             |          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
             |      FROM t WHERE len(toks) >= 3),
             |u AS MATERIALIZED (SELECT doc_id, unnest(sh) AS g FROM s),
             |sz AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n FROM s),
             |p AS (SELECT a.doc_id AS id_l, b.doc_id AS id_r,
             |        CAST(count(*) AS BIGINT) AS isect
             |      FROM u a JOIN u b ON a.g = b.g
             |        AND a.doc_id % 5 <> 0 AND b.doc_id % 5 = 0
             |      GROUP BY 1, 2)
             |SELECT id_l, id_r, isect, sa.n AS len_l
             |FROM p JOIN sz sa ON sa.doc_id = id_l
             |WHERE 2 * isect >= sa.n
             |ORDER BY id_l, id_r""".stripMargin)),

    // ---- End-to-end corpus dedup: LSH pairs -> transitive clusters ->
    // one representative per cluster (what a training pipeline actually
    // runs; q50 exposes the pairs, this exposes the surviving corpus). ----
    Q("q56_dedup_corpus",
      (s, dir) => {
        Dedup.dedupCorpus(t(s, dir, "documents"), "doc_id", "text", threshold = 0.8)
          .select(col("doc_id"), col("n_chars"))
          .orderBy(col("doc_id"))
      },
      None),

    // ---- Embedding near-duplicates (hyperplane-LSH blocked cosine). The
    // synthetic embeddings are near-uniform (max pairwise cosine ~0.46), so
    // the "near-dup" threshold is set below that to exercise the operator.
    // Oracle: the hyperplanes are deterministic driver-side arrays, so they
    // are INLINED into the generated SQL as double literals — DuckDB then
    // reproduces the exact bucket partition (per-plane projection sign) and
    // the exact cosine (q42-proven bit-identical fold). ----
    Q("q53_embedding_dupes",
      (s, dir) => {
        Dedup.embeddingPairs(t(s, dir, "embeddings"), "vec_id", "embedding",
            threshold = 0.35, nBits = 4)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(q53OracleSql)),

    // ---- The FULL MinHash-LSH near-dup pipeline, hash-proven end-to-end:
    // shingling -> 60-bit md5 shingle hashes -> 32-slot universal-hash
    // signatures (constants inlined into the oracle SQL) -> 8-way banding
    // (md5 band keys) -> hot-bucket cap -> candidate pairs -> exact Jaccard
    // verification. q50 runs the identical pipeline with the faster
    // xxhash64 hashing (rows-only + parity specs); this row proves the
    // algorithm byte-for-byte against DuckDB. ----
    Q("q92_minhash_portable",
      (s, dir) => {
        Dedup.minhashPairs(t(s, dir, "documents"), "doc_id", "text",
            numHashes = 32, bands = 8, shingleK = 3, threshold = 0.2,
            portableHash = true)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(q92OracleSql)),

    // ---- Incremental near-dup: flag new docs (doc_id % 3 == 0 plays the
    // daily increment) against the existing corpus without re-pairing the
    // existing corpus against itself — the production dedup mode. ----
    Q("q112_incremental_dedup",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Dedup.incrementalMinhashPairs(
            docs.filter(col("doc_id") % 3 === 0),
            docs.filter(col("doc_id") % 3 =!= 0),
            "doc_id", "text", numHashes = 32, bands = 8, shingleK = 3,
            threshold = 0.2, portableHash = true)
          .orderBy(col("new_id"), col("dup_id"))
      },
      Some(q112OracleSql)),

    // ---- STREAMING incremental dedup: documents arrive as three
    // microbatches (batch r = doc_id % 3 == r); each batch pairs against
    // the persisted store of everything before it via foreachBatch +
    // incrementalMinhashPairs, with per-batch idempotent pair shards and
    // an anti-join store merge (exactly-once under replay — see
    // StreamingSpec). The oracle replays the arrival-order semantics in
    // closed form; the driver-side collect feeds the MemoryStream test
    // harness (500 rows), not the operator. ----
    Q("q115_stream_incremental_dedup",
      (s, dir) => {
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        import s.implicits._
        val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
        val tmp = java.nio.file.Files.createTempDirectory("graft_q115_").toString
        val input = MemoryStream[(Long, String)]
        val q = graft.streaming.StreamingDedup.sink(
          input.toDF().toDF("doc_id", "text"), "doc_id", "text",
          s"$tmp/store", s"$tmp/pairs", s"$tmp/ckpt",
          threshold = 0.2, portableHash = true)
        try {
          for (r <- 0 to 2) {
            input.addData(docs.filter(col("doc_id") % 3 === r)
              .as[(Long, String)].collect().toSeq)
            q.processAllAvailable()
          }
        } finally q.stop()
        graft.streaming.StreamingDedup.pairs(s, s"$tmp/pairs")
          .orderBy(col("new_id"), col("dup_id"))
      },
      Some(q115OracleSql)),

    // ---- COMPLIANCE PURGE of the dedup working stores (StreamingDedup
    // .purgeDocs): the q115 pipeline's stores, then every doc_id ≡ 0
    // (mod 17) erased — text/shingles/signature rows from the id-bucketed
    // docs table (pruned rewrite), band rows from the key-bucketed index
    // (one read-only scan finds the touched key-buckets — the rows are
    // findable only by id), and every pairs-shard row naming a subject
    // (shards rewritten in place, _SUCCESS re-minted so the exactly-once
    // replay guard survives). The purge also writes the ids to the
    // SUPPRESSION LIST, because this store's merge treats absent ids as
    // new — without it a replayed committed batch would re-ingest the
    // subject from its own payload (StreamingSpec pins both the
    // resurrection block and upstream re-send suppression). Oracle: the
    // q115 arrival-order pairs minus every pair naming a subject. ----
    Q("q309_dedup_store_purge",
      (s, dir) => {
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        import s.implicits._
        val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
        val tmp = java.nio.file.Files.createTempDirectory("graft_q309_").toString
        val input = MemoryStream[(Long, String)]
        val q = graft.streaming.StreamingDedup.sink(
          input.toDF().toDF("doc_id", "text"), "doc_id", "text",
          s"$tmp/store", s"$tmp/pairs", s"$tmp/ckpt",
          threshold = 0.2, portableHash = true)
        try {
          for (r <- 0 to 2) {
            input.addData(docs.filter(col("doc_id") % 3 === r)
              .as[(Long, String)].collect().toSeq)
            q.processAllAvailable()
          }
        } finally q.stop()
        graft.streaming.StreamingDedup.purgeDocs(
          docs.filter(col("doc_id") % 17 === 0).select(col("doc_id")),
          s"$tmp/store", idCol = "doc_id", pairsPath = Some(s"$tmp/pairs"))
        graft.streaming.StreamingDedup.pairs(s, s"$tmp/pairs")
          .orderBy(col("new_id"), col("dup_id"))
      },
      Some(
        s"""WITH $minhashPrefixCtes,
           |cand0 AS (SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
           |  FROM banded a
           |  JOIN ok ON ok.band = a.band AND ok.key = a.key
           |  JOIN banded c ON a.band = c.band AND a.key = c.key AND a.doc_id < c.doc_id),
           |cand AS (SELECT
           |    CASE WHEN id_a % 3 >= id_b % 3 THEN id_a ELSE id_b END AS new_id,
           |    CASE WHEN id_a % 3 >= id_b % 3 THEN id_b ELSE id_a END AS dup_id,
           |    id_a % 3 != id_b % 3 AS dup_is_existing
           |  FROM cand0),
           |j AS (SELECT new_id, dup_id, dup_is_existing,
           |    round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
           |      / CAST(len(list_distinct(sa.sh || sb.sh)) AS DOUBLE), 4) AS jaccard
           |  FROM cand JOIN g sa ON sa.doc_id = cand.new_id
           |            JOIN g sb ON sb.doc_id = cand.dup_id)
           |SELECT new_id, dup_id, dup_is_existing, jaccard FROM j
           |WHERE jaccard >= 0.2 AND new_id % 17 <> 0 AND dup_id % 17 <> 0
           |ORDER BY new_id, dup_id""".stripMargin)),

    // ---- Corpus dedup, hash-proven END-TO-END: the portable q92 pipeline
    // at threshold 0.8 plus transitive clustering — the oracle computes the
    // components with a recursive CTE and keeps the same min-id
    // representative per cluster. q56 is the xxhash fast path of exactly
    // this operator. ----
    Q("q94_dedup_corpus_portable",
      (s, dir) => {
        Dedup.dedupCorpus(t(s, dir, "documents"), "doc_id", "text",
            threshold = 0.8, portableHash = true)
          .select(col("doc_id"), col("n_chars"))
          .orderBy(col("doc_id"))
      },
      Some(q94OracleSql)),

    // ---- Distributed connected components, hash-proven: the SAME q94
    // pair graph, but with smallGraphThreshold = 0 so the label-
    // propagation + pointer-jumping regime — the path a 100 TB pair
    // graph actually takes — computes the closure instead of the driver
    // union-find. Every doc is labeled with its component minimum
    // (singletons keep themselves); the oracle is the q230 recursive-CTE
    // closure without the split column. Both regimes now have a
    // hash-verified CORRECTNESS row over the identical fixture, proving
    // they agree end-to-end, not just on DedupSpec's toy graphs. ----
    Q("q272_cc_distributed",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val pairs = Dedup.minhashPairs(docs, "doc_id", "text",
          threshold = 0.8, portableHash = true)
        val comps = Dedup.connectedComponents(pairs, smallGraphThreshold = 0L)
        docs.join(comps.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("label"), col("doc_id")).as("label"))
          .orderBy(col("doc_id"))
      },
      Some(q272OracleSql)),

    // ---- INCREMENTAL cluster-store maintenance (Dedup.buildClusterStore +
    // mergeIntoClusterStore): the q94 component labels persisted as a
    // label-bucket-partitioned table, then the day's pairs (the q112
    // incremental generator at the same threshold) merged in via the
    // bounded QUOTIENT graph — only buckets holding merged labels are
    // rewritten (PlanSpec pins untouched buckets byte-identical). The
    // oracle is the full-recompute closure over base ∪ increment pairs
    // (== the q272 closure, since base + incremental generation covers
    // exactly the full run's pairs below the hot-bucket cap), so the
    // hash proves incremental maintenance == recompute-from-scratch. ----
    Q("q284_cluster_store_incremental",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val base = docs.filter(col("doc_id") % 3 =!= 0)
        val newDocs = docs.filter(col("doc_id") % 3 === 0)
        val root = java.nio.file.Files
          .createTempDirectory("graft_q284_").toString
        val tmp = root + "/labels"
        withSignedStore(s, Dedup.signedSide(base, "doc_id", "text",
            portableHash = true), root + "/sigs") { sb =>
          Dedup.buildClusterStore(
            Dedup.pairsFromSigned(sb, threshold = 0.8), tmp)
          Dedup.mergeIntoClusterStore(
            Dedup.incrementalPairsSigned(
              Dedup.signedSide(newDocs, "doc_id", "text",
                portableHash = true),
              sb, threshold = 0.8, maxBucket = 1000)
              .select(col("new_id").as("id_a"), col("dup_id").as("id_b")),
            tmp)
        }
        Dedup.readClusterStore(s, tmp).orderBy(col("id"))
      },
      Some(q284OracleSql)),

    // ---- TIME-TRAVEL read of the cluster store (Dedup
    // .readClusterStoreAsOf): the q284 lifecycle — build on the base
    // corpus (generation 1), merge the day-1 increment (generation 2) —
    // then read the store AS OF generation 1 through its archived
    // manifest: the pre-increment labels must come back byte-exact even
    // though the live store has since merged components. Every mutation
    // archives the manifest it replaces into manifests/<gen>, data
    // generation dirs are immutable, so the historical read is a
    // manifest-pointer resolution with zero data copies (the
    // Iceberg/Delta snapshot-read shape); retention is
    // vacuumClusterStore(keepGens), PlanSpec-pinned. ----
    Q("q295_cluster_store_time_travel",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val base = docs.filter(col("doc_id") % 3 =!= 0)
        val newDocs = docs.filter(col("doc_id") % 3 === 0)
        val root = java.nio.file.Files
          .createTempDirectory("graft_q295_").toString
        val tmp = root + "/labels"
        withSignedStore(s, Dedup.signedSide(base, "doc_id", "text",
            portableHash = true), root + "/sigs") { sb =>
          Dedup.buildClusterStore(
            Dedup.pairsFromSigned(sb, threshold = 0.8), tmp)
          Dedup.mergeIntoClusterStore(
            Dedup.incrementalPairsSigned(
              Dedup.signedSide(newDocs, "doc_id", "text",
                portableHash = true),
              sb, threshold = 0.8, maxBucket = 1000)
              .select(col("new_id").as("id_a"), col("dup_id").as("id_b")),
            tmp)
        }
        Dedup.readClusterStoreAsOf(s, tmp, 1L).orderBy(col("id"))
      },
      Some(q295OracleSql)),

    // ---- MANIFEST-PRUNED generation diff (Dedup.diffClusterStore): the
    // q295 lifecycle's two snapshots audited against each other — which
    // ids the day-1 merge added and which components it moved — reading
    // ONLY the buckets whose manifest entries differ between the two
    // generations (immutable generation dirs make entry-equal buckets
    // provably byte-identical, and bucket = pmod(label, n) routes every
    // changed row through an entry-differing bucket, so the pruning is
    // complete). The oracle computes both closures from scratch and
    // full-outer-diffs them — the hash proves the pruned two-manifest
    // read equals the full recompute diff. ----
    Q("q297_cluster_store_diff",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val base = docs.filter(col("doc_id") % 3 =!= 0)
        val newDocs = docs.filter(col("doc_id") % 3 === 0)
        val root = java.nio.file.Files
          .createTempDirectory("graft_q297_").toString
        val tmp = root + "/labels"
        withSignedStore(s, Dedup.signedSide(base, "doc_id", "text",
            portableHash = true), root + "/sigs") { sb =>
          Dedup.buildClusterStore(
            Dedup.pairsFromSigned(sb, threshold = 0.8), tmp)
          Dedup.mergeIntoClusterStore(
            Dedup.incrementalPairsSigned(
              Dedup.signedSide(newDocs, "doc_id", "text",
                portableHash = true),
              sb, threshold = 0.8, maxBucket = 1000)
              .select(col("new_id").as("id_a"), col("dup_id").as("id_b")),
            tmp)
        }
        Dedup.diffClusterStore(s, tmp, 1L, 2L).orderBy(col("id"))
      },
      Some(q297OracleSql)),

    // ---- Pointer-only ROLLBACK of the cluster store (Dedup
    // .rollbackClusterStore): the q284 lifecycle with an undo in the
    // middle — build base (gen 1), merge the day-1 pairs (gen 2),
    // ROLLBACK to 1 (gen 3: a first-class mutation, zero data copies),
    // merge the same pairs again (gen 4). The oracle is q284's full
    // closure: the hash proves the re-merge reconverges exactly —
    // component labels are associative minima, so replaying the day
    // against the reverted state lands on the identical answer a
    // never-rolled-back store holds. ----
    Q("q302_cluster_store_rollback",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val base = docs.filter(col("doc_id") % 3 =!= 0)
        val newDocs = docs.filter(col("doc_id") % 3 === 0)
        val root = java.nio.file.Files
          .createTempDirectory("graft_q302_").toString
        val tmp = root + "/labels"
        val dayPairs = withSignedStore(s, Dedup.signedSide(base, "doc_id",
            "text", portableHash = true), root + "/sigs") { sb =>
          val pairs = Dedup.incrementalPairsSigned(
              Dedup.signedSide(newDocs, "doc_id", "text",
                portableHash = true),
              sb, threshold = 0.8, maxBucket = 1000)
            .select(col("new_id").as("id_a"), col("dup_id").as("id_b"))
            .localCheckpoint(true)
          Dedup.buildClusterStore(
            Dedup.pairsFromSigned(sb, threshold = 0.8), tmp)    // gen 1
          pairs
        }
        try {
          Dedup.mergeIntoClusterStore(dayPairs, tmp)            // gen 2
          Dedup.rollbackClusterStore(s, tmp, 1L)                // gen 3
          Dedup.mergeIntoClusterStore(dayPairs, tmp)            // gen 4
        } finally GenStore.freeLocal(dayPairs)
        Dedup.readClusterStore(s, tmp).orderBy(col("id"))
      },
      Some(q284OracleSql)),

    // ---- COMPLIANCE PURGE of the cluster store (Dedup
    // .purgeClusterStoreIds): the q284 full closure persisted, then every
    // doc_id ≡ 0 (mod 5) erased. The closure subtlety the oracle proves:
    // a component's label is its minimum member id, so erasing that
    // member RELABELS the component to its surviving minimum (otherwise
    // every other row would keep carrying the erased subject's id as its
    // label); survivors keep membership (the store is a closure
    // accumulator — erasing a document does not un-observe its
    // duplicates' mutual similarity), a component purged to one member
    // stays a singleton. Oracle: the q284 closure, minus purged ids,
    // windowed to the surviving minimum per old component. PlanSpec pins
    // the bytes-gone sweep over every file, history truncation, and the
    // bucket surgery. ----
    Q("q304_cluster_store_purge",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_q304_").toString + "/labels"
        Dedup.buildClusterStore(
          Dedup.minhashPairs(docs, "doc_id", "text",
            threshold = 0.8, portableHash = true), tmp)
        Dedup.purgeClusterStoreIds(
          docs.filter(col("doc_id") % 5 === 0)
            .select(col("doc_id").as("id")), tmp)
        Dedup.readClusterStore(s, tmp).orderBy(col("id"))
      },
      Some(s"""WITH RECURSIVE $minhashCtes,
         |und AS (SELECT id_a AS a, id_b AS b FROM j WHERE jaccard >= 0.8
         |        UNION SELECT id_b, id_a FROM j WHERE jaccard >= 0.8),
         |reach(src, dst) AS (
         |  SELECT a, b FROM und
         |  UNION
         |  SELECT r.src, u.b FROM reach r JOIN und u ON r.dst = u.a),
         |lbl AS (SELECT src AS id, least(src, min(dst)) AS label
         |        FROM reach GROUP BY src),
         |surv AS (SELECT id, label FROM lbl WHERE id % 5 <> 0),
         |rel AS (SELECT id, min(id) OVER (PARTITION BY label) AS label
         |        FROM surv)
         |SELECT id, label FROM rel ORDER BY id""".stripMargin)),

    // ---- STREAMING cluster-store maintenance
    // (StreamingDedup.clusteredSink): q115's arrival-order pipeline with
    // each batch folding its OWN pairs shard into the persisted component
    // labels via the q284 quotient-graph merge — exactly-once by algebra
    // (a replayed shard's endpoints already share components -> empty
    // quotient -> zero writes). The final labels equal a from-scratch
    // closure over the full pair set, which the oracle computes with the
    // q284 recursive CTE at q115's threshold. ----
    Q("q288_stream_cluster_store",
      (s, dir) => {
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        import s.implicits._
        val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
        val tmp = java.nio.file.Files.createTempDirectory("graft_q288_").toString
        val input = MemoryStream[(Long, String)]
        val q = graft.streaming.StreamingDedup.clusteredSink(
          input.toDF().toDF("doc_id", "text"), "doc_id", "text",
          s"$tmp/store", s"$tmp/pairs", s"$tmp/clusters", s"$tmp/ckpt",
          threshold = 0.2, portableHash = true)
        try {
          for (r <- 0 to 2) {
            input.addData(docs.filter(col("doc_id") % 3 === r)
              .as[(Long, String)].collect().toSeq)
            q.processAllAvailable()
          }
        } finally q.stop()
        Dedup.readClusterStore(s, s"$tmp/clusters").orderBy(col("id"))
      },
      Some(q288OracleSql)),

    // ---- Dedup impact report: what the q94 corpus dedup actually BUYS —
    // docs and characters kept/dropped, in counts and ppm, one summary
    // row. The decision artifact a curation run ships with its output
    // (is the near-dup pass worth its cost at this threshold?); the
    // oracle replays the full q94 keep-set and aggregates it. ----
    Q("q209_dedup_impact",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val kept = Dedup.dedupCorpus(docs, "doc_id", "text",
            threshold = 0.8, portableHash = true)
          .select(col("doc_id"), col("n_chars"))
        val tot = docs.agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("chars_total"))
        val k = kept.agg(count(lit(1)).as("n_kept"),
          sum(col("n_chars")).as("chars_kept"))
        tot.crossJoin(k)
          .select(col("n_docs"), col("n_kept"),
            (col("n_docs") - col("n_kept")).as("n_dropped"),
            col("chars_total"), col("chars_kept"),
            expr("n_kept * 1000000 DIV n_docs").as("docs_kept_ppm"),
            expr("chars_kept * 1000000 DIV chars_total")
              .as("chars_kept_ppm"))
      },
      Some(q209OracleSql)),

    // ---- ANN: LSH-bucketed approximate top-k (scale path of q41). The
    // oracle replays all 4 hash tables' bucketings (16 inlined hyperplanes),
    // the any-table candidate union, and the exact-cosine re-rank. ----
    Q("q54_knn_lsh",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val q = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        val c = emb.select(col("vec_id").as("nid"), col("embedding").as("ne"))
        Similarity.lshTopK(q, c, k = 5, nBits = 4, nTables = 4)
          .select(col("qid"), col("nid"), round(col("sim"), 4).as("sim"), col("rn"))
          .orderBy(col("qid"), col("rn"))
      },
      Some(q54OracleSql)),

    // ---- ANN scale path #2: IVF (KMeans cells + nProbe probing). ----
    Q("q57_knn_ivf",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val q = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        val c = emb.select(col("vec_id").as("nid"), col("embedding").as("ne"))
        Similarity.ivfTopK(q, c, k = 5, nCells = 16, nProbe = 4)
          .select(col("qid"), col("nid"), round(col("sim"), 4).as("sim"), col("rn"))
          .orderBy(col("qid"), col("rn"))
      },
      None,
      oracleGen = Some(q57OracleGen _)),

    // ---- FILTERED vector search (the vector-DB pre-filter shape): the
    // q57 IVF pipeline over only the rows a metadata predicate admits
    // (label = 3) — codebook trained, cells assigned, and probes scored
    // entirely within the filtered slice, so recall never collapses the
    // way post-filtering a global top-k does when the filter is
    // selective. Same generated-oracle discipline as q57 with the
    // predicate applied to both the training sample and the corpus. ----
    Q("q271_knn_filtered",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val q = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        val c = emb.filter(col("label") === 3)
          .select(col("vec_id").as("nid"), col("embedding").as("ne"))
        Similarity.ivfTopK(q, c, k = 5, nCells = 16, nProbe = 4)
          .select(col("qid"), col("nid"), round(col("sim"), 4).as("sim"),
            col("rn"))
          .orderBy(col("qid"), col("rn"))
      },
      None,
      oracleGen = Some(q271OracleGen _)),

    // ---- ANN scale path #3: product quantization (ADC). The corpus
    // compresses to 8 sub-centroid codes per vector; queries rank by the
    // asymmetric distance out of a per-query distance table. The oracle
    // replays assignment + the m-ordered ADC sum with the trained codebooks
    // inlined (generated at Verify time — they depend on the corpus). ----
    Q("q96_pq_ann",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val q = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        val c = emb.select(col("vec_id").as("nid"), col("embedding").as("ne"))
        Similarity.pqTopK(q, c, k = 5, m = 8, kSub = 16)
          .select(col("qid"), col("nid"), round(col("adist"), 4).as("adist"), col("rn"))
          .orderBy(col("qid"), col("rn"))
      },
      None,
      oracleGen = Some(q96OracleGen _)),

    // ---- ANN scale path #4: IVF-PQ composed (FAISS IVFADC) — probe nProbe
    // coarse cells, ADC-rank residual codes inside them. The oracle replays
    // the full composition with both trained codebooks inlined. ----
    Q("q99_ivfpq_ann",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val q = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        val c = emb.select(col("vec_id").as("nid"), col("embedding").as("ne"))
        Similarity.ivfPqTopK(q, c, k = 5, nCells = 16, nProbe = 4, m = 8, kSub = 16)
          .select(col("qid"), col("nid"), round(col("adist"), 4).as("adist"), col("rn"))
          .orderBy(col("qid"), col("rn"))
      },
      None,
      oracleGen = Some(q99OracleGen _)),

    // ---- INCREMENTAL IVF-PQ maintenance (Similarity.appendToIvfPqIndex):
    // the index is built on the base corpus (vec_id % 3 != 0), the
    // "daily increment" (vec_id % 3 = 0) is encoded against the FROZEN
    // codebooks and appended to only the cell partitions it lands in —
    // no retrain, no re-encode of the base — then served. The oracle
    // trains on the base sample and replays assignment/encode over ALL
    // vectors, which is exactly the frozen-codebook equivalence the
    // append claims: build(base) + append(inc) == monolithic encode of
    // base ∪ inc with base-trained constants. ----
    Q("q275_ivfpq_incremental",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val base = emb.filter(col("vec_id") % 3 =!= 0)
          .select(col("vec_id").as("nid"), col("embedding").as("ne"))
        val inc = emb.filter(col("vec_id") % 3 === 0)
          .select(col("vec_id").as("nid"), col("embedding").as("ne"))
        val q = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_ivfpq_inc_").toString
        Similarity.buildIvfPqIndex(base, tmp)
        Similarity.appendToIvfPqIndex(inc, tmp)
        Similarity.serveIvfPq(s, tmp, q, k = 5, nProbe = 4)
          .select(col("qid"), col("nid"), round(col("adist"), 4).as("adist"),
            col("rn"))
          .orderBy(col("qid"), col("rn"))
      },
      None,
      oracleGen = Some(q275OracleGen _)),

    // ---- IVF-PQ DELETE lifecycle (tombstone + compact + serve): the
    // q275 index with vec_id % 7 = 0 logically deleted, then physically
    // compacted (only cells containing dead rows are rewritten; emptied
    // cells' partitions dropped), then served. The oracle is the q275
    // replay with tombstoned ids excluded from the serving candidates
    // ONLY — a delete must not move the constants or any survivor's
    // codes. Serving equivalence before/after compaction is spec-pinned
    // in PlanSpec. ----
    Q("q276_ivfpq_delete",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val base = emb.filter(col("vec_id") % 3 =!= 0)
          .select(col("vec_id").as("nid"), col("embedding").as("ne"))
        val inc = emb.filter(col("vec_id") % 3 === 0)
          .select(col("vec_id").as("nid"), col("embedding").as("ne"))
        val q = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_ivfpq_del_").toString
        Similarity.buildIvfPqIndex(base, tmp)
        Similarity.appendToIvfPqIndex(inc, tmp)
        Similarity.tombstoneIvfPq(
          emb.filter(col("vec_id") % 7 === 0).select(col("vec_id").as("nid")),
          tmp)
        Similarity.compactIvfPqIndex(s, tmp)
        Similarity.serveIvfPq(s, tmp, q, k = 5, nProbe = 4)
          .select(col("qid"), col("nid"), round(col("adist"), 4).as("adist"),
            col("rn"))
          .orderBy(col("qid"), col("rn"))
      },
      None,
      oracleGen = Some(q276OracleGen _)),

    // ---- RECALL-TARGETED nProbe tuning (Similarity.tuneIvfPqNProbe):
    // the serving-quality sibling of the q290 drift policy — one audit
    // row per candidate nProbe with exact-integer recall@5 against
    // brute-force search, `chosen` on the smallest candidate reaching
    // 80% recall (recall is monotone in nProbe — probing more cells only
    // adds candidates — so the smallest passing value is the cheapest
    // compliant serving config), or the highest-recall candidate when
    // none passes. The oracle replays the ENTIRE serve at every
    // candidate probe count from the shared training prefix and picks
    // with the same floored-ppm rule — the hash proves recall
    // measurement, ranking, and choice end to end. ----
    Q("q307_ivfpq_tune",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val corpus = emb
          .select(col("vec_id").as("nid"), col("embedding").as("ne"))
        val q = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_ivfpq_tune_").toString
        Similarity.buildIvfPqIndex(corpus, tmp)
        Similarity.tuneIvfPqNProbe(s, tmp, q, corpus, k = 5,
            targetPpm = 800000L, candidates = Seq(1, 2, 4, 8))
          .orderBy(col("n_probe"))
      },
      None,
      oracleGen = Some(q307OracleGen _)),

    // ---- COMPLIANCE PURGE of the IVF-PQ index (Similarity
    // .purgeIvfPqIds): a full-corpus index with an append in its history
    // (so appends/ directories and catalog archives exist to be
    // scrubbed), then every vec_id ≡ 0 (mod 5) purged — delete made
    // physical by the lifecycle's own verbs, superseded versions erased
    // wholesale, catalog history and the archived tombstone logs
    // truncated (the tombstone rows themselves carry the purged ids),
    // and every cell= subdirectory the sole remaining catalog does not
    // reference surgically deleted. Serving equivalence is the q276
    // delete oracle on the full corpus; the bytes-gone sweep is
    // PlanSpec's. ----
    Q("q305_ivfpq_purge",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val base = emb.filter(col("vec_id") % 3 =!= 0)
          .select(col("vec_id").as("nid"), col("embedding").as("ne"))
        val inc = emb.filter(col("vec_id") % 3 === 0)
          .select(col("vec_id").as("nid"), col("embedding").as("ne"))
        val q = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_ivfpq_purge_").toString
        // FULL-corpus constants (train on everything), increment appended
        // so the purge has append directories and history to scrub
        Similarity.buildIvfPqIndex(base.unionByName(inc), tmp)
        Similarity.tombstoneIvfPq(
          base.unionByName(inc).filter(col("nid") % 3 === 0)
            .select(col("nid")), tmp)
        Similarity.compactIvfPqIndex(s, tmp)
        Similarity.appendToIvfPqIndex(inc, tmp, appendId = "re-add")
        Similarity.purgeIvfPqIds(
          emb.filter(col("vec_id") % 5 === 0).select(col("vec_id").as("nid")),
          tmp)
        Similarity.serveIvfPq(s, tmp, q, k = 5, nProbe = 4)
          .select(col("qid"), col("nid"), round(col("adist"), 4).as("adist"),
            col("rn"))
          .orderBy(col("qid"), col("rn"))
      },
      None,
      oracleGen = Some(q305OracleGen _)),

    // ---- TIME-TRAVEL serve of the IVF-PQ index (serveIvfPq asOfGen):
    // the q276 lifecycle run to the end — build (gen 1), append (gen 2),
    // tombstone (gen 3: a delete is a mutation, so it bumps), compact
    // (gen 4, deletes PHYSICAL) — then served AS OF generation 2 through
    // the archived catalog and the tombhist fences: the deleted vectors,
    // physically gone from the live index, must serve again bit-exactly
    // (their pre-compaction directories stay on disk until
    // vacuumIvfPqData retires the generation), and appends/deletes after
    // the snapshot are invisible. The oracle is q275's — the full
    // pre-delete index — which the LIVE serve (q276) provably no longer
    // satisfies. Retention + per-generation replay pinned in PlanSpec. ----
    Q("q296_ivfpq_time_travel",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val base = emb.filter(col("vec_id") % 3 =!= 0)
          .select(col("vec_id").as("nid"), col("embedding").as("ne"))
        val inc = emb.filter(col("vec_id") % 3 === 0)
          .select(col("vec_id").as("nid"), col("embedding").as("ne"))
        val q = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_ivfpq_tt_").toString
        Similarity.buildIvfPqIndex(base, tmp)
        Similarity.appendToIvfPqIndex(inc, tmp)
        Similarity.tombstoneIvfPq(
          emb.filter(col("vec_id") % 7 === 0).select(col("vec_id").as("nid")),
          tmp)
        Similarity.compactIvfPqIndex(s, tmp)
        Similarity.serveIvfPq(s, tmp, q, k = 5, nProbe = 4, asOfGen = Some(2L))
          .select(col("qid"), col("nid"), round(col("adist"), 4).as("adist"),
            col("rn"))
          .orderBy(col("qid"), col("rn"))
      },
      None,
      oracleGen = Some(q275OracleGen _)),

    // ---- IVF-PQ REBUILD lifecycle (Similarity.rebuildIvfPqIndex): the
    // q275 index (base build + frozen-codebook append) has drifted
    // constants — its codebooks saw only the base corpus. The rebuild
    // retrains on the LIVE corpus, encodes into a fresh version
    // directory, and atomically swaps the CURRENT manifest; the old
    // version keeps serving until the swap (PlanSpec-pinned). Served
    // answers must now equal a monolithic build on the full corpus —
    // the oracle is the full-corpus-trained q99 replay, which the
    // pre-rebuild q275 index does NOT satisfy (different training set),
    // so a rebuild that silently kept the old constants fails the hash. ----
    Q("q281_ivfpq_rebuild",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val base = emb.filter(col("vec_id") % 3 =!= 0)
          .select(col("vec_id").as("nid"), col("embedding").as("ne"))
        val inc = emb.filter(col("vec_id") % 3 === 0)
          .select(col("vec_id").as("nid"), col("embedding").as("ne"))
        val full = emb.select(col("vec_id").as("nid"), col("embedding").as("ne"))
        val q = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_ivfpq_rebuild_").toString
        Similarity.buildIvfPqIndex(base, tmp)
        Similarity.appendToIvfPqIndex(inc, tmp)
        Similarity.rebuildIvfPqIndex(full, tmp)
        Similarity.serveIvfPq(s, tmp, q, k = 5, nProbe = 4)
          .select(col("qid"), col("nid"), round(col("adist"), 4).as("adist"),
            col("rn"))
          .orderBy(col("qid"), col("rn"))
      },
      None,
      oracleGen = Some(q281OracleGen _)),

    // ---- IVF-PQ DRIFT statistics (Similarity.ivfPqDriftStats): the q281
    // rebuild's trigger made measurable — per-cohort quantization error
    // (residual slice to nearest frozen sub-centroid, floored micro-units
    // per subspace so every aggregate is exact-integer) against the q275
    // base-trained index. err_micro_avg(increment) >> err_micro_avg(base)
    // is the "retrain now" signal; here the increment is an i.i.d. slice
    // of the same synthetic distribution, so the two cohorts score within
    // a few percent — the no-drift baseline the alarm calibrates against. ----
    Q("q285_ivfpq_drift",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val base = emb.filter(col("vec_id") % 3 =!= 0)
          .select(col("vec_id").as("nid"), col("embedding").as("ne"))
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_ivfpq_drift_").toString
        Similarity.buildIvfPqIndex(base, tmp)
        val all = emb.select(
          when(col("vec_id") % 3 === 0, lit("increment"))
            .otherwise(lit("base")).as("cohort"),
          col("vec_id").as("nid"), col("embedding").as("ne"))
        Similarity.ivfPqDriftStats(all, tmp, "cohort")
          .orderBy(col("cohort"))
      },
      None,
      oracleGen = Some(q285OracleGen _)),

    // ---- DRIFT-TRIGGERED rebuild policy (Similarity.rebuildIfDrifted):
    // the closed maintenance loop — q285's drift statistics decide, q281's
    // atomic versioned rebuild executes. The fixture PLANTS real drift:
    // the increment's vectors are shifted by the exact double map 3x + 2,
    // so its quantization error against the base-trained constants dwarfs
    // the base cohort's, the ratio clears the 2x default threshold, and
    // the policy fires. Served answers must then equal a monolithic build
    // on the full DRIFTED corpus (the generated oracle trains on exactly
    // that), which the pre-rebuild base-trained index cannot satisfy — a
    // policy that silently skips the retrain fails the hash. The skip leg
    // (i.i.d. increment -> no fire, index untouched) is PlanSpec-pinned. ----
    Q("q290_ivfpq_rebuild_policy",
      (s, dir) => {
        val emb = q290SparkSrc(t(s, dir, "embeddings"))
        val base = emb.filter(col("vec_id") % 3 =!= 0)
          .select(col("vec_id").as("nid"), col("embedding").as("ne"))
        val inc = emb.filter(col("vec_id") % 3 === 0)
          .select(col("vec_id").as("nid"), col("embedding").as("ne"))
        val q = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_ivfpq_policy_").toString
        Similarity.buildIvfPqIndex(base, tmp)
        Similarity.appendToIvfPqIndex(inc, tmp)
        val live = base.withColumn("cohort", lit("base"))
          .unionByName(inc.withColumn("cohort", lit("increment")))
        Similarity.rebuildIfDrifted(live, tmp, "cohort")
        Similarity.serveIvfPq(s, tmp, q, k = 5, nProbe = 4)
          .select(col("qid"), col("nid"), round(col("adist"), 4).as("adist"),
            col("rn"))
          .orderBy(col("qid"), col("rn"))
      },
      None,
      oracleGen = Some(q290OracleGen _)),

    // ---- APPEND REPLAY idempotence (the crash-retry leg of q275): the
    // same increment lands TWICE under one stable appendId — the second
    // call must be an exactly-once no-op (the increment-identity
    // directory is already in the codes catalog), so the index state and
    // the served ranking equal the once-appended q275 exactly. Without
    // the catalog discipline a replay double-writes every code row and
    // the duplicated id occupies two top-k slots. ----
    Q("q291_ivfpq_append_replay",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val base = emb.filter(col("vec_id") % 3 =!= 0)
          .select(col("vec_id").as("nid"), col("embedding").as("ne"))
        val inc = emb.filter(col("vec_id") % 3 === 0)
          .select(col("vec_id").as("nid"), col("embedding").as("ne"))
        val q = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_ivfpq_replay_").toString
        Similarity.buildIvfPqIndex(base, tmp)
        Similarity.appendToIvfPqIndex(inc, tmp, appendId = "day1")
        Similarity.appendToIvfPqIndex(inc, tmp, appendId = "day1") // replay
        Similarity.serveIvfPq(s, tmp, q, k = 5, nProbe = 4)
          .select(col("qid"), col("nid"), round(col("adist"), 4).as("adist"),
            col("rn"))
          .orderBy(col("qid"), col("rn"))
      },
      None,
      oracleGen = Some(q275OracleGen _)),

    // ---- VERSION RETENTION GC (Similarity.vacuumIvfPqVersions): two
    // rebuilds accumulate v1 + v2, vacuum(keep = 1) reclaims v1, and
    // serving through the CURRENT manifest is provably unaffected — the
    // oracle is the same full-corpus-trained replay as q281. Deleted-dir
    // and no-op-revacuum pins live in PlanSpec. ----
    Q("q292_ivfpq_vacuum",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val base = emb.filter(col("vec_id") % 3 =!= 0)
          .select(col("vec_id").as("nid"), col("embedding").as("ne"))
        val inc = emb.filter(col("vec_id") % 3 === 0)
          .select(col("vec_id").as("nid"), col("embedding").as("ne"))
        val full = emb.select(col("vec_id").as("nid"), col("embedding").as("ne"))
        val q = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_ivfpq_vacuum_").toString
        Similarity.buildIvfPqIndex(base, tmp)
        Similarity.appendToIvfPqIndex(inc, tmp)
        Similarity.rebuildIvfPqIndex(full, tmp)
        Similarity.rebuildIvfPqIndex(full, tmp)
        Similarity.vacuumIvfPqVersions(s, tmp, keep = 1)
        Similarity.serveIvfPq(s, tmp, q, k = 5, nProbe = 4)
          .select(col("qid"), col("nid"), round(col("adist"), 4).as("adist"),
            col("rn"))
          .orderBy(col("qid"), col("rn"))
      },
      None,
      oracleGen = Some(q281OracleGen _)),

    // ---- STREAMING ANN-index maintenance (StreamingIndex
    // .indexAppendSink): the q275 increment fed as a STREAM — three
    // microbatches of vectors append to the base-trained index via
    // foreachBatch, each under its batch-id-keyed appendId, then one
    // batch is REPLAYED after its commit (the restart-after-crash
    // interleaving) and the applied-append ledger makes it a detected
    // no-op. Served result must equal q275's batch-append oracle
    // exactly: same frozen constants, every streamed vector present
    // ONCE. The exactly-once argument is idempotence of the per-batch
    // append, not sink-side coordination — q288's discipline on the
    // index lifecycle. ----
    Q("q294_stream_ivfpq_append",
      (s, dir) => {
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        import s.implicits._
        val emb = t(s, dir, "embeddings")
        val base = emb.filter(col("vec_id") % 3 =!= 0)
          .select(col("vec_id").as("nid"), col("embedding").as("ne"))
        val inc = emb.filter(col("vec_id") % 3 === 0)
          .select(col("vec_id").as("nid"), col("embedding").as("ne"))
        val q = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_q294_").toString
        Similarity.buildIvfPqIndex(base, tmp)
        val input = MemoryStream[(Long, Seq[Float])]
        val sink = graft.streaming.StreamingIndex.indexAppendSink(
          input.toDF().toDF("nid", "ne"), tmp, s"$tmp/ckpt")
        val arrivals = inc.as[(Long, Seq[Float])].collect()
        try {
          for (r <- 0 to 2) {
            input.addData(arrivals.filter(_._1 / 3 % 3 == r).toSeq)
            sink.processAllAvailable()
          }
        } finally sink.stop()
        // restart-replay of a committed batch: same appendId, same rows —
        // the ledger detects it and the index is untouched
        Similarity.appendToIvfPqIndex(
          arrivals.filter(_._1 / 3 % 3 == 1).toSeq.toDF("nid", "ne"),
          tmp, appendId = "batch-1")
        Similarity.serveIvfPq(s, tmp, q, k = 5, nProbe = 4)
          .select(col("qid"), col("nid"), round(col("adist"), 4).as("adist"),
            col("rn"))
          .orderBy(col("qid"), col("rn"))
      },
      None,
      oracleGen = Some(q275OracleGen _)),

    // ---- G1 token chunker (size 30, overlap 5), content-hash checked. ----
    Q("q55_chunk",
      (s, dir) => {
        Chunker.split(t(s, dir, "documents"), "text", chunkSize = 30, overlap = 5)
          .select(col("doc_id"), col("chunk_id"),
            md5(col("chunk_text").cast("binary")).as("h"),
            TextFns.wordCount(col("chunk_text")).cast("long").as("n_toks"))
          .orderBy(col("doc_id"), col("chunk_id"))
      },
      Some("""WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
             |           FROM documents),
             |n AS (SELECT doc_id, toks,
             |        CASE WHEN len(toks) <= 30 THEN 1
             |             ELSE CAST(ceil((len(toks) - 5) / 25.0) AS BIGINT) END AS nc
             |      FROM d),
             |c AS (SELECT doc_id, unnest(generate_series(0, nc - 1)) AS chunk_id, toks
             |      FROM n)
             |SELECT doc_id, chunk_id,
             |  md5(array_to_string(toks[chunk_id*25+1 : chunk_id*25+30], ' ')) AS h,
             |  len(toks[chunk_id*25+1 : chunk_id*25+30]) AS n_toks
             |FROM c ORDER BY doc_id, chunk_id""".stripMargin)),

    // ---- Semantic dedup, the SemDeDup shape (Similarity.semanticDedup):
    // k-means cells + within-cell cosine near-dup drop, catching
    // paraphrase-level duplicates MinHash can't see. Full generated
    // oracle: centroids inlined (q57 pattern), DuckDB replays the argmin
    // assignment, the within-cell pairwise cosine (the q54-proven
    // bit-identical fold), and the lowest-id-wins keep rule. ----
    Q("q119_semantic_dedup",
      (s, dir) => {
        Similarity.semanticDedup(t(s, dir, "embeddings"), "vec_id", "embedding",
            nCells = 16, threshold = 0.4, maxCell = 100000)
          .orderBy(col("vec_id"))
      },
      None,
      oracleGen = Some(q119OracleGen _)),

    // ---- ANN quality measurement: recall@5 of the served IVF-PQ ranking
    // (q99's exact parameters) against exact L2 top-5 on the same
    // queries — the metric that closes the serving story (latency is
    // proven by the partition-pruned layout, THIS proves what the probes
    // give up). Recall is an integer intersection of two
    // deterministically-ranked id sets, so it is fully oracle-able. ----
    Q("q136_ann_recall",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val q = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        val c = emb.select(col("vec_id").as("nid"), col("embedding").as("ne"))
        val approx = Similarity.ivfPqTopK(q, c, k = 5,
            nCells = 16, nProbe = 4, m = 8, kSub = 16)
          .select(col("qid"), col("nid"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("qid")).orderBy(col("d2"), col("nid"))
        val exact = broadcast(q).crossJoin(c)
          .filter(col("nid") =!= col("qid"))
          .select(col("qid"), col("nid"),
            graft.functions.VectorFns.l2sq(col("qe"), col("ne")).as("d2"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 5)
          .select(col("qid"), col("nid"))
        val hits = exact.join(approx, Seq("qid", "nid"), "left_semi")
          .groupBy(col("qid")).agg(count(lit(1)).as("h"))
        q.select(col("qid")).join(hits, Seq("qid"), "left")
          .select(col("qid"), coalesce(col("h"), lit(0L)).as("n_hit"),
            lit(5L).as("k"))
          .orderBy(col("qid"))
      },
      None,
      oracleGen = Some(q136OracleGen _)),

    // ---- ANN refine stage (FAISS's standard serving fix for ADC recall
    // loss): retrieve k·refine candidates by ADC, re-rank them with exact
    // L2 over the raw vectors, keep top-k. Identical probes/cells to
    // q136, so comparing the two rows measures exactly what the refine
    // stage buys — ADC misranking within the probed cells is recovered;
    // neighbors in unprobed cells remain the (documented) recall floor.
    // Cost at scale: one bounded-candidate point-lookup join against the
    // stored raw vectors — candidates broadcast, the corpus never
    // shuffles. ----
    Q("q139_ann_refine",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val q = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        val c = emb.select(col("vec_id").as("nid"), col("embedding").as("ne"))
        val approx = Similarity.ivfPqTopK(q, c, k = 5,
            nCells = 16, nProbe = 4, m = 8, kSub = 16, refine = 4)
          .select(col("qid"), col("nid"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("qid")).orderBy(col("d2"), col("nid"))
        val exact = broadcast(q).crossJoin(c)
          .filter(col("nid") =!= col("qid"))
          .select(col("qid"), col("nid"),
            graft.functions.VectorFns.l2sq(col("qe"), col("ne")).as("d2"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 5)
          .select(col("qid"), col("nid"))
        val hits = exact.join(approx, Seq("qid", "nid"), "left_semi")
          .groupBy(col("qid")).agg(count(lit(1)).as("h"))
        q.select(col("qid")).join(hits, Seq("qid"), "left")
          .select(col("qid"), coalesce(col("h"), lit(0L)).as("n_hit"),
            lit(5L).as("k"))
          .orderBy(col("qid"))
      },
      None,
      oracleGen = Some(q139OracleGen _))
  )

  private def q119OracleGen(s: SparkSession, dir: String): String = {
    val sample = Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding")).orderBy(col("vec_id"))
      .limit(100000).collect()
      .map(_.getSeq[Number](1).map(_.doubleValue()).toArray)
    val cents = Similarity.lloyd(sample, 16, iters = 10, seed = 42)
    def vec(a: Array[Double]): String =
      a.map(java.lang.Double.toString).mkString("[", ", ", "]")
    val centsD = cents.zipWithIndex
      .map { case (v, i) => s"($i, ${vec(v)})" }.mkString(",\n    ")
    def l2(e: String, c: String): String =
      s"""list_sum(list_transform(list_zip($e, $c),
         |          x -> (CAST(x[1] AS DOUBLE) - x[2]) * (CAST(x[1] AS DOUBLE) - x[2])))""".stripMargin
    def cos(a: String, b: String): String =
      s"""list_sum(list_transform(list_zip($a, $b),
         |          x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
         |        / (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
         |         * sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))""".stripMargin
    s"""WITH centsd(cell, cvec) AS (VALUES
       |    $centsD),
       |a AS (SELECT e.vec_id AS id, e.embedding AS v, c.cell,
       |        row_number() OVER (PARTITION BY e.vec_id
       |          ORDER BY ${l2("e.embedding", "c.cvec")}, c.cell) AS arn
       |      FROM embeddings e CROSS JOIN centsd c),
       |asg AS (SELECT id, v, cell FROM a WHERE arn = 1),
       |ok AS (SELECT cell FROM asg GROUP BY cell HAVING count(*) <= 100000),
       |l AS (SELECT DISTINCT x.id
       |      FROM asg x JOIN ok USING (cell) JOIN asg y
       |        ON x.cell = y.cell AND y.id < x.id
       |      WHERE ${cos("x.v", "y.v")} >= 0.4)
       |SELECT asg.id AS vec_id, CAST(asg.cell AS INTEGER) AS cell,
       |  l.id IS NULL AS keep
       |FROM asg LEFT JOIN l ON asg.id = l.id
       |ORDER BY vec_id""".stripMargin
  }
}
