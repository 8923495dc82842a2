package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFns

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * `bruteTopK` is the exact baseline: broadcast the (small) query side so the
  * corpus scans once without shuffling; ranking is a per-query window.
  *
  * `lshTopK` is the scale path: multi-table random-hyperplane LSH. Each table
  * hashes every vector to a bucket; queries join the corpus only inside
  * matching buckets, so per-query work drops from |corpus| to
  * ~tables * |corpus| / 2^nBits while recall stays high for near vectors
  * (multiple tables recover neighbors lost to one unlucky cut). At cluster
  * scale the corpus bucketing is computed once and reusable across query
  * batches (write bucketed-by-`bucket` parquet).
  */
object Similarity {

  /** Exact cosine top-k per query row. */
  def bruteTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                qId: String = "qid", qVec: String = "qe",
                cId: String = "nid", cVec: String = "ne"): DataFrame = {
    val w = Window.partitionBy(col(qId)).orderBy(col("sim").desc, col(cId))
    broadcast(queries)
      .crossJoin(corpus)
      .filter(col(cId) =!= col(qId))
      .select(col(qId), col(cId), VectorFns.cosine(col(qVec), col(cVec)).as("sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
  }

  /** Semantic (embedding-space) deduplication, the SemDeDup shape
    * (Abbas et al. 2023, arXiv:2303.09540): k-means partitions the
    * embedding space, and near-duplicate detection — cosine at/above
    * `threshold` — runs only WITHIN each cell, keeping the lowest id of
    * every near-dup pair. This is the semantic sibling of MinHash dedup:
    * it catches paraphrases and re-encodings that share no n-grams.
    *
    * Scale shape: the pairwise pass is confined to cells, so total work is
    * sum over cells of |cell|^2 instead of |corpus|^2 — at 100 TB you grow
    * `nCells` proportionally (the paper runs ~100k clusters for billions
    * of points) so cells stay ~constant-sized; the codebook still trains
    * on a bounded driver sample like every ANN index here, assignment is
    * the codegen'd NearestCell projection, and the self-join shuffles by
    * cell key. A keep decision is local to its cell (no transitive chase
    * across cells), matching the published algorithm.
    *
    * Output: one row per input vector — (id, cell, keep); keep = false iff
    * a lower-id vector in the same cell has cosine >= threshold.
    *
    * `maxCell` is the hot-cell guard — the same loud-cap discipline as
    * LSH's `maxBucket`: a degenerate cluster (k-means CAN collapse mass
    * into one cell — think a spike of zero vectors) would otherwise cost
    * |cell|^2 in one task. Oversized cells contribute no pairs and their
    * members survive; the production fix is raising `nCells`, not the cap.
    */
  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
                    nCells: Int = 16, threshold: Double = 0.9,
                    maxTrain: Int = 100000, maxCell: Int = 100000): DataFrame = {
    import org.apache.spark.sql.GraftShim.{column, expression}
    val sample = emb.select(col(idCol), col(vecCol)).orderBy(col(idCol))
      .limit(maxTrain).collect()
      .map(_.getSeq[Number](1).map(_.doubleValue()).toArray)
    val cents = lloyd(sample, nCells, iters = 10, seed = 42)
    // the scan+assignment feeds FOUR subtrees (hot-cell counts, both sides
    // of the pair join, the final keep join) — cache it, materialize the
    // small loser set eagerly (the minhashPairs localCheckpoint pattern),
    // release the cache; only the final output pass re-derives assignment
    val assigned = emb.select(col(idCol), col(vecCol),
      column(graft.expressions.NearestCell(expression(col(vecCol)), cents)).as("cell"))
      .persist()
    try {
      // ≤ nCells rows — broadcast; filtering ONE side of the cell
      // self-join is enough to zero out a hot cell's pairs
      val ok = assigned.groupBy(col("cell")).agg(count(lit(1)).as("__n"))
        .filter(col("__n") <= maxCell).select(col("cell"))
      val right = assigned
        .select(col("cell"), col(idCol).as("__b"), col(vecCol).as("__vb"))
      val losers = assigned.join(broadcast(ok), "cell").join(right, "cell")
        .filter(col("__b") < col(idCol))
        .filter(VectorFns.cosine(col(vecCol), col("__vb")) >= threshold)
        .select(col(idCol)).distinct()
        .localCheckpoint(true)
      assigned
        .join(losers.withColumn("__lost", lit(true)), Seq(idCol), "left")
        .select(col(idCol), col("cell"), col("__lost").isNull.as("keep"))
    } finally assigned.unpersist(false)
  }

  /** IVF (inverted-file) ANN: k-means partitions the corpus into nCells
    * cells once; each query probes only its nProbe nearest cells. The
    * classic trade: one offline clustering pass buys per-query work of
    * ~nProbe/nCells of the corpus.
    *
    * The codebook is trained DRIVER-SIDE on a bounded deterministic sample
    * (`maxTrain` vectors) — how IVF codebooks are built at any scale: a
    * 100 TB corpus still trains on ~1e5 sampled vectors, then the cell
    * ASSIGNMENT (the part proportional to corpus size) runs distributed via
    * the codegen'd NearestCell expression. This replaces ~15 tiny Spark jobs
    * of an in-cluster Lloyd iteration with zero extra jobs beyond the sample
    * collect. At cluster scale the assignment is computed once and persisted
    * (write bucketed-by-cell); queries join only their probed cells.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              nCells: Int = 16, nProbe: Int = 3,
              qId: String = "qid", qVec: String = "qe",
              cId: String = "nid", cVec: String = "ne",
              maxTrain: Int = 100000): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._

    val sample = corpus.select(col(cId), col(cVec)).orderBy(col(cId))
      .limit(maxTrain).collect()
      .map(_.getSeq[Number](1).map(_.doubleValue()).toArray)
    val cents = lloyd(sample, nCells, iters = 10, seed = 42)

    val assigned = corpus.select(col(cId), col(cVec),
      org.apache.spark.sql.GraftShim.column(graft.expressions.NearestCell(
        org.apache.spark.sql.GraftShim.expression(col(cVec)), cents)).as("cell"))

    val centroids = cents.zipWithIndex
      .map { case (v, i) => (i, v.map(_.toFloat).toSeq) }.toSeq
      .toDF("cell", "cvec")
    val probed = broadcast(queries)
      .crossJoin(broadcast(centroids))
      .select(col(qId), col(qVec), col("cell"),
        VectorFns.l2sq(col(qVec), col("cvec")).as("cdist"))
      .withColumn("crn", row_number().over(
        Window.partitionBy(col(qId)).orderBy(col("cdist"), col("cell"))))
      .filter(col("crn") <= nProbe)
      .select(col(qId), col(qVec), col("cell"))

    val w = Window.partitionBy(col(qId)).orderBy(col("sim").desc, col(cId))
    probed.join(assigned, "cell")
      .filter(col(cId) =!= col(qId))
      .select(col(qId), col(cId), VectorFns.cosine(col(qVec), col(cVec)).as("sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
  }

  /** Deterministic Lloyd's k-means over a driver-resident sample: seeded
    * random initialization (first k of a seeded shuffle), then `iters`
    * assign/update rounds. Empty cells respawn on a random point.
    */
  private[graft] def lloyd(points: Array[Array[Double]], k: Int,
                           iters: Int, seed: Long): Array[Array[Double]] = {
    require(points.nonEmpty, "cannot train a codebook on an empty sample")
    val dim = points.head.length
    val rnd = new scala.util.Random(seed)
    val order = rnd.shuffle(points.indices.toVector)
    val cents = Array.tabulate(math.min(k, points.length))(i => points(order(i)).clone())
    val kEff = cents.length
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < dim) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    val assign = new Array[Int](points.length)
    var it = 0
    while (it < iters) {
      var p = 0
      while (p < points.length) {
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < kEff) {
          val d = d2(points(p), cents(c))
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        assign(p) = best
        p += 1
      }
      val sums = Array.fill(kEff)(new Array[Double](dim))
      val counts = new Array[Int](kEff)
      p = 0
      while (p < points.length) {
        val c = assign(p); counts(c) += 1
        var i = 0
        while (i < dim) { sums(c)(i) += points(p)(i); i += 1 }
        p += 1
      }
      var c = 0
      while (c < kEff) {
        if (counts(c) > 0) {
          var i = 0
          while (i < dim) { cents(c)(i) = sums(c)(i) / counts(c); i += 1 }
        } else {
          cents(c) = points(rnd.nextInt(points.length)).clone()
        }
        c += 1
      }
      it += 1
    }
    cents
  }

  /** Train per-subspace PQ codebooks on a bounded deterministic corpus
    * sample: the D-dim space splits into `m` contiguous subspaces of
    * D/m dims; each gets a `kSub`-centroid Lloyd codebook (seed 42 + the
    * subspace index, so every subspace is deterministic but distinct).
    */
  private[graft] def trainPq(sample: Array[Array[Double]], m: Int,
                             kSub: Int): Array[Array[Array[Double]]] = {
    require(sample.nonEmpty, "cannot train PQ codebooks on an empty sample")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim must divide into $m subspaces")
    val sub = dim / m
    Array.tabulate(m) { mi =>
      val subSample = sample.map(v => java.util.Arrays.copyOfRange(v, mi * sub, (mi + 1) * sub))
      lloyd(subSample, kSub, iters = 10, seed = 42L + mi)
    }
  }

  /** Product-quantization ANN (the FAISS ADC shape, the canonical
    * memory-bound scale path): corpus vectors compress to `m` byte-ish codes
    * (nearest sub-centroid per subspace — 64 floats become 8 ints here), and
    * each query ranks candidates by the asymmetric distance
    * sum_m dt[m][code_m] where dt is the query's distance table, computed
    * ONCE per query row by the codegen'd PqDistTable expression. Per
    * candidate the work is m array lookups — no touch of the original
    * vector. At 100 TB the encoded corpus (codes only) is ~32x smaller than
    * the float vectors and is what actually scans; codebooks are trained
    * driver-side on a bounded sample exactly like the IVF codebook, and the
    * encode pass is one distributed projection (NearestCell per subspace
    * slice, all inside whole-stage codegen).
    */
  def pqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
             m: Int = 8, kSub: Int = 16,
             qId: String = "qid", qVec: String = "qe",
             cId: String = "nid", cVec: String = "ne",
             maxTrain: Int = 100000): DataFrame = {
    import org.apache.spark.sql.GraftShim.{column, expression}
    val sample = corpus.select(col(cId), col(cVec)).orderBy(col(cId))
      .limit(maxTrain).collect()
      .map(_.getSeq[Number](1).map(_.doubleValue()).toArray)
    val cbs = trainPq(sample, m, kSub)
    val sub = cbs(0)(0).length

    val encoded = corpus.select(col(cId),
      array((0 until m).map { mi =>
        column(graft.expressions.NearestCell(
          expression(slice(col(cVec), mi * sub + 1, sub)), cbs(mi)))
      }: _*).as("codes"))

    val q = queries.select(col(qId),
      column(graft.expressions.PqDistTable(expression(col(qVec)), cbs)).as("dt"))

    // adist = sum_m dt[m][code_m]: m element_at lookups, left-to-right sum
    val adist = (0 until m).map { mi =>
      element_at(element_at(col("dt"), mi + 1), element_at(col("codes"), mi + 1) + 1)
    }.reduce(_ + _)

    val w = Window.partitionBy(col(qId)).orderBy(col("adist"), col(cId))
    broadcast(q).crossJoin(encoded)
      .filter(col(cId) =!= col(qId))
      .select(col(qId), col(cId), adist.as("adist"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
  }

  /** Nearest coarse-centroid index of one driver-side vector — the same
    * argmin rule as the distributed NearestCell expression (strict <, lower
    * cell wins ties), shared by IVF-PQ training, its oracle generator, and
    * the spec mirror so all three replay the identical assignment.
    */
  private[graft] def nearestIdx(v: Array[Double], cents: Array[Array[Double]]): Int = {
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      val cen = cents(c)
      var d = 0.0; var i = 0
      while (i < v.length) { val df = v(i) - cen(i); d += df * df; i += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Residuals of a driver-side sample against its nearest coarse centroids
    * (v - c(v)) — what IVF-PQ trains its sub-codebooks on.
    */
  private[graft] def residualsOf(sample: Array[Array[Double]],
                                 cents: Array[Array[Double]]): Array[Array[Double]] =
    sample.map { v =>
      val cen = cents(nearestIdx(v, cents))
      val r = new Array[Double](v.length)
      var i = 0
      while (i < v.length) { r(i) = v(i) - cen(i); i += 1 }
      r
    }

  /** IVF-PQ composed ANN — the FAISS IVFADC serving shape, and the one that
    * actually runs at 100 TB: IVF prunes WHICH vectors each query touches
    * (nProbe of nCells cells), PQ compresses WHAT is touched (m byte-ish
    * residual codes, ~32x smaller than the floats). Neither half alone
    * scales: IVF-only re-ranks on raw vectors (memory-bound), PQ-only scans
    * every code (compute-bound). Composed, a query reads ~nProbe/nCells of
    * an already-32x-compressed corpus.
    *
    * Classic residual encoding: PQ codebooks are trained on (v - c(v)) — the
    * displacement from each vector's coarse centroid — which has far lower
    * variance than raw vectors, so the same kSub codes quantize it tighter.
    * Each query then builds ONE distance table per probed cell from its own
    * residual (q - centroid), and every candidate in that cell costs m array
    * lookups (the codegen'd PqDistTable / element_at pipeline from pqTopK).
    *
    * Scale shape: both codebooks train driver-side on one bounded sample
    * (exactly ivfTopK/pqTopK's convention); the encode pass is a single
    * distributed projection (cell + m residual codes, all whole-stage
    * codegen); the probed (query, cell, dt) side is tiny and broadcasts, so
    * the encoded corpus never shuffles. At cluster scale the encode persists
    * bucketed-by-cell and queries read only their probed buckets.
    */
  /** `refine` > 0 adds the FAISS refine stage: ADC shortlists k*refine
    * candidates per query, then their RAW vectors re-rank the shortlist by
    * exact squared L2 (the `adist` column then carries the exact distance).
    * Cost at scale: one extra bounded-candidate probe of the stored raw
    * vectors — candidates broadcast, the corpus is point-looked-up, never
    * shuffled — for recall close to exact search at ADC's scan price.
    */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                nCells: Int = 16, nProbe: Int = 4, m: Int = 8, kSub: Int = 16,
                qId: String = "qid", qVec: String = "qe",
                cId: String = "nid", cVec: String = "ne",
                maxTrain: Int = 100000, refine: Int = 0): DataFrame = {
    import org.apache.spark.sql.GraftShim.{column, expression}
    val spark = corpus.sparkSession
    import spark.implicits._

    val sample = corpus.select(col(cId), col(cVec)).orderBy(col(cId))
      .limit(maxTrain).collect()
      .map(_.getSeq[Number](1).map(_.doubleValue()).toArray)
    val cents = lloyd(sample, nCells, iters = 10, seed = 42)
    val cbs = trainPq(residualsOf(sample, cents), m, kSub)
    val sub = cbs(0)(0).length

    // raw-double centroids on BOTH sides (unlike ivfTopK's float-cast probe
    // table): assignment, probing, and both residuals all subtract the same
    // doubles, which keeps the oracle replay to one inlined constant table.
    val centroids = cents.zipWithIndex.map { case (v, i) => (i, v.toSeq) }
      .toSeq.toDF("cell", "cvec")

    // encode: coarse cell, then m sub-codes of the residual. __rvec is
    // materialized as its own column — zip_with is not "cheap", so
    // CollapseProject keeps it hoisted instead of re-subtracting the full
    // vector once per subspace slice (the Chunker.split precedent).
    val assigned = corpus.select(col(cId), col(cVec),
      column(graft.expressions.NearestCell(expression(col(cVec)), cents)).as("cell"))
    val enc = assigned.join(broadcast(centroids), "cell")
      .withColumn("__rvec",
        zip_with(col(cVec).cast("array<double>"), col("cvec"), (a, b) => a - b))
      .select(col(cId), col("cell"),
        array((0 until m).map { mi =>
          column(graft.expressions.NearestCell(
            expression(slice(col("__rvec"), mi * sub + 1, sub)), cbs(mi)))
        }: _*).as("codes"))

    // probe nProbe nearest cells, then one ADC table per (query, cell) from
    // the query's residual against that cell
    val probed = broadcast(queries)
      .crossJoin(broadcast(centroids))
      .select(col(qId), col(qVec), col("cell"), col("cvec"),
        VectorFns.l2sq(col(qVec), col("cvec")).as("cdist"))
      .withColumn("crn", row_number().over(
        Window.partitionBy(col(qId)).orderBy(col("cdist"), col("cell"))))
      .filter(col("crn") <= nProbe)
      .select(col(qId), col("cell"),
        column(graft.expressions.PqDistTable(expression(
          zip_with(col(qVec).cast("array<double>"), col("cvec"), (a, b) => a - b)),
          cbs)).as("dt"))

    val adist = (0 until m).map { mi =>
      element_at(element_at(col("dt"), mi + 1), element_at(col("codes"), mi + 1) + 1)
    }.reduce(_ + _)
    val w = Window.partitionBy(col(qId)).orderBy(col("adist"), col(cId))
    val shortlist = if (refine > 0) k * refine else k
    val adc = broadcast(probed).join(enc, "cell")
      .filter(col(cId) =!= col(qId))
      .select(col(qId), col(cId), adist.as("adist"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= shortlist)
    if (refine == 0) adc
    else {
      val wx = Window.partitionBy(col(qId)).orderBy(col("adist"), col(cId))
      broadcast(adc.select(col(qId), col(cId)))
        .join(corpus.select(col(cId), col(cVec)), cId)
        .join(broadcast(queries.select(col(qId), col(qVec))), qId)
        .select(col(qId), col(cId), VectorFns.l2sq(col(qVec), col(cVec)).as("adist"))
        .withColumn("rn", row_number().over(wx))
        .filter(col("rn") <= k)
    }
  }

  /** OFFLINE half of the IVF-PQ serving story — the piece that makes ANN
    * viable at 100 TB, where re-encoding the corpus per query batch is not:
    * train both codebooks once (bounded sample, same seeds as `ivfPqTopK`,
    * so served answers are bit-identical to the inline operator), encode
    * the corpus in one distributed projection, and PERSIST:
    *
    *   path/codes/cell=N/   — the m-code rows, PARTITIONED BY coarse cell,
    *                          so a query batch's scan lists only its probed
    *                          cell directories (proved in PlanSpec)
    *   path/centroids/      — nCells rows (cell, cvec)
    *   path/codebooks/      — m × kSub rows (mi, code, cvec)
    *
    * The codebook tables are tiny and engine-portable parquet; a serving
    * session reloads them without retraining or touching the raw vectors.
    */
  def buildIvfPqIndex(corpus: DataFrame, path: String,
                      nCells: Int = 16, m: Int = 8, kSub: Int = 16,
                      cId: String = "nid", cVec: String = "ne",
                      maxTrain: Int = 100000): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val sample = corpus.select(col(cId), col(cVec)).orderBy(col(cId))
      .limit(maxTrain).collect()
      .map(_.getSeq[Number](1).map(_.doubleValue()).toArray)
    val cents = lloyd(sample, nCells, iters = 10, seed = 42)
    val cbs = trainPq(residualsOf(sample, cents), m, kSub)
    val centroids = cents.zipWithIndex.map { case (v, i) => (i, v.toSeq) }
      .toSeq.toDF("cell", "cvec")
    encodeIvfPq(corpus, cents, cbs, cId, cVec)
      .write.partitionBy("cell").mode("overwrite").parquet(s"$path/codes")
    centroids.write.mode("overwrite").parquet(s"$path/centroids")
    cbs.zipWithIndex.flatMap { case (cb, mi) =>
        cb.zipWithIndex.map { case (v, code) => (mi, code, v.toSeq) }
      }.toSeq.toDF("mi", "code", "cvec")
      .write.mode("overwrite").parquet(s"$path/codebooks")
    // the initial codes catalog: every landed cell served from the build
    // directory — writing it last means a crashed build leaves no catalog
    // and the index is simply absent, never half-described
    writeCodesCatalog(spark, path, CodesCatalog(1L, Seq.empty,
      listCellDirs(spark, s"$path/codes").map((_, "codes", 1L))))
  }

  /** The codes CATALOG of one index version: which data directory (or
    * directories) serve each coarse cell, plus a monotonically-increasing
    * generation counter. Persisted as the one-file `CODESMAP` text
    * (`gen=N` then `cell<TAB>relDir` lines), committed by write-tmp +
    * atomic rename-overwrite — the same one-file-commit primitive as the
    * version manifest in [[rebuildIvfPqIndex]], one level down: CURRENT
    * picks the version, CODESMAP picks the version's live data files.
    *
    * Why a catalog instead of one mutable `codes/` directory: it makes
    * BOTH remaining lifecycle mutations crash/replay-safe snapshots.
    * An append lands its rows under an increment-identity directory
    * (`appends/<id>`, mode overwrite, so a retried crash rewrites
    * instead of duplicating) and becomes visible only at the catalog
    * rename; a compaction writes surviving rows of the touched cells to
    * a fresh `compact_g<N>` directory and remaps them in one rename, so
    * a reader that resolved the previous catalog keeps scanning exactly
    * the previous files — never a half-committed mixture, and never an
    * in-place partition rewrite. A cell may map to several directories
    * (base build + appends); compaction collapses its touched cells back
    * to one. Superseded data directories are left on disk for in-flight
    * readers (physical cleanup is the version-retention cadence,
    * [[vacuumIvfPqVersions]] / the caller's GC).
    */
  /** `applied` is the durable ledger of committed append ids: the replay
    * guard can NOT be keyed on the append's directory still appearing in
    * `entries`, because a later compaction legitimately remaps every
    * cell an append landed (its directory leaves the entries while its
    * ROWS live on in the compacted files) — an orchestrator retry after
    * that compaction would otherwise re-append every still-live id and
    * resurrect tombstone-compacted ones. The ledger is bounded by the
    * append cadence between rebuilds (a rebuild starts a fresh version
    * with an empty ledger — replaying a pre-rebuild append into the new
    * version is a NEW statement about the new lineage and is the
    * orchestrator's to fence).
    */
  /** Entries are `(cell, dataDir, gen)` — the GENERATION at which the
    * directory committed is part of the entry because tombstones are
    * generation-FENCED (see [[tombstoneIvfPq]]): a row is dead iff some
    * tombstone for its id carries a generation STRICTLY greater than
    * its directory's. That one fence resolves delete-then-reinsert with
    * no tombstone pruning at all — the reinserted row's directory
    * commits at a later generation than the tombstone's fence, so it
    * serves immediately, while the stale pre-delete row stays dead and
    * compaction physically drops it (the prune-based design could never
    * remove the stale row: once the tombstone was pruned, both physical
    * rows were live forever).
    */
  private case class CodesCatalog(gen: Long, applied: Seq[String],
                                  entries: Seq[(Int, String, Long)])

  private def listCellDirs(spark: org.apache.spark.sql.SparkSession,
                           dir: String): Seq[Int] =
    Snapshot.listKvDirs(spark, dir, "cell").map(_.toInt)

  private def parseCodesCatalog(where: String,
                                lines: List[String]): CodesCatalog = {
    require(lines.nonEmpty && lines.head.startsWith("gen="),
      s"corrupt codes catalog at $where")
    // `applied=` is optional for catalogs written before the ledger
    val hasApplied = lines.length > 1 && lines(1).startsWith("applied=")
    val applied =
      if (!hasApplied) Seq.empty
      else lines(1).stripPrefix("applied=").split(",").toSeq
        .filter(_.nonEmpty)
    val entries = lines.drop(if (hasApplied) 2 else 1)
      .filter(_.nonEmpty).map { l =>
        val t = l.split("\t", 3)
        // 2-field lines predate generation fencing: gen 0
        (t(0).toInt, t(1), if (t.length > 2) t(2).toLong else 0L)
      }
    CodesCatalog(lines.head.stripPrefix("gen=").toLong, applied, entries)
  }

  private def renderCodesCatalog(cat: CodesCatalog): Seq[String] =
    Seq(s"gen=${cat.gen}",
      s"applied=${cat.applied.distinct.sorted.mkString(",")}") ++
      cat.entries.distinct.sortBy(e => (e._1, e._2))
        .map { case (c, d, g) => s"$c\t$d\t$g" }

  private def readCodesCatalog(spark: org.apache.spark.sql.SparkSession,
                               root: String): Option[CodesCatalog] =
    Snapshot.readLines(spark, s"$root/CODESMAP")
      .map(parseCodesCatalog(root, _))

  /** The catalog exactly as generation `gen` committed it, from the
    * `catalogs/<gen>` history ([[writeCodesCatalog]]'s backfill), or the
    * live CODESMAP when `gen` IS the current generation.
    */
  private def readCodesCatalogAt(spark: org.apache.spark.sql.SparkSession,
                                 root: String, gen: Long): Option[CodesCatalog] =
    Snapshot.readLines(spark, s"$root/catalogs/$gen")
      .map(parseCodesCatalog(s"$root@$gen", _))

  /** Catalog of a resolved root, synthesizing the implicit one for a
    * legacy map-less layout (every `cell=` directory under `codes/`).
    */
  private def codesCatalogOf(spark: org.apache.spark.sql.SparkSession,
                             root: String): CodesCatalog =
    readCodesCatalog(spark, root).getOrElse(
      CodesCatalog(0L, Seq.empty,
        listCellDirs(spark, s"$root/codes").map((_, "codes", 0L))))

  /** Commit a new catalog — BACKFILLING the one being replaced into the
    * `catalogs/<gen>` history first (the cluster store's
    * `writeStoreManifest` discipline): only the OLD, committed catalog
    * is ever archived, so a crash can never mint a history snapshot of
    * a mutation that did not commit, and the idempotent backfill heals
    * a half-done one on the next mutation. Every committed generation
    * therefore stays resolvable for as-of serving
    * ([[serveIvfPq]]'s `asOfGen`) until [[vacuumIvfPqData]] retires it.
    */
  private def writeCodesCatalog(spark: org.apache.spark.sql.SparkSession,
                                root: String, cat: CodesCatalog): Unit = {
    readCodesCatalog(spark, root).foreach { prev =>
      val hist = s"$root/catalogs/${prev.gen}"
      if (!Snapshot.dirExists(spark, hist))
        Snapshot.writeLines(spark, hist, renderCodesCatalog(prev))
    }
    Snapshot.writeLines(spark, s"$root/CODESMAP", renderCodesCatalog(cat))
  }

  /** All LIVE code rows of one index version, resolved through the codes
    * catalog: each data directory is read restricted to the cells the
    * catalog still maps to it (a compaction leaves a touched cell's old
    * files physically in place but unreferenced — a plain directory read
    * would resurrect them). One cell-partition-pruned scan per catalog
    * directory; a fresh build is exactly one.
    */
  private def readCodes(spark: org.apache.spark.sql.SparkSession,
                        root: String): DataFrame =
    readCodesTagged(spark, root).drop("__gen")

  /** [[readCodes]] with each row tagged `__gen` = its directory's commit
    * generation — the row-side half of the tombstone generation fence.
    */
  private def readCodesTagged(spark: org.apache.spark.sql.SparkSession,
                              root: String): DataFrame =
    readCodesTagged(spark, root, codesCatalogOf(spark, root))

  private def readCodesTagged(spark: org.apache.spark.sql.SparkSession,
                              root: String, cat: CodesCatalog): DataFrame = {
    require(cat.entries.nonEmpty, s"IVF-PQ index at $root has no code partitions")
    cat.entries.groupBy(_._2).toSeq.sortBy(_._1).map { case (dir, es) =>
      val cells = es.map(_._1).distinct
      spark.read.option("basePath", s"$root/$dir").parquet(s"$root/$dir")
        .where(col("cell").isin(cells.map(Int.box): _*))
        .withColumn("__gen", lit(es.map(_._3).max))
    }.reduce(_.unionByName(_))
  }

  /** Public catalog-resolved view of a persisted index's code rows —
    * `(id, codes, cell)` across the base build and every committed
    * append, with compaction remaps applied. The reader the lifecycle
    * specs (and any external inspection) should use; a raw directory
    * read sees unreferenced files.
    */
  def readIvfPqCodes(spark: org.apache.spark.sql.SparkSession,
                     path: String): DataFrame =
    readCodes(spark, resolveIvfPqRoot(spark, path))

  /** Assign-to-nearest-cell + residual PQ encode with GIVEN constants —
    * the one distributed projection shared by the initial build and the
    * incremental append (both must produce bit-identical codes for the
    * same vector, or an appended index would disagree with a rebuilt
    * one).
    */
  private def encodeIvfPq(df: DataFrame, cents: Array[Array[Double]],
                          cbs: Array[Array[Array[Double]]],
                          cId: String, cVec: String): DataFrame = {
    import org.apache.spark.sql.GraftShim.{column, expression}
    val spark = df.sparkSession
    import spark.implicits._
    val m = cbs.length
    val sub = cbs(0)(0).length
    val centroids = cents.zipWithIndex.map { case (v, i) => (i, v.toSeq) }
      .toSeq.toDF("cell", "cvec")
    val assigned = df.select(col(cId), col(cVec),
      column(graft.expressions.NearestCell(expression(col(cVec)), cents)).as("cell"))
    assigned.join(broadcast(centroids), "cell")
      .withColumn("__rvec",
        zip_with(col(cVec).cast("array<double>"), col("cvec"), (a, b) => a - b))
      .select(col(cId),
        array((0 until m).map { mi =>
          column(graft.expressions.NearestCell(
            expression(slice(col("__rvec"), mi * sub + 1, sub)), cbs(mi)))
        }: _*).as("codes"),
        col("cell"))
  }

  /** INCREMENTAL index maintenance: encode a day's new vectors against
    * the FROZEN codebooks and append them to the persisted layout — the
    * [[buildIvfPqIndex]] counterpart of the dedup store's daily
    * increment (q112) and the streaming stores' touched-partition
    * discipline (q137/q148). Without this, appending a day of vectors
    * means retraining both codebooks and re-encoding the WHOLE corpus;
    * with it, the increment pays one bounded driver read (the tiny
    * centroid/codebook tables), one distributed encode of ITS OWN rows,
    * and lands files ONLY for the cells its vectors hit, under its own
    * `appends/<id>` directory — the base corpus is never read, never
    * re-encoded, never rewritten, and concurrent serving keeps working
    * (the append is invisible until its one-file catalog commit).
    *
    * Codebooks are frozen BY DESIGN: assignment and codes stay
    * bit-identical to a monolithic encode with the same constants (the
    * q275 oracle proves exactly that equivalence), and served rankings
    * never shift under an append that doesn't concern the query. The
    * cost is standard IVF drift — if the increment's distribution walks
    * away from the training sample, ADC quality degrades and the
    * rebuild cadence is the caller's policy knob (the same trade the
    * frozen BPE/vocab and k-means codebooks make) — [[rebuildIvfPqIndex]]
    * is that rebuild.
    *
    * Delete-then-reinsert needs NO tombstone mutation at all: tombstones
    * are generation-fenced ([[tombstoneIvfPq]]), and this append's
    * directory commits at a LATER catalog generation than any existing
    * tombstone — the reinserted row out-generations the delete and
    * serves immediately, while the stale pre-delete row (if one is
    * still physically present) stays dead and compaction drops it.
    * Last-writer-wins falls out of the fence, with none of the
    * prune-ordering crash windows a log rewrite would carry, and
    * without the prune design's unfixable flaw (a pruned tombstone
    * revived the stale old row FOREVER — two live rows per reinserted
    * id that no compaction could ever separate).
    *
    * Contract on ids: an increment id must be NEW to the index or
    * previously tombstoned. Re-appending a live, never-deleted id is an
    * UPDATE, which this operator does not implement — it would leave
    * two fence-live rows for the id (serving dedups to the closer one
    * as defense, but the store carries both); delete first, then
    * append.
    *
    * CRASH/REPLAY SAFETY: the increment's encoded rows land under an
    * increment-identity directory (`appends/<appendId>`, mode OVERWRITE)
    * and become visible only when the codes catalog commits (one-file
    * atomic rename). A crashed call retried with the SAME `appendId`
    * rewrites the same directory and re-unions the same catalog entries
    * — exactly-once, never a double-write; a call replayed AFTER its
    * commit finds its id in the catalog's durable applied-append LEDGER
    * and returns immediately (the ledger, not the directory entries,
    * because an intervening compaction legitimately remaps an append's
    * cells — without the ledger such a replay would double-index every
    * still-live id and resurrect tombstone-compacted ones). Callers
    * with retry semantics must therefore pass a stable `appendId` (the
    * batch/run id); the default derives a fresh id from the catalog
    * generation, which is safe only for never-retried calls.
    */
  def appendToIvfPqIndex(increment: DataFrame, path: String,
                         cId: String = "nid", cVec: String = "ne",
                         appendId: String = null): Unit = {
    val spark = increment.sparkSession
    val root = resolveIvfPqRoot(spark, path)
    val cat = codesCatalogOf(spark, root)
    val id = Option(appendId).getOrElse(s"g${cat.gen + 1}")
    require(id.matches("[A-Za-z0-9._-]+"),
      s"appendId must be a plain token, got '$id'")
    val dir = s"appends/$id"
    // replayed after its own commit: the applied-id LEDGER (not the
    // entries — a compaction may have remapped them) says this increment
    // is already in the index — an idempotent no-op
    if (cat.applied.contains(id)) return
    val (cents, cbs) = loadIvfPqConstants(spark, root)
    encodeIvfPq(increment, cents, cbs, cId, cVec)
      .write.partitionBy("cell").mode("overwrite").parquet(s"$root/$dir")
    // staging-vanished guard: if a concurrent vacuum (a violation of the
    // single-maintenance-writer contract) deleted the landed directory,
    // committing now would silently drop the increment — fail loudly
    require(Snapshot.dirExists(spark, s"$root/$dir"),
      s"append staging $dir vanished before commit — a concurrent vacuum " +
        "ran during the append (one maintenance writer at a time)")
    // the COMMIT point: the catalog gains this increment's (cell, dir)
    // entries and its ledger id in one atomic rename — a reader sees all
    // of the append or none of it, and a crash before this line leaves
    // the index exactly as it was
    writeCodesCatalog(spark, root, CodesCatalog(cat.gen + 1,
      cat.applied :+ id,
      cat.entries ++
        listCellDirs(spark, s"$root/$dir").map((_, dir, cat.gen + 1))))
  }

  /** Decode the persisted index's frozen constants — nCells + m·kSub
    * rows, driver-resident by design. ONE decoder shared by serving and
    * appending: the two must agree on the layout or an appended index
    * silently disagrees with a served one.
    */
  private def loadIvfPqConstants(spark: org.apache.spark.sql.SparkSession,
                                 path: String)
      : (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    import spark.implicits._
    val cents = spark.read.parquet(s"$path/centroids").as[(Int, Seq[Double])]
      .collect().sortBy(_._1).map(_._2.toArray)
    val cbRows = spark.read.parquet(s"$path/codebooks").as[(Int, Int, Seq[Double])]
      .collect()
    val m = cbRows.iterator.map(_._1).max + 1
    val cbs = Array.tabulate(m)(mi =>
      cbRows.filter(_._1 == mi).sortBy(_._2).map(_._3.toArray))
    (cents, cbs)
  }

  private def tombstoneRowsAt(spark: org.apache.spark.sql.SparkSession,
                              dir: String, cId: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) None
    else {
      val raw = spark.read.option("mergeSchema", "true").parquet(p.toString)
      Some(
        if (raw.columns.contains("__tgen"))
          raw.select(col(cId),
            coalesce(col("__tgen"), lit(Long.MaxValue)).as("__tgen"))
        else raw.select(col(cId), lit(Long.MaxValue).as("__tgen")))
    }
  }

  /** The tombstone log as `(id, gen)` — per id, the LATEST fencing
    * generation (several deletes of one id keep the max). Legacy rows
    * written before generation fencing carry no `gen` column and fence
    * at Long.MaxValue (the old hide-unconditionally behavior).
    *
    * `asOf = Some(g)`: the log exactly as a generation-`g` reader saw
    * it — the LIVE log plus every archive a LATER compaction retired
    * (`tombhist/g<N>` with N > g: an archive retired at N ≤ g is
    * provably inert for an as-of-g read, because catalog g already
    * references the compacted directories its tombstones were applied
    * to), restricted to fences ≤ g (a delete issued after the snapshot
    * has a later fence and must not reach back). Pre-fence legacy rows
    * (fence Long.MaxValue) are excluded by that filter BY DESIGN: they
    * cannot be dated, and every as-of-resolvable generation postdates
    * the fence feature anyway (no archived catalog exists from before
    * it).
    */
  private def tombstonesOf(spark: org.apache.spark.sql.SparkSession,
                           path: String, cId: String,
                           asOf: Option[Long] = None): Option[DataFrame] = {
    val live = tombstoneRowsAt(spark, s"$path/tombstones", cId)
    val rows = asOf match {
      case None => live
      case Some(g) =>
        val hist = {
          val p = new org.apache.hadoop.fs.Path(s"$path/tombhist")
          val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
          if (!fs.exists(p)) Seq.empty
          else fs.listStatus(p).filter(_.isDirectory)
            .map(_.getPath.getName).filter(_.matches("g\\d+"))
            .filter(_.stripPrefix("g").toLong > g).sorted.toSeq
        }
        val archived = hist.flatMap(h =>
          tombstoneRowsAt(spark, s"$path/tombhist/$h", cId))
        (live.toSeq ++ archived).reduceOption(_.unionByName(_))
          .map(_.filter(col("__tgen") <= g))
    }
    rows.map(_.groupBy(col(cId)).agg(max(col("__tgen")).as("__tgen")))
  }

  /** Resolve the ACTIVE root of a possibly-versioned index: the `CURRENT`
    * manifest (one short line naming the live version directory, written
    * by [[rebuildIvfPqIndex]]) wins; its absence means the original flat
    * [[buildIvfPqIndex]] layout at `path` itself. EVERY lifecycle verb
    * (serve, append, tombstone, compact, constants load) resolves through
    * here, so the rebuild's one-file manifest swap retargets the whole
    * verb set at once — that one-file write IS the atomic cutover.
    */
  private def resolveIvfPqRoot(spark: org.apache.spark.sql.SparkSession,
                               path: String): String =
    Snapshot.readLines(spark, s"$path/CURRENT") match {
      case None => path
      case Some(lines) =>
        val v = lines.mkString("\n").trim
        require(v.matches("v\\d+"), s"corrupt index manifest at $path: '$v'")
        s"$path/$v"
    }

  /** Codebook RETRAIN + ATOMIC index rebuild — the lifecycle piece that
    * answers [[appendToIvfPqIndex]]'s frozen-codebook drift: when enough
    * increments have walked the corpus distribution away from the
    * original training sample, ADC quality degrades, and the fix is a
    * full retrain/re-encode — but one that must not take serving down or
    * mutate the index readers are scanning.
    *
    * Versioned-directory + manifest design (the lakehouse snapshot
    * discipline, same shape as `docetl build`'s frozen optimized-plan
    * artifact — reference `zara_hybrid_etl.py:201-202`):
    *
    *   1. train fresh centroids + PQ codebooks on the CURRENT corpus
    *      (identical sample/seed discipline to [[buildIvfPqIndex]], so a
    *      rebuild on corpus C is bit-identical to a monolithic build on
    *      C — the q281 oracle proves exactly that), and encode into
    *      `path/v<N+1>/…` — a complete, self-contained index layout that
    *      NO reader resolves yet;
    *   2. commit by swapping the one-file `path/CURRENT` manifest
    *      (write-tmp + rename-overwrite, the atomic primitive): readers
    *      resolve the old version until the instant of the rename and
    *      the new one after — never a half-written mix.
    *
    * The old version's directory is left intact (in-flight queries that
    * already resolved it keep reading consistent files; retention/GC of
    * dead versions is the caller's cadence, like any snapshot store).
    * The new version starts with an EMPTY tombstone log: the caller
    * passes the live corpus, so deletes are already physical in v<N+1>.
    * Returns the new version id.
    */
  def rebuildIvfPqIndex(corpus: DataFrame, path: String,
                        nCells: Int = 16, m: Int = 8, kSub: Int = 16,
                        cId: String = "nid", cVec: String = "ne",
                        maxTrain: Int = 100000): String = {
    val spark = corpus.sparkSession
    val next = Snapshot.readLines(spark, s"$path/CURRENT") match {
      case None => "v1"
      case Some(lines) =>
        val v = lines.mkString("\n").trim
        require(v.matches("v\\d+"), s"corrupt index manifest at $path: '$v'")
        s"v${v.stripPrefix("v").toInt + 1}"
    }
    buildIvfPqIndex(corpus, s"$path/$next", nCells, m, kSub, cId, cVec, maxTrain)
    // the commit point: one-file atomic rename-overwrite (Snapshot) — a
    // reader sees the old manifest or the new one, never neither
    Snapshot.writeLines(spark, s"$path/CURRENT", Seq(next))
    next
  }

  /** Retention GC for the versioned index — the vacuum half of the
    * [[rebuildIvfPqIndex]] snapshot story: rebuilds deliberately leave
    * old `path/v<N>` directories on disk so in-flight readers that
    * resolved them keep scanning consistent files; this reclaims the
    * ones older than the retention window. Keeps the CURRENT version
    * plus the `keep − 1` versions preceding it (numerically — version
    * ids are monotone by construction) and deletes every older `v<M>`
    * directory; `keep` must cover the longest concurrent read, exactly
    * the snapshot-store retention contract. Versions NEWER than CURRENT
    * (a rebuild in flight that hasn't committed) are never touched, and
    * neither is the pre-versioning flat layout at `path` itself — it
    * predates the version discipline, so its removal is the caller's
    * explicit call. No-op on an unversioned index. Returns the deleted
    * version ids.
    */
  def vacuumIvfPqVersions(spark: org.apache.spark.sql.SparkSession,
                          path: String, keep: Int = 1): Seq[String] = {
    require(keep >= 1, s"keep must be positive, got $keep")
    val lines = Snapshot.readLines(spark, s"$path/CURRENT")
      .getOrElse(return Seq.empty)
    val cur = lines.mkString("\n").trim
    require(cur.matches("v\\d+"), s"corrupt index manifest at $path: '$cur'")
    val curN = cur.stripPrefix("v").toLong
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(p)
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(_.matches("v\\d+"))
      .filter(v => v.stripPrefix("v").toLong <= curN - keep)
      .sorted.toSeq
      .map { v =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$path/$v"), true)
        v
      }
  }

  /** WITHIN-version data GC — [[vacuumIvfPqVersions]]' finer-grained
    * sibling: delete the resolved root's data directories (`codes`,
    * `appends/<id>`, `compact_g<N>`) that the codes catalog no longer
    * references at all — a compaction that remapped every cell an append
    * landed leaves that append's directory fully dead, and a compaction
    * of every base cell orphans `codes` itself. Reference-driven, not
    * age-driven: a directory stays as long as ANY cell still maps to it
    * (its stale cell SUBdirectories, if any, are the price of not
    * breaking the live cells' files — bounded by the compaction
    * cadence). Same retention trade as every vacuum here: a reader
    * still holding a pre-compaction catalog is what this breaks, so run
    * it once those readers are gone — and NEVER concurrently with an
    * append/compaction on the same version (the Snapshot single-
    * maintenance-writer contract: this would reclaim the mutation's
    * not-yet-committed staging directory; the mutation's commit guard
    * turns that into a loud failure rather than silent loss, but the
    * schedule is the caller's). Never touches constants, the live
    * tombstone log, the live catalog, or version directories.
    *
    * `keepGens` is the as-of retention window, composing with catalog
    * history exactly like `Dedup.vacuumClusterStore`: the live set is
    * the union of directories referenced by the CURRENT catalog plus
    * the newest `keepGens − 1` archived ones; older `catalogs/<gen>`
    * entries are retired (an as-of serve past the window then fails
    * loudly at catalog resolution, never scans half-reclaimed dirs),
    * and a `tombhist/g<N>` archive is retired once N ≤ the smallest
    * retained generation (it is provably inert for every retained
    * as-of read — each one's catalog already references the compacted
    * directories those tombstones were applied to). Data dirs first,
    * then catalogs, then tombstone archives, so a crash mid-vacuum
    * leaves resolvable catalogs over present dirs. Returns the deleted
    * names.
    */
  def vacuumIvfPqData(spark: org.apache.spark.sql.SparkSession,
                      path: String, keepGens: Int = 1): Seq[String] = {
    require(keepGens >= 1, s"keepGens must be positive, got $keepGens")
    val root = resolveIvfPqRoot(spark, path)
    val cur = codesCatalogOf(spark, root)
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    def numbered(dir: String, prefix: String): Seq[Long] = {
      val d = new org.apache.hadoop.fs.Path(s"$root/$dir")
      if (!fs.exists(d)) Seq.empty
      else fs.listStatus(d).map(_.getPath.getName)
        .filter(_.matches(s"$prefix\\d+"))
        .map(_.stripPrefix(prefix).toLong).toSeq.sorted
    }
    val hist = numbered("catalogs", "").filter(_ < cur.gen)
    val retainedHist = hist.takeRight(keepGens - 1)
    val retiredCats = hist.dropRight(keepGens - 1)
    val live = (cur.entries.map(_._2) ++ retainedHist.flatMap(g =>
      readCodesCatalogAt(spark, root, g).map(_.entries.map(_._2))
        .getOrElse(Seq.empty))).toSet
    val top = fs.listStatus(p).filter(_.isDirectory)
      .map(_.getPath.getName).toSeq
    val appendDirs =
      if (!top.contains("appends")) Seq.empty
      else fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/appends"))
        .filter(_.isDirectory).map(s => s"appends/${s.getPath.getName}").toSeq
    val deadDirs = (top.filter(n => n == "codes" || n.matches("compact_g\\d+"))
      ++ appendDirs).filterNot(live.contains).sorted
    deadDirs.foreach(d =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$root/$d"), true))
    val deadCats = retiredCats.map { g =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$root/catalogs/$g"), false)
      s"catalogs/$g"
    }
    val minRetained = (retainedHist ++ Seq(cur.gen)).min
    val deadTombs = numbered("tombhist", "g").filter(_ <= minRetained).map { g =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$root/tombhist/g$g"), true)
      s"tombhist/g$g"
    }
    deadDirs ++ deadCats ++ deadTombs
  }

  /** Store-METADATA inspection for the unified maintenance sweep
    * ([[Maintenance]]'s `IvfPqT` target): everything the cadence
    * decision needs with the CODES never read —
    * `(liveTombstoneRows, catalogGens, resolvableVersions)`:
    *  - `liveTombstoneRows` counts the resolved root's UN-archived
    *    tombstone log (the logical deletes a [[compactIvfPqIndex]]
    *    would make physical) — a log-only read bounded by the delete
    *    rate since the last compaction, zero rows when the log is
    *    absent/archived;
    *  - `catalogGens` is the as-of retention depth: the live CODESMAP
    *    plus the archived `catalogs/<gen>` files [[vacuumIvfPqData]]
    *    would retire;
    *  - `resolvableVersions` counts the `v<N>` directories at or below
    *    CURRENT that [[vacuumIvfPqVersions]] retains or retires (1 for
    *    a pre-versioning flat index).
    * The corpus-driven DRIFT rebuild ([[rebuildIfDrifted]])
    * deliberately stays OUTSIDE this surface: its statistic needs the
    * live corpus passed in, which a metadata-only janitor does not
    * have — rebuild cadence is the ingest pipeline's, with the corpus
    * in hand.
    */
  def ivfPqMaintenanceStats(spark: org.apache.spark.sql.SparkSession,
                            path: String): (Long, Int, Int) = {
    val root = resolveIvfPqRoot(spark, path)
    val conf = spark.sessionState.newHadoopConf()
    val tombP = new org.apache.hadoop.fs.Path(s"$root/tombstones")
    val tombs =
      if (!tombP.getFileSystem(conf).exists(tombP)) 0L
      else spark.read.parquet(s"$root/tombstones").count()
    val cat = codesCatalogOf(spark, root)
    val catsP = new org.apache.hadoop.fs.Path(s"$root/catalogs")
    val catFs = catsP.getFileSystem(conf)
    val archived =
      if (!catFs.exists(catsP)) 0
      else catFs.listStatus(catsP).map(_.getPath.getName)
        .count(n => n.matches("\\d+") && n.toLong < cat.gen)
    val versions = Snapshot.readLines(spark, s"$path/CURRENT") match {
      case None => 1 // pre-versioning flat layout
      case Some(lines) =>
        val cur = lines.mkString("\n").trim
        require(cur.matches("v\\d+"), s"corrupt index manifest at $path: '$cur'")
        val curN = cur.stripPrefix("v").toLong
        val p = new org.apache.hadoop.fs.Path(path)
        p.getFileSystem(conf).listStatus(p).filter(_.isDirectory)
          .map(_.getPath.getName)
          .count(n => n.matches("v\\d+") && n.stripPrefix("v").toLong <= curN)
    }
    (tombs, archived + 1, versions)
  }

  /** The LIVE tombstone log's own id column — its only non-fence field,
    * read from one parquet footer. The authority a [[Maintenance]]
    * sweep target built by directory DETECTION needs before compacting:
    * `detect()` cannot know the build-time `cId`, and compacting with a
    * guessed one would fail (or worse) against a log keyed differently.
    * None when no live log exists — then there is nothing to compact
    * and the column is moot.
    */
  def ivfPqTombstoneIdCol(spark: org.apache.spark.sql.SparkSession,
                          path: String): Option[String] = {
    val root = resolveIvfPqRoot(spark, path)
    val p = new org.apache.hadoop.fs.Path(s"$root/tombstones")
    if (!p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)) None
    else spark.read.parquet(s"$root/tombstones")
      .schema.fieldNames.find(_ != "__tgen")
  }

  /** Drift-TRIGGERED rebuild policy — [[ivfPqDriftStats]] composed with
    * [[rebuildIvfPqIndex]] into the closed loop the two halves describe:
    * score the live corpus's quantization error per cohort against the
    * index's frozen constants, and retrain/re-encode (atomic versioned
    * cutover) iff the non-base cohorts' average error exceeds
    * `ratioPpm` millionths of the base cohort's. All comparison
    * arithmetic is exact integers (micro-unit averages from the drift
    * stats, the ppm ratio by floored division), so the fire/skip
    * decision replays bit-identically in any engine. Returns ONE row —
    * `(rebuilt, base_avg_micro, drifted_avg_micro, ratio_ppm, version)`
    * — the audit record a maintenance cadence logs; `version` is the
    * new version id when fired, the resolved current root's when
    * skipped. The corpus passed must be the LIVE rows (the rebuild
    * trains and encodes exactly what it is given; deletes become
    * physical in the new version). A zero base error with nonzero drift
    * error fires unconditionally (the ratio is unbounded); zero drift
    * error never fires.
    */
  def rebuildIfDrifted(corpus: DataFrame, path: String, cohortCol: String,
                       baseCohort: String = "base", ratioPpm: Long = 2000000L,
                       nCells: Int = 16, m: Int = 8, kSub: Int = 16,
                       cId: String = "nid", cVec: String = "ne",
                       maxTrain: Int = 100000): DataFrame = {
    require(ratioPpm > 0L, s"ratioPpm must be positive, got $ratioPpm")
    val spark = corpus.sparkSession
    import spark.implicits._
    val stats = ivfPqDriftStats(corpus, path, cohortCol, cId, cVec)
      .select(
        when(col("cohort") === baseCohort, lit("base")).otherwise(lit("drift"))
          .as("side"),
        col("n_vecs"), col("err_micro_total"))
      .groupBy(col("side"))
      .agg(expr("sum(err_micro_total) div sum(n_vecs)").as("avg_micro"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val base = stats.getOrElse("base", 0L)
    val drifted = stats.getOrElse("drift", 0L)
    require(stats.contains("base") && stats.contains("drift"),
      s"rebuildIfDrifted: corpus must carry both a '$baseCohort' cohort " +
        s"and at least one other, saw sides ${stats.keySet.mkString(",")}")
    val ratio = if (base > 0L) drifted * 1000000L / base
                else if (drifted > 0L) Long.MaxValue else 0L
    val fire = ratio > ratioPpm
    val version =
      if (fire) rebuildIvfPqIndex(corpus.drop(cohortCol), path,
        nCells, m, kSub, cId, cVec, maxTrain)
      else resolveIvfPqRoot(spark, path).split('/').last match {
        case v if v.matches("v\\d+") => v
        case _ => "flat"
      }
    Seq((fire, base, drifted, ratio, version))
      .toDF("rebuilt", "base_avg_micro", "drifted_avg_micro", "ratio_ppm",
        "version")
  }

  /** LOGICAL delete from a persisted IVF-PQ index: ids append to a
    * `path/tombstones` log; [[serveIvfPq]] drops fenced rows (broadcast
    * — the log is bounded by the compaction cadence, not the corpus) so
    * deleted vectors stop being served IMMEDIATELY without touching a
    * single codes file. [[compactIvfPqIndex]] later makes the delete
    * physical. The delete/compact split is the standard lakehouse
    * lifecycle: deletes are cheap and constant-time, the partition
    * rewrite is batched and touches only cells that actually contain
    * dead rows.
    *
    * A delete is a MUTATION like any other, so it advances the catalog
    * generation: the tombstone rows land fenced at `gen + 1` and the
    * catalog (same entries, same ledger) commits at `gen + 1` — which
    * both kills every row whose directory committed at or before the
    * delete (dirGen ≤ gen < fence) and lets a LATER append of the same
    * id out-generation it and serve (delete-then-reinsert with no
    * tombstone rewrite; see [[appendToIvfPqIndex]]). The bump also
    * makes the delete a first-class SNAPSHOT: as-of serving at the
    * pre-delete generation cleanly excludes it (fence > that gen),
    * with no boundary ambiguity about deletes issued "at" a
    * generation. Crash order: tombstones land BEFORE the catalog bump
    * — a crash between the two leaves fence = gen + 1 rows under a
    * gen-`gen` catalog, which serve applies identically (fence ≥ every
    * live dirGen either way), and the missed snapshot boundary is
    * healed at the next mutation's backfill.
    */
  def tombstoneIvfPq(deletes: DataFrame, path: String,
                     cId: String = "nid"): Unit = {
    val spark = deletes.sparkSession
    val root = resolveIvfPqRoot(spark, path)
    val cat = codesCatalogOf(spark, root)
    deletes.select(col(cId)).distinct()
      .withColumn("__tgen", lit(cat.gen + 1))
      .write.mode("append").parquet(s"$root/tombstones")
    writeCodesCatalog(spark, root, cat.copy(gen = cat.gen + 1))
  }

  /** PHYSICAL delete: rewrite exactly the cells that contain tombstoned
    * rows — surviving rows land in a fresh `compact_g<N>` directory and
    * the codes catalog remaps the touched cells there in ONE atomic
    * rename, so untouched cells' files are never read or rewritten and
    * a concurrent reader that resolved the previous catalog keeps
    * scanning exactly the previous files (entirely-old or entirely-new,
    * never a mixture — the q281 snapshot discipline one level down). A
    * cell whose every row died simply leaves the catalog; its old files,
    * like every superseded data directory, stay on disk for in-flight
    * readers until version retention ([[vacuumIvfPqVersions]]) reclaims
    * them. The tombstone log is ARCHIVED (not deleted) after the
    * commit, into `tombhist/g<newGen>`: archived tombstones are inert
    * for the live index — every row the new catalog references
    * out-generations them — but as-of serving at pre-compaction
    * generations still needs them to hide the then-deleted rows, so
    * they live until [[vacuumIvfPqData]] retires those generations. A
    * crash anywhere re-runs as either the identical compaction (commit
    * not reached) or a no-op sweep (commit reached, log not yet
    * archived: zero dead rows found, the generation bumps again, and
    * the archive completes — serving unchanged either way). Compaction
    * always advances the catalog generation, even when no cell needed
    * rewriting, so every archive lands under a unique generation name.
    * The touched-cell volume per compaction is the memory bound —
    * compact on a cadence that keeps it reasonable, as with any
    * lakehouse table.
    */
  def compactIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
                        path: String, cId: String = "nid"): Unit = {
    val root = resolveIvfPqRoot(spark, path)
    val tombOpt = tombstonesOf(spark, root, cId)
    if (tombOpt.isEmpty) return
    val tomb = tombOpt.get.localCheckpoint(true) // (id, max fence gen)
    try {
      val cat = codesCatalogOf(spark, root)
      // a row is DEAD iff its id's tombstone fences STRICTLY after the
      // row's directory generation (the serve-path rule, made physical):
      // pre-delete copies of a reinserted id die, the reinsert survives
      val flagged = readCodesTagged(spark, root)
        .join(broadcast(tomb), Seq(cId), "left")
        .withColumn("__dead",
          col("__tgen").isNotNull && col("__tgen") > col("__gen"))
      val touched = flagged.filter(col("__dead"))
        .select(col("cell")).distinct().collect().map(_.getInt(0))
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val newGen = cat.gen + 1
      if (touched.nonEmpty) {
        val dir = s"compact_g$newGen"
        // the survivors write reads old files and writes a FRESH
        // directory — never the files it supersedes, so no checkpoint
        // barrier is needed between read and write
        flagged.where(col("cell").isin(touched.map(Int.box): _*))
          .filter(!col("__dead"))
          .drop("__tgen", "__gen", "__dead")
          .write.mode("overwrite").partitionBy("cell")
          .parquet(s"$root/$dir")
        // staging-vanished guard (see appendToIvfPqIndex): never commit a
        // catalog that drops the touched cells because a concurrent
        // vacuum deleted the freshly-written directory
        require(Snapshot.dirExists(spark, s"$root/$dir"),
          s"compaction staging $dir vanished before commit — a concurrent " +
            "vacuum ran during the compaction (one maintenance writer at a time)")
        // the COMMIT: untouched cells keep their entries, touched cells
        // collapse to the compacted directory, emptied cells disappear;
        // the applied-append ledger carries over (those increments ARE in
        // the compacted rows)
        writeCodesCatalog(spark, root, CodesCatalog(newGen, cat.applied,
          cat.entries.filterNot(e => touched.contains(e._1)) ++
            listCellDirs(spark, s"$root/$dir").map((_, dir, newGen))))
      } else {
        // nothing to rewrite, but the generation still advances so the
        // archive below gets a unique, ordered name and the sweep is a
        // first-class snapshot boundary
        writeCodesCatalog(spark, root, cat.copy(gen = newGen))
      }
      // ARCHIVE the applied log for as-of readers at pre-compaction
      // generations; inert for the live index from here on
      fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/tombhist"))
      require(fs.rename(new org.apache.hadoop.fs.Path(s"$root/tombstones"),
        new org.apache.hadoop.fs.Path(s"$root/tombhist/g$newGen")),
        s"could not archive the tombstone log to tombhist/g$newGen")
    } finally GenStore.freeLocal(tomb)
  }

  /** RECALL-TARGETED nProbe tuning — the serving-quality sibling of
    * [[rebuildIfDrifted]]'s drift policy: nProbe is the one serving knob
    * that trades latency for recall (more probed cells → more candidates
    * → better recall, linearly more ADC work), and picking it by hand is
    * guesswork that silently rots as the corpus grows. This measures
    * recall@k against EXACT search for each candidate nProbe on a
    * caller-supplied query sample, and returns one audit row per
    * candidate — `(n_probe, n_hit, n_exact, recall_ppm, chosen)` with
    * `chosen` on the SMALLEST candidate meeting `targetPpm` (recall is
    * monotone non-decreasing in nProbe — probing more cells only adds
    * candidates — so the smallest passing value is the cheapest
    * compliant configuration), or on the highest-recall candidate
    * (ties → smaller nProbe) when none passes: the caller then knows the
    * target is unreachable at this index geometry and the fix is more
    * cells probed than offered, a refine stage ([[annRefine]] / q139),
    * or a rebuild. Integer-exact: recall_ppm = ⌊10⁶·hits/exact⌋.
    *
    * Scale shape: the exact ground truth is ONE brute-force top-k over
    * the corpus (queries broadcast — this is the same bounded audit
    * cost as q136's recall row, run on a SAMPLE of queries, not the
    * serving path); each candidate then costs one [[serveIvfPq]], which
    * reads only its probed cells. The loop is |candidates| bounded
    * driver iterations of distributed jobs — the [[rebuildIfDrifted]]
    * audit-row discipline, not a per-row collect.
    */
  def tuneIvfPqNProbe(spark: org.apache.spark.sql.SparkSession, path: String,
                      queries: DataFrame, corpus: DataFrame, k: Int,
                      targetPpm: Long,
                      candidates: Seq[Int] = Seq(1, 2, 4, 8),
                      qId: String = "qid", qVec: String = "qe",
                      cId: String = "nid", cVec: String = "ne"): DataFrame = {
    require(candidates.nonEmpty && candidates.forall(_ >= 1),
      s"candidate nProbe values must be positive, got $candidates")
    require(k >= 1, s"k must be positive, got $k")
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(qId)).orderBy(col("__d2"), col(cId))
    val exact = broadcast(queries.select(col(qId), col(qVec)))
      .crossJoin(corpus.select(col(cId), col(cVec)))
      .filter(col(cId) =!= col(qId))
      .select(col(qId), col(cId),
        graft.functions.VectorFns.l2sq(col(qVec), col(cVec)).as("__d2"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(col(qId), col(cId))
      .localCheckpoint(true)
    try {
      val nExact = exact.count()
      require(nExact > 0, "the query sample produced no exact neighbors")
      val rows = candidates.distinct.sorted.map { np =>
        val served = serveIvfPq(spark, path, queries, k, nProbe = np,
          qId = qId, qVec = qVec, cId = cId)
        val nHit = exact.join(served.select(col(qId), col(cId)),
          Seq(qId, cId), "left_semi").count()
        (np, nHit, nExact, 1000000L * nHit / nExact)
      }
      val chosen = rows.find(_._4 >= targetPpm).map(_._1)
        .getOrElse(rows.maxBy(r => (r._4, -r._1))._1)
      rows.map(r => (r._1, r._2, r._3, r._4, r._1 == chosen))
        .toDF("n_probe", "n_hit", "n_exact", "recall_ppm", "chosen")
    } finally GenStore.freeLocal(exact)
  }

  /** COMPLIANCE PURGE: physically erase the ids' bytes from every file
    * under the index when the call returns — the [[Purge]] contract on
    * the ANN store, composed from the lifecycle's own verbs plus the
    * surgery they cannot do alone: (1) [[tombstoneIvfPq]] +
    * [[compactIvfPqIndex]] make the deletes physical in the LIVE state
    * (and sweep any rows an earlier logical delete left on disk);
    * (2) [[vacuumIvfPqVersions]]`(keep = 1)` erases superseded index
    * VERSIONS wholesale (their corpora contain the subject);
    * (3) [[vacuumIvfPqData]]`(keepGens = 1)` truncates the catalog
    * history and the archived tombstone logs — the tombstone rows
    * themselves carry the purged ids, so the log archives are as
    * radioactive as the code rows, and a resolvable pre-purge snapshot
    * is exactly what compliance forbids; (4) a CELL-LEVEL SURGERY sweep
    * deletes every `cell=` subdirectory on disk that the (now sole)
    * CURRENT catalog does not reference — unreferenced subdirs inside
    * partially-live data directories are precisely where superseded
    * copies of the purged rows hide, from this compaction AND any
    * earlier one, and whole-directory vacuum cannot reach them. NOT
    * erased by design: the trained constants — centroids/codebooks are
    * k-means aggregates over a training sample, not row bytes; a regime
    * that treats learned aggregates as personal data re-trains via
    * [[rebuildIvfPqIndex]] on the post-purge corpus (and then vacuums
    * the old version). Re-run to completion after a crash (every leg is
    * idempotent or re-runnable); in-flight readers holding pre-purge
    * catalogs break — compliance wants the bytes gone NOW. Returns the
    * number of physical code rows erased.
    */
  def purgeIvfPqIds(ids: DataFrame, path: String,
                    cId: String = "nid"): Long = {
    val spark = ids.sparkSession
    val root = resolveIvfPqRoot(spark, path)
    val idsd = ids.select(col(cId)).distinct().localCheckpoint(true)
    val deleted =
      try readCodesTagged(spark, root)
        .join(idsd, Seq(cId), "left_semi").count()
      finally GenStore.freeLocal(idsd)
    // always run the full tail even when no physical row matched: an
    // EARLIER delete+compaction may have left the ids only in archived
    // catalogs/tombstone logs, which steps 2-4 are what erase
    tombstoneIvfPq(ids, path, cId)
    compactIvfPqIndex(spark, path, cId)
    vacuumIvfPqVersions(spark, path, keep = 1)
    vacuumIvfPqData(spark, path, keepGens = 1)
    // the ABANDONED pre-versioning flat layout: once a rebuild versioned
    // the index, the flat files at `path` are dead weight no reader
    // resolves through CURRENT — but they still hold the whole corpus,
    // so a purge erases them (this is exactly the "caller's explicit
    // call" [[vacuumIvfPqVersions]] reserves flat-layout removal for)
    if (root != path) {
      val pp = new org.apache.hadoop.fs.Path(path)
      val pfs = pp.getFileSystem(spark.sessionState.newHadoopConf())
      pfs.listStatus(pp).map(_.getPath.getName)
        .filter(n => n != "CURRENT" && !n.matches("v\\d+"))
        .foreach(n =>
          pfs.delete(new org.apache.hadoop.fs.Path(s"$path/$n"), true))
    }
    val cat = codesCatalogOf(spark, root)
    val live = cat.entries.map(e => (e._2, e._1)).toSet
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val top = fs.listStatus(p).filter(_.isDirectory)
      .map(_.getPath.getName).toSeq
    val dataDirs = top.filter(n => n == "codes" || n.matches("compact_g\\d+")) ++
      (if (!top.contains("appends")) Seq.empty
       else fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/appends"))
         .filter(_.isDirectory).map(s => s"appends/${s.getPath.getName}").toSeq)
    dataDirs.foreach { d =>
      listCellDirs(spark, s"$root/$d").filterNot(c => live((d, c)))
        .foreach(c => fs.delete(
          new org.apache.hadoop.fs.Path(s"$root/$d/cell=$c"), true))
    }
    // the history parents are empty now (keepGens = 1 retired every
    // archive) — drop the husks so nothing under the index even NAMES
    // the purged lineage
    Seq("tombhist", "catalogs").foreach { h =>
      val hp = new org.apache.hadoop.fs.Path(s"$root/$h")
      if (fs.exists(hp) && fs.listStatus(hp).isEmpty) fs.delete(hp, true)
    }
    deleted
  }

  /** QUANTIZATION-ERROR drift statistics — the policy knob behind
    * [[rebuildIvfPqIndex]] made measurable. The frozen-codebook trade
    * ([[appendToIvfPqIndex]]) degrades silently: if the increment's
    * distribution walks away from the training sample, its vectors
    * quantize WORSE (larger residual-to-code distance), ADC rankings
    * blur, and nothing in the serve path says so. This scores each
    * cohort's encoding error against the index's frozen constants:
    * per row, the squared L2 between every residual subspace slice and
    * its NEAREST sub-centroid (the exact error PQ encoding commits to),
    * floored to integer micro-units PER SUBSPACE so every aggregate
    * after that point is exact integer arithmetic — no double fold-order
    * anywhere (the adist discipline, hardened one level earlier).
    *
    * Returns one row per cohort: `(cohort, n_vecs, err_micro_total,
    * err_micro_avg)`. A drifting increment shows up as
    * `err_micro_avg(increment) >> err_micro_avg(base)` — the caller's
    * rebuild trigger. Scale shape: one distributed projection per row
    * (cell assign + m fused min-distance loops, all codegen — the
    * NearestCellDist sibling of the encode kernel), one broadcast of the
    * tiny centroid table, one cohort aggregate; the corpus never
    * shuffles and the index's code files are never read.
    */
  def ivfPqDriftStats(df: DataFrame, path: String, cohortCol: String,
                      cId: String = "nid", cVec: String = "ne"): DataFrame = {
    import org.apache.spark.sql.GraftShim.{column, expression}
    val spark = df.sparkSession
    import spark.implicits._
    val root = resolveIvfPqRoot(spark, path)
    val (cents, cbs) = loadIvfPqConstants(spark, root)
    val m = cbs.length
    val sub = cbs(0)(0).length
    val centroids = cents.zipWithIndex.map { case (v, i) => (i, v.toSeq) }
      .toSeq.toDF("cell", "cvec")
    val assigned = df.select(col(cohortCol).as("cohort"), col(cId), col(cVec),
      column(graft.expressions.NearestCell(expression(col(cVec)), cents)).as("cell"))
    val errRow = (0 until m).map { mi =>
      floor(column(graft.expressions.NearestCellDist(
        expression(slice(col("__rvec"), mi * sub + 1, sub)), cbs(mi)))
        * lit(1000000.0)).cast("long")
    }.reduce(_ + _)
    assigned.join(broadcast(centroids), "cell")
      .withColumn("__rvec",
        zip_with(col(cVec).cast("array<double>"), col("cvec"), (a, b) => a - b))
      .select(col("cohort"), errRow.as("err_micro"))
      .groupBy(col("cohort"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("err_micro")).as("err_micro_total"))
      .withColumn("err_micro_avg",
        expr("err_micro_total div n_vecs"))
  }

  /** ONLINE half: answer a query batch from a persisted `buildIvfPqIndex`
    * layout. The probe set is bounded (|queries| × nProbe), so the distinct
    * probed cell ids collect to the driver and push down as a STATIC
    * partition filter — the codes scan lists ONLY the probed `cell=`
    * directories, and the (tiny) per-(query, cell) ADC tables broadcast
    * into it: the encoded corpus is never shuffled, never re-encoded, and
    * never read outside the probed cells. Same ranking as `ivfPqTopK`
    * (ADC sum, ties on candidate id), so served results match the inline
    * operator exactly.
    *
    * `asOfGen = Some(g)`: TIME-TRAVEL serve — answer from the index
    * exactly as catalog generation `g` committed it, through the
    * `catalogs/<gen>` history ([[writeCodesCatalog]]) and the archived
    * tombstone logs ([[tombstonesOf]]'s as-of union): appends after `g`
    * are invisible, deletes after `g` have not happened yet (a
    * physically compacted-away row still SERVES as-of a pre-delete
    * generation — its old directory stays on disk until
    * [[vacuumIvfPqData]] retires that generation), and constants are
    * frozen per version so the replay is bit-exact. As-of resolution is
    * WITHIN the current version's lineage; serving an older REBUILT
    * version is just `serveIvfPq(path/v<N>)` directly. A vacuumed
    * generation fails loudly at catalog resolution.
    *
    * A WRITE-side rollback verb (the `GenStore.rollback` the snapshot
    * stores carry, q301/q302) is deliberately ABSENT for the index: the
    * tombstone log lives outside the catalog file, so a catalog-pointer
    * revert alone would leave post-target fences killing the very rows
    * the rollback restored. Undo for an index is therefore this read
    * path (`asOfGen`) for serving the old answer, or
    * [[rebuildIvfPqIndex]] over a time-traveled corpus for making it
    * the live state — the stores whose ledger and state share ONE
    * manifest are exactly the ones that can roll back by pointer.
    */
  def serveIvfPq(spark: org.apache.spark.sql.SparkSession, path: String,
                 queries: DataFrame, k: Int, nProbe: Int = 4,
                 qId: String = "qid", qVec: String = "qe",
                 cId: String = "nid",
                 asOfGen: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.GraftShim.{column, expression}
    import spark.implicits._
    // resolve ONCE: everything this serve reads (constants, codes,
    // tombstones) comes from the same resolved version — a concurrent
    // rebuild's manifest swap can never hand one query a mixed index
    val root = resolveIvfPqRoot(spark, path)
    val liveCat = codesCatalogOf(spark, root)
    val cat = asOfGen match {
      case None => liveCat
      case Some(g) if g == liveCat.gen => liveCat
      case Some(g) =>
        require(g < liveCat.gen,
          s"generation $g of $root is in the future (current is ${liveCat.gen})")
        readCodesCatalogAt(spark, root, g).getOrElse(
          throw new IllegalArgumentException(
            s"generation $g of $root is not retained — vacuumed, or the " +
              "index predates catalog history"))
    }
    val (cents, cbs) = loadIvfPqConstants(spark, root)
    val m = cbs.length
    val centroids = cents.zipWithIndex.map { case (v, i) => (i, v.toSeq) }
      .toSeq.toDF("cell", "cvec")

    val probed = broadcast(queries)
      .crossJoin(broadcast(centroids))
      .select(col(qId), col(qVec), col("cell"), col("cvec"),
        VectorFns.l2sq(col(qVec), col("cvec")).as("cdist"))
      .withColumn("crn", row_number().over(
        Window.partitionBy(col(qId)).orderBy(col("cdist"), col("cell"))))
      .filter(col("crn") <= nProbe)
      .select(col(qId), col("cell"),
        column(graft.expressions.PqDistTable(expression(
          zip_with(col(qVec).cast("array<double>"), col("cvec"), (a, b) => a - b)),
          cbs)).as("dt"))

    val cellsHit = probed.select(col("cell")).distinct().collect().map(_.getInt(0))
    val codesRaw = readCodesTagged(spark, root, cat)
      .where(col("cell").isin(cellsHit.map(Int.box): _*))
    // logical deletes ([[tombstoneIvfPq]]) drop out here, immediately and
    // broadcast-cheap, via the GENERATION FENCE: a row dies iff a
    // tombstone for its id fences STRICTLY after the row's directory
    // generation (a delete bumps the generation it fences at, so
    // strictness is what lets the crash-interleaved append that shares
    // the fence's generation survive) — a post-delete re-append serves
    // while every pre-delete copy stays hidden; [[compactIvfPqIndex]]
    // makes the deletes physical later
    val codes = tombstonesOf(spark, root, cId, asOfGen).fold(codesRaw)(t =>
      codesRaw.join(broadcast(t), Seq(cId), "left")
        .filter(col("__tgen").isNull || col("__tgen") <= col("__gen"))
        .drop("__tgen"))

    val adist = (0 until m).map { mi =>
      element_at(element_at(col("dt"), mi + 1), element_at(col("codes"), mi + 1) + 1)
    }.reduce(_ + _)
    val w = Window.partitionBy(col(qId)).orderBy(col("adist"), col(cId))
    broadcast(probed).join(codes, "cell")
      .filter(col(cId) =!= col(qId))
      .select(col(qId), col(cId), adist.as("adist"))
      // defense in depth against a double-live id (an update-by-append
      // outside the operator's contract): keep the CLOSER copy — min is
      // deterministic even when the copies' distances differ, where a
      // dropDuplicates would keep a partition-order-dependent one
      .groupBy(col(qId), col(cId)).agg(min(col("adist")).as("adist"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
  }

  /** Approximate top-k via nTables independent hyperplane-LSH bucketings.
    * All tables' buckets are computed in ONE scan per side (explode over a
    * per-table struct array) — a union of per-table scans would read the
    * input nTables times and multiply stage/codegen overhead.
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              nBits: Int = 6, nTables: Int = 4,
              qId: String = "qid", qVec: String = "qe",
              cId: String = "nid", cVec: String = "ne"): DataFrame = {
    def bucketed(df: DataFrame, vec: String, keep: Seq[String]): DataFrame =
      df.select(keep.map(col) :+ explode(array((0 until nTables).map { t =>
          struct(lit(t).as("tbl"),
            VectorFns.lshBucket(col(vec), nBits, seedBase = t * nBits).as("bkt"))
        }: _*)).as("__tb"): _*)
        .select(keep.map(col) :+ col("__tb.tbl").as("tbl") :+ col("__tb.bkt").as("bkt"): _*)

    val qb = bucketed(queries, qVec, Seq(qId, qVec))
    val cb = bucketed(corpus, cVec, Seq(cId, cVec))
    val cand = qb.join(cb, Seq("tbl", "bkt"))
      .filter(col(cId) =!= col(qId))
      .select(col(qId), col(cId), col(qVec), col(cVec))
      .dropDuplicates(qId, cId)
    val w = Window.partitionBy(col(qId)).orderBy(col("sim").desc, col(cId))
    cand
      .select(col(qId), col(cId), VectorFns.cosine(col(qVec), col(cVec)).as("sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
  }
}
