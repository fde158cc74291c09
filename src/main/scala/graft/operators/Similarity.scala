package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.GraftFunctions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Baseline: brute-force cosine top-k — a single narrow scan + distributed
  * `TakeOrderedAndProject` (orderBy+limit never global-sorts). Scale paths:
  * random-hyperplane LSH bucketing (`lshTopK`) and an IVF-style coarse
  * quantizer (`ivfTopK`) that prunes the scan to the `nProbe` nearest
  * centroid cells, the standard recall/cost dial for 100 TB corpora.
  */
object Similarity {

  /** Exact top-k by cosine for one query vector.
    * Plans as scan → project(score) → TakeOrderedAndProject: no shuffle of
    * the corpus, no global sort — the right physical shape at any scale. */
  def bruteForceTopK(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      query: Seq[Float],
      k: Int): DataFrame =
    corpus
      .withColumn("score", cosineSim(col(vecCol), typedLit(query)))
      .select(col(idCol), col("score"))
      .orderBy(desc("score"), col(idCol))
      .limit(k)

  /** Exact top-k for a (small, broadcastable) set of query rows.
    * Output: (query id, corpus id, score, rank<=k). */
  def crossTopK(
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    val scored = corpus.crossJoin(
      broadcast(queries.select(
        col(queryIdCol).as("query_id"), col(queryVecCol).as("query_vec"))))
      .withColumn("score", cosineSim(col(vecCol), col("query_vec")))
    val w = Window.partitionBy("query_id").orderBy(desc("score"), col(idCol))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col(idCol), col("score"), col("rank"))
  }

  /** Int8 symmetric per-vector quantization of an `array<float>` embedding
    * column: appends `q8` (array<tinyint>), `q8_scale` (the per-vector
    * dequant factor maxabs/127) and `q8_norm` (the reconstructed L2 norm).
    * 4x smaller at rest and in shuffle than float32 — at 100 TB the
    * embedding columns ARE the storage bill, and an int8 scan feeds 4x
    * more vectors per IO. Pure Column ops (codegen'd), no shuffle.
    *
    * Scoring: `cosineQ8` reconstructs cosine as
    * `dot_q8 * aScale * bScale / (aNorm * bNorm)` via the codegen'd
    * `dot_q8` kernel — error is bounded by the per-element rounding step
    * (scale/2), recall pinned in QuantizationSpec. */
  def quantizeI8(df: DataFrame, vecCol: String): DataFrame = {
    val reserved = Seq("q8", "q8_scale", "q8_norm")
    require(!reserved.exists(df.columns.contains),
      s"input already has one of ${reserved.mkString("/")}")
    df
      // 1e-30 floor: an all-zero vector quantizes to zeros with a real
      // scale instead of a 0/0 NaN
      .withColumn("q8_scale",
        greatest(array_max(transform(col(vecCol), x => abs(x))), lit(1e-30))
          .cast("double") / lit(127.0))
      .withColumn("q8", transform(col(vecCol),
        // |x| <= 127*scale by construction, so round stays in [-127, 127]
        x => round(x.cast("double") / col("q8_scale")).cast("byte")))
      .withColumn("q8_norm",
        col("q8_scale") * sqrt(aggregate(col("q8"),
          lit(0.0),
          (acc, q) => acc + q.cast("double") * q.cast("double"))))
  }

  /** Reconstructed cosine between two quantized vectors (see quantizeI8):
    * columns are (q8, scale, norm) per side. Zero-norm guard matches
    * `cosine_sim`'s convention (score 0). */
  def cosineQ8(aQ8: Column, aScale: Column, aNorm: Column,
      bQ8: Column, bScale: Column, bNorm: Column): Column =
    when(aNorm === 0.0 || bNorm === 0.0, lit(0.0))
      .otherwise(dotQ8(aQ8, bQ8).cast("double") * aScale * bScale /
        (aNorm * bNorm))

  /** Deterministic random hyperplanes: tables × bits vectors of ±1/0.3-ish
    * gaussians from a seeded PRNG, broadcast as literals (driver-side
    * constants, executor-side pure math — no shuffle). */
  private[operators] def hyperplanes(
      dim: Int, bits: Int, tables: Int, seed: Long): Array[Array[Array[Float]]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(tables, bits, dim)((rnd.nextGaussian()).toFloat)
  }

  /** Engine-portable Rademacher (±1) hyperplanes, md5-derived per
    * (table, bit, component) — the derandomized family a SQL oracle can
    * reconstruct exactly (sign hyperplanes are a valid signed-random-
    * projection LSH; Achlioptas-style sparse/sign projections). The
    * per-bit dot `Σ ±v_i` is a sequential double sum in both the
    * [[graft.functions.DotProduct]] loop and DuckDB's `list_sum`, so the
    * BUCKETS match bit-for-bit cross-engine (verified empirically: 12k/12k
    * signed sums identical at sf0.01). */
  def portableHyperplanes(
      dim: Int, bits: Int, tables: Int): Array[Array[Array[Float]]] =
    Array.tabulate(tables, bits, dim)((t, b, i) =>
      if (Dedup.md5_32(s"p${t}_${b}_$i") % 2 == 0) 1f else -1f)

  /** Adds `lsh_buckets`: array<struct<band:int, bucket:long>> — one signed
    * random-projection bucket per table. */
  def withLshBuckets(
      df: DataFrame,
      vecCol: String,
      dim: Int,
      bits: Int,
      tables: Int,
      seed: Long): DataFrame =
    withLshBucketsPlanes(df, vecCol, hyperplanes(dim, bits, tables, seed))

  /** [[withLshBuckets]] over explicit hyperplanes (seeded gaussian or
    * [[portableHyperplanes]]). One compact Catalyst expression computes
    * every table's bucket (see [[graft.functions.LshBuckets]] for why the
    * previous tables×bits Column composition had to go: janino refused its
    * generated code once a predicate duplicated it, dropping whole stages
    * to interpreted execution). Buckets are bit-identical to the old form
    * FOR NON-NULL VECTORS; a NULL vector now yields a NULL bucket array
    * (null-intolerant expression) where the old Column form produced a
    * bucket of 0 bits, so null-vector rows drop out of candidate joins —
    * the intended semantics (a row with no embedding has no neighbors). */
  def withLshBucketsPlanes(
      df: DataFrame,
      vecCol: String,
      planes: Array[Array[Array[Float]]]): DataFrame =
    df.withColumn("lsh_buckets", lshBuckets(col(vecCol), planes))

  /** Approximate top-k: score only corpus rows sharing an LSH bucket with
    * the query in any table. Recall rises with `tables`, cost falls with
    * `bits`. */
  def lshTopK(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      query: Seq[Float],
      k: Int,
      bits: Int = 8,
      tables: Int = 4,
      seed: Long = 42L): DataFrame =
    lshTopKPlanes(corpus, idCol, vecCol, query, k,
      hyperplanes(dim, bits, tables, seed))

  /** [[lshTopK]] over explicit hyperplanes (seeded gaussian or
    * [[portableHyperplanes]] for oracle-replayable lanes). */
  def lshTopKPlanes(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      query: Seq[Float],
      k: Int,
      planes: Array[Array[Array[Float]]]): DataFrame = {
    val tables = planes.length
    val bits = planes.head.length
    def bucketOf(vec: Seq[Float], t: Int): Long = {
      var acc = 0L
      var b = 0
      while (b < bits) {
        var dot = 0.0
        var i = 0
        val p = planes(t)(b)
        val n = math.min(p.length, vec.length)
        while (i < n) { dot += p(i).toDouble * vec(i).toDouble; i += 1 }
        if (dot >= 0) acc |= (1L << b)
        b += 1
      }
      acc
    }
    val queryBuckets = (0 until tables).map(t => (t, bucketOf(query, t)))

    // ONE corpus scan: a row is a candidate if it collides with the query
    // in ANY table. A single arrays_overlap against the (foldable) query
    // bucket set references lsh_buckets ONCE — a per-table array_contains
    // disjunction made predicate pushdown substitute the whole bucket
    // computation into each branch (tables× recompute per row)
    val bucketed = withLshBucketsPlanes(corpus, vecCol, planes)
    val queryBucketSet = array(queryBuckets.map { case (t, qb) =>
      struct(lit(t).as("band"), lit(qb).as("bucket"))
    }: _*)
    val anyCollision = arrays_overlap(col("lsh_buckets"), queryBucketSet)

    bucketed.filter(anyCollision)
      .withColumn("score", cosineSim(col(vecCol), typedLit(query)))
      .select(col(idCol), col("score"))
      .orderBy(desc("score"), col(idCol))
      .limit(k)
  }

  /** Approximate kNN-GRAPH: the k nearest neighbors of EVERY corpus row —
    * the primitive behind semantic dedup clustering, diversity sampling
    * and graph-based ANN indexes. Exact construction is N² cosine evals;
    * here candidates are limited to rows sharing an LSH bucket
    * ([[graft.operators.Dedup.embeddingNearDup]]'s capped bucket join, so
    * worst-case work is bounded by `maxBucketSize`), then ranked per id.
    * The per-id rank window is safe at scale because its input is bounded
    * by tables × maxBucketSize candidates per id, not by corpus size.
    * Output: (id, neighbor_id, score, rank), rank 1..k by falling cosine.
    * Recall rises with `tables` and falls with `bits` (bigger buckets =
    * more candidates); rows whose every bucket is empty of others simply
    * have no rows here — at high `tables` that means genuine outliers. */
  def knnJoin(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      k: Int,
      bits: Int = 8,
      tables: Int = 4,
      seed: Long = 42L,
      maxBucketSize: Int = 10000,
      // int8 candidate exchange (see Dedup.embeddingNearDup): 4x smaller
      // pair shuffle, |Δcos| ≲ 0.01 — neighbor RANKS may swap within that
      // band; recall bound pinned in QuantizationSpec
      quantized: Boolean = false): DataFrame =
    knnFromPairs(
      Dedup.embeddingNearDup(
        corpus, idCol, vecCol, dim, cosThreshold = -2.0,
        bitsPerTable = bits, tables = tables, seed = seed,
        maxBucketSize = maxBucketSize, quantized = quantized),
      k)

  /** Per-id neighbor ranking over an (id_a, id_b, cos) candidate-pair
    * frame — the second half of [[knnJoin]], exposed so a verification
    * lane can swap the hyperplane family ([[portableHyperplanes]] +
    * [[graft.operators.Dedup.nearDupFromBuckets]]) while exercising the
    * same symmetric fan-out and rank window. */
  def knnFromPairs(pairs: DataFrame, k: Int): DataFrame = {
    // each undirected candidate pair feeds both endpoints' neighbor lists
    val sym = pairs
      .select(col("id_a").as("id"), col("id_b").as("neighbor_id"),
        col("cos").as("score"))
      .unionByName(pairs.select(col("id_b").as("id"),
        col("id_a").as("neighbor_id"), col("cos").as("score")))
    val w = Window.partitionBy("id").orderBy(desc("score"), col("neighbor_id"))
    sym
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Hard-negative mining for contrastive training: for each anchor, the
    * `k` most-similar corpus rows that are NOT its gold positives (the
    * anchor itself is never a candidate — the kNN graph has no self
    * pairs). Near-misses are what make contrastive losses learn; random
    * negatives are trivially separable.
    *
    * Built on the capped LSH kNN graph with `headroom` extra candidates
    * per anchor, so anchors whose top list is crowded with positives
    * still yield `k` negatives (an anchor with more than `headroom`
    * positives among its nearest neighbors may come up short — raise
    * `headroom` for dense duplicate clusters). Same bounded shapes as
    * `knnJoin`: no all-pairs, per-bucket cap, per-anchor rank window.
    *
    * @param positives gold (anchorCol, positiveCol) pairs to exclude —
    *                  excluded in BOTH orientations; only ids appearing
    *                  as anchors get a negative list
    * @return (id, negative_id, score, neg_rank<=k), one group per anchor */
  def hardNegatives(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      positives: DataFrame,
      anchorCol: String,
      positiveCol: String,
      k: Int,
      headroom: Int = 8,
      bits: Int = 8,
      tables: Int = 4,
      seed: Long = 42L,
      maxBucketSize: Int = 10000,
      // int8 candidate exchange (see knnJoin): negatives are ranked by a
      // score within ~0.01 of float cosine — immaterial for contrastive
      // mining, 4x less pair shuffle
      quantized: Boolean = false): DataFrame = {
    require(k > 0 && headroom >= 0, "k must be positive, headroom >= 0")
    val knn = knnJoin(corpus, idCol, vecCol, dim, k + headroom,
      bits, tables, seed, maxBucketSize, quantized)
    // only ANCHOR rows get negative lists, and gold pairs are excluded in
    // BOTH orientations: without the symmetric union, a positive P of
    // anchor A would rank A (cosine ~1) as P's own top "negative" — a
    // contrastive loss fed that list trains gold pairs apart
    val anchors = positives.select(col(anchorCol).as("id")).distinct()
    val gold = positives
      .select(col(anchorCol).as("id"), col(positiveCol).as("neighbor_id"))
      .unionByName(positives
        .select(col(positiveCol).as("id"), col(anchorCol).as("neighbor_id")))
    val w = Window.partitionBy("id").orderBy(desc("score"), col("neighbor_id"))
    knn
      .join(anchors, Seq("id"), "left_semi")
      .join(gold, Seq("id", "neighbor_id"), "left_anti")
      .withColumn("neg_rank", row_number().over(w))
      .filter(col("neg_rank") <= k)
      .select(col("id"), col("neighbor_id").as("negative_id"),
        col("score"), col("neg_rank"))
  }

  /** IVF-style ANN: assign every corpus row to its nearest of `nCells`
    * coarse centroids (deterministically sampled from the corpus itself),
    * then serve a query by scanning only the `nProbe` cells whose centroids
    * are closest to it. `assignCells` is the expensive one-off build step
    * (persist its output); `probe` is the cheap query step. */
  object Ivf {
    /** Deterministic coarse centroids: the nCells rows with the smallest
      * xxhash64(id) — a seed-stable uniform sample requiring one pass. */
    def centroids(
        corpus: DataFrame, idCol: String, vecCol: String, nCells: Int): DataFrame =
      centroidsBy(corpus, idCol, vecCol, nCells, xxhash64(col(idCol)))

    /** [[centroids]] with the sample key replaced by md5-32 of the id's
      * string form — an engine-portable uniform sample a SQL oracle can
      * replay exactly (`('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 8))
      * ::BIGINT`), same technique as the dedup family's portable
      * signatures. Use for verification lanes; `centroids` (xxhash64,
      * no md5 cost) is the production default. */
    def portableCentroids(
        corpus: DataFrame, idCol: String, vecCol: String, nCells: Int): DataFrame =
      centroidsBy(corpus, idCol, vecCol, nCells,
        graft.functions.PortableHash.h32(col(idCol).cast("string")))

    private def centroidsBy(
        corpus: DataFrame, idCol: String, vecCol: String, nCells: Int,
        sampleKey: Column): DataFrame =
      corpus
        .select(col(idCol), col(vecCol))
        .orderBy(sampleKey, col(idCol))
        .limit(nCells)
        // unpartitioned window over the limit(nCells) frame — tiny task
        .withColumn("cell", row_number().over(
          Window.orderBy(sampleKey, col(idCol))) - 1)
        .select(col("cell"), col(vecCol).as("centroid"))

    /** Spherical k-means refinement of the coarse centroids (Lloyd
      * iterations): assign → per-cell element-wise mean via posexplode →
      * L2-normalize. Each iteration is one broadcast join + two shuffles
      * keyed (cell, pos) / (cell); centroid count stays driver-side tiny.
      * Cells that lose every member keep their previous centroid. */
    def trainCentroids(
        corpus: DataFrame,
        idCol: String,
        vecCol: String,
        nCells: Int,
        iters: Int = 5): DataFrame = {
      var cents = centroids(corpus, idCol, vecCol, nCells)
      for (_ <- 1 to iters) {
        val assigned = assignCells(corpus, idCol, vecCol, cents)
        // element-wise mean via the VectorAvg UDAF: one hash aggregation,
        // no dim× posexplode shuffle
        val means = assigned
          .groupBy(col("cell"))
          .agg(graft.functions.VectorAvg.vectorAvg(col(vecCol)).as("mean"))
        val norm = aggregate(col("mean"), lit(0.0d),
          (acc, x) => acc + x.cast("double") * x.cast("double"))
        val updated = means
          .withColumn("norm", sqrt(norm))
          .withColumn("centroid",
            when(col("norm") > 0.0,
              transform(col("mean"), x => (x.cast("double") / col("norm")).cast("float")))
              .otherwise(col("mean")))
          .select(col("cell"), col("centroid"))
        cents = cents.select(col("cell"), col("centroid").as("prev"))
          .join(updated, Seq("cell"), "left_outer")
          .select(col("cell"), coalesce(col("centroid"), col("prev")).as("centroid"))
          .localCheckpoint()
      }
      cents
    }

    /** Lloyd's k-means in EXACT integer micro-units — the
      * oracle-replayable twin of [[trainCentroids]], and the clustering
      * step SemDeDup-style semantic dedup / cluster-balanced sampling
      * pipelines run before their per-cell work. Elements quantize ONCE
      * to `floor(x·1e6 + 0.5)` longs (the [[graft.functions.VectorAvgExact]]
      * quantization); distance is squared Euclidean over those longs
      * (exact: micro magnitudes ~1e6 over ≤ thousands of dims stay far
      * below 2⁶³); centroid updates are the VectorAvgExact floor-div
      * mean; argmin ties break by cell, emptied cells carry their
      * previous centroid, and init is the md5-sampled portable rows —
      * every step replays bit-for-bit in SQL.
      *
      * Scale (the MLlib shape): centroids live on the DRIVER — k·dim
      * longs, bounded by construction — and each iteration inlines them
      * as literals, so assignment is a pure codegen projection (argmin
      * over a k-struct array; no join, no corpus shuffle) and the
      * centroid update is one partial-aggregable hash agg keyed by cell
      * whose exchange carries only k×dim partial buffers per partition.
      * The per-iteration k-row collect is the loop's only driver
      * traffic. Keep k modest (≲ a few hundred): the assignment
      * expression embeds k·dim literal constants. Output: one more
      * literal-assign pass, (idCol, cell, d2).
      */
    /** `floor(x·1e6 + 0.5)` long quantization of a float-array column —
      * the ONE integer-vector quantization shared by the exact k-means /
      * PQ / projection family (the [[graft.functions.VectorAvgExact]]
      * convention; `CAST(floor(x*1000000+0.5) AS BIGINT)` in SQL). */
    private[graft] def microVec(vecCol: Column): Column =
      transform(vecCol,
        x => floor(x.cast("double") * lit(1000000.0) + lit(0.5))
          .cast("long"))

    /** Argmin over driver-held integer centroids as ONE array_min of
      * (d2, cell) structs — ties to the lower cell by struct ordering.
      * `vMicro` must be an ATTRIBUTE (aliased micro-vector column). */
    private def bestCell(
        vMicro: Column, cents: Seq[(Long, Seq[Long])]): Column =
      array_min(array(cents.map { case (cell, c) =>
        struct(
          aggregate(zip_with(vMicro, typedLit(c),
            (a, b) => (a - b) * (a - b)), lit(0L), (acc, x) => acc + x)
            .as("d2"),
          lit(cell).as("cell"))
      }: _*))

    /** The integer-Lloyd training loop of [[kMeansAssignInt]], shared
      * with [[pqEncodeInt]]: md5-sampled init, `iters` argmin-assign /
      * VectorAvgExact-update rounds, emptied cells carrying over.
      * `micro` must provide (idCol, vecCol float array, "__v" micro
      * longs). Empty corpus → empty Seq. */
    private def trainKMeansInt(
        micro: DataFrame,
        idCol: String,
        vecCol: String,
        k: Int,
        iters: Int): Seq[(Long, Seq[Long])] = {
      val sampleKey = graft.functions.PortableHash.h32(col(idCol).cast("string"))
      var cents: Seq[(Long, Seq[Long])] = micro
        .orderBy(sampleKey, col(idCol))
        .limit(k) // k rows: driver-sized by construction
        .select(col("__v"))
        .collect().toSeq
        .zipWithIndex.map { case (r, c) => (c.toLong, r.getSeq[Long](0)) }
      if (cents.isEmpty) return Seq.empty
      for (_ <- 1 to iters) {
        val updated = micro
          .select(col(vecCol), bestCell(col("__v"), cents)
            .getField("cell").as("cell"))
          .groupBy(col("cell"))
          .agg(graft.functions.VectorAvgExact.vectorAvgExact(col(vecCol))
            .as("nc"))
          .collect() // k rows
          .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
        cents = cents.map { case (cell, prev) =>
          (cell, updated.getOrElse(cell, prev)) // emptied cells carry over
        }
      }
      cents
    }

    def kMeansAssignInt(
        corpus: DataFrame,
        idCol: String,
        vecCol: String,
        k: Int,
        iters: Int): DataFrame = {
      require(k > 0, "k must be positive")
      require(iters >= 0, "iters must be non-negative")
      val micro = corpus.select(col(idCol), col(vecCol),
        microVec(col(vecCol)).as("__v"))
      val cents = trainKMeansInt(micro, idCol, vecCol, k, iters)
      // empty corpus: no centroids to argmin over (a zero-element struct
      // array fails analysis) — the empty assignment frame is the answer
      if (cents.isEmpty)
        return micro.select(col(idCol), lit(0L).as("cell"), lit(0L).as("d2"))
          .limit(0)
      micro
        .select(col(idCol), bestCell(col("__v"), cents).as("__best"))
        .select(col(idCol), col("__best.cell").as("cell"),
          col("__best.d2").as("d2"))
    }

    /** Product quantization encode (Jégou/Douze/Schmid TPAMI 2011,
      * "Product quantization for nearest neighbor search"): the vector
      * splits into `m` contiguous `subDim`-dim subspaces, each trained
      * with its own integer-Lloyd codebook ([[trainKMeansInt]] — same
      * md5-sampled init, exact micro-unit arithmetic, so the whole
      * encode replays bit-for-bit in SQL), and the code word is the
      * per-subspace argmin cell. `m·log2(k)` bits replace `dim` floats —
      * THE memory path for billion-vector ANN: an ADC scan reads codes
      * plus an `m·k` lookup table instead of raw vectors.
      *
      * Scale (the km01 story, ×m): all m codebooks are driver-held
      * literals, so the encode is ONE pure codegen projection — no join,
      * no corpus shuffle at any scale; training costs m·(iters+1)
      * bounded-size aggregations over the lazily-checkpointed input.
      *
      * Output: (idCol, code0..code{m-1}, d2_total) — d2_total the exact
      * integer reconstruction error (sum of subspace argmin distances),
      * the quantization-quality metric PQ papers report. */
    /** Train the `m` per-subspace integer codebooks of the PQ family
      * over an (eagerly) checkpointed (idCol, vecCol) frame — shared by
      * [[pqEncodeInt]] and [[pqTopK]]. Cells are 0..k-1 in sample order
      * within each subspace. */
    private def trainSubCodebooks(
        base: DataFrame,
        idCol: String,
        vecCol: String,
        m: Int,
        subDim: Int,
        k: Int,
        iters: Int): Seq[Seq[(Long, Seq[Long])]] = {
      def subRaw(s: Int) = slice(col(vecCol), s * subDim + 1, subDim)
      def trainOne(s: Int) =
        trainKMeansInt(
          base.select(col(idCol), subRaw(s).as("__sub"),
            microVec(subRaw(s)).as("__v")),
          idCol, "__sub", k, iters)
      if (m == 1) return Seq(trainOne(0))
      // the m subspace trainings are mutually independent pure functions
      // of the checkpointed base, and each runs (iters+1) small driver
      // actions — sequentially, m·(iters+1) latency-bound round trips;
      // on a bounded pool the subspaces train CONCURRENTLY (guide §2.6),
      // one job group so a failed sibling cancels the rest. Results are
      // per-subspace deterministic, so thread order cannot change them.
      val sc = base.sparkSession.sparkContext
      val groupId = "graft-pqtrain-" +
        java.util.UUID.randomUUID().toString.take(8)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(m, 4))
      try {
        val futures = (0 until m).map { s =>
          pool.submit(
            new java.util.concurrent.Callable[Seq[(Long, Seq[Long])]] {
              override def call(): Seq[(Long, Seq[Long])] = {
                sc.setJobGroup(groupId, s"graft: pq train subspace $s",
                  interruptOnCancel = true)
                try trainOne(s) finally sc.clearJobGroup()
              }
            })
        }
        try futures.map(_.get())
        catch {
          case e: Throwable =>
            sc.cancelJobGroup(groupId)
            pool.shutdownNow()
            pool.awaitTermination(60, java.util.concurrent.TimeUnit.SECONDS)
            throw e
        }
      } finally pool.shutdown()
    }

    /** Train PQ codebooks over a (batch) corpus and return them as
      * driver values — the training half of [[pqEncodeInt]], exposed so
      * a STREAM of arriving vectors can be encoded against a static
      * corpus's codebooks (`[[pqEncodeWith]]` is a pure projection,
      * streaming-legal). Any empty subspace codebook (empty corpus)
      * comes back as an empty Seq in its slot. */
    def pqTrain(
        corpus: DataFrame,
        idCol: String,
        vecCol: String,
        m: Int = 4,
        subDim: Int = 16,
        k: Int = 8,
        iters: Int = 2): Seq[Seq[(Long, Seq[Long])]] = {
      require(m >= 1, "need at least one subspace")
      require(subDim >= 1, "subspaces must be non-empty")
      require(k > 0, "k must be positive")
      require(iters >= 0, "iters must be non-negative")
      // eager: training drives m·(iters+1) driver actions over this frame
      val base = corpus.select(col(idCol), col(vecCol)).localCheckpoint()
      trainSubCodebooks(base, idCol, vecCol, m, subDim, k, iters)
    }

    /** Encode against PRECOMPUTED codebooks: one literal-codebook codegen
      * projection — no action, no shuffle, legal on batch AND streaming
      * frames (the stream-static shape: train on the static corpus via
      * [[pqTrain]], encode arrivals forever). Output as [[pqEncodeInt]]. */
    def pqEncodeWith(
        df: DataFrame,
        idCol: String,
        vecCol: String,
        codebooks: Seq[Seq[(Long, Seq[Long])]],
        subDim: Int): DataFrame = {
      require(codebooks.nonEmpty && codebooks.forall(_.nonEmpty),
        "codebooks must be non-empty for every subspace")
      val m = codebooks.length
      def subRaw(s: Int) = slice(col(vecCol), s * subDim + 1, subDim)
      val staged = df.select(col(idCol) +:
        (0 until m).map(s => microVec(subRaw(s)).as(s"__v$s")): _*)
      val scored = staged.select(col(idCol) +:
        (0 until m).map(s =>
          bestCell(col(s"__v$s"), codebooks(s)).as(s"__b$s")): _*)
      scored.select(col(idCol) +:
        (0 until m).map(s => col(s"__b$s")("cell").as(s"code$s")) :+
        (0 until m).map(s => col(s"__b$s")("d2")).reduce(_ + _)
          .as("d2_total"): _*)
    }

    def pqEncodeInt(
        corpus: DataFrame,
        idCol: String,
        vecCol: String,
        m: Int = 4,
        subDim: Int = 16,
        k: Int = 8,
        iters: Int = 2): DataFrame = {
      val codebooks = pqTrain(corpus, idCol, vecCol, m, subDim, k, iters)
      if (codebooks.exists(_.isEmpty))
        return corpus.select(
          col(idCol) +:
            (0 until m).map(s => lit(0L).as(s"code$s")) :+
            lit(0L).as("d2_total"): _*)
          .limit(0)
      pqEncodeWith(corpus, idCol, vecCol, codebooks, subDim)
    }

    /** PQ asymmetric-distance top-k (ADC — Jégou et al. TPAMI 2011 §4.3):
      * score every corpus vector against `query` through its PQ codes —
      * `adc_d2 = Σ_s table_s[code_s]` where `table_s[c]` is the exact
      * integer distance from the query's s-th subvector to codebook cell
      * c. THE query path PQ exists for: at 100 TB the scan reads codes
      * (m·log2(k) bits/vector) plus an m·k driver-built lookup table —
      * never the raw vectors.
      *
      * Everything is exact micro-unit long arithmetic over the
      * [[trainSubCodebooks]] codebooks, so the ranking replays
      * bit-for-bit in SQL. `exact_d2` (the true full-width distance)
      * rides in the same row — the ADC approximation error is readable
      * off the output, the self-verifying-column convention of the ANN
      * family.
      *
      * Plan: codebooks AND the lookup tables are driver literals, so
      * scoring is one codegen projection and the top-k plans as
      * TakeOrderedAndProject — no join, no corpus shuffle. */
    def pqTopK(
        corpus: DataFrame,
        idCol: String,
        vecCol: String,
        query: Seq[Float],
        k: Int = 10,
        m: Int = 4,
        subDim: Int = 16,
        kCode: Int = 8,
        iters: Int = 2): DataFrame = {
      require(m >= 1 && subDim >= 1, "subspaces must be non-empty")
      require(query.length == m * subDim, "query/codebook dims disagree")
      require(k >= 1 && kCode >= 1, "k and kCode must be positive")
      require(iters >= 0, "iters must be non-negative")
      val base = corpus.select(col(idCol), col(vecCol)).localCheckpoint()
      def subRaw(s: Int) = slice(col(vecCol), s * subDim + 1, subDim)
      val codebooks =
        trainSubCodebooks(base, idCol, vecCol, m, subDim, kCode, iters)
      if (codebooks.exists(_.isEmpty))
        return base.select(col(idCol), lit(0L).as("adc_d2"),
          lit(0L).as("exact_d2")).limit(0)
      val qm = query.map(x => math.floor(x.toDouble * 1e6 + 0.5).toLong)
      // ADC lookup tables: m·kCode exact longs, cells 0..kCode-1 in order
      val tables: Seq[Seq[Long]] = (0 until m).map { s =>
        codebooks(s).sortBy(_._1).map { case (_, cent) =>
          cent.zipWithIndex.map { case (cv, i) =>
            val d = qm(s * subDim + i) - cv; d * d
          }.sum
        }
      }
      val staged = base.select(
        col(idCol) +: microVec(col(vecCol)).as("__vq") +:
          (0 until m).map(s => microVec(subRaw(s)).as(s"__v$s")): _*)
      val adc = (0 until m).map { s =>
        element_at(typedLit(tables(s)),
          bestCell(col(s"__v$s"), codebooks(s))("cell").cast("int") + 1)
      }.reduce(_ + _)
      val exact = aggregate(zip_with(col("__vq"), typedLit(qm),
        (a, b) => (a - b) * (a - b)), lit(0L), (acc, x) => acc + x)
      staged
        .select(col(idCol), adc.as("adc_d2"), exact.as("exact_d2"))
        .orderBy(col("adc_d2"), col(idCol))
        .limit(k)
    }

    /** Johnson–Lindenstrauss random projection with ±1 signs (Achlioptas
      * JCSS 2003, "Database-friendly random projections"): project the
      * micro-quantized vector onto `outDim` md5-derived sign rows —
      * `y_j = Σ_i sign(md5("salt-j-i")) · round(x_i·1e6)` — EXACT long
      * arithmetic, so the projection is merge-order independent and
      * replays bit-for-bit in SQL (the dimensionality-reduction front of
      * the ANN family: cut 64 dims to 16 before clustering/LSH at a
      * √(outDim/inDim)-factor distance distortion).
      *
      * Scale: the sign matrix is an `outDim×inDim` literal — the whole
      * projection is one codegen projection + posexplode, zero shuffle.
      *
      * Output: (idCol, dim 0..outDim-1, y_micro), `outDim` rows per
      * input row. */
    def randomProjectInt(
        corpus: DataFrame,
        idCol: String,
        vecCol: String,
        inDim: Int,
        outDim: Int,
        salt: String): DataFrame = {
      require(inDim >= 1 && outDim >= 1, "dimensions must be positive")
      val signs: Seq[Seq[Long]] = (0 until outDim).map { j =>
        (0 until inDim).map { i =>
          if (graft.functions.PortableHash.md5_32(s"$salt-$j-$i") % 2 == 0) 1L
          else -1L
        }
      }
      val staged = corpus.select(col(idCol), microVec(col(vecCol)).as("__v"))
      val ys = (0 until outDim).map { j =>
        aggregate(zip_with(col("__v"), typedLit(signs(j)), (a, b) => a * b),
          lit(0L), (acc, x) => acc + x)
      }
      staged
        .select(col(idCol), posexplode(array(ys: _*)).as(Seq("dim", "y_micro")))
        .select(col(idCol), col("dim").cast("long").as("dim"), col("y_micro"))
    }

    /** Nearest-centroid assignment as an ARGMAX AGGREGATION: broadcast
      * the centroids, score corpus×cells map-side, then `min(struct(
      * -score, cell, vec))` per id — a partial-aggregable hash agg that
      * shuffles one row per corpus id. (The previous window-sort shape
      * shuffled corpus×nCells rows just to pick one max — ×nCells
      * amplification at exactly the corpus sizes IVF exists for.)
      * Tie-break: highest score, then lowest cell — same as the window
      * shape. (Zero-norm centroids score 0.0, not NaN — cosineSim guards
      * that; a NaN score would need NaN-valued embedding elements, and
      * under min(-score) such a cell loses to any real score, where the
      * old desc sort would have ranked it first.) */
    def assignCells(
        corpus: DataFrame,
        idCol: String,
        vecCol: String,
        cents: DataFrame): DataFrame =
      corpus
        .crossJoin(broadcast(cents))
        .withColumn("cscore", cosineSim(col(vecCol), col("centroid")))
        .groupBy(col(idCol))
        .agg(min(struct(
          (-col("cscore")).as("ns"), col("cell").as("cell"),
          col(vecCol).as("vec"))).as("best"))
        .select(col(idCol), col("best.vec").as(vecCol), col("best.cell").as("cell"))

    def probe(
        assigned: DataFrame,
        idCol: String,
        vecCol: String,
        cents: DataFrame,
        query: Seq[Float],
        k: Int,
        nProbe: Int): DataFrame = {
      val probeCells = cents
        .withColumn("qscore", cosineSim(col("centroid"), typedLit(query)))
        .orderBy(desc("qscore"), col("cell"))
        .limit(nProbe)
        .select("cell")
      assigned
        .join(broadcast(probeCells), "cell")
        .withColumn("score", cosineSim(col(vecCol), typedLit(query)))
        .select(col(idCol), col("score"))
        .orderBy(desc("score"), col(idCol))
        .limit(k)
    }
  }
}
