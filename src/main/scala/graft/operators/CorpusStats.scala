package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Corpus-level statistics for training-data curation: unigram language-model
  * surprisal (a KenLM-style quality signal), tf-idf salient terms, n-gram
  * document frequency with a boilerplate score, and cross-document
  * boilerplate-line removal (the C4/CCNet "remove lines seen in many
  * documents" pass).
  *
  * Scale design, shared across the family:
  *   - the only things that ever shuffle are 8-byte hashes, ids, and small
  *     aggregates — document text stays inside its scan task (the one
  *     exception is [[removeBoilerplateLines]]'s final doc-granular join,
  *     where the right side holds only documents that contain at least one
  *     boilerplate line and is broadcast-eligible under AQE);
  *   - every groupBy is a plain sum/count/max, so Spark's partial (map-side)
  *     aggregation collapses per-task volume before the exchange;
  *   - model tables (vocabulary, document frequency) are bounded — by an
  *     explicit top-K cap for the LM vocabulary, and by corpus vocabulary
  *     (not corpus size) for tf-idf/DF — and joined to token streams where
  *     AQE picks a broadcast when they fit;
  *   - score outputs are exact integers (micro-units via per-token rounding,
  *     permilles via floor division), never re-associated floating sums, so
  *     results are deterministic across partitionings and engines.
  *
  * All scores are pure Column compositions of codegen'd built-ins — no UDFs.
  */
object CorpusStats {

  /** Integer division on non-negative long columns — delegates to the
    * ONE shared definition ([[TextFunctions.ldiv]]). */
  private def ldiv(a: Column, b: Column): Column =
    TextFunctions.ldiv(a, b)

  /** Non-empty whitespace tokens of lower-cased text, one row per
    * occurrence: the shared first stage of the corpus models. */
  private def tokenStream(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame =
    docs
      .select(col(idCol), explode(TextFunctions.tokens(col(textCol))).as("tok"))
      .filter(length(col("tok")) > 0)

  /** Corpus-wide token counts (the classic wordcount; map-side combined). */
  def termCounts(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    tokenStream(docs, idCol, textCol).groupBy("tok").agg(count(lit(1)).as("c"))

  /** EXACT top-k most frequent tokens at bounded shuffle — the heavy-
    * hitter shape for corpora whose vocabulary is too large to groupBy
    * whole (100 TB of web text shuffles billions of distinct tokens; the
    * top-k needs only the few that matter).
    *
    * Two passes over the token stream:
    *   1. a per-partition Misra–Gries summary of `capacity` counters
    *      (genuinely imperative per-partition streaming state — the one
    *      mapPartitions in this file). Each partition emits at most
    *      `capacity` candidate tokens plus its token count; nothing else
    *      shuffles.
    *   2. an EXACT recount of the candidate union only (broadcast
    *      semi-join, then a partial-aggregable count).
    *
    * Exactness is certified, not hoped for: Misra–Gries guarantees every
    * token with global count > N/(capacity+1) survives some partition's
    * summary (pigeonhole over partitions), so when the k-th recounted
    * candidate strictly exceeds N/(capacity+1), no non-candidate can
    * belong to the true top-k and the result equals the full-vocabulary
    * groupBy. The operator REQUIRES that certificate and fails fast with
    * a "raise capacity" message otherwise — it never silently returns an
    * approximate answer. Output: (token, n_occurrences), count-desc then
    * token-asc, exactly k rows (driver-sized by construction). */
  def heavyHitters(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 20,
      capacity: Int = 1024): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(capacity >= k, "capacity below k cannot certify a top-k")
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = tokenStream(docs, idCol, textCol).select(col("tok"))
    val summary = toks.as[String].mapPartitions { it =>
      val m = new java.util.HashMap[String, java.lang.Long]()
      var np = 0L
      while (it.hasNext) {
        val t = it.next()
        np += 1L
        val cur = m.get(t)
        if (cur != null) m.put(t, cur + 1L)
        else if (m.size < capacity) m.put(t, 1L)
        else {
          val itr = m.entrySet().iterator()
          while (itr.hasNext) {
            val e = itr.next()
            if (e.getValue == 1L) itr.remove() else e.setValue(e.getValue - 1L)
          }
        }
      }
      import scala.jdk.CollectionConverters._
      // null-token sentinel row carries the partition's token total
      m.keySet().iterator().asScala.map(t => (t, 0L)) ++
        Iterator(((null: String), np))
    }.toDF("tok", "np").localCheckpoint(false)
    val total = summary.filter(col("tok").isNull)
      .agg(coalesce(sum(col("np")), lit(0L))).head().getLong(0)
    val candidates = summary.filter(col("tok").isNotNull)
      .select("tok").distinct()
    val top = toks
      .join(broadcast(candidates), Seq("tok"), "left_semi")
      .groupBy("tok").agg(count(lit(1)).as("n_occurrences"))
      .orderBy(desc("n_occurrences"), asc("tok"))
      .limit(k)
      .collect()
    val floor = total / (capacity + 1L)
    require(top.length == k && top.last.getAs[Long]("n_occurrences") > floor,
      s"cannot certify exact top-$k: k-th candidate count " +
        s"${top.lastOption.map(_.getAs[Long]("n_occurrences")).getOrElse(0L)} " +
        s"does not exceed N/(capacity+1) = $floor — raise capacity")
    top.map(r => (r.getString(0), r.getLong(1))).toSeq
      .toDF("token", "n_occurrences")
  }

  /** One row per (document, token) with its occurrence count — the shared
    * materializable intermediate of the token-level corpus models
    * ([[unigramSurprisalFromCounts]], [[tfidfTopTermsFromCounts]]). Distinct
    * (doc, token) granularity, so it is never larger than the token stream
    * and usually far smaller.
    *
    * Output: (idCol, tok, occ: long). */
  def docTermCounts(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    tokenStream(docs, idCol, textCol)
      .groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("occ"))

  /** Eagerly materialize a shared intermediate so its two consumers (model
    * pass + scoring pass) read stored blocks instead of re-scanning the
    * source. `localCheckpoint` rather than `persist`: it runs NOW (one
    * scan, honestly attributed to the caller), truncates lineage, is
    * block-manager-backed (memory, spilling to disk), and its blocks are
    * released by the context cleaner when the result frame is dropped — no
    * cache entry leaks across invocations, and no cross-invocation cache
    * dedup quietly turns a benchmark's later iterations into cache reads.
    * At extreme scale, write the counts frame to a table instead and feed
    * the `FromCounts` overloads directly — or set
    * `spark.graft.checkpointDir` to make every barrier a reliable
    * checkpoint ([[Barriers.stage]]). */
  private def materialize(df: DataFrame): DataFrame =
    Barriers.stage(df)

  /** Per-document mean unigram surprisal in micro-bits — the cheap version
    * of the perplexity filters used by CCNet/RefinedWeb: documents whose
    * tokens are improbable under a model of the corpus itself (garbled
    * text, wrong language, binary spew) score high; repetitive/common text
    * scores low.
    *
    * The model is add-one-smoothed over the `vocabCap` most frequent tokens
    * (ties broken by token, so the cap is deterministic); everything else
    * is out-of-vocabulary and scores `-log2(1 / (T + V))`, where `T` is
    * total token count and `V` is the full (uncapped) distinct-token count.
    * The cap is the scale lever: the broadcast model table is `vocabCap`
    * rows no matter how large the corpus vocabulary grows.
    *
    * Per-token surprisal is rounded to integer micro-bits BEFORE the
    * per-document average (exact long sum, floor division) so the output is
    * deterministic across partitionings and engines.
    *
    * Output: (idCol, n_tokens: long, nll_micro_avg: long).
    */
  def unigramSurprisal(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      vocabCap: Int = 65536): DataFrame =
    unigramSurprisalFromCounts(
      materialize(docTermCounts(docs, idCol, textCol)), idCol, vocabCap)

  /** Integer-id tokenization against a corpus-derived vocabulary — the
    * final prep step before sequence packing and sharding: the vocab is
    * the `vocabSize` most frequent tokens (ties by token), assigned ids
    * 1..K in that (count desc, token) order; out-of-vocabulary tokens
    * map to 0. The vocab is a bounded broadcast whatever the corpus
    * vocabulary grows to; the id mapping is one broadcast join over the
    * positional token stream and an order-restoring array rebuild —
    * no shuffle carries text beyond the per-doc regroup.
    *
    * Output: (idCol, token_ids: array<long> in document order,
    * n_tokens: long, n_oov: long). Documents with zero (non-empty)
    * tokens are absent — the token-model convention shared with
    * [[unigramSurprisal]]. */
  def tokenizeToIds(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      vocabSize: Int = 65536): DataFrame = {
    require(vocabSize > 0, "vocabSize must be positive")
    // unpartitioned window (WindowExec WARN) is fine here: the frame is
    // already limit(vocabSize) — one bounded-size task by construction
    val vocab = termCounts(docs, idCol, textCol)
      .orderBy(desc("c"), asc("tok")).limit(vocabSize)
      .withColumn("graft_tid",
        row_number().over(Window.orderBy(desc("c"), asc("tok"))).cast("long"))
      .select(col("tok"), col("graft_tid"))
    val stream = docs
      .select(col(idCol),
        posexplode(TextFunctions.tokens(col(textCol))).as(Seq("pos", "tok")))
      .filter(length(col("tok")) > 0)
    stream
      .join(broadcast(vocab), Seq("tok"), "left_outer")
      .groupBy(col(idCol))
      .agg(
        transform(
          array_sort(collect_list(struct(col("pos"),
            coalesce(col("graft_tid"), lit(0L)).as("tid")))),
          s => s("tid")).as("token_ids"),
        count(lit(1)).as("n_tokens"),
        sum(when(col("graft_tid").isNull, 1L).otherwise(0L)).as("n_oov"))
  }

  /** Per-document mean CONDITIONAL bigram surprisal in micro-bits — one
    * rung up the CCNet perplexity ladder from [[unigramSurprisal]]:
    * `nll(w_i | w_{i-1}) = -log2((c(w_{i-1} w_i) + 1) / (c(w_{i-1}) + V))`
    * with add-one smoothing, `c(·)` corpus counts and `V` the full
    * (uncapped) distinct-unigram count. Both model tables are capped at
    * the `vocabCap` most frequent entries (ties by key — deterministic),
    * so the broadcasts stay bounded at any corpus size; out-of-vocab
    * bigrams/contexts count 0. As in lm01, per-position surprisal is
    * rounded to integer micro-bits BEFORE the exact long average, and
    * the same log2-rounding-boundary caveat applies (see the lm01 lane
    * note). Output: (idCol, n_bigrams: long, nll2_micro_avg: long);
    * documents with fewer than 2 tokens have no bigrams and are absent.
    */
  def bigramSurprisal(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      vocabCap: Int = 65536): DataFrame = {
    require(vocabCap > 0, "vocabCap must be positive")
    // (id, "w1 w2", occ): distinct-bigram granularity, like docTermCounts
    val bigramCounts = materialize(
      docs.select(col(idCol),
        explode(TextFunctions.tokenNgrams(col(textCol), 2)).as("bg"))
        .groupBy(col(idCol), col("bg")).agg(count(lit(1)).as("occ")))
    val uc = termCounts(docs, idCol, textCol)
    val vTotal = uc.agg(count(lit(1))).head().getLong(0) // bounded scalar
    val ucTop = uc.orderBy(desc("c"), asc("tok")).limit(vocabCap)
      .select(col("tok").as("graft_ctx"), col("c").as("graft_cu"))
    val bcTop = bigramCounts.groupBy("bg").agg(sum("occ").as("graft_cb"))
      .orderBy(desc("graft_cb"), asc("bg")).limit(vocabCap)
    bigramCounts
      .join(broadcast(bcTop), Seq("bg"), "left_outer")
      .withColumn("graft_ctx", split(col("bg"), " ", 2).getItem(0))
      .join(broadcast(ucTop), Seq("graft_ctx"), "left_outer")
      .withColumn(
        "nll_micro",
        round(-log2((coalesce(col("graft_cb"), lit(0L)) + lit(1L)).cast("double") /
          (coalesce(col("graft_cu"), lit(0L)) + lit(vTotal)).cast("double"))
          * lit(1000000.0)).cast("long"))
      .groupBy(col(idCol))
      .agg(
        sum("occ").as("n_bigrams"),
        sum(col("nll_micro") * col("occ")).as("nm"))
      .select(
        col(idCol),
        col("n_bigrams"),
        ldiv(col("nm"), col("n_bigrams")).as("nll2_micro_avg"))
  }

  /** Per-document mean Stupid-Backoff score in micro-bits (Brants et
    * al. 2007, "Large Language Models in Machine Translation" §4 — the
    * n-gram smoothing DESIGNED for distributed count-based training,
    * which is why it is the right rung above [[bigramSurprisal]] here:
    * no held-out normalization pass, just counts and one fixed α).
    *
    * Per bigram position:
    * {{{
    *   S(w2|w1) = c(w1 w2) / c(w1)          direct: both counts in the
    *                                        capped model tables
    *            = α · (c(w2)+1) / (T+V)     backoff: add-one-smoothed
    *                                        unigram, α = 0.4 (published)
    * }}}
    * `c(·)` are corpus counts from the `vocabCap`-capped bigram/unigram
    * tables (count desc, key — the deterministic cap shared with
    * [[bigramSurprisal]]), `T` total tokens, `V` full distinct-unigram
    * count. The direct path requires BOTH the bigram and its context to
    * be inside the caps — a bigram whose context was capped out backs
    * off, so the branch condition replays exactly from the two capped
    * tables. S is a score, not a probability (Stupid Backoff's defining
    * simplification); the micro-bit value is `round(-log2(S) · 10^6)`
    * rounded per position BEFORE the exact long average, same
    * log2-rounding / libm caveat as lm01/lm02.
    *
    * Scale: identical shape to [[bigramSurprisal]] — the model tables
    * are bounded broadcasts at any corpus size; the only shuffles are
    * the two count aggregations over (doc, bigram) granularity.
    *
    * Output: (idCol, n_bigrams: long, n_backoff: long — positions that
    * took the backoff path, the model-coverage observability column,
    * sb_micro_avg: long); documents with fewer than 2 tokens are
    * absent. */
  def stupidBackoffSurprisal(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      vocabCap: Int = 65536): DataFrame = {
    require(vocabCap > 0, "vocabCap must be positive")
    val alpha = 0.4 // Brants et al. 2007 §4: "unmodified ... α = 0.4"
    val bigramCounts = materialize(
      docs.select(col(idCol),
        explode(TextFunctions.tokenNgrams(col(textCol), 2)).as("bg"))
        .groupBy(col(idCol), col("bg")).agg(count(lit(1)).as("occ")))
    val uc = termCounts(docs, idCol, textCol)
    // two bounded scalars (grand totals), not data rows
    val totRow = uc.agg(
      coalesce(sum("c"), lit(0L)).as("t"), count(lit(1)).as("v")).head()
    val denom = (totRow.getLong(0) + totRow.getLong(1)).toDouble
    val ucTop = uc.orderBy(desc("c"), asc("tok")).limit(vocabCap)
    val bcTop = bigramCounts.groupBy("bg").agg(sum("occ").as("graft_cb"))
      .orderBy(desc("graft_cb"), asc("bg")).limit(vocabCap)
    val parts = split(col("bg"), " ", 2)
    bigramCounts
      .join(broadcast(bcTop), Seq("bg"), "left_outer")
      .withColumn("graft_ctx", parts.getItem(0))
      .withColumn("graft_w2", parts.getItem(1))
      .join(broadcast(ucTop.select(col("tok").as("graft_ctx"),
        col("c").as("graft_cu"))), Seq("graft_ctx"), "left_outer")
      .join(broadcast(ucTop.select(col("tok").as("graft_w2"),
        col("c").as("graft_cw"))), Seq("graft_w2"), "left_outer")
      .withColumn("graft_direct",
        col("graft_cb").isNotNull && col("graft_cu").isNotNull)
      .withColumn(
        "nll_micro",
        when(col("graft_direct"),
          round(-log2(col("graft_cb").cast("double") /
            col("graft_cu").cast("double")) * lit(1000000.0)).cast("long"))
          .otherwise(
            round(-log2(lit(alpha) *
              (coalesce(col("graft_cw"), lit(0L)) + lit(1L)).cast("double") /
              lit(denom)) * lit(1000000.0)).cast("long")))
      .groupBy(col(idCol))
      .agg(
        sum("occ").as("n_bigrams"),
        sum(when(col("graft_direct"), 0L).otherwise(col("occ")))
          .as("n_backoff"),
        sum(col("nll_micro") * col("occ")).as("nm"))
      .select(
        col(idCol),
        col("n_bigrams"),
        col("n_backoff"),
        ldiv(col("nm"), col("n_bigrams")).as("sb_micro_avg"))
  }

  /** [[unigramSurprisal]] over a pre-computed [[docTermCounts]] frame —
    * the model pass and the scoring pass both read `termCounts`, so feed
    * it materialized (the convenience overload does) or pay the source
    * scan twice. Same output contract as [[unigramSurprisal]]. */
  def unigramSurprisalFromCounts(
      termCounts: DataFrame,
      idCol: String,
      vocabCap: Int = 65536): DataFrame = {
    require(vocabCap > 0, "vocabCap must be positive")
    val cnt = termCounts.groupBy("tok").agg(sum("occ").as("c"))
    // Two bounded scalars (grand totals), not data rows.
    val row = cnt.agg(
      coalesce(sum("c"), lit(0L)).as("t"), count(lit(1)).as("v")).head()
    val denom = (row.getLong(0) + row.getLong(1)).toDouble
    val vocab = cnt.orderBy(desc("c"), asc("tok")).limit(vocabCap)
    termCounts
      .join(broadcast(vocab), Seq("tok"), "left_outer")
      .withColumn(
        "nll_micro",
        round(-log2((coalesce(col("c"), lit(0L)) + lit(1L)).cast("double") /
          lit(denom)) * lit(1000000.0)).cast("long"))
      // weighting per-token-rounded surprisal by occ is exactly the sum
      // over occurrence rows the unweighted formulation produced
      .groupBy(col(idCol))
      .agg(
        sum("occ").as("n_tokens"),
        sum(col("nll_micro") * col("occ")).as("nm"))
      .select(
        col(idCol),
        col("n_tokens"),
        ldiv(col("nm"), col("n_tokens")).as("nll_micro_avg"))
  }

  /** Multinomial Naive Bayes over whitespace tokens, trained and scored
    * in ONE plan — the learned counterpart of the heuristic language-ID
    * lane and the shape of the fastText-style linear classifiers
    * curation pipelines use for language/quality routing (reference:
    * README.md:7 positions the corpus for LLM-pipeline use; the
    * classifier itself is standard published NB).
    *
    * Model: per-class token counts with add-one smoothing over the
    * `vocabCap` most frequent corpus tokens (count desc, token — the
    * deterministic cap shared with [[unigramSurprisal]]); out-of-vocab
    * tokens score `-log2(1 / (T_c + V))` per class, with `T_c` the
    * class token total and `V` the full (uncapped) distinct-token
    * count. Priors are document-share per class. Per-token and prior
    * negative log-likelihoods are rounded to integer micro-bits BEFORE
    * the per-document sum (exact long arithmetic after rounding), so
    * prediction and score replay bit-for-bit in any engine; argmin
    * ties break by label string.
    *
    * Scale: the model is a `classes x vocabCap` broadcast; the class
    * totals + priors frame is `classes` rows broadcast into a scoring
    * crossJoin, so the only large frames are the (doc, token, occ)
    * stream (multiplied by the class count — the standard NB scoring
    * cost, bounded by the label-domain size) and the final id-keyed
    * rejoin for the actual label. Nothing wider than ids, tokens, and
    * longs ever shuffles.
    *
    * Output: (idCol, pred: string, nll_micro: long, is_correct:
    * boolean). Documents with zero (non-empty) tokens are absent —
    * the token-model convention shared with [[unigramSurprisal]].
    */
  def naiveBayesPredict(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      labelCol: String,
      vocabCap: Int = 64): DataFrame = {
    nbCandidates(docs, idCol, textCol, labelCol, vocabCap)
      .groupBy(col(idCol))
      .agg(min(col("cand")).as("best")) // (nll asc, label asc) argmin
      .join(docs.select(col(idCol), col(labelCol).as("__actual")), idCol)
      .select(col(idCol), col("best.pred").as("pred"),
        col("best.nll").as("nll_micro"),
        (col("best.pred") === col("__actual")).as("is_correct"))
  }

  /** [[naiveBayesPredict]]'s per-(document, class) candidate frame —
    * (idCol, cand struct<nll: long, pred: string>), one row per class
    * per scored document. Shared by the argmin predictor and the
    * margin/calibration readers. */
  private def nbCandidates(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      labelCol: String,
      vocabCap: Int): DataFrame = {
    require(vocabCap > 0, "vocabCap must be positive")
    val toks = docs
      .select(col(idCol), col(labelCol).as("lbl"),
        explode(TextFunctions.tokens(col(textCol))).as("tok"))
      .filter(length(col("tok")) > 0)
    // one (doc, token) granular frame feeds vocab, class totals, model
    // AND scoring — materialized so its four consumers share one scan
    val lt = materialize(
      toks.groupBy(col(idCol), col("lbl"), col("tok"))
        .agg(count(lit(1)).as("occ")))
    // Bounded scalars (grand totals), not data rows — fetched in ONE
    // action (a tagged union of two 1-row aggs) so the vocabulary count
    // and the doc count run as concurrent branches of one job instead
    // of two sequential driver round trips (guide §2.6)
    val scalars = lt.agg(countDistinct(col("tok")).as("__x"))
      .select(lit("v").as("__k"), col("__x"))
      .unionAll(docs.agg(count(lit(1)).as("__x"))
        .select(lit("n").as("__k"), col("__x")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val v = scalars("v")
    val nDocs = scalars("n")
    val vocab = lt.groupBy("tok").agg(sum("occ").as("c"))
      .orderBy(desc("c"), asc("tok")).limit(vocabCap).select("tok")
    val model = lt.join(broadcast(vocab), Seq("tok"), "left_semi")
      .groupBy(col("lbl").as("m_lbl"), col("tok").as("m_tok"))
      .agg(sum("occ").as("c_tc"))
    val classes = lt.groupBy("lbl").agg(sum("occ").as("t_c"))
      .join(docs.groupBy(col(labelCol).as("lbl"))
        .agg(count(lit(1)).as("n_docs")), "lbl")
      .select(col("lbl").as("c_lbl"), col("t_c"),
        round(-log2(col("n_docs").cast("double") / lit(nDocs.toDouble)) *
          lit(1000000.0)).cast("long").as("prior_micro"))
    val scored = lt.select(col(idCol), col("tok"), col("occ"))
      .crossJoin(broadcast(classes))
      .join(broadcast(model),
        col("c_lbl") === col("m_lbl") && col("tok") === col("m_tok"),
        "left_outer")
      .withColumn("tok_micro",
        round(-log2((coalesce(col("c_tc"), lit(0L)) + lit(1L)).cast("double") /
          (col("t_c") + lit(v)).cast("double")) * lit(1000000.0)).cast("long"))
      .groupBy(col(idCol), col("c_lbl"), col("prior_micro"))
      .agg(sum(col("occ") * col("tok_micro")).as("tok_nll"))
      .select(col(idCol),
        struct((col("prior_micro") + col("tok_nll")).as("nll"),
          col("c_lbl").as("pred")).as("cand"))
    scored
  }

  /** Reliability (calibration) table for the NB classifier — the check
    * every quality/language router needs before its scores gate data:
    * does a larger decision MARGIN actually mean a more accurate
    * prediction? Confidence proxy = runner-up nll − best nll in
    * micro-bits (the standard max-margin reading of an argmin
    * classifier; exact integers, so bins replay in any engine). One row
    * per margin bin with document count, correct count and accuracy
    * permille — the reliability-diagram table (DeGroot & Fienberg'83;
    * ECE's binning), integer end to end.
    *
    * Scale: the candidate frame is [[naiveBayesPredict]]'s (label-domain
    * bounded); per doc the collected candidate list is |classes| structs
    * — bounded by construction. The output is the margin-bin domain.
    * A single-label corpus has no runner-up: margin is null and the doc
    * lands in the null bin (surfaced, not dropped — an all-one-class
    * training table is a data bug worth seeing).
    *
    * Output: (margin_bin, n_docs, n_correct, acc_permille) ordered by
    * bin (nulls first). */
  def naiveBayesCalibration(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      labelCol: String,
      vocabCap: Int = 64,
      binWidthMicro: Long = 1000000L): DataFrame = {
    require(binWidthMicro >= 1L, s"binWidthMicro=$binWidthMicro")
    val ranked = nbCandidates(docs, idCol, textCol, labelCol, vocabCap)
      .groupBy(col(idCol))
      // |classes| structs per doc — bounded by the label domain
      .agg(sort_array(collect_list(col("cand"))).as("cands"))
      .select(col(idCol),
        col("cands").getItem(0).getField("pred").as("pred"),
        // try_element_at: a single-label corpus has one candidate, and
        // ANSI element_at would throw instead of yielding the null bin
        (try_element_at(col("cands"), lit(2)).getField("nll") -
          col("cands").getItem(0).getField("nll")).as("margin_micro"))
    ranked
      .join(docs.select(col(idCol), col(labelCol).as("__actual")), idCol)
      .select(
        ldiv(col("margin_micro"), lit(binWidthMicro)).as("margin_bin"),
        when(col("pred") === col("__actual"), 1L).otherwise(0L).as("__ok"))
      .groupBy(col("margin_bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__ok")).as("n_correct"))
      .withColumn("acc_permille",
        ldiv(col("n_correct") * lit(1000L), col("n_docs")))
      .orderBy(col("margin_bin").asc_nulls_first)
  }

  /** Top-`k` salient terms per document by tf-idf — the standard keyword /
    * topic-proxy extraction over a corpus.
    *
    * `score = tf * (log2((N + 1) / (df + 1)) + 1)`, emitted as integer
    * micro-units (per-term rounding, so ranking uses the same exact value
    * both here and in any SQL mirror); ranking ties break by token.
    *
    * The df side is bounded by corpus vocabulary, not corpus size, and
    * arrives pre-aggregated; AQE broadcasts it when it fits, and the
    * tf side is already collapsed to one row per (doc, token) before the
    * join, so a hot token costs its df, never its occurrence count.
    *
    * Output: (idCol, tok, tf: long, score_micro: long, rank: long).
    */
  def tfidfTopTerms(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 5): DataFrame =
    tfidfTopTermsFromCounts(
      materialize(docTermCounts(docs, idCol, textCol)), idCol,
      nDocs = docs.count(), k = k)

  /** [[tfidfTopTerms]] over a pre-computed [[docTermCounts]] frame. The tf
    * side feeds both the df aggregation and the scoring join, so feed it
    * materialized. `nDocs` is passed explicitly because documents with no
    * tokens are absent from the counts frame (the convenience overload
    * counts the full input). */
  def tfidfTopTermsFromCounts(
      termCounts: DataFrame,
      idCol: String,
      nDocs: Long,
      k: Int = 5): DataFrame = {
    require(k > 0, "k must be positive")
    require(nDocs >= 0, "nDocs must be non-negative")
    val tf = termCounts.withColumnRenamed("occ", "tf")
    val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(desc("score_micro"), asc("tok"))
    tf.join(dfreq, "tok")
      .withColumn(
        "score_micro",
        round(col("tf").cast("double") *
          (log2(lit((nDocs + 1).toDouble) / (col("df") + lit(1L)).cast("double"))
            + lit(1.0)) * lit(1000000.0)).cast("long"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col(idCol), col("tok"), col("tf"), col("score_micro"), col("rank"))
  }

  /** Per-group corpus mixture table — docs, tokens, chars, and each
    * group's permille share of total tokens: what a training pipeline
    * reports per source/domain/language before choosing sampling weights
    * (pair with [[Sampling.balancedFractions]] to hit a target mix).
    *
    * One partial-aggregated groupBy over the scan (token counting is
    * scan-local Column work), then a broadcast one-row total — no driver
    * collect, no second shuffle. Shares are exact integer permilles.
    *
    * Output: (groupCol, n_docs, n_tokens, n_chars, token_permille).
    */
  def mixtureWeights(
      docs: DataFrame,
      groupCol: String,
      textCol: String): DataFrame = {
    require(!docs.columns.contains("graft_tot"),
      "input already has a graft_tot column")
    val toks = TextFunctions.tokens(col(textCol))
    val g = docs.groupBy(col(groupCol)).agg(
      count(lit(1)).as("n_docs"),
      sum(size(filter(toks, t => length(t) > 0)).cast("long")).as("n_tokens"),
      sum(length(col(textCol)).cast("long")).as("n_chars"))
    // grand total as a window sum over the GROUP-BOUNDED agg (single
    // tiny partition, same exact long sum) — the previous agg +
    // broadcast crossJoin re-ran the whole corpus token scan as a
    // second subtree (guide §7.2)
    g.withColumn("graft_tot",
        sum(col("n_tokens")).over(Window.partitionBy()))
      .select(
        col(groupCol),
        col("n_docs"),
        col("n_tokens"),
        col("n_chars"),
        // an all-empty corpus has no meaningful shares: emit 0, never a
        // division by zero (NaN/Infinity garbage through doubles, or an
        // ANSI error through integral div)
        when(col("graft_tot") === 0L, lit(0L))
          .otherwise(ldiv(col("n_tokens") * lit(1000L), col("graft_tot")))
          .as("token_permille"))
  }

  /** BM25 keyword retrieval over the corpus — the standard
    * (Robertson/Spärck Jones) lexical ranking function, here in EXACT
    * integer micro-units so ranking replays bit-for-bit cross-engine:
    * idf rounds to micro once per query term (log2, the lm01 libm
    * convention), every other step is long arithmetic with floor
    * division in a fixed order. Defaults k1 = 1.2, b = 0.75 (micro
    * units). Only documents containing at least one query term are
    * scored/returned (BM25 scores the rest 0); `N` and avgdl follow the
    * token-model convention (documents with ≥ 1 non-empty token).
    *
    * Scale (row-local — the corpus never shuffles): a keyword query is
    * a FEW terms, so per-document lengths and per-term tfs are plain
    * array ops inside the scan task on a staged token column (no
    * doc-term aggregation — a first cut built the full (doc, term, tf)
    * frame and shuffled the whole token stream for a 3-term query,
    * measured 38 MiB at the 10× ScaleProof point vs ~0 now). Pass 1
    * partial-aggregates four bounded scalars (N, total length, per-term
    * document frequencies); idf literals are driver-computed from them
    * (same JVM libm as a log2 Column would use); pass 2 scores each
    * matching document in one projection and top-k plans as
    * TakeOrderedAndProject. The narrow (id, len, tfs) frame is
    * checkpointed so the two passes share one text scan. Per-document
    * length must stay below ~4.1e6 tokens — the binding intermediate is
    * the tf·(k1+1e6)·1e6 numerator (a term filling such a document),
    * tighter than the len·1e12 ratio's ~9e6 — chunk first beyond that.
    *
    * Output: (idCol, score_micro: long), top `k` by (score desc, id). */
  def bm25TopK(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queryTokens: Seq[String],
      k: Int = 10,
      k1Micro: Long = 1200000L,
      bMicro: Long = 750000L): DataFrame = {
    require(queryTokens.nonEmpty, "empty query")
    require(queryTokens.size <= 64,
      "per-term tf columns are row-local array scans: cap the query")
    require(k > 0, "k must be positive")
    require(bMicro >= 0L && bMicro <= 1000000L, "b outside [0, 1]")
    val qn = queryTokens.size
    val base = materialize(docs
      .select(col(idCol), TextFunctions.tokens(col(textCol)).as("__toks"))
      .select(col(idCol),
        size(filter(col("__toks"), t => length(t) > 0)).cast("long").as("len"),
        transform(array(queryTokens.map(lit): _*),
          q => size(filter(col("__toks"), t => t === q)).cast("long"))
          .as("tfs"))
      .filter(col("len") > 0L))
    // Bounded scalars (grand totals + |query| document frequencies).
    val aggs = Seq(count(lit(1)).as("nd")) ++
      (0 until qn).map(i =>
        sum(when(element_at(col("tfs"), i + 1) > 0L, 1L).otherwise(0L))
          .as(s"df_$i"))
    val r = base.agg(
      coalesce(sum(col("len")), lit(0L)).as("tt"), aggs: _*).head()
    val tt = r.getLong(0); val nd = r.getLong(1)
    // all-empty corpus: no scored docs, and the per-term df sums are
    // SQL NULL — return the empty result frame instead of reading them
    if (nd == 0L)
      return base.select(col(idCol), lit(0L).as("score_micro")).limit(0)
    val avgMicro = tt * 1000000L / nd
    val idfMicro = (0 until qn).map { i =>
      val dfc = r.getLong(2 + i)
      math.round(math.log((nd - dfc + 0.5) / (dfc + 0.5) + 1.0) /
        math.log(2.0) * 1e6)
    }
    val ratio = ldiv(col("len") * lit(1000000000000L), lit(avgMicro))
    val norm = lit(1000000L - bMicro) + ldiv(lit(bMicro) * ratio, lit(1000000L))
    def tfpart(tf: Column): Column = ldiv(
      tf * lit(k1Micro + 1000000L) * lit(1000000L),
      tf * lit(1000000L) + ldiv(lit(k1Micro) * norm, lit(1000000L)))
    val score = (0 until qn).map { i =>
      val tf = element_at(col("tfs"), i + 1)
      when(tf > 0L, ldiv(lit(idfMicro(i)) * tfpart(tf), lit(1000000L)))
        .otherwise(lit(0L))
    }.reduce(_ + _)
    base
      .filter(aggregate(col("tfs"), lit(0L), (a, x) => a + x) > 0L)
      .select(col(idCol), score.as("score_micro"))
      .orderBy(desc("score_micro"), col(idCol))
      .limit(k)
  }

  /** The persisted BM25 inverted index of a corpus: term postings
    * (term, idCol, tf) over the non-empty lower-cased whitespace tokens,
    * plus the (idCol, len) document-length frame (len > 0 — the token-
    * model N convention). This is the state
    * [[Incremental.maintainBm25Index]] folds a snapshot delta into and
    * [[bm25TopKFromIndex]] serves from. Building it pays the one
    * token-stream shuffle a search index always pays at indexing time
    * (the reason [[bm25TopK]] deliberately avoids it for one-off
    * queries); once built, queries never rescan text. */
  def bm25Index(
      docs: DataFrame,
      idCol: String,
      textCol: String): (DataFrame, DataFrame) = {
    val toks = docs
      .select(col(idCol), TextFunctions.tokens(col(textCol)).as("__toks"))
      .select(col(idCol),
        filter(col("__toks"), t => length(t) > 0).as("__toks"))
    val postings = toks
      .select(col(idCol), explode(col("__toks")).as("term"))
      .groupBy(col("term"), col(idCol))
      .agg(count(lit(1)).as("tf"))
    val lens = toks
      .select(col(idCol), size(col("__toks")).cast("long").as("len"))
      .filter(col("len") > 0L)
    (postings, lens)
  }

  /** BM25 top-k served FROM the index frames — byte-identical scores to
    * [[bm25TopK]] over the same corpus (CorpusStatsSpec pins the
    * equivalence): the same micro-unit idf/tf/norm arithmetic, evaluated
    * per posting row and summed per document (long addition, order-
    * independent; postings only hold tf > 0 rows, exactly the terms the
    * row-local form's `when(tf > 0)` admits).
    *
    * Scale: the query's few terms select their postings (a term-keyed
    * semi-filter — at production scale the postings frame is bucketed by
    * term and this is a pruned read); corpus stats are one agg over the
    * narrow lens frame plus a |query|-bounded df agg; nothing rescans
    * text. Per-document length bound (~4.1e6 tokens) as [[bm25TopK]]. */
  def bm25TopKFromIndex(
      postings: DataFrame,
      lens: DataFrame,
      idCol: String,
      queryTokens: Seq[String],
      k: Int = 10,
      k1Micro: Long = 1200000L,
      bMicro: Long = 750000L): DataFrame = {
    require(queryTokens.nonEmpty, "empty query")
    require(queryTokens.distinct.size == queryTokens.size,
      "duplicate query terms would double-count their contribution")
    require(k > 0, "k must be positive")
    require(bMicro >= 0L && bMicro <= 1000000L, "b outside [0, 1]")
    val r = lens.agg(
      count(lit(1)).as("nd"),
      coalesce(sum(col("len")), lit(0L)).as("tt")).head()
    val nd = r.getLong(0); val tt = r.getLong(1)
    if (nd == 0L)
      return lens.select(col(idCol), lit(0L).as("score_micro")).limit(0)
    val qp = postings.filter(col("term").isin(queryTokens: _*))
    // |query|-bounded document frequencies; idf literals driver-computed
    // from them (same JVM libm as bm25TopK)
    val dfs = qp.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    val avgMicro = tt * 1000000L / nd
    val idfMap = map(queryTokens.flatMap { t =>
      val dfc = dfs.getOrElse(t, 0L)
      Seq(lit(t), lit(math.round(
        math.log((nd - dfc + 0.5) / (dfc + 0.5) + 1.0) /
          math.log(2.0) * 1e6)))
    }: _*)
    val ratio = ldiv(col("len") * lit(1000000000000L), lit(avgMicro))
    val norm = lit(1000000L - bMicro) +
      ldiv(lit(bMicro) * ratio, lit(1000000L))
    val tfpart = ldiv(
      col("tf") * lit(k1Micro + 1000000L) * lit(1000000L),
      col("tf") * lit(1000000L) + ldiv(lit(k1Micro) * norm, lit(1000000L)))
    qp.join(lens, Seq(idCol))
      .select(col(idCol),
        ldiv(element_at(idfMap, col("term")) * tfpart, lit(1000000L))
          .as("__c"))
      .groupBy(col(idCol))
      .agg(sum(col("__c")).as("score_micro"))
      .orderBy(desc("score_micro"), col(idCol))
      .limit(k)
  }

  /** Batch BM25 retrieval over the inverted index: one top-`k` result
    * set PER QUERY in a query FRAME — the shape of hard-negative mining
    * for retrieval/embedding training (per training example, the
    * highest-scoring corpus documents that are NOT its positive), bulk
    * relevance labeling, and dataset-level contamination triage. Same
    * micro-unit arithmetic as [[bm25TopKFromIndex]] (identical scores
    * for a one-query frame; CorpusStatsSpec pins it), but NOTHING is
    * driver-collected: the query set may be corpus-sized, so document
    * frequencies aggregate relationally over the vocabulary-pruned
    * postings and idf joins back by term. One caveat inherited from the
    * micro-unit family: idf = round(log2(...)·1e6) evaluates in the
    * executor's libm here vs the driver's in the single-query ops —
    * both java.lang.Math on this JVM, and the micro rounding absorbs
    * the ≤1-ulp slack.
    *
    * Scale: queries ⋈ postings is the classic impact-ordered posting
    * join, keyed by term (bucket both by term at warehouse scale and it
    * is co-located); per-(query, doc) partial sums map-side combine;
    * the final top-k is a per-query window over already-aggregated
    * score rows. Queries with no term in the corpus emit nothing (no
    * postings to score). Callers exclude known positives by filtering
    * the (qid, id) output or the corpus frame — the operator does not
    * guess which hits are gold.
    *
    * Input `queries`: (qidCol, termCol) — duplicate (qid, term) rows
    * are folded (a term scores once per query, the [[bm25TopKFromIndex]]
    * distinct-terms contract). Output: (qidCol, idCol, rank, score_micro)
    * with rank 1..k by (score desc, id). */
  def bm25BatchTopK(
      postings: DataFrame,
      lens: DataFrame,
      idCol: String,
      queries: DataFrame,
      qidCol: String,
      termCol: String,
      k: Int = 10,
      k1Micro: Long = 1200000L,
      bMicro: Long = 750000L): DataFrame = {
    require(k > 0, "k must be positive")
    require(bMicro >= 0L && bMicro <= 1000000L, "b outside [0, 1]")
    val r = lens.agg(
      count(lit(1)).as("nd"),
      coalesce(sum(col("len")), lit(0L)).as("tt")).head()
    val nd = r.getLong(0); val tt = r.getLong(1)
    val empty = lens.select(col(idCol)).limit(0)
      .select(lit(0L).as(qidCol), col(idCol), lit(0L).as("rank"),
        lit(0L).as("score_micro"))
    if (nd == 0L) return empty
    val avgMicro = tt * 1000000L / nd
    val q = queries.select(col(qidCol), col(termCol).as("term")).distinct()
    val vocab = q.select(col("term")).distinct()
    // postings pruned to the query vocabulary BEFORE anything heavy —
    // at scale this is the only slice of the index that is read
    val qp = postings.join(vocab, Seq("term"), "left_semi")
    // relational document frequencies: the vocabulary can be
    // corpus-sized (one query per document), so no driver collect;
    // terms absent from the corpus have no postings and score nowhere
    val idf = qp.groupBy(col("term"))
      .agg(count(lit(1)).as("__df"))
      .select(col("term"),
        round(log2((lit(nd.toDouble) - col("__df") + lit(0.5)) /
          (col("__df") + lit(0.5)) + lit(1.0)) * lit(1e6))
          .cast("long").as("__idf"))
    val ratio = ldiv(col("len") * lit(1000000000000L), lit(avgMicro))
    val norm = lit(1000000L - bMicro) +
      ldiv(lit(bMicro) * ratio, lit(1000000L))
    val tfpart = ldiv(
      col("tf") * lit(k1Micro + 1000000L) * lit(1000000L),
      col("tf") * lit(1000000L) + ldiv(lit(k1Micro) * norm, lit(1000000L)))
    val scores = q
      .join(qp, Seq("term"))
      .join(lens, Seq(idCol))
      .join(idf, Seq("term"))
      .select(col(qidCol), col(idCol),
        ldiv(col("__idf") * tfpart, lit(1000000L)).as("__c"))
      .groupBy(col(qidCol), col(idCol))
      .agg(sum(col("__c")).as("score_micro"))
    scores
      .withColumn("rank",
        row_number().over(Window.partitionBy(col(qidCol))
          .orderBy(desc("score_micro"), col(idCol))).cast("long"))
      .filter(col("rank") <= k)
      .select(col(qidCol), col(idCol), col("rank"), col("score_micro"))
  }

  /** Reciprocal-rank fusion (Cormack/Clarke/Büttcher SIGIR'09) of k
    * ranked retrieval lists — the standard way a hybrid search stack
    * merges its lexical (BM25) and semantic (embedding) channels
    * without score calibration: each list contributes `1/(K + rank)`
    * per document, here in exact NANO units (`1e9 DIV (K + rank)`,
    * floor division) so the fused ordering replays bit-for-bit
    * cross-engine regardless of how the input rankings were scored.
    *
    * Scale: the inputs are TOP-K frames (each channel already bounded
    * by its own retrieval k), so every stage here — the union, the
    * id-keyed sum, the top-k — is k·lists-bounded, never corpus-sized;
    * the fused top-k plans as TakeOrderedAndProject. Ties in the fused
    * score break by id ascending (deterministic).
    *
    * Input frames carry (idCol, rank) with 1-based ranks; output is
    * (idCol, rrf_nano, n_lists, fused_rank) for the fused top `topK`,
    * `n_lists` = how many channels surfaced the document. */
  def rrfFuse(
      rankings: Seq[DataFrame],
      idCol: String,
      kRrf: Int = 60,
      topK: Int = 10): DataFrame = {
    require(rankings.nonEmpty, "at least one ranking")
    require(kRrf >= 1, "kRrf must be >= 1")
    require(topK >= 1, "topK must be >= 1")
    val contribs = rankings
      .map(_.select(col(idCol),
        ldiv(lit(1000000000L), lit(kRrf.toLong) + col("rank").cast("long"))
          .as("__c")))
      .reduce(_ unionByName _)
    val fused = contribs.groupBy(col(idCol))
      .agg(sum(col("__c")).as("rrf_nano"), count(lit(1)).as("n_lists"))
      .orderBy(desc("rrf_nano"), col(idCol))
      .limit(topK)
    // rank over the topK-row frame — a tiny single-task window
    fused.withColumn("fused_rank",
        row_number().over(Window.orderBy(desc("rrf_nano"), col(idCol)))
          .cast("long"))
      .select(col(idCol), col("rrf_nano"), col("n_lists"),
        col("fused_rank"))
  }

  /** Temperature-scaled mixture weights — the exponent-smoothed sampling
    * distribution multilingual corpora are drawn with (p_i ∝ share_i^α
    * with α < 1 upweights low-resource sources; the mBERT/XLM-R
    * recipe). The exponent is the α = 1/2^`sqrtSteps` family computed
    * by NESTED IEEE SQUARE ROOTS: `sqrt` is correctly rounded in every
    * IEEE-754 engine where `pow` is not, so the weights replay
    * bit-for-bit cross-engine (an arbitrary-α variant would inherit
    * each libm's pow). Each source's smoothed weight rounds to integer
    * micro-units BEFORE the normalizing sum — exact long arithmetic
    * from there, merge-order independent.
    *
    * Output: (groupCol, n_tokens, w_micro, share_micro) with
    * `w_micro = floor(n_tokens^(1/2^steps) · 1e6)` and `share_micro =
    * w_micro·1e6 DIV Σ w_micro` — floor shares, Σ ≤ 1e6 with the
    * remainder implied (consumers sampling by share treat the residual
    * as "no source", the conservative direction). */
  def temperatureWeights(
      docs: DataFrame,
      groupCol: String,
      textCol: String,
      sqrtSteps: Int = 1): DataFrame = {
    require(sqrtSteps >= 1 && sqrtSteps <= 4,
      "sqrtSteps outside 1..4: α below 1/16 flattens to uniform — use that directly")
    require(!docs.columns.contains("graft_wtot"),
      "input already has a graft_wtot column")
    val toks = TextFunctions.tokens(col(textCol))
    val g = docs.groupBy(col(groupCol)).agg(
      sum(size(filter(toks, t => length(t) > 0)).cast("long")).as("n_tokens"))
    var w: Column = col("n_tokens").cast("double")
    for (_ <- 1 to sqrtSteps) w = sqrt(w)
    val gw = g.withColumn("w_micro",
      floor(w * lit(1000000.0)).cast("long"))
    // window total over the group-bounded frame — not a second corpus
    // token scan via agg + crossJoin (§7.2, see mixtureWeights)
    gw.withColumn("graft_wtot",
        sum(col("w_micro")).over(Window.partitionBy()))
      .select(col(groupCol), col("n_tokens"), col("w_micro"),
        when(col("graft_wtot") === 0L, lit(0L))
          .otherwise(ldiv(col("w_micro") * lit(1000000L), col("graft_wtot")))
          .as("share_micro"))
  }

  /** Per-document boilerplate signal: how much of a document is made of
    * word `n`-grams that occur in at least `minDf` distinct documents.
    * High permille = templated/boilerplate text (site chrome, license
    * headers, generated spam) — the corpus-level complement of the
    * within-document repetition signals in
    * [[graft.functions.TextFunctions.dupNgramPermille]].
    *
    * Only (id, 8-byte gram hash) pairs shuffle; gram strings never leave
    * their scan task. Documents shorter than `nGram` tokens have no grams
    * and are absent from the output (by construction, not silently
    * zeroed).
    *
    * Output: (idCol, n_grams, boiler_grams, boiler_permille, max_df), all
    * longs — exact integers, engine-portable.
    */
  def boilerplateScore(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      nGram: Int = 3,
      minDf: Long = 5L): DataFrame = {
    require(minDf >= 2, "minDf below 2 marks every n-gram as boilerplate")
    // df via ONE window over gh instead of materialize + groupBy + self-
    // join: the pairs frame has a single consumer, so no checkpoint, no
    // join, and two fewer exchanges — measured 0.93 s -> 0.26 s at sf0.1
    // (profiled r8: the eager localCheckpoint write+read plus the gh join
    // were ~70% of the lane; the gram counting itself is ~0.2 s).
    // Skew bound: a window partition holds one row per DISTINCT document
    // containing that gram (df rows, not occurrences), so the worst task
    // is the corpus's hottest gram's df — acceptable up to mid scale,
    // WindowExec spills rather than OOMs. At extreme scale (where even
    // one task per ultra-hot gram straggles) materialize [[docGramCounts]]
    // to a table and use [[boilerplateScoreFromCounts]], whose groupBy +
    // join formulation is fully AQE-skew-splittable (equivalence is
    // spec-pinned in CorpusStatsSpec).
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("gh"))
    docGramCounts(docs, idCol, textCol, nGram)
      .withColumn("df", count(lit(1)).over(w))
      .groupBy(col(idCol))
      .agg(
        sum("occ").as("n_grams"),
        sum(when(col("df") >= minDf, col("occ")).otherwise(0L))
          .as("boiler_grams"),
        max("df").as("max_df"))
      .select(
        col(idCol),
        col("n_grams"),
        col("boiler_grams"),
        ldiv(col("boiler_grams") * lit(1000L), col("n_grams"))
          .as("boiler_permille"),
        col("max_df"))
  }

  /** One row per (document, word-`n`-gram hash) with its occurrence count —
    * the materializable intermediate of [[boilerplateScoreFromCounts]].
    * Collapsing to distinct (doc, gram hash) FIRST means the df
    * aggregation, the scoring join, and the final rollup all run on
    * distinct pairs instead of gram occurrences. Gram strings never leave
    * their scan task; only 8-byte hashes shuffle.
    *
    * Output: (idCol, gh: long, occ: long). */
  def docGramCounts(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      nGram: Int): DataFrame =
    docs
      .select(
        col(idCol),
        explode(TextFunctions.tokenNgrams(col(textCol), nGram)).as("gram"))
      .select(col(idCol), xxhash64(col("gram")).as("gh"))
      .groupBy(col(idCol), col("gh")).agg(count(lit(1)).as("occ"))

  /** [[boilerplateScore]] over a pre-computed [[docGramCounts]] frame. The
    * df aggregation and the scoring join both consume the pairs frame —
    * and Spark cannot unify the two exchanges across the self-join's
    * re-aliasing — so feed it materialized (the convenience overload
    * does) or pay the source scan twice. */
  def boilerplateScoreFromCounts(
      gramCounts: DataFrame,
      idCol: String,
      minDf: Long = 5L): DataFrame = {
    require(minDf >= 2, "minDf below 2 marks every n-gram as boilerplate")
    val pairCnt = gramCounts
    val dfreq = pairCnt.groupBy("gh").agg(count(lit(1)).as("df"))
    pairCnt
      .join(dfreq, "gh") // every gram has df >= 1: inner join is total
      .groupBy(col(idCol))
      .agg(
        sum("occ").as("n_grams"),
        sum(when(col("df") >= minDf, col("occ")).otherwise(0L))
          .as("boiler_grams"),
        max("df").as("max_df"))
      .select(
        col(idCol),
        col("n_grams"),
        col("boiler_grams"),
        ldiv(col("boiler_grams") * lit(1000L), col("n_grams"))
          .as("boiler_permille"),
        col("max_df"))
  }

  /** Remove every line that occurs (byte-identical) in at least `minDocs`
    * distinct documents — the C4-style cross-document boilerplate pass
    * (cookie banners, nav bars, license headers). Returns the input with
    * `textCol` rewritten; all other columns pass through.
    *
    * Shape: lines are hashed in the scan and only (id, pos, 8-byte hash)
    * tuples shuffle to find boilerplate hashes and per-document bad
    * positions; document text itself moves once, through the final
    * doc-granular left join, whose right side holds ONLY documents that
    * contain at least one boilerplate line (broadcast-eligible under AQE
    * when boilerplate is rare). Line splitting accepts CRLF; rejoining
    * normalizes line endings to `\n` (documented, same as
    * [[graft.functions.TextFunctions.dupLinePermille]]'s split).
    */
  def removeBoilerplateLines(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minDocs: Long = 5L): DataFrame = {
    require(minDocs >= 2, "minDocs below 2 removes every line")
    require(!docs.columns.contains("graft_bad_pos"),
      "input already has a graft_bad_pos column")
    val lineHashes = docs.select(
      col(idCol),
      posexplode(split(col(textCol), "\r?\n")).as(Seq("pos", "line")))
      .select(col(idCol), col("pos"), xxhash64(col("line")).as("lh"))
    val badHashes = lineHashes.select(col(idCol), col("lh")).distinct()
      .groupBy("lh").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= minDocs)
      .select("lh")
    val badPos = lineHashes.join(badHashes, "lh")
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("pos"))).as("graft_bad_pos"))
    val lines = split(col(textCol), "\r?\n")
    val kept = filter(lines, (_, i) => !array_contains(col("graft_bad_pos"), i))
    docs
      .join(badPos, Seq(idCol), "left_outer")
      .withColumn(
        textCol,
        when(col("graft_bad_pos").isNull, col(textCol))
          .otherwise(concat_ws("\n", kept)))
      .drop("graft_bad_pos")
  }

  /** Hashed unigram+bigram feature stream — the DSIR feature map (Xie et
    * al. NeurIPS 2023, "Data Selection for Language Models via Importance
    * Resampling" §3: hashed n-gram features into a fixed bucket space).
    * One row per feature OCCURRENCE: the given columns plus `b`, the
    * bucket = portable md5-32 of the gram string mod `buckets`. Tokens
    * are staged as an aliased column (the HOF-capture rule), and the
    * empty-text sentinel gram is filtered like [[tokenStream]]. */
  private def hashedGramFeatures(
      df: DataFrame, keep: Seq[Column], textCol: String, buckets: Int)
      : DataFrame =
    df.select(keep :+ TextFunctions.tokens(col(textCol)).as("__toks"): _*)
      .select(keep :+ explode(concat(
        TextFunctions.wordGramsFromTokens(col("__toks"), 1),
        TextFunctions.wordGramsFromTokens(col("__toks"), 2))).as("f"): _*)
      .filter(length(col("f")) > 0)
      .select(keep :+
        (graft.functions.PortableHash.h32(col("f")) % buckets).as("b"): _*)

  /** DSIR importance weights (Xie et al. NeurIPS 2023): per raw-corpus
    * document, the log-likelihood ratio of a hashed-n-gram bag-of-words
    * model of the TARGET distribution over one of the RAW distribution —
    * the score whose top slice selects raw data that "looks like" the
    * target domain. Features are hashed unigrams+bigrams in `buckets`
    * buckets; both bucket models are add-one smoothed.
    *
    * Exactness contract: per-bucket log-ratios round to integer
    * micro-bits BEFORE the per-document sum (exact long arithmetic
    * after), under the lm01 convention — each bucket costs one libm
    * `log2` of a quotient of two IEEE-exact divisions, so scores replay
    * bit-for-bit in any engine with a correctly-rounded divide and the
    * shared-libm caveat documented at [[unigramSurprisal]].
    *
    * Scale: both models are `buckets`-row aggregates (map-side combined
    * from the feature stream), and the finished per-bucket LLR table —
    * `buckets` longs, driver-bounded by construction — becomes a
    * LITERAL array in the scoring pass: each feature occurrence looks
    * its log-ratio up map-side (one codegen `element_at`), so scoring's
    * ONLY exchange is the docs-bounded per-doc partial aggregation.
    * No join, no docs×buckets intermediate; the raw corpus is scanned
    * twice (model fit + scoring) — two narrow scans buy a join-free,
    * exchange-minimal scoring pass, the same literal-model shape as the
    * integer k-means family.
    *
    * Output: (rawIdCol, n_feats, llr_micro) for every raw doc with ≥ 1
    * feature; select by `ORDER BY llr_micro DESC LIMIT k` (plans as
    * TakeOrderedAndProject — no global sort). */
  def dsirWeights(
      raw: DataFrame,
      rawIdCol: String,
      rawTextCol: String,
      target: DataFrame,
      targetTextCol: String,
      buckets: Int = 256): DataFrame = {
    require(buckets >= 2, "need at least 2 hash buckets")
    val tb = hashedGramFeatures(target, Seq.empty, targetTextCol, buckets)
      .groupBy("b").agg(count(lit(1)).as("tc"))
    val rawFeats = hashedGramFeatures(
      Dedup.ensureParallelism(raw), Seq(col(rawIdCol)), rawTextCol, buckets)
    val rb = rawFeats.groupBy("b").agg(count(lit(1)).as("rc"))
    val model = tb.join(rb, Seq("b"), "full_outer")
      .select(col("b"),
        coalesce(col("tc"), lit(0L)).as("tc"),
        coalesce(col("rc"), lit(0L)).as("rc"))
      .localCheckpoint(false) // <= buckets rows; feeds totals AND llr
    val totals = model.agg(
      coalesce(sum("tc"), lit(0L)), coalesce(sum("rc"), lit(0L))).head()
    val (tTot, rTot) = (totals.getLong(0), totals.getLong(1))
    // ratio-of-ratios in doubles: each division is IEEE-correctly rounded
    // in every engine, totals stay exact below 2^53, ONE libm log2 at the
    // end, ONE micro rounding — the order of operations is the replay
    // contract, so the oracle must divide in exactly this shape. The
    // expression stays IN SPARK (over the buckets-row model frame) so the
    // collected table carries the engine's own log2/rounding bits.
    val llrRows = model.select(col("b"),
      round(log2(
        ((col("tc") + lit(1L)).cast("double") /
          lit((tTot + buckets).toDouble)) /
        ((col("rc") + lit(1L)).cast("double") /
          lit((rTot + buckets).toDouble))) * lit(1000000.0))
        .cast("long").as("llr_b"))
      .collect() // <= buckets rows, driver-bounded by construction
    val lut = Array.fill(buckets)(0L) // absent buckets never score (rc>=1)
    llrRows.foreach(r => lut(r.getLong(0).toInt) = r.getLong(1))
    rawFeats
      .select(col(rawIdCol),
        element_at(typedLit(lut.toSeq), col("b").cast("int") + 1)
          .as("llr_b"))
      .groupBy(col(rawIdCol))
      .agg(count(lit(1)).as("n_feats"), sum(col("llr_b")).as("llr_micro"))
  }

  /** Per-document novel-n-gram rate under corpus order: the permille of
    * a document's n-gram OCCURRENCES whose n-gram first appears (by
    * minimum `idCol`) in that document — the "how much genuinely new
    * text does each document add" curve dataset reports publish
    * (RefinedWeb-style novelty analysis; complements [[boilerplateScore]],
    * which is order-free document frequency).
    *
    * First-occurrence is at DOCUMENT granularity: every occurrence
    * inside the first document counts as novel, including its internal
    * repeats. `idCol` must be orderable — it IS the corpus order.
    *
    * Scale: n-grams hash to 60-bit fingerprints in the scan (text never
    * shuffles); the (doc, hash, occ) frame collapses map-side, first
    * owners are ONE partial-aggregable min per hash, and the rejoin
    * moves only (hash, id, long) rows. Same collision stance as the
    * dedup family: md5-60 across corpus-scale gram counts.
    *
    * Output: (idCol, n_grams, novel_grams, novel_permille) for docs
    * with >= nGram tokens. */
  def novelGramRate(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      nGram: Int = 3): DataFrame = {
    val grams = Dedup.ensureParallelism(docs)
      .select(col(idCol), TextFunctions.tokens(col(textCol)).as("__toks"))
      .select(col(idCol), explode(
        TextFunctions.wordGramsFromTokens(col("__toks"), nGram)).as("g"))
      .select(col(idCol), graft.functions.PortableHash.h60(col("g")).as("gh"))
    // (doc, gram, occ) feeds both the ownership min and the rejoin;
    // EAGER checkpoint — two downstream stages race to a lazy one and
    // each re-runs the full gram explode (the classifierReport rule)
    val perDoc = grams.groupBy(col(idCol), col("gh"))
      .agg(count(lit(1)).as("occ"))
      .localCheckpoint(true)
    val firstDoc = perDoc.groupBy("gh").agg(min(col(idCol)).as("first_id"))
    perDoc.join(firstDoc, "gh")
      .groupBy(col(idCol))
      .agg(sum("occ").as("n_grams"),
        sum(when(col(idCol) === col("first_id"), col("occ")).otherwise(0L))
          .as("novel_grams"))
      .select(col(idCol), col("n_grams"), col("novel_grams"),
        ldiv(col("novel_grams") * lit(1000L), col("n_grams"))
          .as("novel_permille"))
  }

  /** Population Stability Index between two corpus splits over a shared
    * bucket column — THE production drift detector for data pipelines
    * (credit-scoring lineage, standard in ML monitoring): per bucket,
    * `psi_b = (p_b − q_b) · log2(p_b / q_b)` with p/q the add-one-
    * smoothed bucket shares of the reference and current splits (log2,
    * not ln — the house micro-bit convention of lm01/ds01; smoothing
    * plays the role of the usual zero-bucket epsilon). Σ psi_b ≳ 0.2·ln2
    * bits is the classic "investigate" threshold.
    *
    * Exactness: per-bucket rounding to integer micro-bits AFTER one
    * fixed-shape double expression (two IEEE divisions per share, one
    * subtraction, one quotient, one libm log2, one multiply) — the ds01
    * replay contract; totals stay exact below 2^53.
    *
    * Scale: both sides reduce to bucket-domain-sized count aggregates
    * (map-side combined); everything after is bounded by the bucket
    * domain, staged behind one lazy checkpoint whose materializing
    * action is the totals read.
    *
    * Output: (bucketCol, n_ref, n_cur, psi_micro), one row per bucket
    * observed in either split. */
  def psiDrift(ref: DataFrame, cur: DataFrame, bucketCol: String): DataFrame = {
    val cr = ref.groupBy(col(bucketCol)).agg(count(lit(1)).as("n_ref"))
    val cc = cur.groupBy(col(bucketCol)).agg(count(lit(1)).as("n_cur"))
    val joined = cr.join(cc, Seq(bucketCol), "full_outer")
      .select(col(bucketCol),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
      .localCheckpoint(false) // bucket-domain rows; totals read materializes
    val t = joined.agg(
      coalesce(sum("n_ref"), lit(0L)),
      coalesce(sum("n_cur"), lit(0L)),
      count(lit(1))).head()
    val (tRef, tCur, b) = (t.getLong(0), t.getLong(1), t.getLong(2))
    val p = (col("n_ref") + lit(1L)).cast("double") / lit((tRef + b).toDouble)
    val q = (col("n_cur") + lit(1L)).cast("double") / lit((tCur + b).toDouble)
    joined.select(col(bucketCol), col("n_ref"), col("n_cur"),
      round((p - q) * log2(p / q) * lit(1000000.0)).cast("long")
        .as("psi_micro"))
  }

  /** Two-sample Kolmogorov–Smirnov drift over an integer-valued column —
    * the nonparametric complement of [[psiDrift]] (PSI needs chosen
    * buckets; KS reads the whole empirical CDF). Per distinct value,
    * both splits' ECDFs quantize to integer micro (floor — avoiding the
    * cumA·nB cross products that overflow 2^63 at corpus scale), and
    * the statistic is the max |ecdfA − ecdfB| over values; the output
    * carries the `k` largest-gap values (row 1 IS the KS statistic),
    * the self-verifying-columns convention.
    *
    * Scale: everything reduces to value-domain-sized count aggregates
    * (map-side combined); the one ordered window runs over that bounded
    * domain (distinct lengths/scores — bounded by the value range, not
    * the corpus), the same bounded-domain stance as the vocabulary
    * models.
    *
    * Output: (value, cum_a, cum_b, ecdf_a_micro, ecdf_b_micro,
    * gap_micro), top `k` by (gap desc, value). */
  def ksDrift(
      a: DataFrame,
      b: DataFrame,
      valueCol: String,
      k: Int = 10): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val ca = a.groupBy(col(valueCol).as("value"))
      .agg(count(lit(1)).as("c_a"))
    val cb = b.groupBy(col(valueCol).as("value"))
      .agg(count(lit(1)).as("c_b"))
    val joined = ca.join(cb, Seq("value"), "full_outer")
      .select(col("value"),
        coalesce(col("c_a"), lit(0L)).as("c_a"),
        coalesce(col("c_b"), lit(0L)).as("c_b"))
      .localCheckpoint(false) // value-domain rows; totals read materializes
    val t = joined.agg(
      coalesce(sum("c_a"), lit(0L)), coalesce(sum("c_b"), lit(0L))).head()
    val (nA, nB) = (math.max(t.getLong(0), 1L), math.max(t.getLong(1), 1L))
    // bounded-domain window (distinct values, not corpus rows) — the
    // deliberate exception the scaladoc documents
    val w = Window.orderBy(col("value"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    joined
      .withColumn("cum_a", sum(col("c_a")).over(w))
      .withColumn("cum_b", sum(col("c_b")).over(w))
      .select(col("value"), col("cum_a"), col("cum_b"),
        ldiv(col("cum_a") * lit(1000000L), lit(nA)).as("ecdf_a_micro"),
        ldiv(col("cum_b") * lit(1000000L), lit(nB)).as("ecdf_b_micro"))
      .withColumn("gap_micro",
        abs(col("ecdf_a_micro") - col("ecdf_b_micro")))
      .orderBy(desc("gap_micro"), col("value"))
      .limit(k)
  }

  /** Per-group plug-in token entropy (Shannon, bits/token): the corpus-
    * diversity table — a low-entropy source is templated/boilerplate
    * text, a high-entropy one diverse language; the measurement behind
    * mixture upweighting of diverse sources. Same micro-bit exactness
    * chain as [[unigramSurprisal]]: per distinct token one rounded
    * `-log2(c/T)` micro value, occurrence-weighted exact long sum,
    * one floor division by T.
    *
    * Scale: one (group, token) count aggregate (vocab-bounded per
    * group, map-side combined), group totals join, group-domain output.
    *
    * Output: (groupCol, n_tokens, n_distinct, entropy_mbits). */
  def groupTokenEntropy(
      docs: DataFrame, groupCol: String, textCol: String): DataFrame = {
    val cnt = docs
      .select(col(groupCol),
        explode(TextFunctions.tokens(col(textCol))).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy(col(groupCol), col("tok"))
      .agg(count(lit(1)).as("occ"))
    val totals = cnt.groupBy(col(groupCol))
      .agg(sum("occ").as("t"), count(lit(1)).as("n_distinct"))
    cnt.join(totals, Seq(groupCol))
      .select(col(groupCol), col("t"), col("n_distinct"), col("occ"),
        round(-log2(col("occ").cast("double") / col("t").cast("double")) *
          lit(1000000.0)).cast("long").as("nll_micro"))
      .groupBy(col(groupCol))
      .agg(max(col("t")).as("n_tokens"),
        max(col("n_distinct")).as("n_distinct"),
        // the occurrence-weighted sum is GROUP-bounded (~n_tokens x
        // entropy_micro), which crosses 2^63 near 1e12 tokens per
        // group — widen to decimal(38,0) so the sum stays exact at
        // any corpus scale (DuckDB's BIGINT SUM widens to HUGEINT on
        // its own); `div` on the decimal still floors to BIGINT
        ldiv(sum(col("occ").cast("decimal(38,0)") * col("nll_micro")),
          max(col("t"))).as("entropy_mbits"))
  }

  /** Per-document character entropy in micro-bits — the classic
    * gibberish/encoding-noise detector (keyboard mash and base64 blobs
    * sit far from natural-language char entropy; a production quality
    * battery runs it next to the word-level signals of q20/tx02).
    * Plug-in Shannon entropy over the non-whitespace characters of the
    * lower-cased text, the en01 per-symbol micro-bit rounding chain.
    *
    * ROW-LOCAL by design: a per-document score needs no cross-document
    * information, so the whole computation is Column work inside the
    * scan task — ZERO shuffle at any corpus size (the first cut's
    * (doc, char) groupBy + totals join measured 26x shuffle growth at
    * 10x once the doc-domain join side outgrew broadcast). Per-row cost
    * is O(len log len) regardless of alphabet size: the histogram comes
    * from run lengths over the SORTED char list, not a per-distinct-char
    * rescan (the first cut's transform-over-array_distinct was
    * O(charset × len) — ~10⁸ comparisons for one multi-MB CJK document
    * in a single task). Characters come from an explicit position list
    * (substr over sequence) — no empty-pattern split, whose edge
    * semantics differ across engines; each HOF input is a staged aliased
    * column (the PLANS.md r9 capture rule). The entropy fold is over the
    * same occurrence-count multiset as before (sorted-run lengths ≡
    * per-distinct-char counts; integer addition commutes), so results
    * are bit-identical to the rescan formulation.
    *
    * Output: (idCol, n_chars, n_distinct, entropy_mbits) for docs with
    * at least one non-whitespace char. */
  def charEntropy(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol),
        regexp_replace(lower(col(textCol)), "\\s+", "").as("__s"))
      .filter(length(col("__s")) > 0)
      .select(col(idCol),
        length(col("__s")).cast("long").as("n_chars"),
        array_sort(transform(sequence(lit(1), length(col("__s"))),
          i => col("__s").substr(i, lit(1)))).as("__sc"))
      // run boundaries: 1-based positions where the sorted stream starts
      // a new character (greatest() keeps the i=1 probe in bounds under
      // ANSI; the first disjunct decides that row anyway)
      .select(col(idCol), col("n_chars"),
        filter(sequence(lit(1L), col("n_chars")), i =>
          i === 1L ||
            element_at(col("__sc"), i.cast("int")) =!=
              element_at(col("__sc"),
                greatest(i - 1L, lit(1L)).cast("int"))).as("__b"))
      // occurrence counts are boundary gaps; the last run ends at len+1
      .select(col(idCol), col("n_chars"),
        size(col("__b")).cast("long").as("n_distinct"),
        transform(sequence(lit(1), size(col("__b"))), j =>
          when(j === size(col("__b")), col("n_chars") + 1L)
            .otherwise(element_at(col("__b"), (j + 1).cast("int"))) -
            element_at(col("__b"), j.cast("int"))).as("__occs"))
      .select(col(idCol), col("n_chars"), col("n_distinct"),
        ldiv(aggregate(col("__occs"), lit(0L), (a, o) =>
          a + o * round(-log2(o.cast("double") /
            col("n_chars").cast("double")) * lit(1000000.0)).cast("long")),
          col("n_chars")).as("entropy_mbits"))

  /** Per-language tokenizer fertility: subword pieces per whitespace
    * word, the multilingual-pipeline table that decides token budgets
    * and mixture weights per language (high fertility = the tokenizer
    * fragments that language). Uses the BPE-proxy subword counter of
    * [[graft.functions.TextFunctions.subwordCount]]; integer permille.
    * Words are NON-EMPTY whitespace tokens (an empty document counts 0
    * words, not split("")'s phantom [""] token — the same filter as
    * every other token-counting lane). One scan, language-domain-sized
    * output, map-side combined. */
  def tokenizerFertility(
      docs: DataFrame, langCol: String, textCol: String): DataFrame =
    docs
      .groupBy(col(langCol))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(TextFunctions.tokenCountNonEmpty(col(textCol))).as("n_tokens"),
        sum(TextFunctions.subwordCount(col(textCol))).as("n_subwords"))
      .select(col(langCol), col("n_docs"), col("n_tokens"), col("n_subwords"),
        ldiv(col("n_subwords") * lit(1000L), greatest(col("n_tokens"), lit(1L)))
          .as("fertility_permille"))

  /** Per-class evaluation report of a classifier output frame — the
    * measurement half of the curation classifiers ([[naiveBayesPredict]],
    * the quality/language routers): per label, support, predicted count,
    * true positives, and integer-permille precision / recall / F1.
    *
    * ONE pass over the scored frame: everything reduces to the
    * (truth, pred) confusion matrix first — label-domain² rows, staged
    * behind a lazy checkpoint — so the three marginals never rescan (or
    * re-run) the upstream pipeline. Permilles are exact floor divisions;
    * F1 is the harmonic mean computed ON the permille values
    * (`2·p·r DIV (p+r)`), 0 where undefined — deterministic in any
    * engine.
    *
    * Output: (label, n_true, n_pred, tp, precision_permille,
    * recall_permille, f1_permille), one row per label observed in either
    * column. */
  def classifierReport(
      scored: DataFrame,
      truthCol: String,
      predCol: String): DataFrame = {
    // EAGER checkpoint, deliberately: the three marginals below become
    // concurrent AQE query stages in the caller's single action, and a
    // lazy checkpoint materializes on first compute — two stages racing
    // to it each run the full upstream pipeline (measured: the NB scoring
    // exchange executed twice, 27.7 MiB duplicated at the 10x point).
    // The frame is label-domain² rows, so the eager action is ~free.
    val cm = scored
      .groupBy(col(truthCol).as("t"), col(predCol).as("p"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    val tru = cm.groupBy(col("t").as("label")).agg(sum("n").as("n_true"))
    val prd = cm.groupBy(col("p").as("label")).agg(sum("n").as("n_pred"))
    val tp = cm.filter(col("t") === col("p"))
      .select(col("t").as("label"), col("n").as("tp"))
    val p = col("precision_permille")
    val r = col("recall_permille")
    tru.join(prd, Seq("label"), "full_outer")
      .join(tp, Seq("label"), "left_outer")
      .select(col("label"),
        coalesce(col("n_true"), lit(0L)).as("n_true"),
        coalesce(col("n_pred"), lit(0L)).as("n_pred"),
        coalesce(col("tp"), lit(0L)).as("tp"))
      .withColumn("precision_permille",
        when(col("n_pred") === 0L, lit(0L))
          .otherwise(ldiv(col("tp") * lit(1000L), col("n_pred"))))
      .withColumn("recall_permille",
        when(col("n_true") === 0L, lit(0L))
          .otherwise(ldiv(col("tp") * lit(1000L), col("n_true"))))
      .withColumn("f1_permille",
        when(p + r === 0L, lit(0L)).otherwise(ldiv(lit(2L) * p * r, p + r)))
  }

  /** Apply a trained BPE merge table ([[bpeTrain]]'s output order) to
    * encode text into subword pieces — the other half of the tokenizer:
    * train once, encode the corpus. Merges fold in TRAINING ORDER (the
    * published semantics; later merges see earlier merges' symbols),
    * each application the same greedy non-overlapping [[bpeMergeOne]]
    * pass.
    *
    * Encoding is a pure Column composition over the token column — the
    * merge table arrives as DRIVER-HELD literals (km01's centroid
    * pattern), so the corpus scan stays row-local: no join, no shuffle,
    * whatever the corpus size. Per-row cost is O(merges × len); for
    * large merge tables use [[bpeEncodeViaVocab]], which pays the fold
    * once per DISTINCT word instead of once per occurrence.
    *
    * Output: docs plus `pieces` (array<string>) and `n_pieces`.
    *
    * `markEnd = true` appends [[BpeWordEnd]] to each word's LAST piece
    * AFTER the fold (merges never see the marker, so the piece
    * boundaries are identical to the unmarked encoding) — the Sennrich
    * end-of-word convention that makes the encoding INVERTIBLE:
    * [[bpeDecode]] recovers the whitespace-normalized lowercased token
    * text exactly. Off by default (the counting/fertility consumers
    * don't want marked vocabulary). */
  def bpeEncode(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      merges: Seq[(String, String)],
      markEnd: Boolean = false): DataFrame = {
    docs
      // NULL text encodes like empty text ([] / 0) — the null-safe
      // convention of the tokenStream operators, without dropping rows
      .withColumn("__toks",
        TextFunctions.tokens(coalesce(col(textCol), lit(""))))
      .withColumn("__symLists",
        transform(filter(col("__toks"), t => length(t) > 0),
          t => split(t, "")))
      .withColumn("pieces",
        flatten(transform(col("__symLists"), syms =>
          markWordEnd(
            merges.foldLeft(syms) { case (s, (a, b)) => bpeMergeOne(s, a, b) },
            markEnd))))
      .drop("__toks", "__symLists")
      .withColumn("n_pieces", size(col("pieces")).cast("long"))
  }

  /** The end-of-word marker `markEnd` encodings append to each word's
    * last piece (Sennrich et al. 2016's `</w>`). Contract: the corpus
    * must not itself contain this literal inside a token — the standard
    * BPE marker-collision caveat; [[bpeDecode]] would split such a token
    * at the embedded marker. */
  val BpeWordEnd = "</w>"

  /** Append [[BpeWordEnd]] to the last element of a piece list (no-op
    * list pass-through when `enabled` is false).
    *
    * Deliberately NOT a `transform` lambda: higher-order-function lambda
    * bodies get no subexpression elimination, and the callers pass the
    * whole O(merges × len) BPE fold expression as `pieces` — a lambda
    * referencing `pieces` re-evaluates that fold once PER PIECE, making
    * the marked encoding ~len× the cost of the unmarked one. The
    * slice/element_at composition below references `pieces` a constant
    * number of times regardless of piece count. */
  private def markWordEnd(pieces: Column, enabled: Boolean): Column =
    if (!enabled) pieces
    else when(size(pieces) === 0, pieces).otherwise(
      concat(
        slice(pieces, lit(1), size(pieces) - 1),
        array(concat(element_at(pieces, lit(-1)), lit(BpeWordEnd)))))

  /** Inverse of a `markEnd = true` encoding: concatenate the pieces and
    * turn each end-of-word marker back into a single space. Round-trip
    * contract (GopherBpeSpec property): for any text,
    * `bpeDecode(pieces) == whitespace-normalized lowercased tokens
    * joined by single spaces` — i.e. decode∘encode is the identity on
    * already-normalized text. Pure Column work, row-local. */
  def bpeDecode(pieces: Column): Column =
    trim(regexp_replace(
      array_join(pieces, ""),
      java.util.regex.Pattern.quote(BpeWordEnd), " "))

  /** [[bpeEncode]] through a pre-encoded vocabulary — the large-merge-
    * table scale path the row-local encoder's docstring promises. The
    * O(merges × len) fold runs once per DISTINCT word (the vocabulary
    * frame); the corpus side broadcast-joins the word→pieces map onto
    * its token stream and reassembles each document in token order —
    * a 50k-merge tokenizer then costs |vocab| folds, not |corpus|.
    *
    * The trade (documented, measured in ScaleProof): unlike the
    * row-local path's zero shuffle, reassembly exchanges one
    * (id, pos, pieces) frame ≈ corpus token volume. The vocabulary map
    * is explicitly broadcast — Zipf keeps real-corpus vocabularies in
    * broadcast range, and a broadcast join means hot words never skew
    * a shuffled join key. Output and row set are IDENTICAL to
    * [[bpeEncode]] (spec-pinned equivalence): docs plus `pieces` and
    * `n_pieces`, null/empty text encoding to [] / 0.
    *
    * Contract (the keyed-reassembly price the row-local path doesn't
    * pay): `idCol` must be UNIQUE and NON-NULL — a null id can never
    * rejoin its pieces (loud raise, the hashHex convention) and
    * duplicate ids would SILENTLY merge two documents' piece streams;
    * use [[bpeEncode]] when ids can repeat. `checkUniqueIds = true`
    * enforces the uniqueness half loudly too, as an EAGER id-domain
    * validation job at call time (an id-only count aggregation —
    * map-side combined longs, never the token payload) — turn it on
    * when the id source is untrusted. */
  def bpeEncodeViaVocab(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      merges: Seq[(String, String)],
      checkUniqueIds: Boolean = false,
      markEnd: Boolean = false): DataFrame = {
    if (checkUniqueIds) {
      // eager, id-domain only: projecting the bare id keeps text out of
      // the validation scan's shuffle entirely (a window over the
      // tokenized frame would repartition the whole corpus payload)
      val dup = docs.select(col(idCol).as("__did"))
        .groupBy(col("__did")).agg(count(lit(1)).as("__n"))
        .filter(col("__n") > 1L).limit(1).collect()
      require(dup.isEmpty,
        s"bpeEncodeViaVocab: duplicate $idCol=${dup.head.get(0)} — " +
          "reassembly would merge two documents' pieces")
    }
    val toks = docs.select(
      when(col(idCol).isNull, raise_error(lit(
        s"bpeEncodeViaVocab: null $idCol — the reassembly join needs " +
          "unique non-null ids; use bpeEncode for keyless encoding")))
        .otherwise(col(idCol)).as("__did"),
      filter(TextFunctions.tokens(coalesce(col(textCol), lit(""))),
        t => length(t) > 0).as("__toks"))
    val vocab = toks
      .select(explode(col("__toks")).as("__w")).distinct()
      .select(col("__w"), split(col("__w"), "").as("__syms"))
      .select(col("__w"),
        markWordEnd(
          merges.foldLeft(col("__syms")) { case (s, (a, b)) =>
            bpeMergeOne(s, a, b)
          }, markEnd).as("__wp"))
    val perDoc = toks
      .select(col("__did"), posexplode(col("__toks")).as(Seq("__pos", "__w")))
      .join(broadcast(vocab), "__w")
      .groupBy(col("__did"))
      // token order restored by sorting (pos, pieces) structs — __pos is
      // unique per doc, so the array field never decides the order
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("__pos"), col("__wp")))),
        s => s.getField("__wp"))).as("__pieces"))
    docs
      .join(perDoc, col(idCol) === col("__did"), "left_outer")
      .drop("__did")
      .withColumn("pieces",
        coalesce(col("__pieces"), array().cast("array<string>")))
      .drop("__pieces")
      .withColumn("n_pieces", size(col("pieces")).cast("long"))
  }

  /** Approximate quantiles from an equi-width histogram — P50/P90/P99
    * of a numeric column (doc length, token count, quality score)
    * WITHOUT a global sort: the per-source length-distribution table
    * every curation dashboard needs at corpus scale. One bin-domain
    * count aggregation (map-side combined, ~zero shuffle — the
    * dr01/ks01 family), one cumulative window over the BOUNDED bin
    * domain, then each requested quantile reads the smallest bin whose
    * cumulative count reaches ceil(q·N/1000) — the inverse-ECDF
    * (type-1) quantile of the binned distribution, exact integer
    * arithmetic end to end. With binWidth = 1 this IS the exact type-1
    * quantile (spec-pinned); wider bins floor to the bin's lower edge
    * — the documented resolution trade. Negative values bin by FLOOR
    * division (the truncating `div` would merge (-bw, bw) into bin 0
    * and mislabel negative bins' edges — spec-pinned against DuckDB's
    * flooring `//`); NULL values are excluded from the distribution
    * (they have no magnitude to rank — n_total counts non-null rows).
    *
    * Output: (q_permille, n_total, bin, est_value) — est_value is the
    * bin lower edge, one row per requested quantile; empty input
    * yields no rows. */
  def quantileBins(
      df: DataFrame,
      valueCol: String,
      binWidth: Long = 1L,
      qs: Seq[Int] = Seq(500, 900, 990)): DataFrame = {
    require(binWidth >= 1L, s"binWidth=$binWidth")
    require(qs.nonEmpty && qs.forall(q => q >= 1 && q <= 1000),
      s"quantile permilles out of (0, 1000]: $qs")
    val spark = df.sparkSession
    import spark.implicits._
    // floor BEFORE the long cast: a bare cast truncates toward zero, so a
    // fractional negative (-0.5 at binWidth 1) would land in bin 0 — the
    // exact (-bw, bw) merge the floor-division branch below exists to
    // avoid. floor() is identity on integral columns (no double
    // round-trip, no 2^53 cliff) and floors double/decimal exactly.
    val v = floor(col(valueCol)).cast("long")
    val bins = df
      .filter(v.isNotNull)
      .select(when(v >= 0L, ldiv(v, lit(binWidth)))
        .otherwise(-ldiv(-v + lit(binWidth - 1L), lit(binWidth)))
        .as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("cnt"))
    // bin-domain window — span/binWidth rows, never corpus rows, so the
    // single-partition WindowExec is bounded by construction (the
    // vocabGrowth convention)
    val w = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // n_total rides the SAME bin-domain window pass (full-frame sum) —
    // the previous agg + crossJoin re-ran the corpus bin aggregation as
    // a second subtree (§7.2)
    val cum = bins.withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("n_total", sum(col("cnt")).over(
        Window.orderBy(col("bin")).rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)))
    val qdf = qs.map(_.toLong).toDF("q_permille")
    cum
      .crossJoin(broadcast(qdf))
      // ceil(q*N/1000) as exact integers: (q*N + 999) div 1000
      .filter(col("cum") >=
        ldiv(col("q_permille") * col("n_total") + lit(999L), lit(1000L)))
      .groupBy(col("q_permille"), col("n_total"))
      .agg(min(col("bin")).as("bin"))
      .select(col("q_permille"), col("n_total"), col("bin"),
        (col("bin") * lit(binWidth)).as("est_value"))
  }

  /** CCNet-style head/middle/tail perplexity bucketing (Wenzek et al.
    * LREC 2020 §4.4: the corpus is cut into terciles of LM perplexity;
    * "head" — the best-scoring third — feeds training first). Composes
    * two shipped primitives: every document's mean unigram surprisal
    * ([[unigramSurprisal]] — the cheap stand-in for CCNet's KenLM score,
    * same ordering semantics) and the corpus-level cut thresholds read
    * from a binWidth-wide histogram ([[quantileBins]]' type-1
    * inverse-ECDF machinery, no global sort anywhere).
    *
    * Bucketing is BIN-granular: a document lands in `head` iff its
    * surprisal bin is <= the cut permille's quantile bin (so the whole
    * threshold bin buckets together — deterministic at any scale, and
    * binWidth is the documented resolution knob; surprisal is
    * non-negative by construction, so the plain floor-division bin
    * applies). The two thresholds are bounded scalars (one |cuts|-row
    * collect); everything corpus-sized is the surprisal scan and one
    * bin-domain count aggregation.
    *
    * Output: (idCol, n_tokens, nll_micro_avg, ppl_bucket ∈
    * head|middle|tail); tokenless documents are absent (the lm01
    * convention). */
  def perplexityBuckets(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      vocabCap: Int = 65536,
      binWidth: Long = 10000L,
      cuts: Seq[Int] = Seq(333, 667)): DataFrame = {
    require(binWidth >= 1L, s"binWidth=$binWidth")
    require(cuts.size == 2 && cuts.head >= 1 && cuts(1) <= 1000 &&
      cuts.head < cuts(1), s"cuts must be two ascending permilles: $cuts")
    val sur = materialize(unigramSurprisal(docs, idCol, textCol, vocabCap))
    // |cuts| rows — bounded by construction
    val th = quantileBins(sur, "nll_micro_avg", binWidth, cuts)
      .select(col("q_permille"), col("bin")).collect()
      .map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
    if (th.isEmpty) // empty corpus: keep the labeled schema, zero rows
      sur.withColumn("ppl_bucket", lit(null).cast("string"))
    else {
      val docBin = ldiv(col("nll_micro_avg"), lit(binWidth))
      sur.withColumn("ppl_bucket",
        when(docBin <= lit(th(cuts.head)), "head")
          .when(docBin <= lit(th(cuts(1))), "middle")
          .otherwise("tail"))
    }
  }

  /** Per-language curation dashboard — the report every multilingual
    * pipeline maintains, composed from existing primitives: one row per
    * detected language (`TextFunctions.langIdNgram`) with corpus share,
    * token volume, Gopher-battery pass rate (`Curation.gopherRules`) and
    * binned length quantiles (the [[quantileBins]] machinery partitioned
    * by language).
    *
    * ONE text scan: the language and char counter ride through
    * gopherRules INSIDE the id struct (so the battery's row-local
    * projection computes everything in one pass — no corpus-side join
    * anywhere), and the narrow (lang, chars, words, keep) frame is
    * checkpointed once for its two consumers. Everything downstream
    * aggregates over the LANGUAGE × BIN domain — map-side combined,
    * ~zero shuffle at any corpus size; the cumulative window partitions
    * by language over the bounded bin domain.
    *
    * Quantiles are the inverse-ECDF (type-1) reads of the binWidth-wide
    * char-count histogram per language — same semantics and exact
    * integer thresholds as [[quantileBins]]; estimates floor to the
    * bin's lower edge.
    *
    * Output: (lang, n_docs, n_tokens, gopher_pass_permille, and one
    * `p<q>_chars` column per requested q). */
  def languageQualityReport(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      binWidth: Long = 100L,
      qs: Seq[Int] = Seq(500, 900)): DataFrame = {
    require(binWidth >= 1L, s"binWidth=$binWidth")
    require(qs.nonEmpty && qs.forall(q => q >= 1 && q <= 1000),
      s"quantile permilles out of (0, 1000]: $qs")
    val keyed = docs.select(
      struct(col(idCol).as("__id"),
        TextFunctions.langIdNgram(col(textCol)).as("__lang"),
        TextFunctions.charCount(col(textCol)).as("__nchar")).as("__key"),
      col(textCol))
    val scored = Curation.gopherRules(keyed, "__key", textCol)
      .select(col("__key.__lang").as("lang"),
        col("__key.__nchar").as("__nchar"),
        col("n_words"), col("keep"))
      .localCheckpoint(false) // feeds the share agg AND the histogram
    val shares = scored.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_tokens"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("__npass"))
      .withColumn("gopher_pass_permille",
        ldiv(col("__npass") * lit(1000L), col("n_docs")))
      .drop("__npass")
    val bins = scored
      .groupBy(col("lang"), ldiv(col("__nchar"), lit(binWidth)).as("bin"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("lang")).orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = bins.withColumn("cum", sum(col("cnt")).over(w))
      .join(bins.groupBy(col("lang")).agg(sum(col("cnt")).as("__n")),
        Seq("lang"))
    val qExprs = qs.map { q =>
      min(when(col("cum") >=
        ldiv(lit(q.toLong) * col("__n") + lit(999L), lit(1000L)),
        col("bin") * lit(binWidth))).as(s"p${q}_chars")
    }
    shares.join(
      cum.groupBy(col("lang")).agg(qExprs.head, qExprs.tail: _*),
      Seq("lang"))
  }

  /** Vocabulary-growth (Heaps-law) curve: cumulative distinct-token
    * count as the corpus is consumed in `idCol` order, next to the
    * cumulative token count — the (tokens_seen, vocab_size) table that
    * decides tokenizer vocab budgets and detects template/boilerplate
    * corpora (sub-Heaps growth) before training.
    *
    * One pass: each token's FIRST document (one vocabulary-domain
    * min-agg, map-side combined) buckets the vocabulary by arrival;
    * token totals bucket the same way. The cumulative sums then run
    * over the BUCKET domain — `span/bucketWidth` rows, never corpus
    * rows — so the single-partition window is bounded by construction
    * (the WindowExec warning is expected and harmless here, same as
    * the other bucket-domain windows).
    *
    * Output: (bucket, n_tokens, new_tokens, tokens_seen, vocab_size),
    * one row per id bucket that contains tokens. */
  def vocabGrowth(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      bucketWidth: Long = 50L): DataFrame = {
    require(bucketWidth >= 1L, s"bucketWidth=$bucketWidth")
    val ts = tokenStream(docs, idCol, textCol)
    val firsts = ts.groupBy(col("tok")).agg(min(col(idCol)).as("first_id"))
      .groupBy(ldiv(col("first_id"), lit(bucketWidth)).as("bucket"))
      .agg(count(lit(1)).as("new_tokens"))
    val totals = ts
      .groupBy(ldiv(col(idCol), lit(bucketWidth)).as("bucket"))
      .agg(count(lit(1)).as("n_tokens"))
    val w = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    totals.join(firsts, Seq("bucket"), "full_outer")
      .na.fill(0L, Seq("n_tokens", "new_tokens"))
      .withColumn("tokens_seen", sum(col("n_tokens")).over(w))
      .withColumn("vocab_size", sum(col("new_tokens")).over(w))
  }

  /** The counting pass of BPE tokenizer training (Sennrich et al. 2016):
    * adjacent character-pair frequencies over the corpus, weighted by
    * word frequency. This is the table the merge loop argmaxes over —
    * at corpus scale it is THE expensive part of training a tokenizer,
    * and it reduces to two bounded aggregations: the corpus pass is one
    * vocabulary-domain word count (map-side combined; capped at the
    * `maxVocab` most frequent words, ties by word, like tk01's bounded
    * vocabulary), and the pair explode then runs over the VOCABULARY,
    * never the corpus — 31 words or 31 million, the token stream is
    * scanned exactly once.
    *
    * Output: the `topK` (pair, pair_count) rows, count desc / pair asc
    * — deterministic total order. */
  def bpePairCounts(
      docs: DataFrame,
      textCol: String,
      topK: Int = 20,
      maxVocab: Int = 100000): DataFrame =
    tokenStream(docs.select(lit(0L).as("__id"), col(textCol)),
        "__id", textCol)
      .groupBy(col("tok")).agg(count(lit(1)).as("wcnt"))
      .orderBy(col("wcnt").desc, col("tok")).limit(maxVocab)
      .filter(length(col("tok")) >= 2)
      .select(col("wcnt"), explode(
        transform(sequence(lit(1), length(col("tok")) - 1),
          i => col("tok").substr(i, lit(2)))).as("pair"))
      .groupBy(col("pair")).agg(sum(col("wcnt")).as("pair_count"))
      .orderBy(col("pair_count").desc, col("pair")).limit(topK)

  /** Greedy left-to-right merge of one BPE pair inside a symbol array —
    * the non-overlapping semantics of the published algorithm: a symbol
    * consumed by a merge can't start the next one ('a a a' under
    * ('a','a') yields ['aa','a']). A sequential fold, but over ONE
    * word's symbols — the distributed axis stays the vocabulary. */
  def bpeMergeOne(
      symbols: Column, a: String, b: String): Column =
    aggregate(symbols, array().cast("array<string>"),
      (acc, x) =>
        when(size(acc) > 0 && element_at(acc, -1) === a && x === b,
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
          .otherwise(concat(acc, array(x))))

  /** BPE tokenizer training: `steps` merge rounds over the corpus
    * vocabulary. Each round counts adjacent symbol pairs across the
    * (word, frequency) table, collects the single most frequent pair
    * (ties by pair string — deterministic), and folds the merge into
    * every word's symbol array. The driver holds only the merge table
    * (like km01's centroid literals); per-round work is vocabulary-
    * bounded, and the corpus is scanned once for the word counts.
    * Sequential BY NATURE — each merge changes what the next round
    * counts — so the rounds are a driver loop, not a lineage chain:
    * each round's vocabulary frame is eagerly checkpointed (vocab-sized)
    * to keep the plan flat.
    *
    * Output: (step, left, right, pair_count), one row per merge,
    * `step` starting at 1. */
  def bpeTrain(
      docs: DataFrame,
      textCol: String,
      steps: Int = 3,
      maxVocab: Int = 100000): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // persist (not localCheckpoint): each round's frame is superseded by
    // the next, and persist is CacheManager-registered so the stale
    // round can be RELEASED eagerly — otherwise steps+1 vocabulary-sized
    // copies pile up for the life of the call. Each round materializes
    // (count) BEFORE its predecessor unpersists, so the ≤steps-deep
    // projection lineage never recomputes; the loop's actions are
    // sequential driver calls with no broadcast subqueries, so the lazy
    // persist is race-free (the PLANS.md r8 rule).
    def materializeRound(df: DataFrame): DataFrame = {
      val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      p.count()
      p
    }
    var vocab = materializeRound(
      tokenStream(docs.select(lit(0L).as("__id"), col(textCol)),
          "__id", textCol)
        .groupBy(col("tok")).agg(count(lit(1)).as("wcnt"))
        .orderBy(col("wcnt").desc, col("tok")).limit(maxVocab)
        .select(split(col("tok"), "").as("sym"), col("wcnt")))
    val merges = scala.collection.mutable.ArrayBuffer.empty[
      (Int, String, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= steps && !exhausted) {
      val top = vocab
        .filter(size(col("sym")) >= 2)
        .select(col("wcnt"), explode(
          transform(sequence(lit(1), size(col("sym")) - 1),
            i => concat(element_at(col("sym"), i), lit(" "),
              element_at(col("sym"), i + 1)))).as("pair"))
        .groupBy(col("pair")).agg(sum(col("wcnt")).as("pair_count"))
        .orderBy(col("pair_count").desc, col("pair")).limit(1)
        .collect()
      if (top.isEmpty) exhausted = true
      else {
        val Array(a, b) = top(0).getString(0).split(" ", 2)
        merges += ((step, a, b, top(0).getLong(1)))
        val next = materializeRound(vocab
          .select(bpeMergeOne(col("sym"), a, b).as("sym"), col("wcnt")))
        vocab.unpersist(false)
        vocab = next
        step += 1
      }
    }
    vocab.unpersist(false)
    merges.toSeq.toDF("step", "left", "right", "pair_count")
  }
}
