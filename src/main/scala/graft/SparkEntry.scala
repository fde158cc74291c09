package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.GraftFunctions._
import graft.functions.TextFunctions
import graft.operators.{CorpusStats, Curation, Decontaminate, Dedup, GraphOps, Similarity, Sketches}

/** Driver contract: the operator inventory of SURVEY.md §2 (plus the
  * training-data-pipeline extras) exercised as named queries over the
  * driver's synthetic tables, each with an equivalent DuckDB oracle.
  *
  * Numeric-determinism rules used throughout (so Spark and DuckDB hash
  * identically):
  *   - double SUMs go through DECIMAL(18,2) (exact, order-independent) and
  *     are cast back to double only at the end;
  *   - integer results are cast to BIGINT on both sides;
  *   - every query has a total ORDER BY (ties broken by keys) so LIMIT is
  *     deterministic;
  *   - raw doubles are only emitted when they came straight from storage
  *     (min/max/point lookups), never from re-associated arithmetic.
  */
object SparkEntry {

  /** Once-inferred parquet schemas, keyed by file path. A bare
    * `spark.read.parquet` re-infers the schema from the footer on the
    * driver on EVERY call (~70 ms/call on the bench box), and the
    * catalog constructs the same nine immutable fixture tables in every
    * lane build — the repeated driver-side metadata cost a catalog
    * table's cached listing avoids (optimization guide §6). Only the
    * SCHEMA is cached: each call still returns a completely fresh scan
    * (distinct attribute ids, so self-joins stay unambiguous) and every
    * action re-reads the parquet input. NOTE the inference session's
    * read confs bind the cached schema — all engine sessions go through
    * GraftSession.local/prepare, which pin the one relevant conf
    * (parquet.nanosAsLong) before any read. LIFECYCLE: the cache is
    * JVM-global with no automatic invalidation — correct for the
    * bench/verify contract (immutable fixture files), but a long-lived
    * process that REPLACES a file at a cached path with a different
    * schema must call [[clearTableSchemas]] first or later reads scan
    * with the stale schema. */
  private val tableSchemas =
    new java.util.concurrent.ConcurrentHashMap[
      String, org.apache.spark.sql.types.StructType]()

  /** Invalidation hook for [[tableSchemas]] (fixture regeneration in a
    * long-lived JVM — e.g. a harness rewriting a parquet path with a
    * different schema). */
  private[graft] def clearTableSchemas(): Unit = tableSchemas.clear()

  private def t(s: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val sch = tableSchemas.computeIfAbsent(path, p => s.read.parquet(p).schema)
    s.read.schema(sch).parquet(path)
  }

  /** The events table's stored `ts` type varies by fixture generation —
    * TIMESTAMP(NANOS) (read as long via the legacy conf) or
    * TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ). `EventStreams.normalize`
    * adapts either to the engine contract: `ts` micros TIMESTAMP plus
    * `ts_ns` epoch-nanos for ordering and second-exact arithmetic. */
  private def events(s: SparkSession, dir: String): DataFrame = {
    GraftSession.prepare(s) // sets the nanosAsLong read conf, idempotent
    graft.streaming.EventStreams.normalize(t(s, dir, "events"))
  }

  /** exact decimal view of a 2-dp double column */
  private def dec(c: Column): Column = c.cast(DecimalType(18, 2))

  /** url05/wp01/wp02's SHARED filter-exercising synth — one Scala
    * source so a tweak can never drift the lanes apart (their oracles
    * share the matching SQL via [[sqlSynthFilterUrl]]). Already
    * canonical (lowercase, no tracking keys, no trailing slash), so
    * those oracles' canon step is the unparseable gate alone.
    * Exercises every filter rule: static-asset extensions, deep paths,
    * digit-heavy paths, param-heavy views, a blocklist hit, and
    * unparseable rows. The host arm spreads docs over several
    * registered domains (a platform-suffix tenant tier, a ps2-cc
    * domain, a plain .com) so wp02's cap/mix tail has real strata. */
  private def synthFilterUrl: Column =
    when(col("doc_id") % 17 === 0,
      concat(lit("not a url "), col("doc_id").cast("string")))
      .otherwise(concat(
        lit("http://site"), (col("doc_id") % 5).cast("string"),
        // 23, not 21: 21 = 3 x 7, and every %7 doc trips the param rule,
        // so a %21 platform tier would never survive into wp02's cap
        when(col("doc_id") % 23 === 0, lit(".github.io"))
          .when(col("doc_id") % 3 === 0, lit(".example.co.uk"))
          .otherwise(lit(".example.com")),
        lit("/docs"),
        when(col("doc_id") % 11 === 0, lit("/a/b/c/d/e/f/g/h"))
          .otherwise(lit("")),
        when(col("doc_id") % 13 === 0, lit("/2024010199887766"))
          .otherwise(lit("")),
        lit("/page"), (col("doc_id") % 30).cast("string"),
        when(col("doc_id") % 9 === 0, lit(".jpg"))
          .when(col("doc_id") % 8 === 0, lit(".html"))
          .otherwise(lit("")),
        when(col("doc_id") % 19 === 0, lit("?q=casino"))
          .when(col("doc_id") % 7 === 0, lit("?x=1&y=2&z=3&w=4&v=5"))
          .otherwise(concat(lit("?q="), (col("doc_id") % 6).cast("string")))))

  /** ht01/wp01's SHARED markup synth (one Scala source, matching SQL via
    * [[sqlSynthHtml]]): wraps each doc's text in markup exercising every
    * extraction clause — comment, style, script (with a stray `<` inside),
    * block and inline tags, and the entity battery: named forms, ASCII
    * numeric refs (`&#65;` dec, `&#x42;` hex), non-ASCII refs that STAY
    * encoded by contract (`&#233;`, `&#8217;`), the no-cascade probe
    * `&amp;#38;` (literal text `&#38;` — a staged replace-fold would
    * re-decode it), a dangling `R&D` ampersand, and a malformed
    * `&#bad;`. */
  private def synthHtml: Column = concat(
    lit("<html><!-- id "), col("doc_id").cast("string"),
    lit(" --><head><style>p{color:red}</style>" +
      "<script>var x=1; if (x<2) { x = 3; }</script></head><body>" +
      "<h1>Doc "),
    col("doc_id").cast("string"),
    lit("</h1><p>"), col("text"),
    lit("</p><div>Tom &amp; Jerry &lt;3 <b>bold</b>&nbsp;and " +
      "&quot;quotes&quot; it&#39;s done, R&D dept, A&#65;&#x42;Z " +
      "caf&#233; won&#8217;t &amp;#38; &#bad;</div></body></html>"))

  /** The corpus-datasheet rows over an arbitrary (doc_id, text)
    * snapshot — cr01 emits them for the live corpus, cr02 for both
    * sides of a snapshot step. Every value an exact integer from the
    * already-oracled primitives (langIdNgram, gopherRules, the token
    * model, md5 identity). */
  /** The four fact-derived card sections — corpus volume, exact-dup
    * overhang, the Gopher keep count, per-language and per-domain doc
    * counts — in ONE aggregation over the per-doc facts frame
    * (grouping sets (), (lang), (dom)), where the batch card previously
    * paid one full text scan + one shuffle PER section (guide §1.2/§2.4:
    * remove passes and shuffles outright). The section rows then derive
    * from the single agg output with one explode — a second consumer of
    * the agg would re-run its whole subtree (no CSE across DataFrame
    * branches). Values are bit-identical to the per-section aggs: every
    * cell is a count/sum/countDistinct of the same rows.
    *
    * `facts` must carry (lang, n_tokens, n_chars, __md5, keep, dom);
    * callers guarantee a non-empty frame (grouping sets emit no global
    * row over empty input, where the old keyless agg emitted zeros —
    * no caller feeds an empty corpus). */
  private def cardSectionsFromFacts(facts: DataFrame): DataFrame = {
    val g = facts
      .groupingSets(Seq(Seq(), Seq(col("lang")), Seq(col("dom"))),
        col("lang"), col("dom"))
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("n_tokens")), lit(0L)).as("n_tokens"),
        coalesce(sum(col("n_chars")), lit(0L)).as("n_chars"),
        countDistinct(col("__md5")).as("__uniq"),
        coalesce(sum(when(col("keep"), 1L).otherwise(0L)), lit(0L))
          .as("keep_docs"),
        grouping_id().as("__gid"))
    // grouping_id bits follow the groupBy column order (lang, dom):
    // 3 = global, 1 = by-lang (dom aggregated), 2 = by-dom
    g.select(explode(
      when(col("__gid") === 3, array(
        struct(lit("corpus").as("section"), lit("n_docs").as("metric"),
          col("n_docs").as("value")),
        struct(lit("corpus").as("section"), lit("n_tokens").as("metric"),
          col("n_tokens").as("value")),
        struct(lit("corpus").as("section"), lit("n_chars").as("metric"),
          col("n_chars").as("value")),
        struct(lit("dedup").as("section"),
          lit("exact_dup_docs").as("metric"),
          (col("n_docs") - col("__uniq")).as("value")),
        struct(lit("quality").as("section"),
          lit("gopher_keep_docs").as("metric"),
          col("keep_docs").as("value"))))
        .when(col("__gid") === 1, array(
          struct(lit("lang").as("section"),
            concat(lit("docs_"), col("lang")).as("metric"),
            col("n_docs").as("value"))))
        .otherwise(array(
          struct(lit("mixture").as("section"),
            concat(lit("docs_"), col("dom")).as("metric"),
            col("n_docs").as("value"))))).as("__r"))
      .select(col("__r.section").as("section"),
        col("__r.metric").as("metric"), col("__r.value").as("value"))
  }

  /** The datasheet's per-doc facts over an arbitrary (doc_id, text)
    * snapshot, in ONE text pass: language, token/char counts, content
    * digest, registered domain, and the Gopher verdict composed as a
    * column (no per-doc join). Shared by the batch card and the
    * incremental maintenance so the two facts definitions cannot
    * drift.
    *
    * `gramN`: when set, the SAME text pass also carries `n_grams` — the
    * doc's DISTINCT hashed n-gram count (`ngram_hashes` dedupes, so
    * `size` of it equals a distinct posting count per doc). cr03's
    * exact-Jaccard confirm joins these pre-aggregated set sizes instead
    * of re-aggregating the gram postings per confirm pass (guide §2.3
    * shuffle fewer bytes — the narrow per-doc long replaces a
    * posting-frame groupBy). */
  private def docFacts(
      docs: DataFrame, gramN: Option[Int] = None): DataFrame =
    graft.operators.Curation.withGopherKeep(docs, "text", "keep")
      .select(Seq(col("doc_id"),
        TextFunctions.langIdNgram(col("text")).as("lang"),
        size(filter(TextFunctions.tokens(col("text")),
          t => length(t) > 0)).cast("long").as("n_tokens"),
        length(col("text")).cast("long").as("n_chars"),
        md5(col("text").cast("binary")).as("__md5"),
        coalesce(graft.functions.UrlFunctions.urlDomain(synthUrl()),
          lit("unattributed")).as("dom"),
        col("keep")) ++
        gramN.map(n =>
          size(ngramHashes(TextFunctions.tokens(col("text")), n))
            .cast("long").as("n_grams")): _*)

  private def corpusReportRows(docs: DataFrame): DataFrame = {
    // corpus volume + exact-dup + gopher + lang + mixture: one text
    // pass, one grouping-sets shuffle (was 4 passes / 4 shuffles)
    val factRows = cardSectionsFromFacts(docFacts(docs))
    // paragraph-dup overhang: non-empty lines beyond the first copy of
    // their exact digest (the pd01 line-identity convention) — the
    // distinct agg is line-digest-domain, not corpus-row-domain
    val paraRows = docs
      .select(explode(filter(split(col("text"), "\r?\n"),
        l => length(l) > 0)).as("__p"))
      .agg((count(lit(1)) -
        countDistinct(md5(col("__p").cast("binary")))).as("value"))
      .select(lit("dedup").as("section"),
        lit("dup_paragraphs").as("metric"), col("value"))
    // near-dup overhang (the dd01/dd05 machinery): docs holding at
    // least one CONFIRMED near-duplicate — portable-minhash LSH
    // candidates verified by exact 3-gram Jaccard at 0.8. (The sigs
    // frame stages INSIDE minhashCandidatesFromSigs — the round-14
    // before plan carried minhash_portable EIGHT times without it.)
    val sigs = docs.select(col("doc_id").as("id"),
      Dedup.minhashSigColumnPortable(col("text"), numHashes = 64,
        nGram = 3).as("sig"))
    val confirmed = Dedup.withExactJaccard(
      Dedup.minhashCandidatesFromSigs(sigs, numHashes = 64, bands = 16),
      docs, "doc_id", "text", nGram = 3)
      .filter(col("exact_jaccard") >= 0.8)
    // one explode instead of a two-branch union: the union re-ran the
    // whole confirm subtree (candidates + exact-Jaccard join) per branch
    val nearDupRows = confirmed
      .select(explode(array(col("id_a"), col("id_b"))).as("id"))
      .agg(countDistinct(col("id")).as("value"))
      .select(lit("dedup").as("section"),
        lit("near_dup_docs").as("metric"), col("value"))
    // per-language distinct-token estimates (grouped HLL, p=4 — the
    // hl04 machinery): the diversity table a release review reads;
    // est_micro is deterministic double math, replayed exactly by the
    // chain's grouped estimator CTEs
    val diversityRows = Sketches.groupedHllEstimate(
      Sketches.groupedHllRegisters(
        docs.withColumn("__lang", TextFunctions.langIdNgram(col("text"))),
        "__lang", "text", p = 4),
      "__lang", p = 4)
      .select(lit("diversity").as("section"),
        concat(lit("distinct_tokens_micro_"), col("__lang")).as("metric"),
        col("est_micro").as("value"))
    factRows.unionByName(paraRows)
      .unionByName(nearDupRows).unionByName(diversityRows)
  }

  /** [[corpusReportRows]] maintained INCREMENTALLY under a snapshot
    * step — the cr03 composition capstone: the card re-derives from
    * maintained NARROW frames only, so no text beyond the delta is
    * ever re-read. Persisted state (computed batch-style in-lane over
    * `oldDocs`; in production every `prior*` frame is a table read):
    *
    *   - per-doc FACTS (lang, token/char counts, md5, gopher keep,
    *     registered domain) — id-keyed anti/union fold;
    *   - per-doc LINE-DIGEST counts (the dup-paragraph overhang's
    *     contributions) and per-doc DISTINCT 3-GRAM postings (the
    *     confirm step's sets) — same fold;
    *   - minhash SIGNATURES (banding cells re-derive per-row,
    *     shuffle-free) and the LSH candidate PAIR table, maintained by
    *     [[Incremental.maintainWinnowingPairs]] over [[Dedup.bandCells]]
    *     (pair ⇔ ≥ 1 shared usable bucket — dd01's cap semantics);
    *   - the CONFIRMED near-dup pair table: a pair's exact-Jaccard
    *     verdict is a pure function of its two gram sets, so only
    *     pairs touching a delta doc or whose CANDIDACY flipped
    *     (appeared/disappeared in the pair fold — a third doc moving a
    *     shared bucket across the cap flips pairs of UNTOUCHED docs)
    *     re-verify; the rest carry. Both the prior table and the
    *     re-verified slice use the same relational confirm over the
    *     gram postings (the oracle's string-gram Jaccard under the
    *     dd-family no-collision reading).
    *
    * Incremental == batch EXACTLY: the cr03 oracle replays cr01's full
    * batch chain over the new snapshot and hash-compares the card. */
  private[graft] def incrementalReportRows(
      oldDocs: DataFrame,
      newDocs: DataFrame,
      maxBucketSize: Int = 1000,
      diff: Option[DataFrame] = None): DataFrame = {
    import graft.operators.{Barriers, Curation, Incremental}
    // the one-pass facts projection (gopher verdict as a column — the
    // old per-doc join with gopherRules cost a second text scan plus an
    // exchange per facts build). gramN: the same pass carries each doc's
    // distinct 3-gram count, so the exact-Jaccard confirm below joins
    // pre-aggregated set sizes instead of re-aggregating gram postings
    // per confirm pass (guide §2.3)
    def factsOf(docs: DataFrame) = docFacts(docs, gramN = Some(3))
    def linesOf(docs: DataFrame) = docs
      .select(col("doc_id"),
        explode(filter(split(col("text"), "\r?\n"),
          l => length(l) > 0)).as("__p"))
      .groupBy(col("doc_id"), md5(col("__p").cast("binary")).as("ldig"))
      .agg(count(lit(1)).as("cnt"))
    def gramsOf(docs: DataFrame) = docs
      .select(col("doc_id"),
        explode(ngramHashes(TextFunctions.tokens(col("text")), 3)).as("gh"))
      .distinct()
    def sigsOf(docs: DataFrame) = docs.select(col("doc_id").as("id"),
      Dedup.minhashSigColumnPortable(col("text"), numHashes = 64, nGram = 3)
        .as("sig"))
    // the same relational confirm for the PRIOR table and the touched
    // slice — one definition, so carried and recomputed verdicts cannot
    // drift; arithmetic mirrors the oracle's CAST(inter AS DOUBLE)/union.
    // `sizes` is the PRE-AGGREGATED (doc_id, __n) distinct-gram count the
    // facts pass already carries (n_grams == per-doc posting count, so
    // the old posting-frame groupBy per confirm pass is gone — guide
    // §2.3); callers restrict `posts` AND `sizes` to pair-participant
    // docs (§3.2 — only grams of docs appearing in some pair can
    // contribute to the intersection, and restricting by doc keeps every
    // gram of a kept doc, so counts are exact)
    def confirm(pairs: DataFrame, posts: DataFrame,
        sizes: DataFrame): DataFrame = {
      val inter = pairs
        .join(posts.select(col("doc_id").as("id_a"), col("gh")), Seq("id_a"))
        .join(posts.select(col("doc_id").as("id_b"), col("gh")),
          Seq("id_b", "gh"))
        .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("__i"))
      pairs
        .join(inter, Seq("id_a", "id_b"), "left")
        .join(sizes.select(col("doc_id").as("id_a"), col("__n").as("__na")),
          Seq("id_a"), "left")
        .join(sizes.select(col("doc_id").as("id_b"), col("__n").as("__nb")),
          Seq("id_b"), "left")
        .withColumn("__u",
          coalesce(col("__na"), lit(0L)) + coalesce(col("__nb"), lit(0L)) -
            coalesce(col("__i"), lit(0L)))
        .filter(col("__u") > 0L &&
          coalesce(col("__i"), lit(0L)).cast("double") / col("__u") >= 0.8)
        .select(col("id_a"), col("id_b"))
    }
    // the docs participating in at least one pair — the §3.2 restriction
    // key for both confirm passes
    def pairIds(pairs: DataFrame) = pairs
      .select(explode(array(col("id_a"), col("id_b"))).as("doc_id"))
      .distinct()
    // --- the snapshot step: the caller passes the delta when it knows
    // it closed-form (a production ingest manifest; cr03's synthesized
    // step); corpusDiff reconciles from content when it doesn't
    val diffDf = diff.getOrElse(
      Dedup.corpusDiff(oldDocs, newDocs, "doc_id", "text"))
    val deltaIds = diffDf.filter(col("status").isin("added", "changed"))
      .select("doc_id")
    val deltaDocs = newDocs.join(deltaIds, Seq("doc_id"), "left_semi")
    val gone = diffDf.filter(col("status").isin("changed", "removed"))
      .select("doc_id")
    def fold(prior: DataFrame, delta: DataFrame) =
      prior.join(gone, Seq("doc_id"), "left_anti").unionByName(delta)
    // --- per-language sketch maintenance (the diversity section):
    // grouped HLL contributions are per-doc facts (doc's lang rides
    // with its rows), so the register family folds delta-bounded via
    // maintainRegisterMax keyed (lang, bucket)
    def hllOf(docs: DataFrame) = graft.operators.Sketches.groupedHllContrib(
      docs.withColumn("lang", TextFunctions.langIdNgram(col("text"))),
      "doc_id", "lang", "text", p = 4)
    // --- prior state (stage the multi-consumer frames: sigs feed the
    // index build AND the fold's departed side; grams feed the prior
    // confirm AND the touched re-verify; the HLL contributions feed the
    // fold three ways AND the prior register derivation; the OLD facts
    // feed the next-facts fold, the prior confirm's set sizes, and the
    // next confirm's set-size fold). The multi-consumer DELTA
    // projections join the same wave: the band cells (winnowingPairDeltas
    // would otherwise stage them in a sequential wave of their own — its
    // isStaged guard skips them), the delta grams (the gram fold feeds
    // the touched re-verify slice; unstaged, its wave re-ran the delta
    // text explode), and the delta facts (the card agg and the confirm's
    // set-size lookup each re-ran the widest projection). All chains are
    // mutually independent, so they materialize CONCURRENTLY
    // (Barriers.stageAll, guide §2.6) — issued sequentially, each eager
    // barrier left the box idle through its own job's tail
    val Seq(priorSigs, priorGrams, priorHllContrib, factsOld,
        deltaCells, deltaGrams, deltaFacts, deltaHll) =
      Barriers.stageAll(
        sigsOf(oldDocs), gramsOf(oldDocs), hllOf(oldDocs),
        factsOf(oldDocs), Dedup.bandCells(sigsOf(deltaDocs)),
        gramsOf(deltaDocs), factsOf(deltaDocs), hllOf(deltaDocs))
    // the NEXT facts stay a lazy fold off the staged frames — cheap
    // anti/union arithmetic over checkpointed blocks per consumer
    val facts = fold(factsOld, deltaFacts)
    val priorCells = Dedup.bandCells(priorSigs)
    // the prior pair table materializes on a BACKGROUND thread
    // (Barriers.stageAsync, §2.6): its build is independent of the
    // signed pair-delta computation (winnowingPairDeltas reads
    // priorCells and the delta, never the pair table), so the two
    // overlap instead of serializing — the table is only CONSUMED by
    // the foldPairDeltas outer join, which await() fences. On failure
    // of the delta side the doomed materialization cancels.
    val priorPairsAsync = Barriers.stageAsync(
      Dedup.winnowingPairCounts(priorCells, "id", maxBucketSize))
    val lines = fold(linesOf(oldDocs), linesOf(deltaDocs))
    // the gram FOLD stays LAZY (measured: staging this wide posting fold
    // read cr03 at 10.3 s vs 8.9 s — the cs03/bm02 wide-frame lesson);
    // its delta side reads the wave-1 checkpoint, so the fold is narrow
    // arithmetic over staged blocks and only the recompute-restricted
    // SLICE below stages (small, multi-consumer)
    val grams = fold(priorGrams, deltaGrams)
    val (_, nextHllReg) = Incremental.maintainRegisterMax(
      priorHllContrib, deltaHll, diffDf,
      priorHllContrib.groupBy(col("lang"), col("bucket"))
        .agg(max(col("rho")).as("register")),
      "doc_id", keyCols = Seq("lang", "bucket"))
    val (_, pairDeltas) =
      try Incremental.winnowingPairDeltas(
        priorCells, deltaCells,
        diffDf.withColumnRenamed("doc_id", "id"), "id", maxBucketSize)
      catch { case e: Throwable => priorPairsAsync.cancel(); throw e }
    // fence: everything below consumes the materialized pair table
    val priorPairs = priorPairsAsync.await()
    val nextPairsCounts = Incremental.foldPairDeltas(priorPairs, pairDeltas)
    // prior confirm over the §3.2-restricted slices: only pair-
    // participant docs' grams can intersect, and their set sizes ride in
    // the staged facts (n_grams) — no posting-frame aggregation pass
    val priorPairIds = pairIds(priorPairs)
    val priorConfirmed = confirm(
      priorPairs.select(col("id_a"), col("id_b")),
      priorGrams.join(priorPairIds, Seq("doc_id"), "left_semi"),
      factsOld.select(col("doc_id"), col("n_grams").as("__n"))
        .join(priorPairIds, Seq("doc_id"), "left_semi"))
    val nextPairs = Barriers.stage(
      nextPairsCounts.select(col("id_a"), col("id_b")))
    // --- confirmed-pair maintenance: re-verify pairs touching a delta
    // doc or newly candidate; drop pairs no longer candidate (covers
    // every pair holding a gone id — its cells left the index)
    val touchingDelta = nextPairs
      .join(deltaIds.select(col("doc_id").as("id_a")), Seq("id_a"),
        "left_semi")
      .unionByName(nextPairs.join(
        deltaIds.select(col("doc_id").as("id_b")), Seq("id_b"),
        "left_semi"))
      .distinct()
    val appeared = nextPairs
      .join(priorPairs.select(col("id_a"), col("id_b")),
        Seq("id_a", "id_b"), "left_anti")
    // staged: the re-verify slice feeds the confirm (both the pair base
    // and the intersection build), the gram restriction, and the stale
    // union — four consumers of a narrow delta-bounded frame (§7.2)
    // staged, RE-MEASURED second sitting after the barrier/wave changes:
    // lazy read cr03 at 4.26 vs 4.05 staged (same quiet window, ct01
    // control 0.88/0.91) — four consumers re-deriving even cheap joins
    // over checkpoints still lose to one narrow materialization
    val recompute = Barriers.stage(
      touchingDelta.unionByName(appeared).distinct())
    val disappeared = priorPairs.select(col("id_a"), col("id_b"))
      .join(nextPairs, Seq("id_a", "id_b"), "left_anti")
    val stale = recompute.unionByName(disappeared).distinct()
    // the recompute-restricted gram slice (§3.2): ONE pass of the lazy
    // gram fold builds it, then both intersection sides read the staged
    // blocks — unstaged, each side re-ran the fold
    val recomputeIds = pairIds(recompute)
    val touchedGrams = Barriers.stage(
      grams.join(recomputeIds, Seq("doc_id"), "left_semi"))
    val confirmedNext = priorConfirmed
      .join(stale, Seq("id_a", "id_b"), "left_anti")
      .unionByName(confirm(recompute, touchedGrams,
        facts.select(col("doc_id"), col("n_grams").as("__n"))
          .join(recomputeIds, Seq("doc_id"), "left_semi")))
    // --- the card, from maintained narrow frames only: the four
    // fact-derived sections in ONE grouping-sets agg over the staged
    // facts (was 4 separate agg jobs)
    val factRows = cardSectionsFromFacts(facts)
    val paraRows = lines
      .agg((coalesce(sum(col("cnt")), lit(0L)) -
        countDistinct(col("ldig"))).as("value"))
      .select(lit("dedup").as("section"),
        lit("dup_paragraphs").as("metric"), col("value"))
    // one explode instead of a two-branch union: the union re-ran the
    // carried/recomputed confirm subtree once per branch
    val nearDupRows = confirmedNext
      .select(explode(array(col("id_a"), col("id_b"))).as("id"))
      .agg(countDistinct(col("id")).as("value"))
      .select(lit("dedup").as("section"),
        lit("near_dup_docs").as("metric"), col("value"))
    val diversityRows = graft.operators.Sketches.groupedHllEstimate(
      nextHllReg, "lang", p = 4)
      .select(lit("diversity").as("section"),
        concat(lit("distinct_tokens_micro_"), col("lang")).as("metric"),
        col("est_micro").as("value"))
    factRows.unionByName(paraRows)
      .unionByName(nearDupRows).unionByName(diversityRows)
  }

  /** wp01/wp02's shared front-door funnel over the synthesized web
    * corpus: URL policy filters -> HTML -> text extraction -> URL-level
    * keep-first dedup (among policy survivors) -> text-quality gate,
    * with per-doc stage verdicts. One text scan; the dedup election is
    * the only corpus-wide exchange (canonical staged once per the url05
    * staging discipline). The election is ONE window min over the
    * canonical domain (guide §2.4): the groupBy+self-join idiom paid a
    * second exchange for the join and duplicated the scored subtree
    * into the keeper branch. Election semantics are identical:
    * min(doc_id over passing rows per canonical), null-canonical rows
    * never canonical (explicit isNotNull guard — the join spelled the
    * same via join-on-null-misses). */
  private def webPipelineVerdicts(s: SparkSession, dir: String): DataFrame =
    keepFirstVerdict(webPipelineScored(t(s, dir, "documents")),
      col("url_pass"), "is_canonical")
      .withColumn("final_keep",
        col("is_canonical") && col("n_tokens_clean") >= 10L &&
          col("quality") >= 20L)

  /** Keep-first election as a window: adds `outCol` = this row is the
    * min-doc_id row among rows of its url_canon satisfying `passes`.
    * Null canonicals take singleton salted partitions (" "+doc_id
    * can never collide with a real canonical URL, which always starts
    * with a scheme) so they neither elect (isNotNull guard) nor pile
    * into one giant null partition at scale (§2.5 skew). */
  private def keepFirstVerdict(
      scored: DataFrame, passes: Column, outCol: String): DataFrame = {
    val part = coalesce(col("url_canon"),
      concat(lit(" "), col("doc_id").cast("string")))
    scored
      .withColumn("__keep",
        min(when(passes, col("doc_id"))).over(Window.partitionBy(part)))
      .withColumn(outCol,
        coalesce(passes && col("url_canon").isNotNull &&
          col("doc_id") === col("__keep"), lit(false)))
      .drop("__keep")
  }

  /** The funnel's per-doc SIGNAL frame over an arbitrary (doc_id, text)
    * snapshot — the table a production pipeline PERSISTS between runs
    * (ids, canonical, rule verdict, quality ints; no text). wp05's
    * incremental path recomputes it for the delta slice only. */
  private def webPipelineScored(docs: DataFrame): DataFrame = {
    import graft.functions.{HtmlFunctions, UrlFunctions}
    val sigMap =
      UrlFunctions.urlFilterSignalsFromCanon(col("__canon")).toMap
    // the ONE-text-scan product (canonical + rule verdict + extracted
    // text) MATERIALIZES here (eager Barriers.stage): ProjectCollapse
    // would otherwise inline the whole extraction tree into every
    // downstream column and predicate (n_tokens_clean, quality,
    // final_keep, the dedup join's both sides), re-running stripHtml
    // per reference — measured 14.5 s vs ~2 s staged at sf0.1. The
    // barrier is also the honest cost accounting: without it, a bare
    // count() over the verdicts prunes the extraction away entirely
    // and the lane benchmarks an empty plan. At 100 TB this frame is
    // exactly what a pipeline persists between the fetch tier and the
    // curation tier — set spark.graft.checkpointDir and this barrier
    // (like every Barriers.stage site) becomes a RELIABLE checkpoint.
    val staged = docs
      .select(col("doc_id"), synthFilterUrl.as("url"),
        synthHtml.as("__html"))
      .select(col("doc_id"), col("__html"),
        UrlFunctions.canonicalizeUrl(col("url")).as("__canon"))
      .select(col("doc_id"),
        sigMap("url_canon").as("url_canon"),
        sigMap("keep").as("url_pass"),
        HtmlFunctions.stripHtml(col("__html")).as("__clean"))
      .transform(graft.operators.Barriers.stage(_))
    staged
      .select(col("doc_id"), col("url_canon"), col("url_pass"),
        TextFunctions.tokenCountNonEmpty(col("__clean"))
          .as("n_tokens_clean"),
        TextFunctions.qualityScore(col("__clean")).as("quality"))
  }

  /** The funnel's keep-first election over a signal frame: min passing
    * doc per canonical — the second table a production pipeline
    * persists (wp05 maintains it incrementally). */
  private def webPipelineKeepers(scored: DataFrame): DataFrame =
    scored
      .filter(col("url_pass") && col("url_canon").isNotNull)
      .groupBy(col("url_canon")).agg(min(col("doc_id")).as("__keep"))

  /** wp03/wp04's shared robots-gated verdict frame: the wp funnel with
    * the RFC 9309 policy gate composed BEFORE dedup (a disallowed page
    * is never fetched, so it can never own a canonical). Returns one
    * row per doc with the robots-aware verdict chain plus the columns
    * the acquire tail consumes (url_canon, n_tokens_clean) — wp03
    * projects the verdict booleans, wp04 filters `final_keep` and runs
    * the cap→mix tail on the keepers. Single source of truth for the
    * per-registered-domain policy synth. */
  private def webRobotsVerdicts(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Robots
    import graft.functions.UrlFunctions
    val v = webPipelineVerdicts(s, dir)
    val dom = UrlFunctions.urlDomain(col("url_canon"))
    val path = regexp_extract(
      regexp_replace(col("url_canon"), "^[a-z0-9+.-]+://[^/?]*", ""),
      "^([^?]*)", 1)
    val urls = v.filter(col("url_canon").isNotNull)
      .select(col("doc_id"), dom.as("domain"), path.as("path"))
    val robotsDf = urls.select(col("domain")).distinct()
      .withColumn("robots",
        when(col("domain") === "example.com", lit(
          "User-agent: *\nDisallow: /docs/page1\nAllow: /docs/page17"))
          .when(col("domain") === "example.co.uk", lit(
            "User-agent: graftbot\nDisallow: /docs/*.html$\n" +
              "User-agent: *\nDisallow: /"))
          .when(col("domain") === "site1.github.io", lit(
            "User-agent: otherbot\nDisallow: /"))
          .when(col("domain") === "site3.github.io", lit(
            "User-agent: *\nDisallow: /"))
          .otherwise(lit(null).cast("string")))
    val rules = Robots.parseRobots(robotsDf, "domain", "robots", "graftbot")
    val gate = Robots.robotsGate(urls, "doc_id", "domain", "path", rules)
      .select(col("doc_id"), col("allowed"))
    // the gate only emits rows for non-null canonicals, so a missed
    // left join IS the null-canon case: one coalesce covers both.
    // NOT staged (measured): the verdict join re-runs off the staged
    // extraction checkpoint cheaply and its two consumers execute as
    // concurrent AQE stages — an eager stage here read wp03 at 2.7 s
    // vs 1.2 s lazy
    val withRobots = v
      .join(gate, Seq("doc_id"), "left_outer")
      .withColumn("robots_allowed", coalesce(col("allowed"), lit(false)))
    // robots-gated keep-first election as ONE window (guide §2.4): the
    // groupBy+self-join idiom duplicated the whole verdict⋈gate subtree
    // (the robots parse tree appeared twice in the wp03 plan) and paid
    // a second url_canon exchange for the join-back
    keepFirstVerdict(withRobots,
      col("robots_allowed") && col("url_pass"), "is_canonical")
      .select(col("doc_id"), col("url_canon"), col("n_tokens_clean"),
        col("robots_allowed"), col("url_pass"), col("is_canonical"),
        (col("is_canonical") &&
          col("n_tokens_clean") >= 10L && col("quality") >= 20L)
          .as("final_keep"))
  }

  /** wp02/wp04's shared acquire tail: per-registered-domain doc cap
    * (salted content-hash min-k via `Sampling.domainCap`) + the token
    * mixture table over the capped corpus. Expects a MATERIALIZED
    * narrow keeper frame (doc_id, url_canon, n_tokens_clean) — the
    * callers checkpoint it, because every branch below (keeper counts,
    * the cap's two windows, the token join, the total) would otherwise
    * re-inline the funnel's whole expression tree. The crossJoin is a
    * broadcast one-row total. */
  private def capMixReport(kept: DataFrame, k: Int, salt: String): DataFrame = {
    import graft.functions.UrlFunctions
    val nKept = kept
      .groupBy(UrlFunctions.urlDomain(col("url_canon")).as("domain"))
      .agg(count(lit(1)).as("n_kept"))
    val capped = graft.operators.Sampling.domainCap(
      kept.select(col("doc_id"), col("url_canon").as("url")),
      "doc_id", "url", k = k, salt = salt)
    val cappedStats = capped
      .join(kept.select(col("doc_id"), col("n_tokens_clean")), Seq("doc_id"))
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_capped"),
        sum(col("n_tokens_clean")).as("n_tokens"),
        md5(concat_ws(",",
          transform(sort_array(collect_list(col("doc_id"))),
            x => x.cast("string")))).as("ids_md5"))
    // the token total is a window sum over the DOMAIN-BOUNDED stats rows
    // (single tiny partition, same exact long sum) — the previous
    // `cappedStats.agg` + broadcast crossJoin re-ran the whole capped
    // window chain as a second subtree (guide §7.2; the wp04 plan
    // carried the domainCap windows twice)
    cappedStats
      .join(nKept, Seq("domain"))
      .withColumn("__tot", sum(col("n_tokens")).over(Window.partitionBy()))
      .select(col("domain"), col("n_kept"), col("n_capped"),
        col("n_tokens"),
        when(col("__tot") === 0L, lit(0L))
          .otherwise(TextFunctions.ldiv(col("n_tokens") * 1000L,
            col("__tot"))).as("token_permille"),
        col("ids_md5"))
      .orderBy(col("domain"))
  }

  /** Deterministic URL synthesized from doc_id for the url* lanes (the
    * driver tables carry no URL column — same convention as pii01's
    * synthesized PII): residues of doc_id pick scheme case, userinfo,
    * subdomain, site, TLD, port, path, tracking-bearing query and
    * fragment, so canonicalization has every contract clause to fold and
    * collisions (same canonical from different raw forms) occur by
    * construction; every 17th row is deliberately not a URL at all. The
    * DuckDB oracles rebuild the identical string via [[sqlSynthUrl]].
    * `escapes = true` (url01 only) adds a percent-escape path segment on
    * every 23rd row so the unreserved-decode clause is exercised and
    * replayed. Host arms exercise the registeredDomain tiers: every
    * 43rd row's site label is a punycode A-label (contract clause 10:
    * case-folds, never IDNA-decoded), and the TLD arm cycles snapshot
    * suffixes (a 2-label platform suffix, a ccTLD second-level, a
    * 3-label suffix, a CentralNic pseudo-cc) alongside the ps2-cc and
    * plain-TLD tiers. */
  private def synthUrl(escapes: Boolean = false): Column =
    when(col("doc_id") % 17 === 0,
      concat(lit("not a url "), col("doc_id").cast("string")))
      .otherwise(concat(
        when(col("doc_id") % 4 === 0, lit("HTTPS")).otherwise(lit("http")),
        lit("://"),
        when(col("doc_id") % 13 === 0, lit("user:pw@")).otherwise(lit("")),
        when(col("doc_id") % 2 === 0, lit("WWW.")).otherwise(lit("cdn.")),
        when(col("doc_id") % 43 === 0, lit("XN--BCHER-KVA"))
          .otherwise(concat(lit("Site"), (col("doc_id") % 5).cast("string"))),
        when(col("doc_id") % 29 === 0, lit(".GitHub.IO"))
          .when(col("doc_id") % 31 === 0, lit(".ne.jp"))
          .when(col("doc_id") % 37 === 0, lit(".Blogspot.co.uk"))
          .when(col("doc_id") % 41 === 0, lit(".uk.com"))
          .when(col("doc_id") % 3 === 0, lit(".CO.UK")).otherwise(lit(".COM")),
        when(col("doc_id") % 6 === 0, lit(":80"))
          .when(col("doc_id") % 11 === 0, lit(":8080")).otherwise(lit("")),
        lit("/Articles/Item"), (col("doc_id") % 40).cast("string"),
        if (escapes)
          when(col("doc_id") % 23 === 0, lit("/esc%7E%41%2fX"))
            .otherwise(lit(""))
        else lit(""),
        when(col("doc_id") % 5 === 0, lit("/")).otherwise(lit("")),
        when(col("doc_id") % 2 === 0,
          concat(lit("?id="), (col("doc_id") % 20).cast("string"),
            lit("&utm_source=news&b=2")))
          .when(col("doc_id") % 7 === 0,
            concat(lit("?fbclid=x"), col("doc_id").cast("string")))
          .otherwise(lit("")),
        when(col("doc_id") % 3 === 0,
          concat(lit("#sec"), (col("doc_id") % 4).cast("string")))
          .otherwise(lit(""))))

  private def withReg(
      f: (SparkSession, String) => DataFrame): (SparkSession, String) => DataFrame =
    (s, dir) => { GraftSession.prepare(s); f(s, dir) }

  /** Closed-form diff statuses for the %13-removed / %7-revised /
    * %11-copied proof-lane snapshot step: the step is SYNTHESIZED from
    * `base` by those very predicates, so the (id, status) frame
    * [[Dedup.corpusDiff]] would reconstruct from content digests is
    * already a pure function of the ids — two id-pruned scans replace
    * corpusDiff's two text-digest scans plus its full-outer exchange.
    * This mirrors production, where the delta arrives WITH the
    * snapshot (an ingest manifest names its adds/updates/deletes);
    * corpusDiff is the reconciliation fallback when it doesn't, and
    * stays oracle-exercised by the cd02 lane. Equivalence notes: the
    * %7 revision (`concat(text, " v2")`) always changes a non-null
    * text, and on a hypothetical null text a spurious 'changed' is
    * harmless — every maintenance fold subtract-adds an identical
    * contribution, a no-op. */
  private def modStepDiff(base: DataFrame, idCol: String): DataFrame =
    base.select(col(idCol),
        when(col(idCol) % 13 === 0, lit("removed"))
          .when(col(idCol) % 7 === 0, lit("changed"))
          .as("status"))
      .filter(col("status").isNotNull)
      .unionByName(base
        .filter(col(idCol) % 11 === 0 && col(idCol) % 13 =!= 0)
        .select((col(idCol) + 1000000L).as(idCol),
          lit("added").as("status")))

  /** [[modStepDiff]]'s twin for the residue snapshot step (ids with
    * `id % 10 == addRes` appear only in the NEW snapshot, `dropRes`
    * only in the OLD, `chgRes` revised in place): one id-pruned scan
    * of the superset frame. Residues are mutually exclusive, so the
    * first-match `when` chain is exact. */
  private def residueStepDiff(all: DataFrame, idCol: String,
      addRes: Long, dropRes: Long, chgRes: Long = -1L): DataFrame =
    all.select(col(idCol),
        when(col(idCol) % 10 === addRes, lit("added"))
          .when(col(idCol) % 10 === dropRes, lit("removed"))
          .when(col(idCol) % 10 === chgRes, lit("changed"))
          .as("status"))
      .filter(col("status").isNotNull)

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q04_region_revenue")(spark, "/root/testdata/sf0.001")

  // ------------------------------------------------------------------
  // Relational catalog (SURVEY §2.2–2.7)
  // ------------------------------------------------------------------

  private val relational: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A1 partial+final hash agg over decimal-exact sums (TPC-H Q1 shape)
    "q01_agg_pricing" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
          sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
          sum(dec(col("l_extendedprice")) *
            (lit(1).cast(DecimalType(18, 2)) - dec(col("l_discount"))))
            .cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // T2 top-k after aggregation (TakeOrderedAndProject)
    "q02_top_parts" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("l_quantity"))).cast("double").as("qty"))
        .orderBy(desc("n"), col("l_partkey"))
        .limit(20)
    }),

    // J1/J2 broadcast-able equi-join + agg
    "q03_mktsegment_revenue" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          sum(dec(col("o_totalprice"))).cast("double").as("revenue"))
        .orderBy(col("c_mktsegment"))
    }),

    // J5 multi-hop join chain (dimensions broadcast)
    "q04_region_revenue" -> ((s, dir) => {
      val r = t(s, dir, "region")
      val n = t(s, dir, "nation")
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_orders"),
          sum(dec(col("o_totalprice"))).cast("double").as("revenue"))
        .orderBy(col("r_name"))
    }),

    // J3 left outer join, count(col) null semantics
    "q05_customer_order_counts" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
        .groupBy(col("c_nationkey"))
        .agg(count(col("o_orderkey")).as("n_orders"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("c_nationkey"))
    }),

    // J7 semi-join (EXISTS)
    "q06_big_spenders" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter(col("o_totalprice") > 300000.0)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),

    // J9 anti-join (NOT EXISTS)
    "q07_never_ordered_parts" -> ((s, dir) => {
      val p = t(s, dir, "part")
      val l = t(s, dir, "lineitem")
      p.join(l, p("p_partkey") === l("l_partkey"), "left_anti")
        .select(col("p_partkey"), col("p_name"))
        .orderBy(col("p_partkey"))
        .limit(50)
    }),

    // A2 exact distinct count per group
    "q08_status_customers" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(countDistinct(col("o_custkey")).as("n_cust"),
          count(lit(1)).as("n"))
        .orderBy(col("o_orderstatus"))
    }),

    // J4 co-occurrence self-join through a shared neighbor
    "q09_part_pairs" -> ((s, dir) => {
      // J4 co-occurrence in its scalable shape: pairs generated inside
      // per-order grouped lists (bounded fan-out), not by a self-join —
      // see Joins.groupedPairs for the measured rationale
      val l = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"))
      graft.operators.Joins.groupedPairs(l, "l_orderkey", "l_partkey")
        .groupBy(col("a").as("p1"), col("b").as("p2"))
        .agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), col("p1"), col("p2"))
        .limit(25)
    }),

    // P8 union of two node types with a type literal
    "q10_entity_balances" -> ((s, dir) => {
      val c = t(s, dir, "customer")
        .select(col("c_name").as("name"), col("c_acctbal").as("bal"),
          lit("customer").as("typ"))
      val sup = t(s, dir, "supplier")
        .select(col("s_name").as("name"), col("s_acctbal").as("bal"),
          lit("supplier").as("typ"))
      c.unionByName(sup)
        .orderBy(desc("bal"), col("name"), col("typ"))
        .limit(30)
    }),

    // window function: per-group top-n
    "q11_top_orders_per_customer" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(desc("o_totalprice"), col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("rn"))
        .orderBy(col("o_custkey"), col("rn"))
    }),

    // date extraction + agg
    "q12_orders_by_year" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).cast("long").as("yr"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("o_totalprice"))).cast("double").as("revenue"))
        .orderBy(col("yr"))
    }),

    // P6 range predicates pushed to the parquet scan
    "q13_shipdate_window" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_quantity") >= 10.0 && col("l_quantity") <= 30.0)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("l_extendedprice"))).cast("double").as("base_price"))
        .orderBy(col("l_returnflag"))
    }),

    // P4 point lookup
    "q14_part_lookup" -> ((s, dir) => {
      t(s, dir, "part")
        .filter(col("p_partkey") === 100L)
        .select(col("p_partkey"), col("p_name"), col("p_brand"),
          col("p_type"), col("p_size"), col("p_retailprice"))
    }),

    // distinct
    "q15_flag_status_domain" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_linestatus"))
        .distinct()
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // A4 collect_set with canonical (sorted) ordering, emitted as a joined
    // scalar so the result frame carries only hashable columns.
    "q16_nation_segments" -> ((s, dir) => {
      t(s, dir, "customer")
        .groupBy(col("c_nationkey"))
        .agg(
          array_join(sort_array(collect_set(col("c_mktsegment"))), "|")
            .as("segments"),
          count(lit(1)).as("n"))
        .orderBy(col("c_nationkey"))
    }),

    // tumbling time bucket (batch analog of the streaming window)
    "q17_events_hourly" -> ((s, dir) => {
      events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("hr"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"),
          min(col("value")).as("vmin"),
          max(col("value")).as("vmax"))
        .orderBy(col("hr"), col("event_type"))
    }),

    // sk01's exact-column twin: the same observability shape (per-type
    // event stats) restricted to what an external engine can value-match
    // — exact distincts, min/max, and a decimal-routed sum (value is
    // 2-dp by contract, so per-value DECIMAL(18,2) rounding is lossless
    // and the sum replays bit-exactly; avg is ONE double division of
    // exact inputs). Gives the sketch family a hash-green representative
    // while sk01 keeps the 100 TB approximate path.
    "sk02_exact_stats" -> ((s, dir) => {
      events(s, dir)
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          min(col("value")).as("min_value"),
          max(col("value")).as("max_value"),
          sum(dec(col("value"))).cast("double").as("sum_value"))
        .withColumn("avg_value", col("sum_value") / col("n_events"))
        .orderBy(col("event_type"))
    }),

    // JSON scalar extraction
    // time-series gap-fill (resample): each type's hourly counts with
    // MISSING hours materialized as zero rows between its min and max
    // hour — the grid is bounded by time-span x types, never event count
    "q52_hourly_gapfill" -> ((s, dir) => {
      val hourly = events(s, dir)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).as("n"))
      val grid = hourly.groupBy("event_type")
        .agg(min(col("hr")).as("h0"), max(col("hr")).as("h1"))
        .select(col("event_type"),
          explode(sequence(col("h0"), col("h1"),
            expr("interval 1 hour"))).as("hr"))
      grid.join(hourly, Seq("event_type", "hr"), "left_outer")
        .select(col("event_type"), col("hr"),
          coalesce(col("n"), lit(0L)).as("n"),
          col("n").isNull.as("filled"))
        .orderBy(col("event_type"), col("hr"))
    }),
    // cohort retention: users cohorted by first-active day, distinct
    // active users per (cohort_day, day_offset) — the classic product-
    // analytics triangle; only (user_id, date) rows ever shuffle
    "q53_cohort_retention" -> ((s, dir) => {
      val ud = events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("d"))
        .distinct()
      val cohort = ud.groupBy("user_id").agg(min(col("d")).as("c0"))
      ud.join(cohort, "user_id")
        // cohort_day as its ISO string: Spark DATE and DuckDB DATE reach
        // the compare as different object types (date vs Timestamp)
        .select(col("c0").cast("string").as("cohort_day"),
          datediff(col("d"), col("c0")).cast("long").as("day_offset"),
          col("user_id"))
        .groupBy("cohort_day", "day_offset")
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("cohort_day"), col("day_offset"))
    }),
    "q18_events_json" -> ((s, dir) => {
      events(s, dir)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy(col("event_type"))
        .agg(sum(col("k")).as("k_sum"), count(lit(1)).as("n"))
        .orderBy(col("event_type"))
    }),

    // multi-key sort, no limit (T3)
    "q25_priority_matrix" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("o_orderpriority"), col("o_orderstatus"))
    }),

    // window frame: running decimal-exact sum per customer
    "q26_running_revenue" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders")
        .withColumn("run", sum(dec(col("o_totalprice"))).over(w).cast("double"))
        .select(col("o_custkey"), col("o_orderkey"), col("run"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    // rollup / grouping sets
    "q27_status_rollup" -> ((s, dir) => {
      t(s, dir, "orders")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("o_totalprice"))).cast("double").as("revenue"))
        .orderBy(asc_nulls_first("o_orderstatus"),
          asc_nulls_first("o_orderpriority"))
    }),

    // CUBE: all four grouping combinations in one pass (rollup q27's
    // sibling — completes the grouping-set family); grouping_id
    // disambiguates a NULL key from the all-rows stratum
    "q50_status_cube" -> ((s, dir) => {
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("o_totalprice"))).cast("double").as("revenue"),
          // must live inside the agg: grouping_id is only resolvable
          // under the Cube node
          grouping_id(col("o_orderstatus"), col("o_orderpriority"))
            .cast("long").as("gid"))
        .orderBy(col("gid"), asc_nulls_first("o_orderstatus"),
          asc_nulls_first("o_orderpriority"))
    }),

    // analytic-window trio over deterministic total order (unique
    // tie-break key): ntile buckets, percent_rank, cume_dist — each a
    // single exact integer ratio per row, so the doubles replay
    // bit-identically
    "q51_balance_quartiles" -> ((s, dir) => {
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal"), col("c_custkey"))
      t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"),
          ntile(4).over(w).cast("long").as("quartile"),
          percent_rank().over(w).as("prank"),
          cume_dist().over(w).as("cdist"))
        .orderBy(col("c_custkey"))
    }),

    // INTERSECT: segments common to two nations' customer bases
    "q28_shared_segments" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      c.filter(col("c_nationkey") === 1).select(col("c_mktsegment"))
        .intersect(c.filter(col("c_nationkey") === 2).select(col("c_mktsegment")))
        .orderBy(col("c_mktsegment"))
    }),

    // EXCEPT: part types stocked large but never small
    "q29_exclusive_types" -> ((s, dir) => {
      val p = t(s, dir, "part")
      p.filter(col("p_size") >= 40).select(col("p_type"))
        .except(p.filter(col("p_size") <= 10).select(col("p_type")))
        .orderBy(col("p_type"))
    }),

    // conditional aggregation (pivot-style wide counts)
    "q30_segment_matrix" -> ((s, dir) => {
      def cnt(seg: String) =
        sum(when(col("c_mktsegment") === seg, 1L).otherwise(0L)).as(seg.toLowerCase)
      t(s, dir, "customer")
        .groupBy(col("c_nationkey"))
        .agg(cnt("AUTOMOBILE"), cnt("BUILDING"), cnt("FURNITURE"),
          cnt("HOUSEHOLD"), cnt("MACHINERY"))
        .orderBy(col("c_nationkey"))
    }),

    // scalar string functions
    "q31_string_funcs" -> ((s, dir) => {
      t(s, dir, "part")
        .select(col("p_partkey"),
          upper(col("p_brand")).as("brand_uc"),
          substring(col("p_name"), 1, 10).as("name10"),
          length(col("p_name")).cast("long").as("name_len"),
          lpad(col("p_size").cast("string"), 4, "0").as("size_pad"),
          concat_ws("/", col("p_brand"), col("p_type")).as("brand_type"))
        .orderBy(col("p_partkey"))
        .limit(30)
    }),

    // null handling: nullif / coalesce
    "q32_null_funcs" -> ((s, dir) => {
      t(s, dir, "customer")
        .select(coalesce(nullif(col("c_mktsegment"), lit("BUILDING")),
          lit("SUPPRESSED")).as("seg"))
        .groupBy(col("seg")).agg(count(lit(1)).as("n"))
        .orderBy(col("seg"))
    }),

    // dense_rank over an aggregate: favourite event type per user
    "q33_favourite_event" -> ((s, dir) => {
      val counts = events(s, dir)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(desc("n"), col("event_type"))
      counts
        .withColumn("rk", dense_rank().over(w).cast("long"))
        .filter(col("rk") === 1L)
        .select(col("user_id"), col("event_type"), col("n"))
        .orderBy(col("user_id"))
    }),

    // lead: event-type transition matrix per user timeline
    "q34_event_transitions" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ns"), col("event_id"))
      events(s, dir)
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type"), col("next_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("event_type"), col("next_type"))
    }),

    // day-of-week extraction (normalized 0=Sunday across engines)
    "q39_events_by_dow" -> ((s, dir) => {
      events(s, dir)
        .groupBy((dayofweek(col("ts")) - lit(1)).cast("long").as("dow"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("dow"))
    }),

    // median (interpolated) per group
    "q35_quantity_median" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(median(col("l_quantity")).as("med"), count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
    }),

    // A3 collect_list (canonicalized) per group, joined to a scalar string
    "q40_customer_orderkeys" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(
          array_join(
            transform(sort_array(collect_list(col("o_orderkey"))),
              x => x.cast("string")),
            "|").as("orderkeys"),
          count(lit(1)).as("n"))
        .filter(col("n") >= 12L)
        .orderBy(col("o_custkey"))
    }),

    // P7 substring containment predicate
    "q41_contains_filter" -> ((s, dir) => {
      t(s, dir, "part")
        .filter(col("p_name").contains("wid"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("p_brand"))
    }),

    // correlated aggregate: order price vs the CUSTOMER's own median
    "q46_above_own_median" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val med = o.groupBy(col("o_custkey").as("mk"))
        .agg(median(col("o_totalprice")).as("cust_med"))
      o.join(med, o("o_custkey") === col("mk"))
        .filter(col("o_totalprice") > col("cust_med"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("o_orderstatus"))
    }),

    // scalar subquery (broadcast one-row aggregate into the filter)
    "q42_above_median_orders" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val med = o.agg(median(col("o_totalprice")).as("m"))
      o.crossJoin(broadcast(med))
        .filter(col("o_totalprice") > col("m"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("o_orderstatus"))
    }),

    // regexp_extract scalar
    "q43_first_word" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(regexp_extract(col("text"), "^(\\w+)", 1).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), col("w"))
        .limit(20)
    }),

    // date/interval arithmetic across a join
    "q44_late_shipments" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
    }),

    // CASE bucketing histogram (integer-exact bucket edges)
    "q45_price_histogram" -> ((s, dir) => {
      t(s, dir, "orders")
        .select(floor(col("o_totalprice") / 50000.0).cast("long").as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
        .orderBy(col("bucket"))
    }),

    // A5/F8 shape: sorted set of structs per group; the struct collect stays
    // in the plan, then each struct is rendered "p=<v>" and joined so the
    // output column is a plain string.
    "q36_status_priority_structs" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(
          array_join(
            transform(
              sort_array(collect_set(struct(col("o_orderpriority").as("p")))),
              x => concat(lit("p="), x.getField("p"))),
            "|").as("priorities"))
        .orderBy(col("o_orderstatus"))
    }),

    // OPTIONAL-MATCH degree ranking (the `analysis_queries.md:25-32` shape
    // over driver tables): every part keeps a row, zero-degree included —
    // pre-aggregated fact side left-joined to the dimension, coalesce 0.
    "q47_part_degree_ranking" -> ((s, dir) => {
      val refs = t(s, dir, "lineitem")
        .groupBy(col("l_partkey").as("p_partkey"))
        .agg(count(lit(1)).as("n_refs"))
      t(s, dir, "part").select(col("p_partkey"))
        .join(refs, Seq("p_partkey"), "left_outer")
        .withColumn("n_refs", coalesce(col("n_refs"), lit(0L)))
        .orderBy(desc("n_refs"), col("p_partkey"))
    }),

    // training-data chunking: overlapping token windows, pure Column work
    // (one pass, zero shuffles before the presentation sort)
    "q49_doc_chunks" -> ((s, dir) => {
      graft.operators.Chunking.chunk(
        t(s, dir, "documents"), "doc_id", "text", window = 64, stride = 48)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),

    // transferable-skills shape (`analysis_queries.md:115-121`): 2-hop
    // chain then count DISTINCT terminal group — part → order → customer
    // nation, dimension joins broadcast, one distinct-count shuffle.
    "q48_part_nation_reach" -> ((s, dir) => {
      t(s, dir, "lineitem").select(col("l_partkey"), col("l_orderkey"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_partkey"))
        .agg(countDistinct(col("c_nationkey")).as("n_nations"))
        .orderBy(desc("n_nations"), col("l_partkey"))
    })
  )

  private val relationalOracle: Map[String, String] = Map(
    "q01_agg_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        | COUNT(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q02_top_parts" ->
      """SELECT l_partkey, COUNT(*) AS n,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM lineitem GROUP BY l_partkey
        |ORDER BY n DESC, l_partkey LIMIT 20""".stripMargin,
    "q03_mktsegment_revenue" ->
      """SELECT c_mktsegment, COUNT(*) AS n_orders,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q04_region_revenue" ->
      """SELECT r_name, COUNT(*) AS n_orders,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,
    "q05_customer_order_counts" ->
      """SELECT c_nationkey, COUNT(o_orderkey) AS n_orders, COUNT(*) AS n_rows
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    "q06_big_spenders" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)
        |ORDER BY c_custkey""".stripMargin,
    "q07_never_ordered_parts" ->
      """SELECT p_partkey, p_name FROM part
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
        |ORDER BY p_partkey LIMIT 50""".stripMargin,
    "q08_status_customers" ->
      """SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_cust, COUNT(*) AS n
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q09_part_pairs" ->
      """SELECT a.l_partkey AS p1, b.l_partkey AS p2, COUNT(*) AS n
        |FROM lineitem a JOIN lineitem b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |GROUP BY 1, 2 ORDER BY n DESC, p1, p2 LIMIT 25""".stripMargin,
    "q10_entity_balances" ->
      """SELECT name, bal, typ FROM (
        |  SELECT c_name AS name, c_acctbal AS bal, 'customer' AS typ FROM customer
        |  UNION ALL
        |  SELECT s_name AS name, s_acctbal AS bal, 'supplier' AS typ FROM supplier)
        |ORDER BY bal DESC, name, typ LIMIT 30""".stripMargin,
    "q11_top_orders_per_customer" ->
      """SELECT o_custkey, o_orderkey, rn FROM (
        |  SELECT o_custkey, o_orderkey,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
        |  FROM orders) WHERE rn <= 3
        |ORDER BY o_custkey, rn""".stripMargin,
    "q12_orders_by_year" ->
      """SELECT CAST(date_part('year', o_orderdate) AS BIGINT) AS yr,
        | COUNT(*) AS n,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders GROUP BY yr ORDER BY yr""".stripMargin,
    "q13_shipdate_window" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS base_price
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_quantity >= 10.0 AND l_quantity <= 30.0
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q14_part_lookup" ->
      """SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice
        |FROM part WHERE p_partkey = 100""".stripMargin,
    "q15_flag_status_domain" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q16_nation_segments" ->
      """SELECT c_nationkey,
        | array_to_string(list_sort(list(DISTINCT c_mktsegment)), '|') AS segments,
        | COUNT(*) AS n
        |FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    "q17_events_hourly" ->
      """SELECT date_trunc('hour', ts) AS hr, event_type, COUNT(*) AS n,
        | COUNT(DISTINCT user_id) AS n_users,
        | MIN(value) AS vmin, MAX(value) AS vmax
        |FROM events GROUP BY hr, event_type ORDER BY hr, event_type""".stripMargin,
    // gap-fill replay: generate_series over each type's hour span,
    // left join the observed counts
    "q52_hourly_gapfill" ->
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hr,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |sp AS (SELECT event_type, MIN(hr) AS h0, MAX(hr) AS h1
        |  FROM hourly GROUP BY 1),
        |grid AS (SELECT event_type,
        |    unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hr
        |  FROM sp)
        |SELECT g.event_type, g.hr, coalesce(h.n, 0) AS n,
        |  (h.n IS NULL) AS filled
        |FROM grid g LEFT JOIN hourly h USING (event_type, hr)
        |ORDER BY g.event_type, g.hr""".stripMargin,
    // cohort replay: distinct user-days, first day per user, offset agg
    "q53_cohort_retention" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        |c AS (SELECT user_id, MIN(d) AS c0 FROM ud GROUP BY user_id)
        |SELECT CAST(c.c0 AS VARCHAR) AS cohort_day,
        |  CAST(ud.d - c.c0 AS BIGINT) AS day_offset,
        |  CAST(COUNT(DISTINCT ud.user_id) AS BIGINT) AS n_users
        |FROM ud JOIN c USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "sk02_exact_stats" ->
      """SELECT event_type, COUNT(*) AS n_events,
        | COUNT(DISTINCT user_id) AS n_users,
        | MIN(value) AS min_value, MAX(value) AS max_value,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
        |   AS avg_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q18_events_json" ->
      """SELECT event_type,
        | CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
        | COUNT(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q25_priority_matrix" ->
      """SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n
        |FROM orders GROUP BY o_orderpriority, o_orderstatus
        |ORDER BY o_orderpriority, o_orderstatus""".stripMargin,
    "q26_running_revenue" ->
      """SELECT o_custkey, o_orderkey,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS run
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q27_status_rollup" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    "q50_status_cube" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        | CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority)
        |   AS BIGINT) AS gid
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY gid, o_orderstatus NULLS FIRST,
        |  o_orderpriority NULLS FIRST""".stripMargin,
    "q51_balance_quartiles" ->
      """SELECT c_custkey, c_nationkey,
        | CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
        | PERCENT_RANK() OVER w AS prank,
        | CUME_DIST() OVER w AS cdist
        |FROM customer
        |WINDOW w AS (PARTITION BY c_nationkey
        |             ORDER BY c_acctbal, c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q28_shared_segments" ->
      """SELECT c_mktsegment FROM customer WHERE c_nationkey = 1
        |INTERSECT
        |SELECT c_mktsegment FROM customer WHERE c_nationkey = 2
        |ORDER BY c_mktsegment""".stripMargin,
    "q29_exclusive_types" ->
      """SELECT p_type FROM part WHERE p_size >= 40
        |EXCEPT
        |SELECT p_type FROM part WHERE p_size <= 10
        |ORDER BY p_type""".stripMargin,
    "q30_segment_matrix" ->
      """SELECT c_nationkey,
        | CAST(COUNT(*) FILTER (WHERE c_mktsegment = 'AUTOMOBILE') AS BIGINT) AS automobile,
        | CAST(COUNT(*) FILTER (WHERE c_mktsegment = 'BUILDING') AS BIGINT) AS building,
        | CAST(COUNT(*) FILTER (WHERE c_mktsegment = 'FURNITURE') AS BIGINT) AS furniture,
        | CAST(COUNT(*) FILTER (WHERE c_mktsegment = 'HOUSEHOLD') AS BIGINT) AS household,
        | CAST(COUNT(*) FILTER (WHERE c_mktsegment = 'MACHINERY') AS BIGINT) AS machinery
        |FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    "q31_string_funcs" ->
      """SELECT p_partkey, upper(p_brand) AS brand_uc, substr(p_name, 1, 10) AS name10,
        | CAST(length(p_name) AS BIGINT) AS name_len,
        | lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_pad,
        | concat_ws('/', p_brand, p_type) AS brand_type
        |FROM part ORDER BY p_partkey LIMIT 30""".stripMargin,
    "q32_null_funcs" ->
      """SELECT coalesce(nullif(c_mktsegment, 'BUILDING'), 'SUPPRESSED') AS seg,
        | COUNT(*) AS n
        |FROM customer GROUP BY seg ORDER BY seg""".stripMargin,
    "q33_favourite_event" ->
      """SELECT user_id, event_type, n FROM (
        |  SELECT user_id, event_type, n,
        |    CAST(DENSE_RANK() OVER (PARTITION BY user_id
        |      ORDER BY n DESC, event_type) AS BIGINT) AS rk
        |  FROM (SELECT user_id, event_type, COUNT(*) AS n
        |        FROM events GROUP BY user_id, event_type))
        |WHERE rk = 1 ORDER BY user_id""".stripMargin,
    "q34_event_transitions" ->
      """SELECT event_type, next_type, COUNT(*) AS n FROM (
        |  SELECT event_type,
        |    LEAD(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS next_type
        |  FROM events)
        |WHERE next_type IS NOT NULL
        |GROUP BY event_type, next_type ORDER BY event_type, next_type""".stripMargin,
    "q35_quantity_median" ->
      """SELECT l_returnflag, median(l_quantity) AS med, COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q39_events_by_dow" ->
      """SELECT CAST(date_part('dow', ts) AS BIGINT) AS dow, COUNT(*) AS n,
        | COUNT(DISTINCT user_id) AS n_users
        |FROM events GROUP BY dow ORDER BY dow""".stripMargin,
    "q36_status_priority_structs" ->
      """SELECT o_orderstatus,
        | array_to_string(
        |   list_transform(list_sort(list(DISTINCT o_orderpriority)),
        |                  x -> 'p=' || x), '|') AS priorities
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q40_customer_orderkeys" ->
      """SELECT o_custkey,
        | array_to_string(list_sort(list(o_orderkey)), '|') AS orderkeys,
        | COUNT(*) AS n
        |FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 12
        |ORDER BY o_custkey""".stripMargin,
    "q41_contains_filter" ->
      """SELECT p_brand, COUNT(*) AS n FROM part
        |WHERE contains(p_name, 'wid')
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "q47_part_degree_ranking" ->
      """SELECT p_partkey, COUNT(l_orderkey) AS n_refs
        |FROM part LEFT JOIN lineitem ON p_partkey = l_partkey
        |GROUP BY p_partkey ORDER BY n_refs DESC, p_partkey""".stripMargin,
    "q48_part_nation_reach" ->
      """SELECT l_partkey, COUNT(DISTINCT c_nationkey) AS n_nations
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY l_partkey ORDER BY n_nations DESC, l_partkey""".stripMargin,
    "q49_doc_chunks" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ts
        |  FROM documents
        |), n AS (
        |  SELECT doc_id, ts,
        |    CASE WHEN len(ts) <= 64 THEN 1
        |         ELSE 1 + CAST(ceil((len(ts) - 64) / 48.0) AS BIGINT)
        |    END AS nc
        |  FROM t)
        |SELECT doc_id, g - 1 AS chunk_idx,
        |  array_to_string(ts[(g-1)*48 + 1 : (g-1)*48 + 64], ' ') AS chunk_text,
        |  len(ts[(g-1)*48 + 1 : (g-1)*48 + 64]) AS n_tokens
        |FROM n, UNNEST(generate_series(1, nc)) AS s(g)
        |ORDER BY doc_id, chunk_idx""".stripMargin,
    "q46_above_own_median" ->
      """SELECT o_orderstatus, COUNT(*) AS n
        |FROM orders o JOIN (
        |  SELECT o_custkey AS mk, median(o_totalprice) AS cust_med
        |  FROM orders GROUP BY o_custkey) m ON o.o_custkey = m.mk
        |WHERE o.o_totalprice > m.cust_med
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q42_above_median_orders" ->
      """SELECT o_orderstatus, COUNT(*) AS n FROM orders
        |WHERE o_totalprice > (SELECT median(o_totalprice) FROM orders)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q43_first_word" ->
      """SELECT regexp_extract(text, '^(\w+)', 1) AS w, COUNT(*) AS n
        |FROM documents GROUP BY w ORDER BY n DESC, w LIMIT 20""".stripMargin,
    "q44_late_shipments" ->
      """SELECT l_returnflag, COUNT(*) AS n
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q45_price_histogram" ->
      """SELECT CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS bucket,
        | COUNT(*) AS n
        |FROM orders GROUP BY bucket ORDER BY bucket""".stripMargin
  )

  // ------------------------------------------------------------------
  // Text analysis / dedup catalog (training-data-pipeline surface)
  // ------------------------------------------------------------------

  private val textCatalog: Map[String, (SparkSession, String) => DataFrame] = Map(
    // canonical normalization (NFC + control strip + whitespace collapse)
    // value-checked end-to-end: the md5 of the normalized text must agree
    // with DuckDB's nfc_normalize + identical regex pipeline
    "tx01_normalize_text" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextFunctions.normalizeText(col("text")).as("norm"))
        .select(col("doc_id"),
          length(col("norm")).cast("long").as("norm_chars"),
          md5(col("norm").cast("binary")).as("norm_md5"))
        .orderBy(col("doc_id"))
        .limit(200)
    }),
    // corpus unigram LM surprisal (CCNet/RefinedWeb-style quality signal):
    // add-one model over the top-16 vocabulary (cap chosen so the OOV path
    // is exercised at this corpus size), exact integer micro-bits.
    // Cross-engine caveat (here and ti01): the micro-unit integers come
    // from half-up rounding of a log2 computed by each engine's libm; a
    // value landing EXACTLY on a .5 ulp boundary could round apart. No
    // such boundary case exists in these corpora (hash-verified); if one
    // ever surfaces, derive the score from a shared integer-only
    // formulation instead of tightening either engine's libm.
    "lm01_unigram_surprisal" -> ((s, dir) => {
      CorpusStats.unigramSurprisal(
        t(s, dir, "documents"), "doc_id", "text", vocabCap = 16)
        .orderBy(col("doc_id"))
    }),
    // integer-id tokenization against the corpus top-64 vocab: the final
    // prep step before packing/sharding; ids flattened to a csv string
    // so the compare stays scalar
    "tk01_tokenize_ids" -> ((s, dir) => {
      CorpusStats.tokenizeToIds(
        t(s, dir, "documents"), "doc_id", "text", vocabSize = 64)
        .select(col("doc_id"),
          concat_ws(",", col("token_ids")).as("ids"),
          col("n_tokens"), col("n_oov"))
        .orderBy(col("doc_id"))
    }),
    // exact heavy hitters at bounded shuffle: per-partition Misra–Gries
    // candidate summaries + a CERTIFIED exact recount of candidates only
    // (CorpusStats.heavyHitters fails fast when the certificate doesn't
    // hold) — certified-exact means it equals the full-vocabulary
    // wordcount top-k, which is exactly what the oracle runs
    "hh01_heavy_hitters" -> ((s, dir) =>
      CorpusStats.heavyHitters(t(s, dir, "documents"), "doc_id", "text",
        k = 20, capacity = 1024)),
    // learned language classifier: multinomial Naive Bayes trained AND
    // scored in one plan (fastText-langid shape; the learned counterpart
    // of q21's heuristic). Integer micro-bit log-likelihoods, argmin
    // ties by label — same rounding + libm caveat as lm01. vocabCap = 64
    // keeps the OOV smoothing path exercised at this corpus size.
    "nb01_nb_lang" -> ((s, dir) => {
      CorpusStats.naiveBayesPredict(
        t(s, dir, "documents"), "doc_id", "text", "lang", vocabCap = 64)
        .orderBy(col("doc_id"))
    }),
    // conditional bigram surprisal (one rung up the perplexity ladder;
    // same micro-bit rounding + libm caveat as lm01)
    "lm02_bigram_surprisal" -> ((s, dir) => {
      CorpusStats.bigramSurprisal(
        t(s, dir, "documents"), "doc_id", "text", vocabCap = 16)
        .orderBy(col("doc_id"))
    }),
    // CCNet head/middle/tail terciles: lm01's surprisal cut at the
    // 333/667-permille histogram quantiles, bin-granular bucketing
    // (vocabCap 16 = lm01's model; binWidth 10000 micro-bits)
    "lm04_ppl_buckets" -> ((s, dir) => {
      CorpusStats.perplexityBuckets(
        t(s, dir, "documents"), "doc_id", "text",
        vocabCap = 16, binWidth = 10000L)
        .orderBy(col("doc_id"))
    }),
    // Stupid Backoff (Brants et al. 2007): direct bigram ratio when both
    // capped tables hit, else alpha-scaled smoothed unigram. vocabCap 16
    // keeps both branches heavily exercised at this corpus size; same
    // micro-bit rounding + libm caveat as lm01/lm02
    "lm03_backoff_surprisal" -> ((s, dir) => {
      CorpusStats.stupidBackoffSurprisal(
        t(s, dir, "documents"), "doc_id", "text", vocabCap = 16)
        .orderBy(col("doc_id"))
    }),
    // tf-idf top-3 salient terms per document, integer micro-unit scores,
    // ties broken by token (term_rank makes the LIMIT-free sort total)
    "ti01_tfidf_terms" -> ((s, dir) => {
      CorpusStats.tfidfTopTerms(
        t(s, dir, "documents"), "doc_id", "text", k = 3)
        .withColumnRenamed("rank", "term_rank")
        .orderBy(col("doc_id"), col("term_rank"))
    }),
    // cross-document boilerplate signal: permille of each doc's 3-grams
    // that occur in >= 5 distinct docs (corpus-level complement of tx02)
    "bp01_boilerplate_score" -> ((s, dir) => {
      CorpusStats.boilerplateScore(
        t(s, dir, "documents"), "doc_id", "text", nGram = 3, minDf = 5L)
        .orderBy(col("doc_id"))
    }),
    // C4-style cross-document boilerplate-line removal. The synthetic
    // corpus has no repeated lines (verified: every line is unique across
    // docs), so — like pii01's synthesized PII — both engines append the
    // same deterministic boilerplate (a copyright line to every 3rd doc, a
    // blank+newsletter line to every 7th) and the operator must find and
    // strip exactly those; untouched docs must hash-match their input
    "bp02_rm_boilerplate" -> ((s, dir) => {
      val aug = t(s, dir, "documents").withColumn(
        "text",
        concat(
          col("text"),
          when(col("doc_id") % 3 === 0,
            lit("\nAll rights reserved. Example Corp.")).otherwise(lit("")),
          when(col("doc_id") % 7 === 0,
            lit("\n\nSubscribe to our newsletter!")).otherwise(lit(""))))
      CorpusStats.removeBoilerplateLines(aug, "doc_id", "text", minDocs = 5L)
        .select(
          col("doc_id"),
          length(col("text")).cast("long").as("n_chars_clean"),
          md5(col("text").cast("binary")).as("clean_md5"))
        .orderBy(col("doc_id"))
    }),
    // PII scrub over deterministic contact blobs synthesized from customer
    // (the synthetic corpus carries no organic PII, so both engines build
    // the same email/phone/IP-bearing text and redact it)
    "pii01_redact" -> ((s, dir) => {
      val contact = concat(
        lit("Contact "), col("c_name"), lit(" <"),
        lower(regexp_replace(col("c_name"), "#", ".")),
        lit("@example.com> call +1-800-"),
        lpad((col("c_custkey") % 10000).cast("string"), 4, "0"),
        lit(" host 10.0."), (col("c_custkey") % 256).cast("string"),
        lit("."), col("c_nationkey").cast("string"))
      val (em, ph, ip) = TextFunctions.piiCounts(contact)
      t(s, dir, "customer")
        .select(
          col("c_custkey"),
          TextFunctions.redactPii(contact).as("redacted"),
          em.as("n_emails"), ph.as("n_phones"), ip.as("n_ips"))
        .orderBy(col("c_custkey"))
        .limit(100)
    }),
    // per-source mixture table (docs/tokens/chars + permille token share):
    // the domain-mixture report a pipeline builds before weighting sources
    "mw01_mixture_weights" -> ((s, dir) => {
      CorpusStats.mixtureWeights(t(s, dir, "documents"), "source", "text")
        .orderBy(col("source"))
    }),
    // BM25 keyword retrieval (Robertson/Spärck Jones) in exact integer
    // micro-units: idf rounds to micro per query term (lm01's log2
    // convention), everything else is fixed-order long floor division —
    // ranking replays bit-for-bit. Query = corpus tokens ranked 5..7
    // (count desc, token): deterministic mid-frequency keywords, a
    // driver-sized lookup like ann01's query vector
    "bm01_bm25_topk" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val terms = CorpusStats.termCounts(docs, "doc_id", "text")
        .orderBy(desc("c"), col("tok")).limit(7)
        .collect().drop(4).map(_.getString(0)).toSeq
      CorpusStats.bm25TopK(docs, "doc_id", "text", terms, k = 10)
    }),
    // INCREMENTAL BM25 index maintenance (maintainBm25Index): the
    // search-index snapshot step — postings and lengths fold by
    // id-keyed anti/union (only delta docs re-tokenize), the query is
    // served FROM the maintained index (bm25TopKFromIndex, byte-equal
    // scoring to bm25TopK). Query terms PINNED from the full table
    // (a production query does not move with the snapshot). Oracle =
    // full batch BM25 over the new snapshot: incremental==batch by hash
    "bm02_incremental_bm25" -> ((s, dir) => {
      import graft.operators.Incremental
      val full = t(s, dir, "documents")
      val terms = CorpusStats.termCounts(full, "doc_id", "text")
        .orderBy(desc("c"), col("tok")).limit(7)
        .collect().drop(4).map(_.getString(0)).toSeq
      val docs = full.select(col("doc_id"), col("text"))
      val oldSnap = docs.filter(col("doc_id") % 10 =!= 3)
      val newSnap = docs.filter(col("doc_id") % 10 =!= 9)
        .withColumn("text",
          when(col("doc_id") % 10 === 7,
            concat(col("text"), lit(" updated rev")))
            .otherwise(col("text")))
      // NOT staged (measured): the prior index frames are cheap
      // tokenize-and-aggregate passes whose eager materialization cost
      // more than the duplicate-subtree recompute it saved (2.7 s vs
      // 1.9 s median) — the fold's consumers run as concurrent AQE
      // stages when left lazy
      val (pp, pl) = CorpusStats.bm25Index(oldSnap, "doc_id", "text")
      val diffDf = residueStepDiff(docs, "doc_id",
        addRes = 3L, dropRes = 9L, chgRes = 7L)
      val (dp, dl) = CorpusStats.bm25Index(
        newSnap.join(
          diffDf.filter(col("status").isin("added", "changed"))
            .select("doc_id"),
          Seq("doc_id"), "left_semi"),
        "doc_id", "text")
      val (np, nl) = Incremental.maintainBm25Index(
        pp, pl, dp, dl, diffDf, "doc_id")
      CorpusStats.bm25TopKFromIndex(np, nl, "doc_id", terms, k = 10)
    }),
    // hard-negative mining (batch BM25 retrieval): per query doc (the
    // %100 slice of dc01's %10 test split — queries are NOT in the
    // corpus, so every hit is a negative), the top-3 train docs by
    // BM25 over the query doc's 4 RAREST in-corpus tokens (df asc,
    // tie -> token asc) — the relational form of WAND/impact ordering:
    // selective terms touch only their short posting lists. The
    // testdata is ADVERSARIAL for that: its global vocabulary is 31
    // tokens, so every term posts corpus-wide and each query scores
    // ~the whole corpus — hence the %100 query slice (the operator is
    // query-count-linear; df/idf fold relationally inside
    // bm25BatchTopK, so a corpus-sized query set changes nothing
    // structurally and nothing collects)
    "hn01_hard_negatives" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      // the postings STAGE (Barriers convention): term selection, idf,
      // and scoring each read them — unstaged, every consumer re-runs
      // the tokenize/explode index build (measured ~3x this lane). In
      // production both index frames are table reads.
      val (p0, _) = CorpusStats.bm25Index(
        docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text")
      val postings = graft.operators.Barriers.stage(p0)
      // lens ≡ Σ tf per doc over the postings — bm25Index counts the
      // same non-empty tokens into both frames (len = size of the
      // filtered token array = total tf; a doc with zero non-empty
      // tokens has no postings AND is dropped by lens' len>0 filter) —
      // so the second tokenize pass of the corpus split is gone (guide
      // §1.2). Staged: one narrow agg over staged blocks buys both its
      // consumers (scalar stats + the score join) materialized reads
      // per-query term candidates reuse the index builder on the query
      // split: (term, doc_id, tf) is the per-query vocabulary frame
      val (qPost, _) = CorpusStats.bm25Index(
        docs.filter(col("doc_id") % 100 === 0), "doc_id", "text")
      val dfFrame = postings.groupBy(col("term"))
        .agg(count(lit(1)).as("__df"))
      // lens and queries both read the postings CHECKPOINT, not each
      // other — one concurrent wave instead of two sequential stages
      val Seq(lens, queries) = graft.operators.Barriers.stageAll(
        postings.groupBy(col("doc_id")).agg(sum(col("tf")).as("len")),
        qPost
          .join(dfFrame, Seq("term")) // in-corpus tokens only
          .withColumn("__rn", row_number().over(
            Window.partitionBy(col("doc_id"))
              .orderBy(col("__df"), col("term"))))
          .filter(col("__rn") <= 4)
          .select(col("doc_id").as("query_id"), col("term")))
      CorpusStats.bm25BatchTopK(postings, lens, "doc_id", queries,
          "query_id", "term", k = 3)
        .select(col("query_id"), col("doc_id").as("neg_id"), col("rank"),
          col("score_micro"))
        .orderBy(col("query_id"), col("rank"))
    }),
    // HYBRID retrieval with reciprocal-rank fusion (rrfFuse): the
    // lexical channel (bm25TopK, the bm01 integer-micro chain, fixed
    // 4-token query) and the semantic channel (exact cosine between the
    // portable hash-embedder's integer ACCUMULATORS and the query
    // text's own accumulator — one IEEE sqrt + division per doc, so the
    // ordering replays cross-engine) each rank their top 50; RRF merges
    // them in exact nano units. Every fusion stage is k-bounded — the
    // corpus pays one bm25 scan and one accumulate scan, nothing more
    "hy01_hybrid_rrf" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val qTokens = Seq("vector", "stream", "window", "agg")
      val lex = CorpusStats.bm25TopK(docs, "doc_id", "text", qTokens, k = 50)
        .withColumn("rank", row_number().over(
          Window.orderBy(desc("score_micro"), col("doc_id"))).cast("long"))
        .select(col("doc_id"), col("rank"))
      val acc = graft.vector.PortableHashEmbedder.accumulate(
        docs, "doc_id", "text", dim = 16)
      val qacc = graft.vector.PortableHashEmbedder.accumulate(
          Seq((0L, qTokens.mkString(" "))).toDF("qid", "text"),
          "qid", "text", dim = 16)
        .select(col("accs").as("qaccs"))
      val dot = aggregate(
        zip_with(col("accs"), col("qaccs"), (a, b) => a * b),
        lit(0L), (acc0, x) => acc0 + x)
      val nrm = (c: Column) => aggregate(c, lit(0L), (acc0, x) => acc0 + x * x)
      val sem = acc.crossJoin(broadcast(qacc))
        .select(col("doc_id"), dot.as("dot"),
          nrm(col("accs")).as("nd"), nrm(col("qaccs")).as("nq"))
        // norms are exact longs < 2^53: ONE sqrt of their exact product
        // + one division — both correctly rounded IEEE steps
        .withColumn("cos",
          when(col("nd") === 0L || col("nq") === 0L, lit(0.0))
            .otherwise(col("dot").cast("double") /
              sqrt((col("nd") * col("nq")).cast("double"))))
        .orderBy(desc("cos"), col("doc_id")).limit(50)
        .withColumn("rank", row_number().over(
          Window.orderBy(desc("cos"), col("doc_id"))).cast("long"))
        .select(col("doc_id"), col("rank"))
      // NOT staged/overlapped (measured r15): the two arms are already
      // independent AQE stages inside the one fused action, so an
      // explicit stageAll overlap only added its two barrier jobs —
      // 1.48 s lazy vs 1.52 s staged (medians of 5, quiet box)
      CorpusStats.rrfFuse(Seq(lex, sem), "doc_id", kRrf = 60, topK = 10)
        .orderBy(col("fused_rank"))
    }),
    // PSI drift between the %3 split and the rest over capped n_chars
    // centile buckets — the production data-drift monitor; log2 micro-
    // bits (the lm01/ds01 rounding convention)
    "dr01_drift_psi" -> ((s, dir) => {
      val d = t(s, dir, "documents").withColumn("bucket",
        least(call_function("div", col("n_chars"), lit(100L)), lit(20L)))
      CorpusStats.psiDrift(
          d.filter(col("doc_id") % 3 === 0),
          d.filter(col("doc_id") % 3 =!= 0), "bucket")
        .orderBy(col("bucket"))
    }),
    // per-language tokenizer fertility (subword pieces per word, the
    // multilingual token-budget table); BPE-proxy subword counter
    "tf01_fertility" -> ((s, dir) => {
      CorpusStats.tokenizerFertility(t(s, dir, "documents"), "lang", "text")
        .orderBy(col("lang"))
    }),
    // equi-width-histogram quantiles of doc length: bin-domain count
    // agg + bounded cumulative window + inverse-ECDF reads — P50/P90/
    // P99 without a global sort
    "qd01_quantile_bins" -> ((s, dir) => {
      CorpusStats.quantileBins(t(s, dir, "documents"), "n_chars",
          binWidth = 100L, qs = Seq(250, 500, 750, 900, 990))
        .orderBy(col("q_permille"))
    }),
    // two-sample KS drift over n_chars between the %3 split and the
    // rest — the nonparametric complement of dr01; micro-quantized
    // ECDFs, row 1's gap IS the KS statistic
    "ks01_ks_drift" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      CorpusStats.ksDrift(
        d.filter(col("doc_id") % 3 === 0),
        d.filter(col("doc_id") % 3 =!= 0), "n_chars", k = 10)
    }),
    // per-source plug-in token entropy (bits/token, micro): the corpus-
    // diversity table behind mixture upweighting; lm01's rounding chain
    "en01_source_entropy" -> ((s, dir) => {
      CorpusStats.groupTokenEntropy(t(s, dir, "documents"), "source", "text")
        .orderBy(col("source"))
    }),
    // temperature-scaled mixture weights (the mBERT/XLM-R α-smoothing):
    // α = 1/2 via ONE IEEE sqrt (correctly rounded in every engine,
    // where pow is not), weights rounded to micro before the exact
    // integer normalization
    "mw02_temperature_mix" -> ((s, dir) => {
      CorpusStats.temperatureWeights(
        t(s, dir, "documents"), "source", "text", sqrtSteps = 1)
        .orderBy(col("source"))
    }),
    // the selection half of data mixing: per-source 500-token budgets,
    // greedy maximal prefix in salted-hash order (the two-level bucket
    // plan; the oracle replays the equivalent naive window prefix)
    "ms01_mixture_sample" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val budgets = d.select(col("source")).distinct()
        .withColumn("token_budget", lit(500L))
      graft.operators.Sampling.mixtureSample(d, "doc_id", "text", "source",
          budgets)
        .select(col("source"), col("doc_id"), col("n_tokens"))
        .orderBy(col("source"), col("doc_id"))
        .limit(200)
    }),
    // mixture with epoch repetition: per-source budget ABOVE the source's
    // token mass upsamples by full passes + a residual hash prefix; the
    // compact per-(source, epoch) rollup still pins residual membership
    "ms02_mixture_epochs" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val budgets = d.select(col("source")).distinct()
        .withColumn("token_budget", lit(3000L))
      graft.operators.Sampling.mixtureSampleWithRepetition(d,
          "doc_id", "text", "source", budgets)
        .groupBy(col("source"), col("epoch"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
        .orderBy(col("source"), col("epoch"))
    }),
    // Gopher-style repetition signals as exact integer permille
    "tx02_repetition" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextFunctions.dupLinePermille(col("text")).as("dup_line_pm"),
          TextFunctions.dupNgramPermille(col("text"), 3).as("dup_3gram_pm"))
        .orderBy(col("doc_id"))
        .limit(200)
    }),
    // C4-style line cleaning: word floor + terminal punctuation + marker
    // lines + within-doc repeat collapse; documents are single-line, so
    // the lane wraps each in a deterministic multi-line harness that
    // exercises all four rules (both engines build the same harness)
    // C4 §2.2 document-level blocklist gate: one whole-token (or
    // whole-phrase) hit anywhere drops the page. Placeholder policy
    // terms drawn from the synthetic vocabulary so both branches fire
    // (the published LDNOOBW list stands behind the same API)
    "c402_blocklist_gate" -> ((s, dir) => {
      graft.operators.Curation.blocklistGate(
        t(s, dir, "documents"), "doc_id", "text",
        Seq("slow", "vector", "merge batch"))
        .orderBy(col("doc_id"))
    }),
    "c401_clean_lines" -> ((s, dir) => {
      val src = concat(col("text"), lit(".\n"), col("text"),
        lit(".\nshort line\n" +
          "we use javascript and cookie banners on this site today.\n" +
          "this is a good long line that ends properly."))
      val (kept, dropped) = TextFunctions.cleanLinesCounts(src)
      t(s, dir, "documents")
        .select(col("doc_id"),
          md5(TextFunctions.cleanLines(src).cast("binary")).as("fp"),
          kept.as("n_kept"), dropped.as("n_dropped"))
        .orderBy(col("doc_id"))
        .limit(200)
    }),
    "q19_doc_tokens" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).as("n_tokens"),
          TextFunctions.subwordCount(col("text")).as("n_subwords"),
          col("n_chars"))
        .orderBy(desc("n_tokens"), col("doc_id"))
        .limit(50)
    }),
    "q20_doc_stats" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.select(col("doc_id"),
          TextFunctions.digitCount(col("text")).as("digits"),
          TextFunctions.punctCount(col("text")).as("punct"),
          TextFunctions.spaceCount(col("text")).as("spaces"),
          TextFunctions.stopwordCount(col("text")).as("stopwords"))
        .orderBy(col("doc_id"))
    }),
    "q21_doc_lang" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.select(col("lang"), TextFunctions.langGuessSimple(col("text")).as("guess"))
        .groupBy(col("lang"), col("guess"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("guess"))
    }),
    // corpus token frequency (explode + agg + top-k)
    "q37_top_tokens" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(explode(TextFunctions.tokens(col("text"))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), col("tok"))
        .limit(30)
    }),
    // distinct n-gram cardinality per document; string shingles (not the
    // hashed fast path) so the DuckDB oracle can mirror it — the
    // interpreted HOF work must not run on one input split, but an input
    // that is already parallel must not pay a full-text shuffle either
    "q38_doc_ngram_counts" -> ((s, dir) => {
      Dedup.ensureParallelism(t(s, dir, "documents"))
        .select(col("doc_id"),
          size(array_distinct(TextFunctions.tokenNgrams(col("text"), 3)))
            .cast("long").as("n_shingles"))
        .orderBy(desc("n_shingles"), col("doc_id"))
        .limit(50)
    }),
    "q22_dedup_exact" -> ((s, dir) => {
      Dedup.exactGroups(t(s, dir, "documents"), "doc_id", "text")
        .select(col("fingerprint"), col("n"), col("keep_id"))
        .orderBy(col("fingerprint"))
        .limit(100)
    }),
    // HyperLogLog register table with exact-replay internals (the
    // portable twin of sk01's approx_count_distinct): md5-32 bucket +
    // leading-rank registers via bin(), one m-domain agg (~zero shuffle)
    "hl01_hll_registers" -> ((s, dir) => {
      Sketches.hllRegisters(t(s, dir, "documents"), "text", p = 4)
        .orderBy(col("bucket"))
    }),
    // the published HLL estimator over hl01's registers — raw
    // harmonic-mean estimate + small-range linear counting, every IEEE
    // step correctly rounded in both engines, micro-quantized
    "hl02_hll_estimate" -> ((s, dir) => {
      Sketches.hllEstimate(
        Sketches.hllRegisters(t(s, dir, "documents"), "text", p = 4), p = 4)
        .orderBy(col("m"))
    }),
    // KMV / bottom-k distinct sketch: k smallest distinct md5-60 hashes,
    // estimate in exact integer arithmetic (decimal-widened product)
    "kv01_kmv_distinct" -> ((s, dir) => {
      Sketches.kmvDistinct(t(s, dir, "documents"), "text", k = 16)
        .orderBy(col("n_kept"))
    }),
    // INCREMENTAL KMV: a hash survives while >= 1 doc holds it, so the
    // vocabulary holder-counts fold additively (maintainGroupSums,
    // count-only) from per-doc distinct contributions; the sketch
    // re-derives from the maintained (h, n_docs) table via the exact
    // batch bottom-k tail — no re-tokenization beyond the delta.
    // Oracle = kv01's full batch replay over the new snapshot
    "kv02_incremental_kmv" -> ((s, dir) => {
      import graft.operators.Incremental
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val newSnap = docs.filter(col("doc_id") % 13 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
        .unionByName(
          docs.filter(col("doc_id") % 11 === 0 && col("doc_id") % 13 =!= 0)
            .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      val diffDf = modStepDiff(docs, "doc_id")
      // staged (the ann05/sd03 convention): the totals build and the
      // fold's three reads share one materialized contribution pass.
      // Delta contributions join the same wave (the hl03 rationale)
      val Seq(priorContrib, deltaContrib) =
        graft.operators.Barriers.stageAll(
          Sketches.kmvContrib(docs, "doc_id", "text"),
          Sketches.kmvContrib(
            newSnap.join(
              diffDf.filter(col("status").isin("added", "changed"))
                .select("doc_id"),
              Seq("doc_id"), "left_semi"),
            "doc_id", "text"))
      val priorTotals = priorContrib.groupBy(col("h"))
        .agg(count(lit(1)).as("n_docs"))
      val (_, nextTotals) = Incremental.maintainGroupSums(
        priorContrib, deltaContrib, diffDf, priorTotals,
        "doc_id", "h", Seq.empty, countCol = "n_docs")
      Sketches.kmvFromHashes(nextTotals.select(col("h")), k = 16)
        .orderBy(col("n_kept"))
    }),
    // Count-Min cell table: d row-salted md5 hashes x w columns, exact
    // occurrence sums per cell (d*w-domain agg, map-side combined)
    "cs01_countmin_cells" -> ((s, dir) => {
      Sketches.countMinCells(t(s, dir, "documents"), "text", d = 4, w = 64)
        .orderBy(col("r"), col("c"))
    }),
    // Count-Min point queries: min over the d cells per probe (driver-
    // computed literal coordinates — no join against the corpus) next to
    // the exact count; 'graftabsent' pins the one-sided overestimate
    "cs02_countmin_point" -> ((s, dir) => {
      Sketches.countMinPoint(t(s, dir, "documents"), "text",
        Seq("table", "spark", "merge", "graftabsent"), d = 4, w = 64)
        .orderBy(col("tok"))
    }),
    // INCREMENTAL HLL register maintenance (maintainRegisterMax): max
    // is not invertible, so the per-doc contribution frame is the
    // state and only touched buckets re-max under the %13/%7/%11-copy
    // snapshot step. p=6 (64 buckets). Oracle = full batch register
    // build over the new snapshot: incremental==batch by hash
    "hl03_incremental_hll" -> ((s, dir) => {
      import graft.operators.Incremental
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val newSnap = docs.filter(col("doc_id") % 13 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
        .unionByName(
          docs.filter(col("doc_id") % 11 === 0 && col("doc_id") % 13 =!= 0)
            .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      val diffDf = modStepDiff(docs, "doc_id")
      // staged prior contributions (the ann05/sd03 convention): the fold
      // reads them three times, and the prior register table derives
      // from the SAME staged frame via the SketchesSpec-pinned max
      // identity — the second full text pass hllRegisters(docs) paid is
      // gone. The DELTA contributions (read twice: the fold's union arm
      // + the touched-bucket set) are an independent narrow scan, so
      // they materialize in the SAME concurrent wave (§2.6)
      val Seq(priorContrib, deltaContrib) =
        graft.operators.Barriers.stageAll(
          Sketches.hllContrib(docs, "doc_id", "text", p = 6),
          Sketches.hllContrib(
            newSnap.join(
              diffDf.filter(col("status").isin("added", "changed"))
                .select("doc_id"),
              Seq("doc_id"), "left_semi"),
            "doc_id", "text", p = 6))
      val (_, nextReg) = Incremental.maintainRegisterMax(
        priorContrib, deltaContrib, diffDf,
        priorContrib.groupBy(col("bucket"))
          .agg(max(col("rho")).as("register")),
        "doc_id")
      nextReg.orderBy(col("bucket"))
    }),
    // per-LANGUAGE HLL distinct-token estimates (the datasheet's
    // per-source diversity table when exact distincts stop scaling):
    // one (lang x 16)-domain register agg + the published estimator
    // per group, with the EXACT distinct riding next to the estimate
    // (self-verifying at test scale; at 100 TB only the sketch runs)
    "hl04_grouped_hll" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val est = Sketches.groupedHllEstimate(
        Sketches.groupedHllRegisters(docs, "lang", "text", p = 4),
        "lang", p = 4)
      val exact = docs
        .select(col("lang"),
          explode(TextFunctions.tokens(col("text"))).as("tok"))
        .filter(length(col("tok")) > 0)
        .groupBy(col("lang"))
        .agg(countDistinct(col("tok")).as("exact_distinct"))
      est.join(exact, Seq("lang")).orderBy(col("lang"))
    }),
    // INCREMENTAL per-group HLL maintenance — maintainRegisterMax
    // keyed (lang, bucket): the WHOLE per-language register family
    // folds in one delta-bounded pass under the %13/%7/%11-copy step
    // (contributions move by doc id, so a doc's group rides with it).
    // Oracle = full batch grouped register build over the new snapshot
    "hl05_incremental_grouped" -> ((s, dir) => {
      import graft.operators.Incremental
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("text"))
      val newSnap = docs.filter(col("doc_id") % 13 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
        .unionByName(
          docs.filter(col("doc_id") % 11 === 0 && col("doc_id") % 13 =!= 0)
            .select((col("doc_id") + 1000000L).as("doc_id"), col("lang"),
              col("text")))
      val diffDf = modStepDiff(docs, "doc_id")
      // staged prior contributions + the grouped max identity (the cr03
      // pattern): one text pass instead of two, fold reads deduplicated.
      // Delta contributions join the same wave (the hl03 rationale)
      val Seq(priorContrib, deltaContrib) =
        graft.operators.Barriers.stageAll(
          Sketches.groupedHllContrib(docs, "doc_id", "lang", "text", p = 4),
          Sketches.groupedHllContrib(
            newSnap.join(
              diffDf.filter(col("status").isin("added", "changed"))
                .select("doc_id"),
              Seq("doc_id"), "left_semi"),
            "doc_id", "lang", "text", p = 4))
      val (_, nextReg) = Incremental.maintainRegisterMax(
        priorContrib, deltaContrib, diffDf,
        priorContrib.groupBy(col("lang"), col("bucket"))
          .agg(max(col("rho")).as("register")),
        "doc_id", keyCols = Seq("lang", "bucket"))
      nextReg.orderBy(col("lang"), col("bucket"))
    }),
    // INCREMENTAL Count-Min maintenance (maintainCountMinCells): cell
    // counts are additive over documents, so departed/delta docs'
    // contributions alone fold into the stored d*w table under the
    // same snapshot step. Oracle = full batch cell build over the new
    // snapshot: incremental==batch by hash
    "cs03_incremental_countmin" -> ((s, dir) => {
      import graft.operators.Incremental
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val newSnap = docs.filter(col("doc_id") % 13 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
        .unionByName(
          docs.filter(col("doc_id") % 11 === 0 && col("doc_id") % 13 =!= 0)
            .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      val diffDf = modStepDiff(docs, "doc_id")
      val deltaContrib = Sketches.countMinContrib(
        newSnap.join(
          diffDf.filter(col("status").isin("added", "changed"))
            .select("doc_id"),
          Seq("doc_id"), "left_semi"),
        "doc_id", "text", d = 4, w = 64)
      // NOT staged (measured): the (id, r, c) contribution frame is
      // wide enough that materializing it cost more than the concurrent
      // recompute it saved (2.9 s vs 2.2 s median) — unlike the hll
      // lanes whose contribution frames are bucket-bounded
      val (_, nextCells) = Incremental.maintainCountMinCells(
        Sketches.countMinContrib(docs, "doc_id", "text", d = 4, w = 64),
        deltaContrib, diffDf,
        Sketches.countMinCells(docs, "text", d = 4, w = 64), "doc_id")
      nextCells.orderBy(col("r"), col("c"))
    }),
    // pairwise source vocabulary similarity from bottom-k sketches
    // (Broder/Bar-Yossef resemblance): all pair work on k-bounded
    // sketches, |sources|²-bounded output — the mixture-design table
    "ss01_source_jaccard" -> ((s, dir) => {
      Sketches.sourceJaccard(
        t(s, dir, "documents")
          .withColumn("graft_src", (col("doc_id") % 7).cast("string")),
        "graft_src", "text", k = 64)
        .orderBy(col("src_a"), col("src_b"))
    }),
    // directional vocabulary containment from the same merged bottom-k
    // frame: the "B holds 90% of A -> fold A into B" dedup-policy table
    "ct01_source_containment" -> ((s, dir) => {
      Sketches.sourceContainment(
        t(s, dir, "documents")
          .withColumn("graft_src", (col("doc_id") % 7).cast("string")),
        "graft_src", "text", k = 64)
        .orderBy(col("src_a"), col("src_b"))
    }),
    // URL canonicalization front door (RFC 3986 §6 normalizations +
    // tracking-param policy): scan-local regexp chain, every clause of
    // the UrlFunctions contract exercised by the synthesized residues
    "url01_canonical_urls" -> ((s, dir) => {
      import graft.functions.UrlFunctions
      t(s, dir, "documents")
        .select(col("doc_id"), synthUrl(escapes = true).as("url"))
        .select(col("doc_id"),
          UrlFunctions.canonicalizeUrl(col("url")).as("url_canon"),
          UrlFunctions.urlHost(col("url")).as("host"),
          UrlFunctions.urlDomain(col("url")).as("domain"))
        .orderBy(col("doc_id"))
    }),
    // C4-style URL-level exact dedup, keep-first by id: distinct-URL-
    // domain shuffle only (min/count partials), unparseable rows kept
    "url02_url_dedup" -> ((s, dir) => {
      Dedup.urlDedup(
        t(s, dir, "documents").select(col("doc_id"), synthUrl().as("url")),
        "doc_id", "url")
        .orderBy(col("doc_id"))
    }),
    // Gopher/RefinedWeb per-domain cap: registered-domain strata, exact
    // two-level salted min-k (k-bounded windows, no per-domain sort)
    "url03_domain_cap" -> ((s, dir) => {
      graft.operators.Sampling.domainCap(
        t(s, dir, "documents").select(col("doc_id"), synthUrl().as("url")),
        "doc_id", "url", k = 5, salt = "url03")
        .orderBy(col("domain"), col("sample_rank"))
    }),
    // INCREMENTAL domain-cap maintenance — maintainMinK on the url03
    // shape: the snapshot step (docs %10==3 added, %10==9 removed)
    // folds into the stored (membership, sample) tables; touched
    // domains re-rank through the SAME two-level salted windows as the
    // batch cap (content-addressed: the salt is the only state),
    // untouched domains carry their sample rows byte-for-byte. The
    // oracle is url03's BATCH replay over the new snapshot — the
    // membership being a pure function of (id, salt) makes
    // incremental==batch EXACT, and the hash compare enforces it
    "url06_incremental_cap" -> ((s, dir) => {
      import graft.operators.{Dedup, Incremental}
      import graft.functions.UrlFunctions
      val all = t(s, dir, "documents")
        .select(col("doc_id"), synthUrl().as("url"))
      val oldUrls = all.filter(col("doc_id") % 10 =!= 3)
      val newUrls = all.filter(col("doc_id") % 10 =!= 9)
      def membership(urls: DataFrame) = urls
        .select(col("doc_id"),
          UrlFunctions.urlDomain(col("url")).as("domain"))
        .filter(col("domain").isNotNull)
      // staged: the two-window stratified sample and the min-k fold
      // both read the prior membership
      val prior = graft.operators.Barriers.stage(membership(oldUrls))
      val priorSample = graft.operators.Sampling.stratifiedFixedSample(
        prior, "doc_id", "domain", k = 5, salt = "url06")
      val diffDf = residueStepDiff(all, "doc_id", addRes = 3L, dropRes = 9L)
      val delta = membership(newUrls.join(
        diffDf.filter(col("status").isin("added", "changed"))
          .select("doc_id"),
        Seq("doc_id"), "left_semi"))
      val (_, nextSample) = Incremental.maintainMinK(
        prior, delta, diffDf, priorSample,
        "doc_id", "domain", k = 5, salt = "url06")
      nextSample.orderBy(col("domain"), col("sample_rank"))
    }),
    // INCREMENTAL mixture maintenance — maintainGroupSums on the url04
    // shape: per-domain (n_docs, n_tokens, n_chars) fold ADDITIVELY
    // under the snapshot step (%10==3 added, %10==9 removed, %10==7
    // text-appended so its token/char values move), so only departed
    // and delta rows ever aggregate — no untouched domain recomputes
    // anything — and the permille shares derive from the maintained
    // domain-bounded totals. Oracle = url04's BATCH replay over the
    // new snapshot: incremental==batch by hash
    "mw04_incremental_mixture" -> ((s, dir) => {
      import graft.operators.{Dedup, Incremental}
      import graft.functions.UrlFunctions
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val oldDocs = docs.filter(col("doc_id") % 10 =!= 3)
      val newDocs = docs.filter(col("doc_id") % 10 =!= 9)
        .withColumn("text",
          when(col("doc_id") % 10 === 7,
            concat(col("text"), lit(" updated rev")))
            .otherwise(col("text")))
      def signals(snap: DataFrame) = snap.select(
        col("doc_id"),
        UrlFunctions.urlDomain(synthUrl()).as("domain"),
        size(filter(TextFunctions.tokens(col("text")),
          t => length(t) > 0)).cast("long").as("n_tokens"),
        length(col("text")).cast("long").as("n_chars"))
        .filter(col("domain").isNotNull)
      // staged (the ann05/sd03 prior-frame convention): the totals and
      // the group-sums fold both read the prior signal pass. The DELTA
      // signals (a tokenize pass, read twice by the fold) join the same
      // concurrent wave (the hl03 rationale, §2.6)
      val diffDf = residueStepDiff(docs, "doc_id",
        addRes = 3L, dropRes = 9L, chgRes = 7L)
      val Seq(prior, delta) = graft.operators.Barriers.stageAll(
        signals(oldDocs),
        signals(newDocs.join(
          diffDf.filter(col("status").isin("added", "changed"))
            .select("doc_id"),
          Seq("doc_id"), "left_semi")))
      val priorTotals = prior.groupBy(col("domain")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"))
      val (_, nextTotals) = Incremental.maintainGroupSums(
        prior, delta, diffDf, priorTotals,
        "doc_id", "domain", Seq("n_tokens", "n_chars"),
        countCol = "n_docs")
      // window sum over the DOMAIN-BOUNDED totals (single tiny
      // partition, same exact long sum) — the previous agg + broadcast
      // crossJoin re-ran the whole group-sums fold (staged-prior scan +
      // delta text pass + 3-way outer join) as a second subtree (§7.2)
      nextTotals
        .withColumn("__tot", sum(col("n_tokens")).over(Window.partitionBy()))
        .select(col("domain"), col("n_docs"), col("n_tokens"),
          col("n_chars"),
          when(col("__tot") === 0L, lit(0L))
            .otherwise(TextFunctions.ldiv(col("n_tokens") * lit(1000L),
              col("__tot"))).as("token_permille"))
        .orderBy(col("domain"))
    }),
    // RefinedWeb/C4-style URL filter battery on a synth that exercises
    // every rule: static-asset extensions, deep paths, digit-heavy
    // (calendar/session) paths, param-heavy app views, a blocklist hit,
    // and unparseable rows (all rules false). The synth is ALREADY
    // canonical (lowercase, no tracking keys, no trailing slash), so
    // the oracle's canon CASE is the unparseable gate alone — the
    // canonicalization chain itself is url01's job
    "url05_url_filters" -> ((s, dir) => {
      import graft.functions.UrlFunctions
      // canonical STAGED once as an attribute; the rules then read a
      // row field instead of re-running the canonicalization tree
      val sigs = UrlFunctions.urlFilterSignalsFromCanon(col("__canon"))
      t(s, dir, "documents")
        .select(col("doc_id"), synthFilterUrl.as("url"))
        .select(col("doc_id"),
          UrlFunctions.canonicalizeUrl(col("url")).as("__canon"))
        .select(col("doc_id") +: sigs.map { case (n, c) => c.as(n) }: _*)
        .orderBy(col("doc_id"))
    }),
    // the COMPOSED web front door, one lane: URL policy filters ->
    // HTML -> text extraction -> URL-level keep-first dedup (among
    // policy survivors) -> text-quality gate. Per-doc stage verdicts,
    // so the oracle pins every stage's interaction, not just each
    // operator alone (cu01's composition discipline for the acquire
    // side). Same url05/ht01 synths.
    "wp01_web_pipeline" -> ((s, dir) =>
      webPipelineVerdicts(s, dir)
        .select(col("doc_id"), col("url_pass"), col("is_canonical"),
          col("n_tokens_clean"), col("quality"), col("final_keep"))
        .orderBy(col("doc_id"))),
    // the acquire-side END TO END: wp01's keepers -> per-registered-
    // domain cap (Gopher/RefinedWeb domain mixing) -> mixture table
    // over the CAPPED corpus — filter/extract/dedup/cap/mix as ONE
    // oracle-pinned lane. Output per domain: pre-cap keeper count,
    // post-cap count, post-cap token volume + mixture permille, and an
    // md5 over the sorted capped ids (pins the exact surviving SET,
    // not just its size). Scale: the cap output is k-bounded per
    // domain; the only exchanges are the keeper agg, the cap's salted
    // min-k, and a domain-level agg — the corpus text never moves.
    "wp02_web_acquire" -> ((s, dir) => {
      // the keeper frame MATERIALIZES once (eager Barriers.stage, the
      // GraphSession discipline): the funnel below it carries the whole
      // extraction/filter expression tree plus an internal join, and
      // every downstream branch in the shared capMixReport tail would
      // otherwise re-inline and re-codegen that tree — measured 117 s
      // vs ~2 s checkpointed. At 100 TB this is exactly where a
      // pipeline persists: the funnel output is the corpus the acquire
      // tail fans out over.
      val kept = webPipelineVerdicts(s, dir)
        .filter(col("final_keep"))
        .select(col("doc_id"), col("url_canon"), col("n_tokens_clean"))
        .transform(graft.operators.Barriers.stage(_))
      capMixReport(kept, k = 3, salt = "wp02")
    }),
    // per-registered-domain mixture table: the domain-mixing report
    // (which domains dominate token volume) composed from urlDomain +
    // mixtureWeights — the table domainCap's k gets tuned against
    "url04_domain_mixture" -> ((s, dir) => {
      import graft.functions.UrlFunctions
      CorpusStats.mixtureWeights(
        t(s, dir, "documents")
          .select(col("doc_id"), col("text"), synthUrl().as("url"))
          .withColumn("domain", UrlFunctions.urlDomain(col("url")))
          .filter(col("domain").isNotNull),
        "domain", "text")
        .orderBy(col("domain"))
    }),
    // HTML -> visible text (the WARC->WET / C4 extraction tier):
    // script/style/comment drop, block tags -> newlines, inline tags ->
    // spaces, single-pass entity decode (named + ASCII numeric refs, no
    // replace-fold cascade), whitespace discipline — all scan-local
    // regexp in the Java∩RE2 intersection. HTML synthesized around each
    // doc's text (the pii01 convention); output hashes the extracted
    // text + the markup-share diagnostic
    "ht01_html_extract" -> ((s, dir) => {
      import graft.functions.HtmlFunctions
      t(s, dir, "documents")
        .select(col("doc_id"), synthHtml.as("__html"))
        .select(col("doc_id"),
          HtmlFunctions.stripHtml(col("__html")).as("__clean"),
          HtmlFunctions.markupPermille(col("__html"))
            .as("markup_permille"))
        .select(col("doc_id"),
          length(col("__clean")).cast("long").as("n_chars_clean"),
          md5(col("__clean").cast("binary")).as("clean_md5"),
          col("markup_permille"))
        .orderBy(col("doc_id"))
    }),
    // robots.txt policy gate (RFC 9309): per-domain robots docs
    // synthesized over five policy shapes (no robots; a * group with
    // nested allow/disallow; an agent-named group with wildcard+$ rules
    // NEXT TO a catch-all * group it must shadow; consecutive UA lines
    // sharing a group with an empty-pattern allow-all idiom; a group
    // naming only a foreign agent). Longest-match precedence,
    // allow-wins ties, default allow — parse + gate fully replayed
    "rb01_robots_gate" -> ((s, dir) => {
      import graft.operators.Robots
      val dom = concat(lit("site"), (col("doc_id") % 5).cast("string"))
      val path =
        when(col("doc_id") % 7 === 0,
          concat(lit("/private/ok/p"), (col("doc_id") % 6).cast("string")))
          .when(col("doc_id") % 3 === 0,
            concat(lit("/private/p"), (col("doc_id") % 6).cast("string")))
          .when(col("doc_id") % 11 === 0,
            concat(lit("/docs/page"), (col("doc_id") % 9).cast("string"),
              lit(".html")))
          .when(col("doc_id") % 13 === 0,
            concat(lit("/docs/page"), (col("doc_id") % 9).cast("string"),
              lit(".html?x=1")))
          .when(col("doc_id") % 17 === 0, lit("/xannotated"))
          .when(col("doc_id") % 2 === 0,
            concat(lit("/x"), (col("doc_id") % 4).cast("string"), lit("y")))
          .otherwise(
            concat(lit("/public/p"), (col("doc_id") % 10).cast("string")))
      val urls = t(s, dir, "documents")
        .select(col("doc_id"), dom.as("domain"), path.as("path"))
      val robotsDf = urls.select(col("domain")).distinct()
        .withColumn("robots",
          when(col("domain") === "site1", lit(
            "User-agent: *\nDisallow: /private\nAllow: /private/ok"))
            .when(col("domain") === "site2", lit(
              "User-agent: graftbot\nDisallow: /docs/*.html$\n" +
                "User-agent: *\nDisallow: /"))
            .when(col("domain") === "site3", lit(
              "User-agent: alpha\nUser-agent: graftbot\n" +
                "Disallow: /x*y\nAllow: /xa\n# c\nDisallow:"))
            .when(col("domain") === "site4", lit(
              "User-agent: otherbot\nDisallow: /"))
            .otherwise(lit(null).cast("string")))
      val rules = Robots.parseRobots(robotsDf, "domain", "robots", "graftbot")
      Robots.robotsGate(urls, "doc_id", "domain", "path", rules)
        .join(urls.select(col("doc_id"), col("domain")), Seq("doc_id"))
        .select(col("doc_id"), col("domain"), col("allowed"),
          col("winner_len"), col("n_matched"))
        .orderBy(col("doc_id"))
    }),
    // robots politeness/discovery metadata: group-scoped crawl-delay
    // for the selected agent (fractional floor to ms, bogus/negative
    // ignored, conservative max across selected groups) +
    // group-independent sitemap list — five per-domain policy shapes
    // incl. a delay BETWEEN two consecutive UA lines (adjacency
    // preserved) and a foreign-agent file whose sitemaps still
    // surface. The already-sorted sitemap list is joined to a "|"
    // string (q40 convention) so the oracle harness can hash it
    "rb02_robots_meta" -> ((s, dir) => {
      import graft.operators.Robots
      val robotsDf = t(s, dir, "documents")
        .select(concat(lit("site"), (col("doc_id") % 5).cast("string"))
          .as("domain"))
        .distinct()
        .withColumn("robots",
          when(col("domain") === "site1", lit(
            "User-agent: *\nCrawl-delay: 1.5\nDisallow: /a\n" +
              "Sitemap: https://site1.example/sm.xml"))
            .when(col("domain") === "site2", lit(
              "User-agent: graftbot\nCrawl-delay: 2\n" +
                "User-agent: *\nCrawl-delay: 9"))
            .when(col("domain") === "site3", lit(
              "User-agent: otherbot\nCrawl-delay: 3\n" +
                "Sitemap: https://site3.example/b.xml\n" +
                "Sitemap: https://site3.example/a.xml"))
            .when(col("domain") === "site4", lit(
              "User-agent: graftbot\nCrawl-delay: bogus\n" +
                "User-agent: alpha\nCrawl-delay: 0.25\n" +
                "User-agent: graftbot\nDisallow: /z"))
            .otherwise(lit(null).cast("string")))
      Robots.robotsMeta(robotsDf, "domain", "robots", "graftbot")
        .select(col("domain"), col("crawl_delay_ms"), col("n_sitemaps"),
          array_join(col("sitemaps"), "|").as("sitemaps"))
        .orderBy(col("domain"))
    }),
    // the fetch-scheduler consumption of rb01+rb02: ONE robots file per
    // domain drives BOTH parsers — the RFC 9309 access gate decides
    // which URLs are fetchable, robotsMeta's politeness metadata prices
    // them — aggregated into the per-domain crawl schedule a frontier
    // actually plans with: fetchable/blocked counts, the agent's
    // crawl-delay, sitemap count, and the politeness-limited crawl time
    // (n_allowed x delay; unspecified delay prices at the 1000 ms
    // default a polite crawler assumes). Both policy frames are
    // domain-bounded; URL text never shuffles
    "rb03_fetch_schedule" -> ((s, dir) => {
      import graft.operators.Robots
      val urls = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("site"), (col("doc_id") % 5).cast("string"))
          .as("domain"),
        concat(lit("/p"), (col("doc_id") % 7).cast("string"),
          when(col("doc_id") % 3 === 0, lit(".html")).otherwise(lit("")))
          .as("path"))
      val robotsDf = urls.select(col("domain")).distinct()
        .withColumn("robots",
          when(col("domain") === "site1", lit(
            "User-agent: *\nCrawl-delay: 1.5\nDisallow: /p1\n" +
              "Sitemap: https://site1.example/sm.xml"))
            .when(col("domain") === "site2", lit(
              "User-agent: graftbot\nCrawl-delay: 2\nDisallow: /p2\n" +
                "User-agent: *\nCrawl-delay: 9\nDisallow: /"))
            .when(col("domain") === "site3", lit(
              "User-agent: otherbot\nDisallow: /\n" +
                "Sitemap: https://site3.example/b.xml\n" +
                "Sitemap: https://site3.example/a.xml"))
            .when(col("domain") === "site4", lit(
              "User-agent: *\nDisallow: /p4.html$\nCrawl-delay: 0.25"))
            .otherwise(lit(null).cast("string")))
      val rules = Robots.parseRobots(robotsDf, "domain", "robots", "graftbot")
      val gate = Robots.robotsGate(urls, "doc_id", "domain", "path", rules)
      val meta = Robots.robotsMeta(robotsDf, "domain", "robots", "graftbot")
      urls.join(gate.select(col("doc_id"), col("allowed")), Seq("doc_id"))
        .groupBy(col("domain"))
        .agg(sum(when(col("allowed"), 1L).otherwise(0L)).as("n_allowed"),
          sum(when(col("allowed"), 0L).otherwise(1L)).as("n_blocked"))
        .join(meta.select(col("domain"), col("crawl_delay_ms"),
          col("n_sitemaps")), Seq("domain"), "left_outer")
        .select(col("domain"), col("n_allowed"), col("n_blocked"),
          col("crawl_delay_ms"),
          coalesce(col("n_sitemaps"), lit(0L)).as("n_sitemaps"),
          (col("n_allowed") * coalesce(col("crawl_delay_ms"), lit(1000L)))
            .as("est_crawl_ms"))
        .orderBy(col("domain"))
    }),
    // the FULLY composed acquire front door: robots policy -> URL
    // filters -> extraction-quality gate -> URL dedup, with robots
    // gating BEFORE dedup (a disallowed page is never fetched, so it
    // can never own a canonical). Policies keyed by REGISTERED domain:
    // example.com gets a prefix disallow + longer allow (precedence),
    // example.co.uk an agent-named group blocking *.html$ (shadows *),
    // site1.github.io a foreign-agent-only file (all allowed),
    // site3.github.io a full disallow, the rest no robots at all.
    // All verdict frames are narrow (the wp02/ch04 discipline)
    "wp03_web_robots" -> ((s, dir) => {
      webRobotsVerdicts(s, dir)
        .select(col("doc_id"), col("robots_allowed"), col("url_pass"),
          col("is_canonical"), col("final_keep"))
        .orderBy(col("doc_id"))
    }),
    // the COMPLETE acquire front door, one verified product: robots
    // policy -> URL filters -> extraction-quality gate -> URL dedup
    // (wp03's robots-gated keepers) -> per-domain cap -> token mixture
    // (wp02's acquire tail). The keeper frame materializes once (the
    // wp02 discipline) and the tail carries only (doc_id, url_canon,
    // token-count) narrow rows — the composed funnel a real crawl
    // pipeline runs end to end before a byte of text is tokenized
    "wp04_web_robots_acquire" -> ((s, dir) => {
      val kept = webRobotsVerdicts(s, dir)
        .filter(col("final_keep"))
        .select(col("doc_id"), col("url_canon"), col("n_tokens_clean"))
        .transform(graft.operators.Barriers.stage(_))
      capMixReport(kept, k = 3, salt = "wp04")
    }),
    // INCREMENTAL acquire maintenance, proven equal to batch: the lane
    // simulates a snapshot step — docs %10==3 added, %10==9 removed,
    // %10==7 text-changed — recomputes funnel signals for the DELTA
    // slice only (the only text scan a production step pays), folds
    // them into the stored signal+keeper tables via
    // Incremental.maintainKeepFirst (delta-bounded re-election,
    // untouched canonicals carried forward), and emits the new
    // snapshot's per-doc verdicts. The oracle is a full BATCH replay
    // over the new snapshot — hash equality IS the incremental==batch
    // proof
    "wp05_incremental_acquire" -> ((s, dir) => {
      import graft.operators.{Dedup, Incremental}
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val oldDocs = docs.filter(col("doc_id") % 10 =!= 3)
      val newDocs = docs.filter(col("doc_id") % 10 =!= 9)
        .withColumn("text",
          when(col("doc_id") % 10 === 7,
            concat(col("text"), lit(" updated rev")))
            .otherwise(col("text")))
      // the stored state a pipeline carries between runs (computed
      // batch-style here because the lane is self-contained). The old
      // and delta signal chains are independent and each stages its
      // extraction frame EAGERLY mid-build (webPipelineScored) — built
      // sequentially, the box idled through each side's staging tail;
      // buildAll runs the two constructions concurrently (§2.6)
      val diffDf = residueStepDiff(docs, "doc_id",
        addRes = 3L, dropRes = 9L, chgRes = 7L)
      val Seq(priorScored, deltaScored) =
        graft.operators.Barriers.buildAll(s)(
          () => webPipelineScored(oldDocs),
          () => webPipelineScored(newDocs.join(
            diffDf.filter(col("status").isin("added", "changed"))
              .select("doc_id"),
            Seq("doc_id"), "left_semi")))
      val priorKeepers = webPipelineKeepers(priorScored)
        .withColumnRenamed("__keep", "keep_id")
      val (nextScored, nextKeepers) = Incremental.maintainKeepFirst(
        priorScored, deltaScored, diffDf, priorKeepers,
        "doc_id", "url_canon", "url_pass", keeperCol = "keep_id")
      nextScored
        .join(nextKeepers, Seq("url_canon"), "left_outer")
        .select(col("doc_id"), col("url_pass"),
          coalesce(col("url_pass") && col("doc_id") === col("keep_id"),
            lit(false)).as("is_canonical"),
          (coalesce(col("url_pass") && col("doc_id") === col("keep_id"),
            lit(false)) &&
            col("n_tokens_clean") >= 10L && col("quality") >= 20L)
            .as("final_keep"))
        .orderBy(col("doc_id"))
    }),
    // parser-tier twin of ht01: the SAME synth through the mapPartitions
    // tag tokenizer (HtmlParse). Its oracle IS ht01's regex replay — on
    // the shared domain (well-formed markup, which the synth is) the
    // two tiers are byte-equal by contract, so the equality property is
    // enforced as a full DuckDB oracle, not just a spec
    "ht02_html_extract_parsed" -> ((s, dir) => {
      val parsed = graft.operators.HtmlParse.extractVisibleText(
        t(s, dir, "documents")
          .select(col("doc_id"), synthHtml.as("__html")),
        "doc_id", "__html")
      parsed.select(col("doc_id"),
        length(col("clean")).cast("long").as("n_chars_clean"),
        md5(col("clean").cast("binary")).as("clean_md5"),
        when(col("n_raw_chars") <= 0L, lit(0L))
          .otherwise(TextFunctions.ldiv(
            (col("n_raw_chars") - length(col("clean")).cast("long")) *
              1000L,
            col("n_raw_chars"))).as("markup_permille"))
        .orderBy(col("doc_id"))
    }),
    // per-language quality dashboard: langIdNgram x gopherRules x
    // binned quantiles composed in ONE text scan (the language rides
    // through the battery inside the id struct); lang x bin domain aggs
    "lq01_language_quality" -> ((s, dir) => {
      CorpusStats.languageQualityReport(
        t(s, dir, "documents"), "doc_id", "text",
        binWidth = 100L, qs = Seq(500, 900))
        .orderBy(col("lang"))
    }),
    // the corpus DATASHEET — the data card a release ships with, as
    // ONE verified (section, metric, value) table: corpus volume,
    // per-language doc counts, the Gopher keep count, and the exact-dup
    // overhang, every number an exact integer assembled from the
    // already-oracled primitives (langIdNgram, gopherRules, the token
    // model, md5 identity). Two text scans (signals + the gopher
    // battery), domain-bounded aggs — diagnostic-priced at any corpus
    // size
    "cr01_corpus_report" -> ((s, dir) => {
      corpusReportRows(t(s, dir, "documents"))
        .orderBy(col("section"), col("metric"))
    }),
    // the datasheet DELTA — what changed since yesterday's card: the
    // same verified (section, metric) table computed for both sides of
    // the %10 snapshot step and full-outer joined into
    // (value_old, value_new, delta) rows. The report a release
    // reviewer reads before signing off an incremental refresh
    "cr02_datasheet_delta" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val oldDocs = docs.filter(col("doc_id") % 10 =!= 3)
      val newDocs = docs.filter(col("doc_id") % 10 =!= 9)
        .withColumn("text",
          when(col("doc_id") % 10 === 7,
            concat(col("text"), lit(" updated rev")))
            .otherwise(col("text")))
      // the two sides' datasheet chains are independent and each stages
      // its minhash signature frame EAGERLY during construction
      // (minhashCandidatesFromSigs) — built sequentially, the box idles
      // through each side's staging tail; buildAll runs the two
      // constructions concurrently (§2.6)
      val Seq(o, n) = graft.operators.Barriers.buildAll(s)(
        () => corpusReportRows(oldDocs)
          .withColumnRenamed("value", "value_old"),
        () => corpusReportRows(newDocs)
          .withColumnRenamed("value", "value_new"))
      o.join(n, Seq("section", "metric"), "full_outer")
        .select(col("section"), col("metric"),
          coalesce(col("value_old"), lit(0L)).as("value_old"),
          coalesce(col("value_new"), lit(0L)).as("value_new"),
          (coalesce(col("value_new"), lit(0L)) -
            coalesce(col("value_old"), lit(0L))).as("delta"))
        .orderBy(col("section"), col("metric"))
    }),
    // the INCREMENTALLY MAINTAINED datasheet (the composition capstone
    // of the incremental tier): cr02's %10 snapshot step, every card
    // section re-derived from maintained narrow frames — facts/lines/
    // grams fold by id, the LSH candidate pairs fold through
    // maintainWinnowingPairs over band cells, and only pairs touching
    // a delta doc or whose candidacy flipped re-verify their exact
    // Jaccard. Oracle = cr01's FULL BATCH chain over the new snapshot
    "cr03_incremental_report" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val oldDocs = docs.filter(col("doc_id") % 10 =!= 3)
      val newDocs = docs.filter(col("doc_id") % 10 =!= 9)
        .withColumn("text",
          when(col("doc_id") % 10 === 7,
            concat(col("text"), lit(" updated rev")))
            .otherwise(col("text")))
      incrementalReportRows(oldDocs, newDocs,
          diff = Some(residueStepDiff(docs, "doc_id",
            addRes = 3L, dropRes = 9L, chgRes = 7L)))
        .orderBy(col("section"), col("metric"))
    }),
    // the Gopher quality-rule battery (Rae et al. 2021): integer
    // counters + exact cross-multiplied thresholds, row-local (zero
    // shuffle at any corpus size)
    "gq01_gopher_rules" -> ((s, dir) => {
      Curation.gopherRules(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),
    // instruction-level dedup: 50 distinct prompts repeated across the
    // corpus (same synthesized transcripts both engines), every 19th doc
    // opens with a system turn (prompt still found), every 23rd has no
    // user turn (absent by contract). Case/whitespace-normalized digest
    "ch02_prompt_dedup" -> ((s, dir) => {
      graft.operators.Conversations.promptDedup(
        t(s, dir, "documents")
          .withColumn("transcript", synthPromptTranscript),
        "doc_id", "transcript")
        .orderBy(col("prompt_fp"))
    }),
    // preference-pair assembly (the DPO/RLHF reward-data step): the
    // candidate responses of each prompt group (ch02's fingerprints)
    // elect a chosen (max integer quality, tie -> min id) and a
    // rejected (min quality, tie -> min id) in ONE aggregation — both
    // elections are struct min/max riding the same groupBy, so the
    // partials map-side combine and no candidate list materializes.
    // margin=1 drops noise pairs whose chosen barely wins
    "pp01_preference_pairs" -> ((s, dir) => {
      import graft.operators.Conversations
      val cands = t(s, dir, "documents")
        .select(col("doc_id"),
          Conversations.promptFingerprint(synthPromptTranscript)
            .as("prompt_fp"),
          TextFunctions.qualityScore(col("text")).as("score"))
        .filter(col("prompt_fp").isNotNull)
      Conversations.preferencePairs(cands, "doc_id", "prompt_fp", "score",
          margin = 1L)
        .orderBy(col("prompt_fp"))
    }),
    // composed SFT pipeline (the ch-family's wp01): QA gate -> prompt
    // keep-first dedup among keepers -> render/mask on survivors, one
    // per-doc verdict row. trainable_chars re-derives from renderSpans'
    // [start, end) offsets while the oracle sums content lengths — the
    // two formulas agree only if the offset arithmetic is right
    "ch04_sft_pipeline" -> ((s, dir) => {
      import graft.operators.Conversations
      val docs = t(s, dir, "documents")
        .withColumn("transcript", synthPromptTranscript)
        .select(col("doc_id"), col("transcript"))
      // EVERY per-doc signal computes scan-side into NARROW frames (the
      // wp02 discipline: transcript text never shuffles) — the battery
      // and spans are row-local, the prompt digest is one md5; the only
      // cross-row stage is the distinct-prompt owner aggregation, and
      // every join below carries ids + small ints only
      val qa = Conversations.turnStats(docs, "doc_id", "transcript")
        .select(col("doc_id"), col("keep").as("qa_keep"))
      val fps = docs.select(col("doc_id"),
        Conversations.promptFingerprint(col("transcript")).as("__fp"))
      val owners = fps
        .join(qa.filter(col("qa_keep")).select("doc_id"), Seq("doc_id"))
        .filter(col("__fp").isNotNull)
        .groupBy(col("__fp")).agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"), lit(true).as("prompt_owner"))
      val fk = qa.join(owners, Seq("doc_id"), "left_outer")
        .withColumn("prompt_owner",
          coalesce(col("prompt_owner"), lit(false)))
        .withColumn("final_keep", col("qa_keep") && col("prompt_owner"))
      val spans = Conversations.renderSpans(docs, "doc_id", "transcript")
        .groupBy(col("doc_id"))
        .agg(
          sum(when(col("trainable"), 1L).otherwise(0L)).as("n_trainable"),
          sum(when(col("trainable"), col("end") - col("start"))
            .otherwise(0L)).as("trainable_chars"))
      fk.join(spans, Seq("doc_id"), "left_outer")
        .select(col("doc_id"), col("qa_keep"), col("prompt_owner"),
          col("final_keep"),
          when(col("final_keep"), coalesce(col("n_trainable"), lit(0L)))
            .otherwise(0L).as("n_trainable"),
          when(col("final_keep"),
            coalesce(col("trainable_chars"), lit(0L)))
            .otherwise(0L).as("trainable_chars"))
        .orderBy(col("doc_id"))
    }),
    // the ch→pk packing bridge: ch03's render spans into fixed-budget
    // training sequences. Contract pinned in packRenderSpans: turns are
    // ATOMIC (an assistant loss-span never splits across bins),
    // conversations split at turn boundaries only, and offsets REBASE
    // to each bin's own rendered stream. Greedy next-fit per pack
    // group, the pk01 recursive-CTE replay shape; only narrow span
    // rows shuffle, never transcript text
    "ch05_packed_spans" -> ((s, dir) => {
      import graft.operators.Conversations
      val spans = Conversations.renderSpans(
        t(s, dir, "documents").withColumn("transcript", synthTranscript),
        "doc_id", "transcript")
      Conversations.packRenderSpans(spans, "doc_id",
          maxChars = 512L, numGroups = 8)
        .toDF()
        .select(col("group"), col("bin"), col("n_turns"), col("n_convs"),
          col("total_chars"), col("trainable_chars"),
          array_join(col("span_keys"), "|").as("span_keys"))
        .orderBy(col("group"), col("bin"))
    }),
    // packed bins -> equal-character output SHARDS: the last step
    // before a trainer's writer partitions the packed sequences into
    // size-targeted files. shardByTokens' exact integer cut over the
    // bin frame in deterministic (group, bin) order — the pack groups
    // are the bounded slice domain, so no corpus-sized window exists;
    // per-shard summary rows, 8 shards
    "ch07_packed_shards" -> ((s, dir) => {
      import graft.operators.Conversations
      val spans = Conversations.renderSpans(
        t(s, dir, "documents").withColumn("transcript", synthTranscript),
        "doc_id", "transcript")
      val bins = Conversations.packRenderSpans(spans, "doc_id",
          maxChars = 512L, numGroups = 8)
        .toDF()
        .select(col("group"), col("bin"), col("n_turns"),
          col("total_chars"), col("trainable_chars"))
      Conversations.shardPackedBins(bins, nShards = 8)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_bins"),
          sum(col("n_turns")).as("n_turns"),
          sum(col("total_chars")).as("total_chars"),
          sum(col("trainable_chars")).as("trainable_chars"))
        .orderBy(col("shard"))
    }),
    // INCREMENTAL prompt-dedup maintenance — Incremental.maintainKeepFirst
    // generalizes beyond the wp funnel: the SFT snapshot step (docs
    // %10==3 added, %10==9 removed, %10==7 transcript gains a second
    // adjacent assistant turn, flipping its QA gate) folds into the
    // stored (signal, owner) tables with delta-bounded re-election.
    // The oracle is ch04's BATCH replay over the new snapshot — hash
    // equality proves incremental==batch on the SFT side too
    "ch06_incremental_prompts" -> ((s, dir) => {
      import graft.operators.{Conversations, Dedup, Incremental}
      val ids = t(s, dir, "documents").select(col("doc_id"))
      val oldT = ids.filter(col("doc_id") % 10 =!= 3)
        .withColumn("transcript", synthPromptTranscript)
      val newT = ids.filter(col("doc_id") % 10 =!= 9)
        .withColumn("transcript",
          when(col("doc_id") % 10 === 7,
            concat(synthPromptTranscript, lit("\nassistant: rev two")))
            .otherwise(synthPromptTranscript))
      def signals(snap: DataFrame) =
        Conversations.turnStats(snap, "doc_id", "transcript")
          .select(col("doc_id"), col("keep").as("qa_keep"))
          .join(snap.select(col("doc_id"),
            Conversations.promptFingerprint(col("transcript")).as("fp")),
            Seq("doc_id"))
          .select(col("doc_id"), col("fp"), col("qa_keep"))
      // staged (the ann05/sd03 prior-frame convention): the owner
      // election and the keep-first fold both read the prior signals.
      // The DELTA signals (a transcript parse, read twice by the fold)
      // join the same concurrent wave (the hl03 rationale, §2.6)
      val diffDf = residueStepDiff(ids, "doc_id",
        addRes = 3L, dropRes = 9L, chgRes = 7L)
      val Seq(prior, delta) = graft.operators.Barriers.stageAll(
        signals(oldT),
        signals(newT.join(
          diffDf.filter(col("status").isin("added", "changed"))
            .select("doc_id"),
          Seq("doc_id"), "left_semi")))
      val priorOwners = prior
        .filter(col("qa_keep") && col("fp").isNotNull)
        .groupBy(col("fp")).agg(min(col("doc_id")).as("keep_id"))
      val (nextSignals, nextOwners) = Incremental.maintainKeepFirst(
        prior, delta, diffDf, priorOwners,
        "doc_id", "fp", "qa_keep", keeperCol = "keep_id")
      nextSignals
        .join(nextOwners, Seq("fp"), "left_outer")
        .select(col("doc_id"), col("qa_keep"),
          coalesce(col("doc_id") === col("keep_id"), lit(false))
            .as("prompt_owner"),
          (col("qa_keep") &&
            coalesce(col("doc_id") === col("keep_id"), lit(false)))
            .as("final_keep"))
        .orderBy(col("doc_id"))
    }),
    // SFT/chat transcript structure QA: both engines synthesize the
    // SAME role-prefixed transcript per doc (the pii01 shared-input
    // convention) with deliberate defects — an empty assistant turn
    // every 11th, a user-user repeat every 13th, a role-less line every
    // 17th — and the battery must count exactly those
    "ch01_turn_stats" -> ((s, dir) => {
      graft.operators.Conversations.turnStats(
        t(s, dir, "documents").withColumn("transcript", synthTranscript),
        "doc_id", "transcript")
        .orderBy(col("doc_id"))
    }),
    // chat-template render + loss-mask offsets over the same synthesized
    // transcripts: one row per turn with the content's [start, end) in
    // the rendered ChatML-style string, trainable = assistant
    "ch03_render_spans" -> ((s, dir) => {
      graft.operators.Conversations.renderSpans(
        t(s, dir, "documents").withColumn("transcript", synthTranscript),
        "doc_id", "transcript")
        .orderBy(col("doc_id"), col("turn_idx"))
    }),
    // BPE tokenizer training's counting pass (Sennrich et al. 2016):
    // vocabulary-domain word counts, pair explode over the VOCAB only;
    // the merge loop itself is bpeTrain (driver-held merges, spec-gated
    // — the greedy fold can't replay in SQL)
    "pc01_bpe_pairs" -> ((s, dir) => {
      CorpusStats.bpePairCounts(t(s, dir, "documents"), "text", topK = 20)
    }),
    // vocabulary-growth (Heaps-law) curve: first-occurrence doc per
    // token (vocab-domain min-agg) bucketed by arrival; cumulative sums
    // run over the BUCKET domain, never corpus rows
    "vg01_vocab_growth" -> ((s, dir) => {
      CorpusStats.vocabGrowth(t(s, dir, "documents"), "doc_id", "text",
        bucketWidth = 50L)
        .orderBy(col("bucket"))
    }),
    // per-document character entropy (gibberish/encoding-noise
    // detector): en01's exact rounding chain per doc
    "ce01_char_entropy" -> ((s, dir) => {
      CorpusStats.charEntropy(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),
    // cross-source n-gram overlap matrix (which corpora bleed into
    // which): per-gram source sets, |sources|^2-bounded output
    "xs01_cross_source_grams" -> ((s, dir) => {
      Decontaminate.crossSourceGramOverlap(
        t(s, dir, "documents"), "source", "text", nGram = 5)
    })
  )

  /** Shared Naive-Bayes prediction CTE block (nb01's model + scoring
    * through `best`, the per-doc argmin frame) — reused by the cm01
    * classifier-eval oracle so the two replays cannot drift. Same
    * embedding contract as the other shared CTE vals: the val is already
    * stripMargin'd, consumers interpolate with the `raw` interpolator
    * (the body carries regex backslashes), and no content line begins
    * with `|`. */
  private val nbPredictCteSql: String =
    """tk AS (
      |  SELECT doc_id, lang, tok FROM (
      |    SELECT doc_id, lang, unnest(string_split_regex(trim(lower(text)),
      |      '[ \t\n\x0B\f\r]+')) AS tok
      |    FROM documents) WHERE tok <> ''),
      |cnt AS (SELECT tok, COUNT(*) AS c FROM tk GROUP BY tok),
      |vv AS (SELECT COUNT(*) AS v FROM cnt),
      |vocab AS (SELECT tok FROM cnt ORDER BY c DESC, tok LIMIT 64),
      |nd AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
      |classes AS (SELECT c.lbl, c.t_c,
      |    CAST(round(-log2(CAST(p.n_docs AS DOUBLE) / nd.n) * 1000000)
      |      AS BIGINT) AS prior_micro
      |  FROM (SELECT lang AS lbl, CAST(COUNT(*) AS BIGINT) AS t_c
      |        FROM tk GROUP BY lang) c
      |  JOIN (SELECT lang AS lbl, COUNT(*) AS n_docs
      |        FROM documents GROUP BY lang) p USING (lbl)
      |  CROSS JOIN nd),
      |model AS (SELECT t.lang AS lbl, t.tok, CAST(COUNT(*) AS BIGINT) AS c_tc
      |  FROM tk t JOIN vocab vb USING (tok) GROUP BY 1, 2),
      |dt AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS occ
      |  FROM tk GROUP BY 1, 2),
      |sc AS (SELECT d.doc_id, cl.lbl,
      |    CAST(cl.prior_micro + SUM(d.occ *
      |      CAST(round(-log2(CAST(coalesce(m.c_tc, 0) + 1 AS DOUBLE) /
      |        CAST(cl.t_c + vv.v AS DOUBLE)) * 1000000) AS BIGINT))
      |      AS BIGINT) AS nll
      |  FROM dt d CROSS JOIN classes cl CROSS JOIN vv
      |  LEFT JOIN model m ON m.lbl = cl.lbl AND m.tok = d.tok
      |  GROUP BY d.doc_id, cl.lbl, cl.prior_micro),
      |best AS (SELECT doc_id, lbl AS pred, nll AS nll_micro,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY nll, lbl) AS rn
      |  FROM sc)""".stripMargin

  /** DuckDB replay of `UrlFunctions.decodeUnreservedEscapes`: the same
    * single-pass split-on-'%' formula (fragment decodes its leading two
    * hex digits when they name an unreserved octet, else keeps its
    * literal '%'), so the oracle shares the no-cascade semantics by
    * construction. The explicit '00' exclusion mirrors nothing on the
    * Spark side semantically (char(0) is not unreserved there either) —
    * it only keeps DuckDB's chr() away from code point 0. Emitted as
    * one line so stripMargin never sees it. */
  private def sqlDecodeUnreserved(expr: String): String = {
    val parts = s"string_split($expr, '%')"
    val hex = "substr(p, 1, 2)"
    val code = s"TRY_CAST(('0x' || $hex) AS INT)"
    s"CASE WHEN len($parts) <= 1 THEN $expr " +
      s"ELSE $parts[1] || array_to_string(list_transform($parts[2:], p -> " +
      s"CASE WHEN regexp_matches($hex, '^[0-9A-Fa-f]{2}$$') " +
      s"AND $hex <> '00' " +
      s"AND regexp_matches(chr($code), '^[A-Za-z0-9._~-]$$') " +
      s"THEN chr($code) || substr(p, 3) ELSE '%' || p END), '') END"
  }

  /** Synthesized SFT transcript per document (shared test data by
    * construction, both engines — the pii01 convention), with
    * deliberate defects: an empty assistant turn every 11th doc, a
    * user-user repeat every 13th, a role-less line every 17th, a
    * system opener every 5th, a follow-up exchange every 3rd. Shared by
    * the ch01/ch03 lanes; [[sqlSynthTranscript]] is its replay. */
  private def synthTranscript: Column = {
    val did = col("doc_id")
    concat(
      when(did % 5 === 0, lit("system: be concise\n")).otherwise(lit("")),
      lit("user: "), col("text"), lit("\n"),
      when(did % 11 === 0, lit("assistant: \n"))
        .otherwise(concat(lit("assistant: reply "),
          (did % 7).cast("string"), lit("\n"))),
      when(did % 3 === 0,
        lit("user: follow up\nassistant: closing answer\n"))
        .otherwise(lit("")),
      when(did % 13 === 0, lit("user: first\nuser: second\n"))
        .otherwise(lit("")),
      when(did % 17 === 0, lit("narrator interjects here\n"))
        .otherwise(lit("")))
  }

  /** Second synthesized transcript family (shared by ch02/ch04): 50
    * DISTINCT prompts repeated corpus-wide (so prompt dedup has real
    * groups), a system opener every 19th doc, a promptless-but-
    * well-formed doc every 23rd (passes QA, owns no prompt). */
  private def synthPromptTranscript: Column = {
    val did = col("doc_id")
    concat(
      when(did % 19 === 0, lit("system: be terse\n")).otherwise(lit("")),
      when(did % 23 === 0, lit("system: no question here\n"))
        .otherwise(concat(
          when(did % 2 === 0, lit("user: Prompt  Variant "))
            .otherwise(lit("user: prompt variant ")),
          (did % 50).cast("string"), lit("\n"))),
      lit("assistant: reply "), did.cast("string"))
  }

  /** DuckDB rebuild of [[synthPromptTranscript]] — the identical
    * input. */
  private def sqlSynthPromptTranscript: String =
    "(CASE WHEN doc_id % 19 = 0 THEN 'system: be terse' || chr(10) " +
      "ELSE '' END) " +
      "|| (CASE WHEN doc_id % 23 = 0 " +
      "THEN 'system: no question here' || chr(10) " +
      "ELSE (CASE WHEN doc_id % 2 = 0 THEN 'user: Prompt  Variant ' " +
      "ELSE 'user: prompt variant ' END) " +
      "|| CAST(doc_id % 50 AS VARCHAR) || chr(10) END) " +
      "|| 'assistant: reply ' || CAST(doc_id AS VARCHAR)"

  /** DuckDB rebuild of [[synthTranscript]] — the identical input. */
  private def sqlSynthTranscript: String =
    "(CASE WHEN doc_id % 5 = 0 THEN 'system: be concise' || chr(10) " +
      "ELSE '' END) " +
      "|| 'user: ' || text || chr(10) " +
      "|| (CASE WHEN doc_id % 11 = 0 THEN 'assistant: ' || chr(10) " +
      "ELSE 'assistant: reply ' || CAST(doc_id % 7 AS VARCHAR) " +
      "|| chr(10) END) " +
      "|| (CASE WHEN doc_id % 3 = 0 THEN 'user: follow up' || chr(10) " +
      "|| 'assistant: closing answer' || chr(10) ELSE '' END) " +
      "|| (CASE WHEN doc_id % 13 = 0 THEN 'user: first' || chr(10) " +
      "|| 'user: second' || chr(10) ELSE '' END) " +
      "|| (CASE WHEN doc_id % 17 = 0 THEN 'narrator interjects here' " +
      "|| chr(10) ELSE '' END)"

  /** DuckDB replay of `Layout.zValue`: the identical unrolled
    * shift/mask/multiply interleave over pre-quantized columns — bit k
    * of column i lands at output bit k*d + i. */
  private def sqlZValue(qcols: Seq[String], bits: Int): String =
    (for { (q, i) <- qcols.zipWithIndex; k <- 0 until bits }
      yield s"((($q >> $k) & 1) * ${1L << (k * qcols.size + i)})")
      .mkString(" + ")

  /** DuckDB rebuild of [[synthUrl]] — the IDENTICAL synthesized INPUT
    * string (shared test data by construction, not replay logic; the
    * pii01 synthesized-input convention). One line so stripMargin never
    * sees it. */
  private def sqlSynthUrl(escapes: Boolean): String = {
    val esc =
      if (escapes)
        " || (CASE WHEN doc_id % 23 = 0 THEN '/esc%7E%41%2fX' ELSE '' END)"
      else ""
    "CASE WHEN doc_id % 17 = 0 THEN 'not a url ' || CAST(doc_id AS VARCHAR) " +
      "ELSE (CASE WHEN doc_id % 4 = 0 THEN 'HTTPS' ELSE 'http' END) || '://' " +
      "|| (CASE WHEN doc_id % 13 = 0 THEN 'user:pw@' ELSE '' END) " +
      "|| (CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE 'cdn.' END) " +
      "|| (CASE WHEN doc_id % 43 = 0 THEN 'XN--BCHER-KVA' " +
      "ELSE 'Site' || CAST(doc_id % 5 AS VARCHAR) END) " +
      "|| (CASE WHEN doc_id % 29 = 0 THEN '.GitHub.IO' " +
      "WHEN doc_id % 31 = 0 THEN '.ne.jp' " +
      "WHEN doc_id % 37 = 0 THEN '.Blogspot.co.uk' " +
      "WHEN doc_id % 41 = 0 THEN '.uk.com' " +
      "WHEN doc_id % 3 = 0 THEN '.CO.UK' ELSE '.COM' END) " +
      "|| (CASE WHEN doc_id % 6 = 0 THEN ':80' " +
      "WHEN doc_id % 11 = 0 THEN ':8080' ELSE '' END) " +
      "|| '/Articles/Item' || CAST(doc_id % 40 AS VARCHAR)" + esc +
      " || (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END) " +
      "|| (CASE WHEN doc_id % 2 = 0 THEN '?id=' || CAST(doc_id % 20 AS VARCHAR) " +
      "|| '&utm_source=news&b=2' " +
      "WHEN doc_id % 7 = 0 THEN '?fbclid=x' || CAST(doc_id AS VARCHAR) " +
      "ELSE '' END) " +
      "|| (CASE WHEN doc_id % 3 = 0 THEN '#sec' || CAST(doc_id % 4 AS VARCHAR) " +
      "ELSE '' END) END"
  }

  /** DuckDB rebuild of [[synthFilterUrl]] — identical synthesized input
    * (shared test data by construction). One line so stripMargin never
    * sees it. */
  private def sqlSynthFilterUrl: String =
    "CASE WHEN doc_id % 17 = 0 THEN 'not a url ' || CAST(doc_id AS VARCHAR) " +
      "ELSE 'http://site' || CAST(doc_id % 5 AS VARCHAR) " +
      "|| (CASE WHEN doc_id % 23 = 0 THEN '.github.io' " +
      "WHEN doc_id % 3 = 0 THEN '.example.co.uk' " +
      "ELSE '.example.com' END) || '/docs' " +
      "|| (CASE WHEN doc_id % 11 = 0 THEN '/a/b/c/d/e/f/g/h' ELSE '' END) " +
      "|| (CASE WHEN doc_id % 13 = 0 THEN '/2024010199887766' ELSE '' END) " +
      "|| '/page' || CAST(doc_id % 30 AS VARCHAR) " +
      "|| (CASE WHEN doc_id % 9 = 0 THEN '.jpg' " +
      "WHEN doc_id % 8 = 0 THEN '.html' ELSE '' END) " +
      "|| (CASE WHEN doc_id % 19 = 0 THEN '?q=casino' " +
      "WHEN doc_id % 7 = 0 THEN '?x=1&y=2&z=3&w=4&v=5' " +
      "ELSE '?q=' || CAST(doc_id % 6 AS VARCHAR) END) END"

  /** DuckDB rebuild of [[synthHtml]] — identical synthesized markup
    * (shared test data by construction). One line so stripMargin never
    * sees it. */
  private def sqlSynthHtml: String =
    "'<html><!-- id ' || CAST(doc_id AS VARCHAR) || " +
      "' --><head><style>p{color:red}</style>" +
      "<script>var x=1; if (x<2) { x = 3; }</script></head><body>" +
      "<h1>Doc ' || CAST(doc_id AS VARCHAR) || '</h1><p>' || text || " +
      "'</p><div>Tom &amp; Jerry &lt;3 <b>bold</b>&nbsp;and " +
      "&quot;quotes&quot; it&#39;s done, R&D dept, A&#65;&#x42;Z " +
      "caf&#233; won&#8217;t &amp;#38; &#bad;</div></body></html>'"

  /** DuckDB replay of `HtmlFunctions.decodeEntities`: the same
    * single-pass split-on-'&' formula (each fragment decodes its leading
    * entity body — named, or numeric in the ASCII range — or keeps its
    * literal '&' back; decoded output never re-scanned), independently
    * expressed with string_split + list_transform. One line so
    * stripMargin never sees it. */
  private def sqlDecodeEntities(expr: String): String = {
    val parts = s"string_split($expr, '&')"
    val dec = "regexp_extract(p, '^#([0-9]{1,7});', 1)"
    val hex = "regexp_extract(p, '^#[xX]([0-9A-Fa-f]{1,6});', 1)"
    val decCode = s"TRY_CAST($dec AS INT)"
    val hexCode = s"TRY_CAST(('0x' || $hex) AS INT)"
    def asciiOk(code: String) =
      s"(($code BETWEEN 32 AND 126) OR $code IN (9, 10, 13))"
    s"CASE WHEN len($parts) <= 1 THEN $expr " +
      s"ELSE $parts[1] || array_to_string(list_transform($parts[2:], p -> " +
      "CASE WHEN p LIKE 'amp;%' THEN '&' || substr(p, 5) " +
      "WHEN p LIKE 'lt;%' THEN '<' || substr(p, 4) " +
      "WHEN p LIKE 'gt;%' THEN '>' || substr(p, 4) " +
      "WHEN p LIKE 'quot;%' THEN '\"' || substr(p, 6) " +
      "WHEN p LIKE 'apos;%' THEN chr(39) || substr(p, 6) " +
      "WHEN p LIKE 'nbsp;%' THEN ' ' || substr(p, 6) " +
      s"WHEN $dec <> '' AND ${asciiOk(decCode)} " +
      s"THEN chr($decCode) || substr(p, length($dec) + 3) " +
      s"WHEN $hex <> '' AND ${asciiOk(hexCode)} " +
      s"THEN chr($hexCode) || substr(p, length($hex) + 4) " +
      "ELSE '&' || p END), '') END"
  }

  /** DuckDB replay of `Robots.patternRegex` over an expression: the
    * trailing-`$` anchor split, the 13-char escape fold, `*` → `.*`,
    * `^` prefix anchor — the identical transform the engine compiles,
    * so both engines match with the same regex. One line. */
  private def sqlRobotsRx(value: String): String = {
    val body = "CASE WHEN " + value + " LIKE '%$' THEN substr(" + value +
      ", 1, length(" + value + ") - 1) ELSE " + value + " END"
    val escaped = Seq("\\", ".", "+", "?", "(", ")", "[", "]", "{", "}",
      "|", "^", "$").foldLeft(body) { (c, ch) =>
      "replace(" + c + ", '" + ch + "', '\\" + ch + "')"
    }
    "'^' || replace(" + escaped + ", '*', '.*') || (CASE WHEN " + value +
      " LIKE '%$' THEN '$' ELSE '' END)"
  }

  /** DuckDB replay of `UrlFunctions.registeredDomain` over a non-empty,
    * trailing-dot-stripped host expression: an independent CASE
    * re-expression of the documented heuristic (IPv4 literal, snapshot
    * suffix + tenant label, ps2-cc three-label, last-two-label,
    * dot-less). The multi-label suffix SNAPSHOT itself rides in from
    * the engine's pinned `publicSuffixSnapshot` (shared test DATA — a
    * published public-suffix subset, suffix-disjoint by spec-pinned
    * invariant, so neither engine's alternation preference can change
    * an answer). One line so stripMargin never sees it. */
  private def sqlRegisteredDomain(host: String): String = {
    val alts = graft.functions.UrlFunctions.publicSuffixSnapshot
      .map(_.replace(".", "\\.")).mkString("|")
    s"CASE WHEN regexp_matches($host, '^([0-9]{1,3}\\.){3}[0-9]{1,3}$$') THEN $host " +
      s"WHEN regexp_matches($host, '\\.(?:$alts)$$') " +
      s"THEN regexp_extract($host, '([^.]+\\.(?:$alts))$$', 1) " +
      s"WHEN regexp_matches($host, '\\.(co|com|org|net|ac|gov|edu)\\.[a-z][a-z]$$') " +
      s"THEN regexp_extract($host, '([^.]+\\.[^.]+\\.[^.]+)$$', 1) " +
      s"WHEN $host LIKE '%.%' THEN regexp_extract($host, '([^.]+\\.[^.]+)$$', 1) " +
      s"ELSE $host END"
  }

  /** Shared CTE chain of the wp01/wp02 oracles — the web front door's
    * replay (synth URL -> canon gate -> url05's rule chain as url_pass
    * -> synth markup -> ht01's extraction chain -> cu01's quality
    * formula -> keep-first group), ending at the `k` keep-first CTE.
    * wp01 appends its per-doc verdict SELECT; wp02 appends the
    * cap/mixture tail. One Scala source so the two lanes can never
    * drift apart on the funnel itself. */
  private lazy val sqlWebPipelineCtes: String =
    sqlWebPipelineCtesFrom("documents")

  /** The wp funnel CTE chain over an arbitrary snapshot source —
    * `prefix` (optional leading CTEs, no margin bars) lets wp05 define
    * its modified-snapshot CTE ahead of `u`. `sqlWebPipelineCtes` is
    * exactly the `("documents", "")` instance, byte-for-byte. */
  private def sqlWebPipelineCtesFrom(
      src: String, prefix: String = ""): String =
    (s"""WITH ${prefix}u AS (SELECT doc_id, text,
      |  $sqlSynthFilterUrl AS url FROM $src),
      |""" +
    """c AS (SELECT doc_id,
      |  CASE WHEN doc_id % 17 = 0 THEN NULL ELSE url END AS url_canon
      |  FROM u),
      |p AS (SELECT doc_id, url_canon,
      |  regexp_extract(regexp_replace(url_canon,
      |    '^[a-z0-9+.-]+://[^/?]*', ''), '^([^?]*)', 1) AS path,
      |  regexp_extract(regexp_replace(url_canon,
      |    '^[a-z0-9+.-]+://[^/?]*', ''), '\?(.*)$', 1) AS q
      |  FROM c),
      |rr AS (SELECT doc_id, url_canon,
      |  coalesce(url_canon IS NOT NULL
      |    AND NOT regexp_matches(lower(path),
      |      '\.(jpg|jpeg|png|gif|webp|svg|ico|css|js|woff2?|zip|gz|tar|rar|exe|dmg|iso|mp3|mp4|avi|mov|pdf|xml|rss)$')
      |    AND length(url_canon) <= 200
      |    AND (CASE WHEN path IN ('/', '') THEN 0
      |      ELSE length(path) - length(replace(path, '/', '')) END) <= 8
      |    AND (CASE WHEN q = '' THEN 0
      |      ELSE length(q) - length(replace(q, '&', '')) + 1 END) <= 4
      |    AND length(regexp_replace(path, '[^0-9]', '', 'g')) * 2
      |      <= length(path)
      |    AND NOT regexp_matches(lower(url_canon),
      |      '(porn|xxx|casino|viagra|escort)'), FALSE) AS url_pass
      |  FROM p),
      |h AS (SELECT doc_id,
      |""" +
    s"""  $sqlSynthHtml AS html FROM u),
      |""" +
    """x1 AS (SELECT doc_id, regexp_replace(regexp_replace(html,
      |    '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
      |    '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS t FROM h),
      |x2 AS (SELECT doc_id,
      |  regexp_replace(t, '(?s)<!--.*?-->', ' ', 'g') AS t FROM x1),
      |x3 AS (SELECT doc_id, regexp_replace(t,
      |    '(?i)</?(p|div|h[1-6]|li|ul|ol|tr|table|br)([ \t\n\x0B\f\r][^>]*)?/?>',
      |    chr(10), 'g') AS t FROM x2),
      |x4 AS (SELECT doc_id,
      |  regexp_replace(t, '<[^>]*>', ' ', 'g') AS t FROM x3),
      |x5 AS (SELECT doc_id,
      |""" +
    s"""    ${sqlDecodeEntities("t")} AS t
      |""" +
    """  FROM x4),
      |x6 AS (SELECT doc_id, regexp_replace(regexp_replace(
      |    regexp_replace(regexp_replace(t,
      |      '[ \t\x0B\f\r]+', ' ', 'g'),
      |      ' ?\n ?', chr(10), 'g'),
      |      '\n+', chr(10), 'g'),
      |      '^[ \n]+|[ \n]+$', '', 'g') AS clean
      |  FROM x5),
      |qt AS (SELECT doc_id,
      |    CAST(len(list_filter(ts, t -> t <> '')) AS BIGINT)
      |      AS n_tokens_clean,
      |    CAST(GREATEST(LEAST(
      |      (CAST(len(list_filter(ts, t -> t IN ('the','a','an','and',
      |        'or','of','to','in','is','it','for','on','with','as','at',
      |        'by','this','that'))) AS BIGINT) * 100)
      |        // GREATEST(CAST(len(ts) AS BIGINT), 1)
      |      + LEAST(GREATEST(CAST(length(clean) AS BIGINT), 1) // 20, 30)
      |      + 40
      |      - (CAST(length(regexp_replace(clean, '[^0-9]', '', 'g'))
      |          AS BIGINT) * 100)
      |        // GREATEST(CAST(length(clean) AS BIGINT), 1)
      |      - (CAST(length(regexp_replace(clean, '[^.,;:!?]', '', 'g'))
      |          AS BIGINT) * 100)
      |        // GREATEST(CAST(length(clean) AS BIGINT), 1),
      |      100), 0) AS BIGINT) AS quality
      |  FROM (SELECT doc_id, clean,
      |    string_split_regex(trim(lower(clean)),
      |      '[ \t\n\x0B\f\r]+') AS ts FROM x6)),
      |k AS (SELECT url_canon, MIN(doc_id) AS keep_id FROM rr
      |  WHERE url_pass AND url_canon IS NOT NULL GROUP BY url_canon)""")
      .stripMargin

  /** wp03/wp04's shared robots-funnel CTE chain: registered domains of
    * the canonical hosts + per-domain policies + rb01's parse chain
    * VERBATIM (OracleSyncSpec pins the byte-identity) + the gate
    * verdict (`ra`) + the robots-respecting dedup (`k2`) — factored so
    * the two oracles compose from one source, exactly as the Spark
    * side shares `webRobotsVerdicts`. UNSTRIPPED: each caller applies
    * stripMargin over its full concatenation (the original wp03
    * mechanics, preserved byte-for-byte). */
  private lazy val sqlRobotsFunnelChain: String =
    """dm AS (SELECT doc_id, url_canon, url_pass, path,
      |""" +
    s"""    ${sqlRegisteredDomain("host")} AS dom
      |""" +
    """  FROM (SELECT rr.doc_id, rr.url_canon, rr.url_pass, p.path,
      |    regexp_extract(rr.url_canon,
      |      '^[a-z0-9+.-]+://([^/:?]*)', 1) AS host
      |    FROM rr JOIN p USING (doc_id)
      |    WHERE rr.url_canon IS NOT NULL)),
      |rb AS (SELECT dom, CASE dom
      |    WHEN 'example.com' THEN 'User-agent: *' || chr(10) || 'Disallow: /docs/page1' || chr(10) || 'Allow: /docs/page17'
      |    WHEN 'example.co.uk' THEN 'User-agent: graftbot' || chr(10) || 'Disallow: /docs/*.html$' || chr(10) || 'User-agent: *' || chr(10) || 'Disallow: /'
      |    WHEN 'site1.github.io' THEN 'User-agent: otherbot' || chr(10) || 'Disallow: /'
      |    WHEN 'site3.github.io' THEN 'User-agent: *' || chr(10) || 'Disallow: /'
      |    ELSE NULL END AS robots
      |  FROM (SELECT DISTINCT dom FROM dm)),
      |ln AS (SELECT dom, t.pos,
      |    regexp_replace(regexp_replace(regexp_replace(t.raw,
      |      '\r$', ''), '#.*$', ''), '^[ \t]+|[ \t]+$', '', 'g') AS line
      |  FROM rb, LATERAL (SELECT
      |    unnest(string_split(coalesce(robots, ''), chr(10))) AS raw,
      |    generate_subscripts(string_split(coalesce(robots, ''), chr(10)), 1) AS pos) t),
      |kv AS (SELECT dom, pos,
      |    lower(regexp_extract(line, '^([A-Za-z-]+)[ \t]*:', 1)) AS key,
      |    regexp_replace(regexp_extract(line,
      |      '^[A-Za-z-]+[ \t]*:[ \t]*(.*)$', 1), '[ \t]+$', '') AS value
      |  FROM ln WHERE line <> ''),
      |kv2 AS (SELECT * FROM kv
      |  WHERE key IN ('user-agent', 'allow', 'disallow')),
      |g1 AS (SELECT dom, pos, key, value,
      |    lag(key) OVER (PARTITION BY dom ORDER BY pos) AS prev_key
      |  FROM kv2),
      |g2 AS (SELECT dom, pos, key, value,
      |    SUM(CASE WHEN key = 'user-agent'
      |      AND (prev_key IS NULL OR prev_key <> 'user-agent')
      |      THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY dom ORDER BY pos ROWS UNBOUNDED PRECEDING)
      |      AS gid
      |  FROM g1),
      |gr AS (SELECT dom, gid,
      |    MAX(CASE WHEN lower(value) = 'graftbot' THEN 1 ELSE 0 END) AS has_agent,
      |    MAX(CASE WHEN value = '*' THEN 1 ELSE 0 END) AS has_star
      |  FROM g2 WHERE key = 'user-agent' GROUP BY dom, gid),
      |da AS (SELECT dom, MAX(has_agent) AS dom_has FROM gr GROUP BY dom),
      |sel AS (SELECT gr.dom, gr.gid FROM gr JOIN da USING (dom)
      |  WHERE CASE WHEN da.dom_has = 1 THEN gr.has_agent = 1
      |    ELSE gr.has_star = 1 END),
      |rl AS (SELECT g2.dom, value AS pattern,
      |    (key = 'allow') AS is_allow,
      |    CAST(strlen(value) AS BIGINT) AS plen,
      |""" +
    s"""    ${sqlRobotsRx("value")} AS rx
      |""" +
    """  FROM g2 JOIN sel ON g2.dom = sel.dom AND g2.gid = sel.gid
      |  WHERE key IN ('allow', 'disallow') AND g2.gid > 0 AND value <> ''),
      |mt AS (SELECT d.doc_id, r.plen, r.is_allow
      |  FROM dm d LEFT JOIN rl r
      |    ON d.dom = r.dom AND regexp_matches(d.path, r.rx)),
      |ag AS (SELECT doc_id,
      |    MAX(plen * 2 + CASE WHEN is_allow THEN 1 ELSE 0 END) AS wkey
      |  FROM mt GROUP BY doc_id),
      |ra AS (SELECT rr.doc_id,
      |    CASE WHEN rr.url_canon IS NULL THEN FALSE
      |      ELSE coalesce(ag.wkey % 2 = 1, TRUE) END AS robots_allowed
      |  FROM rr LEFT JOIN ag USING (doc_id)),
      |k2 AS (SELECT rr.url_canon, MIN(rr.doc_id) AS keep_id
      |  FROM rr JOIN ra USING (doc_id)
      |  WHERE rr.url_pass AND ra.robots_allowed
      |    AND rr.url_canon IS NOT NULL
      |  GROUP BY rr.url_canon)"""

  /** ch04/ch06's shared SFT-funnel oracle chain (turn parse -> QA
    * battery -> prompt fingerprint -> owner election) over a caller-
    * defined `tr(doc_id, t)` CTE — ONE definition for both replays,
    * mirroring the Spark side's shared signal/election helpers.
    * UNSTRIPPED; callers stripMargin the full concatenation. */
  private lazy val sqlPromptFunnelChain: String =
    raw"""rr AS (SELECT doc_id,
        |    list_filter(list_transform(string_split_regex(t, '\r?\n'),
        |      x -> trim(x)), x -> len(x) > 0) AS turns
        |  FROM tr),
        |pp AS (SELECT doc_id, turns,
        |    list_transform(turns,
        |      x -> regexp_extract(x, '^(system|user|assistant): ?', 1))
        |      AS roles,
        |    list_transform(turns,
        |      x -> regexp_replace(x, '^(system|user|assistant): ?', ''))
        |      AS contents
        |  FROM rr),
        |qa AS (SELECT doc_id,
        |    (len(list_filter(roles, x -> x = 'assistant')) >= 1
        |      AND coalesce((CASE WHEN len(roles) = 0 THEN NULL
        |        ELSE roles[1] END) IN ('system', 'user'), FALSE)
        |      AND len(list_filter(roles, x -> x = '')) = 0
        |      AND (CASE WHEN len(roles) < 2 THEN 0
        |        ELSE len(list_filter(range(2, len(roles) + 1),
        |          i -> roles[i] = roles[i-1])) END) = 0
        |      AND len(list_filter(range(1, len(roles) + 1),
        |        i -> roles[i] <> '' AND len(trim(contents[i])) = 0)) = 0)
        |      AS qa_keep
        |  FROM pp),
        |ut AS (SELECT pp.doc_id,
        |    list_filter(pp.turns,
        |      x -> regexp_extract(x, '^(system|user|assistant): ?', 1)
        |        = 'user') AS ul
        |  FROM pp JOIN qa USING (doc_id) WHERE qa.qa_keep),
        |pr AS (SELECT doc_id,
        |    md5(array_to_string(string_split_regex(trim(lower(
        |      regexp_replace(ul[1], '^(system|user|assistant): ?', ''))),
        |      '[ \t\n\x0B\f\r]+'), ' ')) AS fp
        |  FROM ut WHERE len(ul) > 0),
        |own AS (SELECT MIN(doc_id) AS doc_id FROM pr GROUP BY fp),
        |"""

  /** ch05/ch07's shared packed-spans oracle chain: synth transcript
    * -> span lengths -> (grp, rank) -> the recursive next-fit packer
    * with the bin-local rebase carried through the recurrence — ONE
    * definition for both replays. Ends at the closing of the
    * recursive CTE `r` (no trailing comma); UNSTRIPPED. */
  private lazy val sqlPackedSpansChain: String =
    raw"""WITH RECURSIVE tr AS (SELECT doc_id, $sqlSynthTranscript AS t
        |  FROM documents),
        |rr AS (SELECT doc_id,
        |    list_filter(list_transform(string_split_regex(t, '\r?\n'),
        |      x -> trim(x)), x -> len(x) > 0) AS turns
        |  FROM tr),
        |pp AS (SELECT doc_id,
        |    list_transform(turns,
        |      x -> regexp_extract(x, '^(system|user|assistant): ?', 1))
        |      AS roles,
        |    list_transform(turns,
        |      x -> regexp_replace(x, '^(system|user|assistant): ?', ''))
        |      AS contents
        |  FROM rr WHERE len(turns) > 0),
        |ex AS (SELECT doc_id, CAST(i AS BIGINT) AS turn_idx,
        |    CAST(len(roles[i]) AS BIGINT) AS role_len,
        |    CAST(len(contents[i]) AS BIGINT) AS content_len,
        |    (roles[i] = 'assistant') AS trainable
        |  FROM pp, UNNEST(generate_series(1, len(roles))) AS u(i)),
        |c AS (SELECT doc_id % 8 AS grp, doc_id, turn_idx, role_len,
        |    content_len, trainable,
        |    content_len + role_len + 24 AS piece,
        |    row_number() OVER (PARTITION BY doc_id % 8
        |                       ORDER BY doc_id, turn_idx) AS rn
        |  FROM ex),
        |r AS (
        |  SELECT grp, rn, doc_id, turn_idx, piece, content_len,
        |    trainable, CAST(0 AS BIGINT) AS bin, piece AS tot,
        |    13 + role_len AS s
        |  FROM c WHERE rn = 1
        |  UNION ALL
        |  SELECT c.grp, c.rn, c.doc_id, c.turn_idx, c.piece,
        |    c.content_len, c.trainable,
        |    CASE WHEN r.tot + c.piece <= 512 THEN r.bin
        |         ELSE r.bin + 1 END,
        |    CASE WHEN r.tot + c.piece <= 512 THEN r.tot + c.piece
        |         ELSE c.piece END,
        |    CASE WHEN r.tot + c.piece <= 512 THEN r.tot + 13 + c.role_len
        |         ELSE 13 + c.role_len END
        |  FROM r JOIN c ON c.grp = r.grp AND c.rn = r.rn + 1
        |)"""

  /** cr01/cr02's shared datasheet oracle chain with prefixed CTE
    * names (so two snapshots replay side by side in one query):
    * `${p}d/lg/c/m` from the given source CTE/table, plus `${p}v`,
    * the (section, metric, value) legs. UNSTRIPPED; callers
    * stripMargin the full concatenation. */
  private def sqlCorpusReportChain(p: String, src: String): String =
    raw"""${p}d AS (SELECT doc_id, text,
        |    string_split_regex(trim(lower(text)),
        |      '[ \t\n\x0B\f\r]+') AS ts,
        |    string_split(text, chr(10)) AS ls
        |  FROM $src),
        |${p}lg AS (SELECT doc_id,
        |    CASE WHEN GREATEST(h_en,h_fr,h_es,h_de) = 0 THEN 'und'
        |         WHEN h_fr = GREATEST(h_en,h_fr,h_es,h_de) THEN 'fr'
        |         WHEN h_es = GREATEST(h_en,h_fr,h_es,h_de) THEN 'es'
        |         WHEN h_en = GREATEST(h_en,h_fr,h_es,h_de) THEN 'en'
        |         ELSE 'de' END AS lang
        |  FROM (SELECT doc_id,
        |    len(list_filter(ts, t -> t IN ('the','and','of','to','in','is',
        |      'that','it','for','was'))) AS h_en,
        |    len(list_filter(ts, t -> t IN ('le','la','les','de','des','et',
        |      'un','une','est','que'))) AS h_fr,
        |    len(list_filter(ts, t -> t IN ('el','la','los','las','de','y',
        |      'un','una','es','que'))) AS h_es,
        |    len(list_filter(ts, t -> t IN ('der','die','das','und','ein',
        |      'eine','ist','nicht','mit','von'))) AS h_de
        |  FROM ${p}d)),
        |${p}c AS (SELECT doc_id,
        |    CAST(length(text) AS BIGINT) AS n_chars,
        |    CAST(len(list_filter(ts, t -> length(t) > 0)) AS BIGINT)
        |      AS n_words,
        |    CAST(coalesce(list_sum(list_transform(ts, t -> length(t))), 0)
        |      AS BIGINT) AS n_word_chars,
        |    CAST(len(list_filter(ts, t -> regexp_matches(t, '[a-z]')))
        |      AS BIGINT) AS n_alpha_words,
        |    CAST((CASE WHEN list_contains(ts, 'the') THEN 1 ELSE 0 END)
        |      + (CASE WHEN list_contains(ts, 'be') THEN 1 ELSE 0 END)
        |      + (CASE WHEN list_contains(ts, 'to') THEN 1 ELSE 0 END)
        |      + (CASE WHEN list_contains(ts, 'of') THEN 1 ELSE 0 END)
        |      + (CASE WHEN list_contains(ts, 'and') THEN 1 ELSE 0 END)
        |      + (CASE WHEN list_contains(ts, 'that') THEN 1 ELSE 0 END)
        |      + (CASE WHEN list_contains(ts, 'have') THEN 1 ELSE 0 END)
        |      + (CASE WHEN list_contains(ts, 'with') THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_stop,
        |    CAST(length(text) - length(replace(text, '#', '')) AS BIGINT)
        |      AS n_hash,
        |    CAST((length(text) - length(replace(text, '...', ''))) // 3
        |      AS BIGINT) AS n_ellipsis,
        |    CAST(len(ls) AS BIGINT) AS n_lines,
        |    CAST(len(list_filter(ls, l ->
        |      substr(ltrim(l), 1, 1) IN ('•', '-', '*'))) AS BIGINT)
        |      AS n_bullet_lines,
        |    CAST(len(list_filter(ls, l -> right(rtrim(l), 3) = '...'
        |      OR right(rtrim(l), 1) = '…')) AS BIGINT) AS n_ellipsis_lines
        |  FROM ${p}d),
        |${p}m AS (SELECT c.doc_id, l.lang, c.n_chars, c.n_words,
        |    ((c.n_words >= 50 AND c.n_words <= 100000)
        |      AND (c.n_word_chars >= 3 * c.n_words AND
        |           c.n_word_chars <= 10 * c.n_words)
        |      AND (10 * c.n_hash <= c.n_words AND
        |           10 * c.n_ellipsis <= c.n_words)
        |      AND (10 * c.n_bullet_lines <= 9 * c.n_lines)
        |      AND (10 * c.n_ellipsis_lines <= 3 * c.n_lines)
        |      AND (5 * c.n_alpha_words >= 4 * c.n_words)
        |      AND (c.n_stop >= 2)) AS keep
        |  FROM ${p}lg l JOIN ${p}c c USING (doc_id)),
        |${p}u AS (SELECT doc_id,
        |  ${sqlSynthUrl(escapes = false)} AS url FROM ${p}d),
        |${p}q1 AS (SELECT doc_id,
        |  lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
        |    AS scheme,
        |  regexp_replace(regexp_replace(url,
        |    '^[A-Za-z][A-Za-z0-9+.-]*://', ''), '#.*$$', '') AS rest
        |  FROM ${p}u),
        |${p}q2 AS (SELECT doc_id, scheme,
        |  lower(regexp_replace(regexp_extract(rest, '^([^/?]*)', 1),
        |    '^.*@', '')) AS hostport
        |  FROM ${p}q1),
        |${p}q3 AS (SELECT doc_id, scheme,
        |  CASE WHEN scheme = '' THEN ''
        |       ELSE regexp_replace(regexp_replace(hostport,
        |         ':[0-9]*$$', ''), '\.+$$', '') END AS host
        |  FROM ${p}q2),
        |${p}dm AS (SELECT doc_id,
        |  CASE WHEN scheme = '' OR host = '' THEN NULL
        |    ELSE ${sqlRegisteredDomain("host")} END AS domain
        |  FROM ${p}q3),
        |${p}ht AS (SELECT lg.lang,
        |    ('0x' || substr(md5(t.tok), 1, 8))::BIGINT AS h
        |  FROM (SELECT doc_id, unnest(list_filter(ts, x -> x <> ''))
        |      AS tok FROM ${p}d) t
        |    JOIN ${p}lg lg USING (doc_id)),
        |${p}hreg AS (SELECT lang, h // 268435456 AS bucket,
        |    MAX(CASE WHEN h % 268435456 = 0 THEN 29
        |      ELSE 29 - length(bin(h % 268435456)) END) AS register
        |  FROM ${p}ht GROUP BY 1, 2),
        |${p}hagg AS (SELECT lang, COUNT(*) AS nb,
        |    SUM(1.0 / CAST(1::BIGINT << CAST(register AS INT) AS DOUBLE))
        |      AS s_nonzero
        |  FROM ${p}hreg GROUP BY 1),
        |${p}hest AS (SELECT lang, 16 - nb AS v_zero,
        |    ((0.673 * 256.0) /
        |      (coalesce(s_nonzero, 0.0) + CAST(16 - nb AS DOUBLE))) AS raw
        |  FROM ${p}hagg),
        |${sqlMinhashBandsCtes(p, s"${p}d")},
        |${p}cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM ${p}bands a JOIN ${p}bands b
        |    ON a.band = b.band AND a.doc_id < b.doc_id
        |    AND a.s[a.band*4+1 : a.band*4+4] = b.s[b.band*4+1 : b.band*4+4]),
        |${p}ex AS (SELECT doc_id, list_distinct(grams) AS gs FROM ${p}gr),
        |${p}conf AS (SELECT c.id_a, c.id_b
        |  FROM ${p}cand c JOIN ${p}ex ea ON ea.doc_id = c.id_a
        |    JOIN ${p}ex eb ON eb.doc_id = c.id_b
        |  WHERE len(ea.gs) + len(eb.gs) - len(list_intersect(ea.gs, eb.gs)) > 0
        |    AND CAST(len(list_intersect(ea.gs, eb.gs)) AS DOUBLE) /
        |      (len(ea.gs) + len(eb.gs) - len(list_intersect(ea.gs, eb.gs)))
        |      >= 0.8),
        |${p}v AS (SELECT 'corpus' AS section, 'n_docs' AS metric,
        |  CAST(COUNT(*) AS BIGINT) AS value FROM ${p}m
        |UNION ALL SELECT 'corpus', 'n_tokens',
        |  CAST(coalesce(SUM(n_words), 0) AS BIGINT) FROM ${p}m
        |UNION ALL SELECT 'corpus', 'n_chars',
        |  CAST(coalesce(SUM(n_chars), 0) AS BIGINT) FROM ${p}m
        |UNION ALL SELECT 'dedup', 'exact_dup_docs',
        |  CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT)
        |  FROM ${p}d
        |UNION ALL SELECT 'lang', 'docs_' || lang,
        |  CAST(COUNT(*) AS BIGINT) FROM ${p}m GROUP BY lang
        |UNION ALL SELECT 'dedup', 'dup_paragraphs',
        |  CAST(COUNT(*) - COUNT(DISTINCT md5(line)) AS BIGINT)
        |  FROM (SELECT unnest(list_filter(
        |    string_split_regex(text, '\r?\n'), l -> length(l) > 0))
        |    AS line FROM ${p}d)
        |UNION ALL SELECT 'mixture', 'docs_' || dom,
        |  CAST(COUNT(*) AS BIGINT)
        |  FROM (SELECT coalesce(domain, 'unattributed') AS dom FROM ${p}dm)
        |  GROUP BY dom
        |UNION ALL SELECT 'dedup', 'near_dup_docs',
        |  CAST(COUNT(DISTINCT id) AS BIGINT)
        |  FROM (SELECT id_a AS id FROM ${p}conf
        |        UNION ALL SELECT id_b FROM ${p}conf)
        |UNION ALL SELECT 'quality', 'gopher_keep_docs',
        |  CAST(coalesce(SUM(CASE WHEN keep THEN 1 ELSE 0 END), 0)
        |    AS BIGINT) FROM ${p}m
        |UNION ALL SELECT 'diversity', 'distinct_tokens_micro_' || lang,
        |  CASE WHEN raw <= 40.0 AND v_zero > 0 THEN
        |      CAST(round(((16.0 * log2(16.0 / CAST(v_zero AS DOUBLE)))
        |        * 0.6931471805599453) * 1000000.0) AS BIGINT)
        |    ELSE CAST(round(raw * 1000000.0) AS BIGINT) END
        |  FROM ${p}hest)"""

  /** ht01's DuckDB replay (identical synthesized markup, then the six
    * extraction clauses in order; every regexp_replace carries 'g' —
    * Spark's replace is always global — and the block-tag whitespace
    * class is explicit because Java/RE2 `\s` disagree on `\x0B`). Also
    * serves as ht02's oracle: the parser tier is byte-equal to the
    * regex tier on well-formed markup, which the synth is. */
  private lazy val sqlHt01Replay: String =
    (s"""WITH h AS (SELECT doc_id,
      |  $sqlSynthHtml AS html FROM documents),
      |""" +
    """s1 AS (SELECT doc_id, html, regexp_replace(regexp_replace(html,
      |    '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
      |    '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS t FROM h),
      |s2 AS (SELECT doc_id, html,
      |  regexp_replace(t, '(?s)<!--.*?-->', ' ', 'g') AS t FROM s1),
      |s3 AS (SELECT doc_id, html, regexp_replace(t,
      |    '(?i)</?(p|div|h[1-6]|li|ul|ol|tr|table|br)([ \t\n\x0B\f\r][^>]*)?/?>',
      |    chr(10), 'g') AS t FROM s2),
      |s4 AS (SELECT doc_id, html,
      |  regexp_replace(t, '<[^>]*>', ' ', 'g') AS t FROM s3),
      |s5 AS (SELECT doc_id, html,
      |""" +
    s"""    ${sqlDecodeEntities("t")} AS t
      |""" +
    """  FROM s4),
      |s6 AS (SELECT doc_id, html, regexp_replace(regexp_replace(
      |    regexp_replace(regexp_replace(t,
      |      '[ \t\x0B\f\r]+', ' ', 'g'),
      |      ' ?\n ?', chr(10), 'g'),
      |      '\n+', chr(10), 'g'),
      |      '^[ \n]+|[ \n]+$', '', 'g') AS clean
      |  FROM s5)
      |SELECT doc_id,
      |  CAST(length(clean) AS BIGINT) AS n_chars_clean,
      |  md5(clean) AS clean_md5,
      |  CAST(CASE WHEN length(html) <= 0 THEN 0 ELSE
      |    ((length(html) - length(clean)) * 1000) // length(html) END
      |    AS BIGINT) AS markup_permille
      |FROM s6 ORDER BY doc_id""").stripMargin

  private val textOracle: Map[String, String] = Map(
    "tx01_normalize_text" ->
      """SELECT doc_id,
        |  CAST(length(norm) AS BIGINT) AS norm_chars,
        |  md5(norm) AS norm_md5
        |FROM (SELECT doc_id,
        |        trim(regexp_replace(nfc_normalize(regexp_replace(text,
        |          '[\x00-\x08\x0E-\x1F\x7F]', '', 'g')),
        |          '[ \t\n\x0B\f\r]+', ' ', 'g')) AS norm
        |      FROM documents)
        |ORDER BY doc_id LIMIT 200""".stripMargin,
    "lm01_unigram_surprisal" ->
      """WITH tk AS (
        |  SELECT doc_id, tok FROM (
        |    SELECT doc_id, unnest(string_split_regex(trim(lower(text)),
        |      '[ \t\n\x0B\f\r]+')) AS tok
        |    FROM documents) WHERE tok <> ''),
        |cnt AS (SELECT tok, COUNT(*) AS c FROM tk GROUP BY tok),
        |tot AS (SELECT CAST(SUM(c) + COUNT(*) AS DOUBLE) AS denom FROM cnt),
        |vocab AS (SELECT tok, c FROM cnt ORDER BY c DESC, tok LIMIT 16),
        |sc AS (SELECT tk.doc_id,
        |    CAST(round(-log2(CAST(coalesce(v.c, 0) + 1 AS DOUBLE) / tot.denom)
        |      * 1000000) AS BIGINT) AS nm
        |  FROM tk CROSS JOIN tot LEFT JOIN vocab v USING (tok))
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  CAST(SUM(nm) // COUNT(*) AS BIGINT) AS nll_micro_avg
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // NB replay: class-conditional counts over the top-64 vocab,
    // add-one smoothing, micro-bit rounding per token and prior, exact
    // long sums, argmin by (nll, label) via row_number
    "nb01_nb_lang" ->
      raw"""WITH $nbPredictCteSql
        |SELECT b.doc_id, b.pred, b.nll_micro,
        |  (b.pred = d.lang) AS is_correct
        |FROM best b JOIN documents d USING (doc_id)
        |WHERE b.rn = 1
        |ORDER BY b.doc_id""".stripMargin,
    // vocab = top-64 (count desc, token) with row_number ids; lateral
    // range unnest keeps 1-based positions for the order-restoring agg
    "tk01_tokenize_ids" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)),
        |    '[ \t\n\x0B\f\r]+') AS ts
        |  FROM documents),
        |cnt AS (SELECT tok, COUNT(*) AS c FROM (
        |    SELECT unnest(ts) AS tok FROM tk) WHERE tok <> ''
        |  GROUP BY tok),
        |vocab AS (SELECT tok,
        |    CAST(row_number() OVER (ORDER BY c DESC, tok) AS BIGINT) AS tid
        |  FROM cnt ORDER BY c DESC, tok LIMIT 64),
        |ex AS (SELECT doc_id, i AS pos, ts[i] AS tok
        |  FROM tk, unnest(range(1, len(ts) + 1)) AS u(i)
        |  WHERE ts[i] <> ''),
        |m AS (SELECT e.doc_id, e.pos, coalesce(v.tid, 0) AS tid,
        |    CASE WHEN v.tid IS NULL THEN 1 ELSE 0 END AS oov
        |  FROM ex e LEFT JOIN vocab v USING (tok))
        |SELECT doc_id,
        |  array_to_string(array_agg(tid ORDER BY pos), ',') AS ids,
        |  CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  CAST(SUM(oov) AS BIGINT) AS n_oov
        |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // heavy hitters: the Spark side certifies its Misra–Gries candidate
    // recount equals the full wordcount top-k, so the oracle IS the full
    // wordcount top-k
    // PSI replay: same smoothing, same fixed-shape double expression
    // (two IEEE divisions per share, subtraction, quotient, libm log2,
    // one micro rounding)
    "dr01_drift_psi" ->
      """WITH d AS (SELECT doc_id, LEAST(n_chars // 100, 20) AS bucket
        |  FROM documents),
        |cr AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_ref
        |  FROM d WHERE doc_id % 3 = 0 GROUP BY bucket),
        |cc AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_cur
        |  FROM d WHERE doc_id % 3 <> 0 GROUP BY bucket),
        |j AS (SELECT coalesce(cr.bucket, cc.bucket) AS bucket,
        |    coalesce(n_ref, 0) AS n_ref, coalesce(n_cur, 0) AS n_cur
        |  FROM cr FULL OUTER JOIN cc ON cr.bucket = cc.bucket),
        |tt AS (SELECT (SELECT coalesce(SUM(n_ref), 0) FROM j) AS tr,
        |              (SELECT coalesce(SUM(n_cur), 0) FROM j) AS tc,
        |              (SELECT COUNT(*) FROM j) AS b)
        |SELECT bucket, n_ref, n_cur,
        |  CAST(round((CAST(n_ref + 1 AS DOUBLE) / CAST(tr + b AS DOUBLE)
        |      - CAST(n_cur + 1 AS DOUBLE) / CAST(tc + b AS DOUBLE))
        |    * log2((CAST(n_ref + 1 AS DOUBLE) / CAST(tr + b AS DOUBLE))
        |      / (CAST(n_cur + 1 AS DOUBLE) / CAST(tc + b AS DOUBLE)))
        |    * 1000000) AS BIGINT) AS psi_micro
        |FROM j CROSS JOIN tt
        |ORDER BY bucket""".stripMargin,
    // fertility replay: token count via the explicit whitespace class
    // (the Java-\s convention), subwords via the same explicit class in
    // the negated character set
    "tf01_fertility" ->
      raw"""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(tok) AS BIGINT) AS n_tokens,
        |  CAST(SUM(sub) AS BIGINT) AS n_subwords,
        |  CAST((SUM(sub) * 1000) // GREATEST(SUM(tok), 1) AS BIGINT)
        |    AS fertility_permille
        |FROM (SELECT lang,
        |    CAST(len(list_filter(string_split_regex(trim(lower(text)),
        |      '[ \t\n\x0B\f\r]+'), t -> length(t) > 0)) AS BIGINT) AS tok,
        |    CAST(len(regexp_extract_all(text,
        |      '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\x0B\f\r]')) AS BIGINT)
        |      AS sub
        |  FROM documents)
        |GROUP BY lang
        |ORDER BY lang""".stripMargin,
    // histogram-quantile replay: bin counts, cumulative sum over the
    // distinct bin domain (RANGE≡ROWS on grouped-distinct bins), exact
    // integer ceil threshold, min qualifying bin per quantile
    "qd01_quantile_bins" ->
      """WITH b AS (SELECT CAST(n_chars // 100 AS BIGINT) AS bin,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM documents GROUP BY 1),
        |c AS (SELECT bin, cnt,
        |    CAST(SUM(cnt) OVER (ORDER BY bin) AS BIGINT) AS cum FROM b),
        |t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM b),
        |q AS (SELECT CAST(unnest([250, 500, 750, 900, 990]) AS BIGINT)
        |    AS q_permille)
        |SELECT q.q_permille, t.n_total, CAST(MIN(c.bin) AS BIGINT) AS bin,
        |  CAST(MIN(c.bin) * 100 AS BIGINT) AS est_value
        |FROM q CROSS JOIN t JOIN c
        |  ON c.cum >= (q.q_permille * t.n_total + 999) // 1000
        |GROUP BY 1, 2 ORDER BY q_permille""".stripMargin,
    // KS replay: same micro-floored ECDFs; SUM OVER (ORDER BY value) is
    // ROWS-equivalent here because values are grouped-distinct
    "ks01_ks_drift" ->
      """WITH ca AS (SELECT n_chars AS value, CAST(COUNT(*) AS BIGINT) AS c_a
        |  FROM documents WHERE doc_id % 3 = 0 GROUP BY 1),
        |cb AS (SELECT n_chars AS value, CAST(COUNT(*) AS BIGINT) AS c_b
        |  FROM documents WHERE doc_id % 3 <> 0 GROUP BY 1),
        |j AS (SELECT coalesce(ca.value, cb.value) AS value,
        |    coalesce(c_a, 0) AS c_a, coalesce(c_b, 0) AS c_b
        |  FROM ca FULL OUTER JOIN cb ON ca.value = cb.value),
        |tt AS (SELECT
        |    GREATEST((SELECT coalesce(SUM(c_a), 0) FROM j), 1) AS na,
        |    GREATEST((SELECT coalesce(SUM(c_b), 0) FROM j), 1) AS nb),
        |c AS (SELECT value,
        |    SUM(c_a) OVER (ORDER BY value) AS cum_a,
        |    SUM(c_b) OVER (ORDER BY value) AS cum_b
        |  FROM j)
        |SELECT value, CAST(cum_a AS BIGINT) AS cum_a,
        |  CAST(cum_b AS BIGINT) AS cum_b,
        |  CAST((cum_a * 1000000) // na AS BIGINT) AS ecdf_a_micro,
        |  CAST((cum_b * 1000000) // nb AS BIGINT) AS ecdf_b_micro,
        |  CAST(abs((cum_a * 1000000) // na - (cum_b * 1000000) // nb)
        |    AS BIGINT) AS gap_micro
        |FROM c CROSS JOIN tt
        |ORDER BY gap_micro DESC, value
        |LIMIT 10""".stripMargin,
    // entropy replay: per-token micro rounding before the exact
    // occurrence-weighted sum (the lm01 chain grouped by source)
    "en01_source_entropy" ->
      """WITH tk AS (SELECT source, tok FROM (
        |    SELECT source, unnest(string_split_regex(trim(lower(text)),
        |      '[ \t\n\x0B\f\r]+')) AS tok
        |    FROM documents) WHERE tok <> ''),
        |cnt AS (SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS occ
        |  FROM tk GROUP BY 1, 2),
        |tot AS (SELECT source, CAST(SUM(occ) AS BIGINT) AS t,
        |    CAST(COUNT(*) AS BIGINT) AS n_distinct
        |  FROM cnt GROUP BY 1)
        |SELECT c.source, CAST(MAX(t) AS BIGINT) AS n_tokens,
        |  CAST(MAX(n_distinct) AS BIGINT) AS n_distinct,
        |  CAST(SUM(occ * CAST(round(-log2(CAST(occ AS DOUBLE) /
        |      CAST(t AS DOUBLE)) * 1000000) AS BIGINT)) // MAX(t)
        |    AS BIGINT) AS entropy_mbits
        |FROM cnt c JOIN tot USING (source)
        |GROUP BY c.source
        |ORDER BY c.source""".stripMargin,
    // explicit whitespace class, not \s: Java and RE2 \s disagree on \x0B
    "hh01_heavy_hitters" ->
      """WITH tok AS (
        |  SELECT unnest(string_split_regex(trim(lower(text)),
        |    '[ \t\n\x0B\f\r]+')) AS token
        |  FROM documents)
        |SELECT token, CAST(COUNT(*) AS BIGINT) AS n_occurrences
        |FROM tok WHERE token <> ''
        |GROUP BY token
        |ORDER BY n_occurrences DESC, token
        |LIMIT 20""".stripMargin,
    // conditional bigram replay: corpus bigram + context-unigram counts,
    // both top-16 capped (ties by key), V = full distinct unigram count
    "lm02_bigram_surprisal" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)),
        |    '[ \t\n\x0B\f\r]+') AS ts
        |  FROM documents),
        |bgs AS (SELECT doc_id, unnest(CASE WHEN len(ts) < 2 THEN []
        |    ELSE list_transform(range(1, len(ts)),
        |      i -> ts[i] || ' ' || ts[i+1]) END) AS bg
        |  FROM tk),
        |uc AS (SELECT tok, COUNT(*) AS cu FROM (
        |    SELECT unnest(ts) AS tok FROM tk) WHERE tok <> ''
        |  GROUP BY tok),
        |v AS (SELECT COUNT(*) AS vv FROM uc),
        |uct AS (SELECT tok, cu FROM uc ORDER BY cu DESC, tok LIMIT 16),
        |bc AS (SELECT bg, COUNT(*) AS cb FROM bgs GROUP BY bg),
        |bct AS (SELECT bg, cb FROM bc ORDER BY cb DESC, bg LIMIT 16),
        |sc AS (SELECT b.doc_id,
        |    CAST(round(-log2(
        |      CAST(coalesce(t.cb, 0) + 1 AS DOUBLE) /
        |      CAST(coalesce(u.cu, 0) + v.vv AS DOUBLE)) * 1000000)
        |      AS BIGINT) AS nm
        |  FROM bgs b CROSS JOIN v
        |  LEFT JOIN bct t USING (bg)
        |  LEFT JOIN uct u ON u.tok = string_split(b.bg, ' ')[1])
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |  CAST(SUM(nm) // COUNT(*) AS BIGINT) AS nll2_micro_avg
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // CCNet-tercile replay: lm01's per-doc surprisal chain, the qd01
    // inverse-ECDF threshold formula at 333/667 permille over
    // 10000-micro-bit bins, bin-granular CASE (surprisal >= 0, so the
    // plain // bin applies)
    "lm04_ppl_buckets" ->
      """WITH tk AS (
        |  SELECT doc_id, tok FROM (
        |    SELECT doc_id, unnest(string_split_regex(trim(lower(text)),
        |      '[ \t\n\x0B\f\r]+')) AS tok
        |    FROM documents) WHERE tok <> ''),
        |cnt AS (SELECT tok, COUNT(*) AS c FROM tk GROUP BY tok),
        |tot AS (SELECT CAST(SUM(c) + COUNT(*) AS DOUBLE) AS denom FROM cnt),
        |vocab AS (SELECT tok, c FROM cnt ORDER BY c DESC, tok LIMIT 16),
        |sc AS (SELECT tk.doc_id,
        |    CAST(round(-log2(CAST(coalesce(v.c, 0) + 1 AS DOUBLE) / tot.denom)
        |      * 1000000) AS BIGINT) AS nm
        |  FROM tk CROSS JOIN tot LEFT JOIN vocab v USING (tok)),
        |d AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |    CAST(SUM(nm) // COUNT(*) AS BIGINT) AS nll_micro_avg
        |  FROM sc GROUP BY doc_id),
        |b AS (SELECT *, nll_micro_avg // 10000 AS bin FROM d),
        |h AS (SELECT bin, COUNT(*) AS cnt FROM b GROUP BY bin),
        |c AS (SELECT bin, SUM(cnt) OVER (ORDER BY bin) AS cum,
        |    (SELECT SUM(cnt) FROM h) AS n_total FROM h),
        |t AS (SELECT q, MIN(bin) AS qbin
        |  FROM c CROSS JOIN (VALUES (333), (667)) AS qv(q)
        |  WHERE cum >= (q * n_total + 999) // 1000 GROUP BY q),
        |t1 AS (SELECT qbin FROM t WHERE q = 333),
        |t2 AS (SELECT qbin FROM t WHERE q = 667)
        |SELECT doc_id, n_tokens, nll_micro_avg,
        |  CASE WHEN b.bin <= t1.qbin THEN 'head'
        |       WHEN b.bin <= t2.qbin THEN 'middle'
        |       ELSE 'tail' END AS ppl_bucket
        |FROM b CROSS JOIN t1 CROSS JOIN t2 ORDER BY doc_id""".stripMargin,
    // Stupid Backoff replay: direct path = cb/cu from the two top-16
    // capped tables (both must hit); backoff = 0.4 * add-one unigram
    // over T+V. n_backoff counts backoff-path positions
    "lm03_backoff_surprisal" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)),
        |    '[ \t\n\x0B\f\r]+') AS ts
        |  FROM documents),
        |bgs AS (SELECT doc_id, unnest(CASE WHEN len(ts) < 2 THEN []
        |    ELSE list_transform(range(1, len(ts)),
        |      i -> ts[i] || ' ' || ts[i+1]) END) AS bg
        |  FROM tk),
        |uc AS (SELECT tok, COUNT(*) AS cu FROM (
        |    SELECT unnest(ts) AS tok FROM tk) WHERE tok <> ''
        |  GROUP BY tok),
        |tv AS (SELECT CAST(SUM(cu) + COUNT(*) AS DOUBLE) AS denom FROM uc),
        |uct AS (SELECT tok, cu FROM uc ORDER BY cu DESC, tok LIMIT 16),
        |bc AS (SELECT bg, COUNT(*) AS cb FROM bgs GROUP BY bg),
        |bct AS (SELECT bg, cb FROM bc ORDER BY cb DESC, bg LIMIT 16),
        |sc AS (SELECT b.doc_id,
        |    (t.cb IS NOT NULL AND u.cu IS NOT NULL) AS direct,
        |    CASE WHEN t.cb IS NOT NULL AND u.cu IS NOT NULL THEN
        |      CAST(round(-log2(
        |        CAST(t.cb AS DOUBLE) / CAST(u.cu AS DOUBLE)) * 1000000)
        |        AS BIGINT)
        |    ELSE
        |      CAST(round(-log2(0.4 *
        |        CAST(coalesce(w.cu, 0) + 1 AS DOUBLE) / tv.denom) * 1000000)
        |        AS BIGINT)
        |    END AS nm
        |  FROM bgs b CROSS JOIN tv
        |  LEFT JOIN bct t USING (bg)
        |  LEFT JOIN uct u ON u.tok = string_split(b.bg, ' ')[1]
        |  LEFT JOIN uct w ON w.tok = string_split(b.bg, ' ')[2])
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |  CAST(COUNT(*) FILTER (NOT direct) AS BIGINT) AS n_backoff,
        |  CAST(SUM(nm) // COUNT(*) AS BIGINT) AS sb_micro_avg
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "ti01_tfidf_terms" ->
      """WITH tk AS (
        |  SELECT doc_id, tok FROM (
        |    SELECT doc_id, unnest(string_split_regex(trim(lower(text)),
        |      '[ \t\n\x0B\f\r]+')) AS tok
        |    FROM documents) WHERE tok <> ''),
        |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM tk GROUP BY doc_id, tok),
        |dfq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
        |nd AS (SELECT CAST(COUNT(*) + 1 AS DOUBLE) AS n1 FROM documents),
        |sc AS (SELECT doc_id, tok, CAST(tf AS BIGINT) AS tf,
        |    CAST(round(tf * (log2(nd.n1 / CAST(df + 1 AS DOUBLE)) + 1)
        |      * 1000000) AS BIGINT) AS score_micro
        |  FROM tf CROSS JOIN nd JOIN dfq USING (tok)),
        |rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
        |    ORDER BY score_micro DESC, tok) AS BIGINT) AS term_rank FROM sc)
        |SELECT doc_id, tok, tf, score_micro, term_rank FROM rk
        |WHERE term_rank <= 3 ORDER BY doc_id, term_rank""".stripMargin,
    "bp01_boilerplate_score" ->
      """WITH g AS (
        |  SELECT doc_id, unnest(CASE WHEN len(ts) < 3 THEN []
        |      ELSE list_transform(range(1, len(ts) - 1),
        |        i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]) END) AS gram
        |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)),
        |          '[ \t\n\x0B\f\r]+') AS ts FROM documents)),
        |dfq AS (SELECT gram, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
        |        FROM g GROUP BY gram)
        |SELECT doc_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_grams,
        |  CAST(COUNT(*) FILTER (df >= 5) AS BIGINT) AS boiler_grams,
        |  CAST((COUNT(*) FILTER (df >= 5) * 1000) // COUNT(*) AS BIGINT)
        |    AS boiler_permille,
        |  CAST(MAX(df) AS BIGINT) AS max_df
        |FROM g JOIN dfq USING (gram)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "bp02_rm_boilerplate" ->
      """WITH aug AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 3 = 0
        |         THEN chr(10) || 'All rights reserved. Example Corp.'
        |         ELSE '' END ||
        |    CASE WHEN doc_id % 7 = 0
        |         THEN chr(10) || chr(10) || 'Subscribe to our newsletter!'
        |         ELSE '' END AS text
        |  FROM documents),
        |lines AS (
        |  SELECT doc_id,
        |    generate_subscripts(string_split_regex(text, '\r?\n'), 1) AS pos,
        |    unnest(string_split_regex(text, '\r?\n')) AS line
        |  FROM aug),
        |bad AS (SELECT line FROM lines GROUP BY line
        |        HAVING COUNT(DISTINCT doc_id) >= 5),
        |affected AS (
        |  SELECT l.doc_id,
        |    coalesce(string_agg(l.line, chr(10) ORDER BY l.pos)
        |      FILTER (WHERE b.line IS NULL), '') AS new_text
        |  FROM lines l LEFT JOIN bad b USING (line)
        |  GROUP BY l.doc_id HAVING COUNT(b.line) > 0)
        |SELECT x.doc_id, CAST(length(x.t2) AS BIGINT) AS n_chars_clean,
        |  md5(x.t2) AS clean_md5
        |FROM (SELECT aug.doc_id, coalesce(af.new_text, aug.text) AS t2
        |      FROM aug LEFT JOIN affected af USING (doc_id)) x
        |ORDER BY x.doc_id""".stripMargin,
    "pii01_redact" ->
      """WITH c AS (
        |  SELECT c_custkey,
        |    'Contact ' || c_name || ' <' || lower(replace(c_name, '#', '.'))
        |      || '@example.com> call +1-800-'
        |      || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')
        |      || ' host 10.0.' || CAST(c_custkey % 256 AS VARCHAR)
        |      || '.' || CAST(c_nationkey AS VARCHAR) AS contact
        |  FROM customer)
        |SELECT c_custkey,
        |  regexp_replace(regexp_replace(regexp_replace(contact,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\+[0-9][0-9\-]{6,}[0-9]', '<PHONE>', 'g'),
        |    '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g') AS redacted,
        |  CAST(len(regexp_extract_all(contact,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
        |    AS n_emails,
        |  -- counts mirror the redaction CASCADE (per class, on the text
        |  -- with earlier classes already replaced), matching piiCounts
        |  CAST(len(regexp_extract_all(regexp_replace(contact,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\+[0-9][0-9\-]{6,}[0-9]')) AS BIGINT) AS n_phones,
        |  CAST(len(regexp_extract_all(regexp_replace(regexp_replace(contact,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\+[0-9][0-9\-]{6,}[0-9]', '<PHONE>', 'g'),
        |    '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS BIGINT) AS n_ips
        |FROM c ORDER BY c_custkey LIMIT 100""".stripMargin,
    "mw01_mixture_weights" ->
      """WITH g AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(len(list_filter(string_split_regex(trim(lower(text)),
        |      '[ \t\n\x0B\f\r]+'), t -> t <> ''))) AS BIGINT) AS n_tokens,
        |    CAST(SUM(length(text)) AS BIGINT) AS n_chars
        |  FROM documents GROUP BY source),
        |t AS (SELECT SUM(n_tokens) AS tot FROM g)
        |SELECT source, n_docs, n_tokens, n_chars,
        |  CAST((n_tokens * 1000) // t.tot AS BIGINT) AS token_permille
        |FROM g CROSS JOIN t ORDER BY source""".stripMargin,
    // BM25 replay: same tokenization, ranks 5..7 query, idf micro
    // rounding, and the exact fixed-order integer chain (k1 = 1.2 and
    // b = 0.75 inlined as 2200000/1200000/750000/250000 micro constants)
    "bm01_bm25_topk" ->
      """WITH tk AS (
        |  SELECT doc_id, tok FROM (
        |    SELECT doc_id, unnest(string_split_regex(trim(lower(text)),
        |      '[ \t\n\x0B\f\r]+')) AS tok
        |    FROM documents) WHERE tok <> ''),
        |dt AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS occ
        |  FROM tk GROUP BY 1, 2),
        |lens AS (SELECT doc_id, CAST(SUM(occ) AS BIGINT) AS len
        |  FROM dt GROUP BY 1),
        |st AS (SELECT CAST(SUM(len) AS BIGINT) AS tt,
        |  CAST(COUNT(*) AS BIGINT) AS nd FROM lens),
        |q AS (SELECT tok FROM (
        |    SELECT tok, row_number() OVER (ORDER BY c DESC, tok) AS rn
        |    FROM (SELECT tok, COUNT(*) AS c FROM tk GROUP BY tok))
        |  WHERE rn BETWEEN 5 AND 7),
        |idf AS (SELECT d.tok,
        |    CAST(round(log2((s.nd - COUNT(*) + 0.5) / (COUNT(*) + 0.5) + 1)
        |      * 1000000) AS BIGINT) AS idf_micro
        |  FROM dt d JOIN q USING (tok) CROSS JOIN st s
        |  GROUP BY d.tok, s.nd),
        |sc AS (SELECT d.doc_id,
        |    CAST(SUM((i.idf_micro *
        |      ((d.occ * 2200000 * 1000000) // (d.occ * 1000000 +
        |        (1200000 * (250000 +
        |          (750000 * ((l.len * 1000000000000) //
        |            ((s.tt * 1000000) // s.nd))) // 1000000)) // 1000000))
        |    ) // 1000000) AS BIGINT) AS score_micro
        |  FROM dt d JOIN q USING (tok) JOIN idf i USING (tok)
        |    JOIN lens l USING (doc_id) CROSS JOIN st s
        |  GROUP BY d.doc_id)
        |SELECT doc_id, score_micro FROM sc
        |ORDER BY score_micro DESC, doc_id LIMIT 10""".stripMargin,
    // hn01: the bm01 scoring chain evaluated per (query, doc) — the
    // %100 docs are the queries (their 4 rarest in-corpus tokens,
    // df asc, tie -> token asc), the %10<>0 docs are the corpus,
    // rank <= 3 per query by (score desc, doc)
    "hn01_hard_negatives" ->
      """WITH tk AS (
        |  SELECT doc_id, tok FROM (
        |    SELECT doc_id, unnest(string_split_regex(trim(lower(text)),
        |      '[ \t\n\x0B\f\r]+')) AS tok
        |    FROM documents WHERE doc_id % 10 <> 0) WHERE tok <> ''),
        |dt AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS occ
        |  FROM tk GROUP BY 1, 2),
        |lens AS (SELECT doc_id, CAST(SUM(occ) AS BIGINT) AS len
        |  FROM dt GROUP BY 1),
        |st AS (SELECT CAST(SUM(len) AS BIGINT) AS tt,
        |  CAST(COUNT(*) AS BIGINT) AS nd FROM lens),
        |qtk AS (
        |  SELECT doc_id, tok FROM (
        |    SELECT doc_id, unnest(string_split_regex(trim(lower(text)),
        |      '[ \t\n\x0B\f\r]+')) AS tok
        |    FROM documents WHERE doc_id % 100 = 0) WHERE tok <> ''),
        |qdt AS (SELECT DISTINCT doc_id, tok FROM qtk),
        |cdf AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df
        |  FROM dt GROUP BY 1),
        |qsel AS (SELECT doc_id AS query_id, tok FROM (
        |    SELECT q.doc_id, q.tok, row_number() OVER (PARTITION BY
        |      q.doc_id ORDER BY f.df, q.tok) AS rn
        |    FROM qdt q JOIN cdf f USING (tok))
        |  WHERE rn <= 4),
        |voc AS (SELECT DISTINCT tok FROM qsel),
        |idf AS (SELECT d.tok,
        |    CAST(round(log2((s.nd - COUNT(*) + 0.5) / (COUNT(*) + 0.5) + 1)
        |      * 1000000) AS BIGINT) AS idf_micro
        |  FROM dt d JOIN voc USING (tok) CROSS JOIN st s
        |  GROUP BY d.tok, s.nd),
        |sc AS (SELECT q.query_id, d.doc_id,
        |    CAST(SUM((i.idf_micro *
        |      ((d.occ * 2200000 * 1000000) // (d.occ * 1000000 +
        |        (1200000 * (250000 +
        |          (750000 * ((l.len * 1000000000000) //
        |            ((s.tt * 1000000) // s.nd))) // 1000000)) // 1000000))
        |    ) // 1000000) AS BIGINT) AS score_micro
        |  FROM qsel q JOIN dt d USING (tok) JOIN idf i USING (tok)
        |    JOIN lens l ON l.doc_id = d.doc_id CROSS JOIN st s
        |  GROUP BY q.query_id, d.doc_id),
        |rk AS (SELECT query_id, doc_id AS neg_id, score_micro,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY score_micro DESC, doc_id) AS BIGINT) AS rank
        |  FROM sc)
        |SELECT CAST(query_id AS BIGINT) AS query_id,
        |  CAST(neg_id AS BIGINT) AS neg_id, rank, score_micro
        |FROM rk WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,
    // hy01: the bm01 BM25 chain with a fixed 4-token query ranks the
    // lexical top 50; the me01 accumulator chain (unnormalized) scores
    // exact cosine against the query text's own accumulator for the
    // semantic top 50; RRF fuses in exact nano units (1e9 // (60+rank))
    "hy01_hybrid_rrf" ->
      """WITH tk AS (
        |  SELECT doc_id, tok FROM (
        |    SELECT doc_id, unnest(string_split_regex(trim(lower(text)),
        |      '[ \t\n\x0B\f\r]+')) AS tok
        |    FROM documents) WHERE tok <> ''),
        |dt AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS occ
        |  FROM tk GROUP BY 1, 2),
        |lens AS (SELECT doc_id, CAST(SUM(occ) AS BIGINT) AS len
        |  FROM dt GROUP BY 1),
        |st AS (SELECT CAST(SUM(len) AS BIGINT) AS tt,
        |  CAST(COUNT(*) AS BIGINT) AS nd FROM lens),
        |q AS (SELECT unnest(['vector', 'stream', 'window', 'agg']) AS tok),
        |idf AS (SELECT d.tok,
        |    CAST(round(log2((s.nd - COUNT(*) + 0.5) / (COUNT(*) + 0.5) + 1)
        |      * 1000000) AS BIGINT) AS idf_micro
        |  FROM dt d JOIN q USING (tok) CROSS JOIN st s
        |  GROUP BY d.tok, s.nd),
        |sc AS (SELECT d.doc_id,
        |    CAST(SUM((i.idf_micro *
        |      ((d.occ * 2200000 * 1000000) // (d.occ * 1000000 +
        |        (1200000 * (250000 +
        |          (750000 * ((l.len * 1000000000000) //
        |            ((s.tt * 1000000) // s.nd))) // 1000000)) // 1000000))
        |    ) // 1000000) AS BIGINT) AS score_micro
        |  FROM dt d JOIN q USING (tok) JOIN idf i USING (tok)
        |    JOIN lens l USING (doc_id) CROSS JOIN st s
        |  GROUP BY d.doc_id),
        |lexr AS (SELECT doc_id, rank FROM (
        |    SELECT doc_id, CAST(row_number() OVER (ORDER BY
        |      score_micro DESC, doc_id) AS BIGINT) AS rank FROM sc)
        |  WHERE rank <= 50),
        |ht AS (SELECT doc_id,
        |    ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h FROM tk),
        |acc AS (SELECT doc_id, CAST((h // 2) % 16 AS INTEGER) AS dim,
        |    SUM(CASE WHEN h % 2 = 0 THEN 1 ELSE -1 END) AS acc
        |  FROM ht GROUP BY 1, 2),
        |qh AS (SELECT ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h
        |  FROM q),
        |qa AS (SELECT CAST((h // 2) % 16 AS INTEGER) AS dim,
        |    SUM(CASE WHEN h % 2 = 0 THEN 1 ELSE -1 END) AS acc
        |  FROM qh GROUP BY 1),
        |qn AS (SELECT SUM(acc * acc) AS nq FROM qa),
        |dn AS (SELECT doc_id, SUM(acc * acc) AS nd FROM acc GROUP BY 1),
        |dp AS (SELECT a.doc_id, SUM(a.acc * b.acc) AS dot
        |  FROM acc a JOIN qa b USING (dim) GROUP BY 1),
        |cosv AS (SELECT i.doc_id,
        |    CASE WHEN COALESCE(d.nd, 0) = 0 OR n.nq = 0 THEN 0.0
        |      ELSE CAST(COALESCE(p.dot, 0) AS DOUBLE) /
        |        sqrt(CAST(COALESCE(d.nd, 0) * n.nq AS DOUBLE)) END AS cos
        |  FROM (SELECT DISTINCT doc_id FROM documents) i
        |  LEFT JOIN dn d USING (doc_id) LEFT JOIN dp p USING (doc_id)
        |  CROSS JOIN qn n),
        |semr AS (SELECT doc_id, rank FROM (
        |    SELECT doc_id, CAST(row_number() OVER (ORDER BY
        |      cos DESC, doc_id) AS BIGINT) AS rank FROM cosv)
        |  WHERE rank <= 50),
        |fuse AS (SELECT COALESCE(l.doc_id, m.doc_id) AS doc_id,
        |    CAST(COALESCE(1000000000 // (60 + l.rank), 0) +
        |      COALESCE(1000000000 // (60 + m.rank), 0) AS BIGINT)
        |      AS rrf_nano,
        |    CAST((CASE WHEN l.doc_id IS NULL THEN 0 ELSE 1 END) +
        |      (CASE WHEN m.doc_id IS NULL THEN 0 ELSE 1 END) AS BIGINT)
        |      AS n_lists
        |  FROM lexr l FULL OUTER JOIN semr m ON l.doc_id = m.doc_id)
        |SELECT doc_id, rrf_nano, n_lists, fused_rank FROM (
        |  SELECT doc_id, rrf_nano, n_lists,
        |    CAST(row_number() OVER (ORDER BY rrf_nano DESC, doc_id)
        |      AS BIGINT) AS fused_rank
        |  FROM fuse)
        |WHERE fused_rank <= 10 ORDER BY fused_rank""".stripMargin,
    // bm02's oracle: full batch BM25 over the NEW snapshot with the
    // query terms pinned from the FULL table — the incremental==batch
    // invariant for the maintained inverted index
    "bm02_incremental_bm25" ->
      """WITH snap AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 10 = 7 THEN text || ' updated rev'
        |      ELSE text END AS text
        |  FROM documents WHERE doc_id % 10 <> 9),
        |qtk AS (
        |  SELECT doc_id, tok FROM (
        |    SELECT doc_id, unnest(string_split_regex(trim(lower(text)),
        |      '[ \t\n\x0B\f\r]+')) AS tok
        |    FROM documents) WHERE tok <> ''),
        |q AS (SELECT tok FROM (
        |    SELECT tok, row_number() OVER (ORDER BY c DESC, tok) AS rn
        |    FROM (SELECT tok, COUNT(*) AS c FROM qtk GROUP BY tok))
        |  WHERE rn BETWEEN 5 AND 7),
        |tk AS (
        |  SELECT doc_id, tok FROM (
        |    SELECT doc_id, unnest(string_split_regex(trim(lower(text)),
        |      '[ \t\n\x0B\f\r]+')) AS tok
        |    FROM snap) WHERE tok <> ''),
        |dt AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS occ
        |  FROM tk GROUP BY 1, 2),
        |lens AS (SELECT doc_id, CAST(SUM(occ) AS BIGINT) AS len
        |  FROM dt GROUP BY 1),
        |st AS (SELECT CAST(SUM(len) AS BIGINT) AS tt,
        |  CAST(COUNT(*) AS BIGINT) AS nd FROM lens),
        |idf AS (SELECT d.tok,
        |    CAST(round(log2((s.nd - COUNT(*) + 0.5) / (COUNT(*) + 0.5) + 1)
        |      * 1000000) AS BIGINT) AS idf_micro
        |  FROM dt d JOIN q USING (tok) CROSS JOIN st s
        |  GROUP BY d.tok, s.nd),
        |sc AS (SELECT d.doc_id,
        |    CAST(SUM((i.idf_micro *
        |      ((d.occ * 2200000 * 1000000) // (d.occ * 1000000 +
        |        (1200000 * (250000 +
        |          (750000 * ((l.len * 1000000000000) //
        |            ((s.tt * 1000000) // s.nd))) // 1000000)) // 1000000))
        |    ) // 1000000) AS BIGINT) AS score_micro
        |  FROM dt d JOIN q USING (tok) JOIN idf i USING (tok)
        |    JOIN lens l USING (doc_id) CROSS JOIN st s
        |  GROUP BY d.doc_id)
        |SELECT doc_id, score_micro FROM sc
        |ORDER BY score_micro DESC, doc_id LIMIT 10""".stripMargin,
    // temperature replay: same token counter, one sqrt (IEEE-exact both
    // engines), floor to micro, integer floor-div normalization
    "mw02_temperature_mix" ->
      """WITH g AS (
        |  SELECT source,
        |    CAST(SUM(len(list_filter(string_split_regex(trim(lower(text)),
        |      '[ \t\n\x0B\f\r]+'), t -> t <> ''))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |w AS (SELECT source, n_tokens,
        |    CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000) AS BIGINT)
        |      AS w_micro
        |  FROM g),
        |t AS (SELECT CAST(SUM(w_micro) AS BIGINT) AS wt FROM w)
        |SELECT source, n_tokens, w_micro,
        |  CASE WHEN t.wt = 0 THEN 0
        |    ELSE CAST((w_micro * 1000000) // t.wt AS BIGINT)
        |  END AS share_micro
        |FROM w CROSS JOIN t ORDER BY source""".stripMargin,
    // mixture-sample replay: the naive window prefix IS the semantics
    // (the Spark side's two-level bucket plan is spec-pinned equivalent);
    // token counter and salted md5-hex order match the engine exactly
    "ms01_mixture_sample" ->
      """WITH b AS (
        |  SELECT DISTINCT source, CAST(500 AS BIGINT) AS token_budget
        |  FROM documents),
        |t AS (SELECT doc_id, source,
        |    CAST(len(list_filter(string_split_regex(trim(lower(text)),
        |      '[ \t\n\x0B\f\r]+'), x -> x <> '')) AS BIGINT) AS n_tokens,
        |    substr(md5(CAST(doc_id AS VARCHAR) || '-mix'), 1, 8) AS hh
        |  FROM documents),
        |c AS (SELECT doc_id, source, n_tokens,
        |    SUM(n_tokens) OVER (PARTITION BY source ORDER BY hh, doc_id)
        |      AS cum
        |  FROM t)
        |SELECT c.source, c.doc_id, c.n_tokens
        |FROM c JOIN b USING (source)
        |WHERE cum <= token_budget
        |ORDER BY source, doc_id
        |LIMIT 200""".stripMargin,
    // naive replay: per-source totals, e = budget // total full passes
    // (row-per-epoch via unnest(range)), residual prefix in hash order
    "ms02_mixture_epochs" ->
      """WITH b AS (
        |  SELECT DISTINCT source, CAST(3000 AS BIGINT) AS token_budget
        |  FROM documents),
        |t AS (SELECT doc_id, source,
        |    CAST(len(list_filter(string_split_regex(trim(lower(text)),
        |      '[ \t\n\x0B\f\r]+'), x -> x <> '')) AS BIGINT) AS n_tokens,
        |    substr(md5(CAST(doc_id AS VARCHAR) || '-mix'), 1, 8) AS hh
        |  FROM documents),
        |c AS (SELECT doc_id, source, n_tokens,
        |    SUM(n_tokens) OVER (PARTITION BY source ORDER BY hh, doc_id)
        |      AS cum,
        |    SUM(n_tokens) OVER (PARTITION BY source) AS gt
        |  FROM t),
        |eb AS (SELECT c.*, token_budget,
        |    CAST(CASE WHEN gt <= 0 THEN 0
        |         ELSE GREATEST(0, token_budget // gt) END AS BIGINT) AS e
        |  FROM c JOIN b USING (source)),
        |r AS (SELECT *, token_budget - e * gt AS rem,
        |    unnest(range(0, e + 1)) AS epoch
        |  FROM eb)
        |SELECT source, epoch, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
        |FROM r WHERE epoch < e OR cum <= rem
        |GROUP BY source, epoch
        |ORDER BY source, epoch""".stripMargin,
    "tx02_repetition" ->
      """WITH p AS (SELECT doc_id,
        |  list_filter(list_transform(regexp_split_to_array(text, '\r?\n'),
        |    x -> trim(x)), x -> length(x) > 0) AS lines,
        |  -- explicit class == Java \s (RE2's \s lacks \x0B)
        |  string_split_regex(trim(lower(text)), '[ \t\n\x0B\f\r]+') AS ts
        |  FROM documents),
        |g AS (SELECT doc_id, lines,
        |  CASE WHEN len(ts) < 3 THEN []
        |       ELSE list_transform(range(1, len(ts) - 1),
        |         i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]) END AS gr
        |  FROM p)
        |SELECT doc_id,
        |  CASE WHEN len(lines) = 0 THEN 0
        |       ELSE (1000 * (len(lines) - len(list_distinct(lines)))) // len(lines)
        |  END AS dup_line_pm,
        |  CASE WHEN len(gr) = 0 THEN 0
        |       ELSE (1000 * (len(gr) - len(list_distinct(gr)))) // len(gr)
        |  END AS dup_3gram_pm
        |FROM g ORDER BY doc_id LIMIT 200""".stripMargin,
    // the same harness + the same four rules; (x, i) lambda gives the
    // position for the first-occurrence test (both 1-based)
    // blocklist replay: identical padded-contains over the re-joined
    // lowercase token stream — whole-token semantics for words and
    // phrases with one mechanism
    "c402_blocklist_gate" ->
      """WITH p AS (SELECT doc_id,
        |    ' ' || array_to_string(string_split_regex(trim(lower(text)),
        |      '[ \t\n\x0B\f\r]+'), ' ') || ' ' AS padded
        |  FROM documents)
        |SELECT doc_id,
        |  CAST((CASE WHEN contains(padded, ' slow ') THEN 1 ELSE 0 END) +
        |       (CASE WHEN contains(padded, ' vector ') THEN 1 ELSE 0 END) +
        |       (CASE WHEN contains(padded, ' merge batch ') THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_hits,
        |  ((CASE WHEN contains(padded, ' slow ') THEN 1 ELSE 0 END) +
        |   (CASE WHEN contains(padded, ' vector ') THEN 1 ELSE 0 END) +
        |   (CASE WHEN contains(padded, ' merge batch ') THEN 1 ELSE 0 END)) = 0
        |    AS keep
        |FROM p ORDER BY doc_id""".stripMargin,
    "c401_clean_lines" ->
      """WITH src AS (SELECT doc_id,
        |    text || '.' || chr(10) || text || '.' || chr(10) ||
        |    'short line' || chr(10) ||
        |    'we use javascript and cookie banners on this site today.' ||
        |    chr(10) ||
        |    'this is a good long line that ends properly.' AS s
        |  FROM documents),
        |l AS (SELECT doc_id, string_split_regex(s, '\r?\n') AS lines FROM src),
        |k AS (SELECT doc_id, list_filter(lines, (x, i) ->
        |    len(list_filter(string_split_regex(trim(x),
        |      '[ \t\n\x0B\f\r]+'), w -> w <> '')) >= 3
        |    AND right(trim(x), 1) IN ('.', '!', '?', '"')
        |    AND NOT contains(lower(x), 'javascript')
        |    AND NOT contains(lower(x), 'cookie')
        |    AND NOT contains(lower(x), 'lorem ipsum')
        |    AND list_position(lines, x) = i) AS kept,
        |    len(lines) AS total
        |  FROM l)
        |SELECT doc_id, md5(array_to_string(kept, chr(10))) AS fp,
        |  CAST(len(kept) AS BIGINT) AS n_kept,
        |  CAST(total - len(kept) AS BIGINT) AS n_dropped
        |FROM k ORDER BY doc_id LIMIT 200""".stripMargin,
    "q19_doc_tokens" ->
      """SELECT doc_id,
        | CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS BIGINT) AS n_tokens,
        | CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_subwords,
        | n_chars
        |FROM documents ORDER BY n_tokens DESC, doc_id LIMIT 50""".stripMargin,
    "q20_doc_stats" ->
      """SELECT doc_id,
        | CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT) AS digits,
        | CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS BIGINT) AS punct,
        | CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT) AS spaces,
        | CAST(len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |   tok -> tok IN ('the','a','an','and','or','of','to','in','is','it','for','on','with','as','at','by','this','that'))) AS BIGINT) AS stopwords
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q21_doc_lang" ->
      """SELECT lang,
        | CASE
        |  WHEN length(regexp_replace(text, '[\x00-\x7F]', '', 'g')) > length(text) / 2 THEN 'cjk'
        |  WHEN ' ' || lower(text) || ' ' LIKE '% the %' OR ' ' || lower(text) || ' ' LIKE '% and %' OR ' ' || lower(text) || ' ' LIKE '% is %' THEN 'en'
        |  WHEN ' ' || lower(text) || ' ' LIKE '% le %' OR ' ' || lower(text) || ' ' LIKE '% la %' OR ' ' || lower(text) || ' ' LIKE '% et %' THEN 'fr'
        |  WHEN ' ' || lower(text) || ' ' LIKE '% el %' OR ' ' || lower(text) || ' ' LIKE '% los %' OR ' ' || lower(text) || ' ' LIKE '% y %' THEN 'es'
        |  WHEN ' ' || lower(text) || ' ' LIKE '% der %' OR ' ' || lower(text) || ' ' LIKE '% und %' OR ' ' || lower(text) || ' ' LIKE '% die %' THEN 'de'
        |  ELSE 'other' END AS guess,
        | COUNT(*) AS n
        |FROM documents GROUP BY lang, guess ORDER BY lang, guess""".stripMargin,
    "q22_dedup_exact" ->
      """SELECT md5(text) AS fingerprint, COUNT(*) AS n, MIN(doc_id) AS keep_id
        |FROM documents GROUP BY fingerprint ORDER BY fingerprint LIMIT 100""".stripMargin,
    "q37_top_tokens" ->
      """SELECT tok, COUNT(*) AS n FROM (
        |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
        |  FROM documents)
        |GROUP BY tok ORDER BY n DESC, tok LIMIT 30""".stripMargin,
    "q38_doc_ngram_counts" ->
      """SELECT doc_id,
        | CAST(len(list_distinct([lst[i] || ' ' || lst[i+1] || ' ' || lst[i+2]
        |   for i in range(1, len(lst) - 1)])) AS BIGINT) AS n_shingles
        |FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS lst
        |      FROM documents)
        |ORDER BY n_shingles DESC, doc_id LIMIT 50""".stripMargin,
    // HLL register replay: md5-32 buckets (top 4 bits), rank of the
    // 28-bit remainder via bin() length (identical builtin both engines)
    "hl01_hll_registers" ->
      """WITH tk AS (SELECT tok FROM (
        |    SELECT unnest(string_split_regex(trim(lower(text)),
        |      '[ \t\n\x0B\f\r]+')) AS tok
        |    FROM documents) WHERE tok <> ''),
        |h AS (SELECT ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h FROM tk)
        |SELECT h // 268435456 AS bucket,
        |  CAST(MAX(CASE WHEN h % 268435456 = 0 THEN 29
        |    ELSE 29 - length(bin(h % 268435456)) END) AS BIGINT) AS register
        |FROM h GROUP BY 1 ORDER BY bucket""".stripMargin,
    // estimator replay: 2^-r terms are exact binary fractions (exact
    // sum in any order), one alpha*m^2 product + one division, linear
    // counting through libm log2 x literal ln2, micro rounding last
    "hl02_hll_estimate" ->
      """WITH tk AS (SELECT tok FROM (
        |    SELECT unnest(string_split_regex(trim(lower(text)),
        |      '[ \t\n\x0B\f\r]+')) AS tok
        |    FROM documents) WHERE tok <> ''),
        |h AS (SELECT ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h FROM tk),
        |reg AS (SELECT h // 268435456 AS bucket,
        |    MAX(CASE WHEN h % 268435456 = 0 THEN 29
        |      ELSE 29 - length(bin(h % 268435456)) END) AS register
        |  FROM h GROUP BY 1),
        |agg AS (SELECT COUNT(*) AS nb,
        |    SUM(1.0 / CAST(1::BIGINT << CAST(register AS INT) AS DOUBLE))
        |      AS s_nonzero
        |  FROM reg),
        |est AS (SELECT 16 - nb AS v_zero,
        |    (coalesce(s_nonzero, 0.0) + CAST(16 - nb AS DOUBLE)) AS s
        |  FROM agg),
        |r AS (SELECT v_zero, ((0.673 * 256.0) / s) AS raw FROM est)
        |SELECT CAST(16 AS BIGINT) AS m, CAST(v_zero AS BIGINT) AS v_zero,
        |  CAST(round(raw * 1000000.0) AS BIGINT) AS raw_est_micro,
        |  CASE WHEN v_zero > 0 THEN
        |    CAST(round(((16.0 * log2(16.0 / CAST(v_zero AS DOUBLE)))
        |      * 0.6931471805599453) * 1000000.0) AS BIGINT) END
        |    AS lc_est_micro,
        |  CASE WHEN raw <= 40.0 AND v_zero > 0 THEN
        |      CAST(round(((16.0 * log2(16.0 / CAST(v_zero AS DOUBLE)))
        |        * 0.6931471805599453) * 1000000.0) AS BIGINT)
        |    ELSE CAST(round(raw * 1000000.0) AS BIGINT) END AS est_micro
        |FROM r ORDER BY m""".stripMargin,
    // hl04: the hl02 estimator chain carried per language, exact
    // distinct joined next to the estimate
    "hl04_grouped_hll" ->
      """WITH tk AS (SELECT lang, tok FROM (
        |    SELECT lang, unnest(string_split_regex(trim(lower(text)),
        |      '[ \t\n\x0B\f\r]+')) AS tok
        |    FROM documents) WHERE tok <> ''),
        |h AS (SELECT lang,
        |    ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h FROM tk),
        |reg AS (SELECT lang, h // 268435456 AS bucket,
        |    MAX(CASE WHEN h % 268435456 = 0 THEN 29
        |      ELSE 29 - length(bin(h % 268435456)) END) AS register
        |  FROM h GROUP BY 1, 2),
        |agg AS (SELECT lang, COUNT(*) AS nb,
        |    SUM(1.0 / CAST(1::BIGINT << CAST(register AS INT) AS DOUBLE))
        |      AS s_nonzero
        |  FROM reg GROUP BY 1),
        |est AS (SELECT lang, 16 - nb AS v_zero,
        |    (coalesce(s_nonzero, 0.0) + CAST(16 - nb AS DOUBLE)) AS s
        |  FROM agg),
        |r AS (SELECT lang, v_zero, ((0.673 * 256.0) / s) AS raw FROM est),
        |ex AS (SELECT lang, CAST(COUNT(DISTINCT tok) AS BIGINT)
        |    AS exact_distinct
        |  FROM tk GROUP BY 1)
        |SELECT r.lang, CAST(16 AS BIGINT) AS m,
        |  CAST(v_zero AS BIGINT) AS v_zero,
        |  CAST(round(raw * 1000000.0) AS BIGINT) AS raw_est_micro,
        |  CASE WHEN v_zero > 0 THEN
        |    CAST(round(((16.0 * log2(16.0 / CAST(v_zero AS DOUBLE)))
        |      * 0.6931471805599453) * 1000000.0) AS BIGINT) END
        |    AS lc_est_micro,
        |  CASE WHEN raw <= 40.0 AND v_zero > 0 THEN
        |      CAST(round(((16.0 * log2(16.0 / CAST(v_zero AS DOUBLE)))
        |        * 0.6931471805599453) * 1000000.0) AS BIGINT)
        |    ELSE CAST(round(raw * 1000000.0) AS BIGINT) END AS est_micro,
        |  ex.exact_distinct
        |FROM r JOIN ex USING (lang) ORDER BY r.lang""".stripMargin,
    // hl05: full batch grouped register build over the new snapshot —
    // the incremental==batch invariant for the per-group max fold
    "hl05_incremental_grouped" ->
      """WITH snap AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text
        |  FROM documents WHERE doc_id % 13 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, lang, text FROM documents
        |  WHERE doc_id % 11 = 0 AND doc_id % 13 <> 0),
        |tk AS (SELECT lang, tok FROM (
        |    SELECT lang, unnest(string_split_regex(trim(lower(text)),
        |      '[ \t\n\x0B\f\r]+')) AS tok
        |    FROM snap) WHERE tok <> ''),
        |h AS (SELECT lang,
        |    ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h FROM tk)
        |SELECT lang, h // 268435456 AS bucket,
        |  CAST(MAX(CASE WHEN h % 268435456 = 0 THEN 29
        |    ELSE 29 - length(bin(h % 268435456)) END) AS BIGINT) AS register
        |FROM h GROUP BY 1, 2 ORDER BY lang, bucket""".stripMargin,
    // KMV replay: bottom-16 distinct md5-60 hashes; the estimate widens
    // (k-1)*2^60 to HUGEINT before the floor division (Spark: decimal)
    "kv01_kmv_distinct" ->
      """WITH tk AS (SELECT tok FROM (
        |    SELECT unnest(string_split_regex(trim(lower(text)),
        |      '[ \t\n\x0B\f\r]+')) AS tok
        |    FROM documents) WHERE tok <> ''),
        |hs AS (SELECT DISTINCT
        |    ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM tk),
        |bk AS (SELECT h FROM hs ORDER BY h LIMIT 16)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_kept, MAX(h) AS kth_min,
        |  CASE WHEN COUNT(*) < 16 THEN CAST(COUNT(*) AS BIGINT)
        |    ELSE CAST(CAST(15 AS HUGEINT) * 1152921504606846976 // MAX(h)
        |      AS BIGINT) END AS est_distinct
        |FROM bk ORDER BY n_kept""".stripMargin,
    // kv02's oracle is kv01's FULL BATCH replay over the new snapshot —
    // the incremental==batch invariant for the count-only vocabulary
    // fold, enforced by hash
    "kv02_incremental_kmv" ->
      """WITH snap AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text
        |  FROM documents WHERE doc_id % 13 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text FROM documents
        |  WHERE doc_id % 11 = 0 AND doc_id % 13 <> 0),
        |tk AS (SELECT tok FROM (
        |    SELECT unnest(string_split_regex(trim(lower(text)),
        |      '[ \t\n\x0B\f\r]+')) AS tok
        |    FROM snap) WHERE tok <> ''),
        |hs AS (SELECT DISTINCT
        |    ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM tk),
        |bk AS (SELECT h FROM hs ORDER BY h LIMIT 16)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_kept, MAX(h) AS kth_min,
        |  CASE WHEN COUNT(*) < 16 THEN CAST(COUNT(*) AS BIGINT)
        |    ELSE CAST(CAST(15 AS HUGEINT) * 1152921504606846976 // MAX(h)
        |      AS BIGINT) END AS est_distinct
        |FROM bk ORDER BY n_kept""".stripMargin,
    // Count-Min cell replay: the same row-salted md5 family
    // ('cm<r>|' || tok), exact per-cell occurrence sums
    "cs01_countmin_cells" ->
      """WITH tk AS (SELECT tok FROM (
        |    SELECT unnest(string_split_regex(trim(lower(text)),
        |      '[ \t\n\x0B\f\r]+')) AS tok
        |    FROM documents) WHERE tok <> ''),
        |cells AS (SELECT rr.r,
        |    ('0x' || substr(md5('cm' || CAST(rr.r AS VARCHAR) || '|' || tok),
        |      1, 8))::BIGINT % 64 AS c
        |  FROM tk CROSS JOIN (SELECT unnest(range(4)) AS r) rr)
        |SELECT r, c, CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM cells GROUP BY 1, 2 ORDER BY r, c""".stripMargin,
    // hl03's oracle is the FULL BATCH register build (hl01's chain at
    // p=6: 2^26 remainder, rho base 27) over the new snapshot — the
    // incremental==batch invariant for the max fold, enforced by hash
    "hl03_incremental_hll" ->
      """WITH snap AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text
        |  FROM documents WHERE doc_id % 13 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text FROM documents
        |  WHERE doc_id % 11 = 0 AND doc_id % 13 <> 0),
        |tk AS (SELECT tok FROM (
        |    SELECT unnest(string_split_regex(trim(lower(text)),
        |      '[ \t\n\x0B\f\r]+')) AS tok
        |    FROM snap) WHERE tok <> ''),
        |h AS (SELECT ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h FROM tk)
        |SELECT h // 67108864 AS bucket,
        |  CAST(MAX(CASE WHEN h % 67108864 = 0 THEN 27
        |    ELSE 27 - length(bin(h % 67108864)) END) AS BIGINT) AS register
        |FROM h GROUP BY 1 ORDER BY bucket""".stripMargin,
    // cs03's oracle is cs01's FULL BATCH cell build over the new
    // snapshot — the incremental==batch invariant for the additive
    // cell fold, enforced by hash
    "cs03_incremental_countmin" ->
      """WITH snap AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text
        |  FROM documents WHERE doc_id % 13 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text FROM documents
        |  WHERE doc_id % 11 = 0 AND doc_id % 13 <> 0),
        |tk AS (SELECT tok FROM (
        |    SELECT unnest(string_split_regex(trim(lower(text)),
        |      '[ \t\n\x0B\f\r]+')) AS tok
        |    FROM snap) WHERE tok <> ''),
        |cells AS (SELECT rr.r,
        |    ('0x' || substr(md5('cm' || CAST(rr.r AS VARCHAR) || '|' || tok),
        |      1, 8))::BIGINT % 64 AS c
        |  FROM tk CROSS JOIN (SELECT unnest(range(4)) AS r) rr)
        |SELECT r, c, CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM cells GROUP BY 1, 2 ORDER BY r, c""".stripMargin,
    // point-query replay: min over the probe's d cells (0 when empty),
    // exact counts joined back (0 for the absent probe)
    "cs02_countmin_point" ->
      """WITH tk AS (SELECT tok FROM (
        |    SELECT unnest(string_split_regex(trim(lower(text)),
        |      '[ \t\n\x0B\f\r]+')) AS tok
        |    FROM documents) WHERE tok <> ''),
        |cells AS (SELECT rr.r,
        |    ('0x' || substr(md5('cm' || CAST(rr.r AS VARCHAR) || '|' || tok),
        |      1, 8))::BIGINT % 64 AS c, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM tk CROSS JOIN (SELECT unnest(range(4)) AS r) rr
        |  GROUP BY 1, 2),
        |probes AS (SELECT unnest(
        |    ['graftabsent', 'merge', 'spark', 'table']) AS tok),
        |pc AS (SELECT p.tok, rr.r,
        |    ('0x' || substr(md5('cm' || CAST(rr.r AS VARCHAR) || '|' ||
        |      p.tok), 1, 8))::BIGINT % 64 AS c
        |  FROM probes p CROSS JOIN (SELECT unnest(range(4)) AS r) rr),
        |est AS (SELECT pc.tok, MIN(coalesce(cl.cnt, 0)) AS est
        |  FROM pc LEFT JOIN cells cl ON cl.r = pc.r AND cl.c = pc.c
        |  GROUP BY 1),
        |ex AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS exact
        |  FROM tk GROUP BY tok)
        |SELECT e.tok, CAST(e.est AS BIGINT) AS est,
        |  coalesce(x.exact, 0) AS exact
        |FROM est e LEFT JOIN ex x USING (tok)
        |ORDER BY e.tok""".stripMargin,
    // Gopher battery replay: identical counters (length-difference
    // substring counts, list lambdas, chr(10) line split) and the same
    // exact cross-multiplied thresholds — no float ratio anywhere
    // bottom-k source-similarity replay: same md5-60 hash family as
    // kv01; the naive per-source ORDER BY h LIMIT-k window replays the
    // engine's exact two-level salted min-k (min-k over bucket min-k's
    // is the global min-k)
    "ss01_source_jaccard" ->
      """WITH tk AS (SELECT src, tok FROM (
        |    SELECT CAST(doc_id % 7 AS VARCHAR) AS src,
        |      unnest(string_split_regex(trim(lower(text)),
        |        '[ \t\n\x0B\f\r]+')) AS tok
        |    FROM documents) WHERE tok <> ''),
        |hs AS (SELECT DISTINCT src,
        |    ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM tk),
        |sig AS (SELECT src, h FROM (
        |    SELECT src, h,
        |      row_number() OVER (PARTITION BY src ORDER BY h) AS rk
        |    FROM hs) WHERE rk <= 64),
        |srcs AS (SELECT DISTINCT src FROM sig),
        |prs AS (SELECT a.src AS src_a, b.src AS src_b
        |  FROM srcs a, srcs b WHERE a.src < b.src),
        |m AS (SELECT src_a, src_b, h,
        |    MAX(in_a) AS in_a, MAX(in_b) AS in_b FROM (
        |    SELECT p.src_a, p.src_b, s.h, 1 AS in_a, 0 AS in_b
        |    FROM prs p JOIN sig s ON s.src = p.src_a
        |    UNION ALL
        |    SELECT p.src_a, p.src_b, s.h, 0 AS in_a, 1 AS in_b
        |    FROM prs p JOIN sig s ON s.src = p.src_b)
        |  GROUP BY 1, 2, 3),
        |r AS (SELECT src_a, src_b, h, in_a, in_b,
        |    row_number() OVER (PARTITION BY src_a, src_b ORDER BY h) AS rk
        |  FROM m)
        |SELECT src_a, src_b, CAST(COUNT(*) AS BIGINT) AS union_kept,
        |  CAST(SUM(CASE WHEN in_a + in_b = 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS inter_k,
        |  CAST((SUM(CASE WHEN in_a + in_b = 2 THEN 1 ELSE 0 END) * 1000000)
        |    // COUNT(*) AS BIGINT) AS est_jaccard_micro,
        |  COUNT(*) < 64 AS exact
        |FROM r WHERE rk <= 64
        |GROUP BY 1, 2 ORDER BY src_a, src_b""".stripMargin,
    // containment replay: identical merged-bottom-k CTE chain as ss01,
    // directional ratio aggregates instead of the symmetric one
    "ct01_source_containment" ->
      """WITH tk AS (SELECT src, tok FROM (
        |    SELECT CAST(doc_id % 7 AS VARCHAR) AS src,
        |      unnest(string_split_regex(trim(lower(text)),
        |        '[ \t\n\x0B\f\r]+')) AS tok
        |    FROM documents) WHERE tok <> ''),
        |hs AS (SELECT DISTINCT src,
        |    ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM tk),
        |sig AS (SELECT src, h FROM (
        |    SELECT src, h,
        |      row_number() OVER (PARTITION BY src ORDER BY h) AS rk
        |    FROM hs) WHERE rk <= 64),
        |srcs AS (SELECT DISTINCT src FROM sig),
        |prs AS (SELECT a.src AS src_a, b.src AS src_b
        |  FROM srcs a, srcs b WHERE a.src < b.src),
        |m AS (SELECT src_a, src_b, h,
        |    MAX(in_a) AS in_a, MAX(in_b) AS in_b FROM (
        |    SELECT p.src_a, p.src_b, s.h, 1 AS in_a, 0 AS in_b
        |    FROM prs p JOIN sig s ON s.src = p.src_a
        |    UNION ALL
        |    SELECT p.src_a, p.src_b, s.h, 0 AS in_a, 1 AS in_b
        |    FROM prs p JOIN sig s ON s.src = p.src_b)
        |  GROUP BY 1, 2, 3),
        |r AS (SELECT src_a, src_b, h, in_a, in_b,
        |    row_number() OVER (PARTITION BY src_a, src_b ORDER BY h) AS rk
        |  FROM m)
        |SELECT src_a, src_b,
        |  CAST(SUM(in_a) AS BIGINT) AS a_kept,
        |  CAST(SUM(in_b) AS BIGINT) AS b_kept,
        |  CAST(SUM(CASE WHEN in_a + in_b = 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS inter_k,
        |  CAST(CASE WHEN SUM(in_a) = 0 THEN 0 ELSE
        |    (SUM(CASE WHEN in_a + in_b = 2 THEN 1 ELSE 0 END) * 1000000)
        |      // SUM(in_a) END AS BIGINT) AS containment_a_micro,
        |  CAST(CASE WHEN SUM(in_b) = 0 THEN 0 ELSE
        |    (SUM(CASE WHEN in_a + in_b = 2 THEN 1 ELSE 0 END) * 1000000)
        |      // SUM(in_b) END AS BIGINT) AS containment_b_micro,
        |  COUNT(*) < 64 AS exact
        |FROM r WHERE rk <= 64
        |GROUP BY 1, 2 ORDER BY src_a, src_b""".stripMargin,
    // URL-lane replay: identical synthesized URL (residue CASEs), then
    // the canonicalization chain clause by clause. All regexes are
    // RE2/Java-identical and every regexp_replace is ^/$-anchored
    // single-match, so DuckDB's replace-first equals Spark's
    // replace-all. regexp_extract returns '' on no match in BOTH
    // engines (probed), so '' is the absent-part sentinel throughout.
    // The unreserved-escape decode (p3b) is [[sqlDecodeUnreserved]] —
    // an independent DuckDB re-expression of the same single-pass
    // split-on-'%' replay the engine's decodeUnreservedEscapes uses
    // (only the RFC 3986 unreserved-character class is shared, as a
    // regex literal in both).
    "url01_canonical_urls" ->
      s"""WITH u AS (SELECT doc_id,
        |  ${sqlSynthUrl(escapes = true)} AS url FROM documents),
        |p1 AS (SELECT doc_id,
        |  lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |  regexp_replace(regexp_replace(url,
        |    '^[A-Za-z][A-Za-z0-9+.-]*://', ''), '#.*$$', '') AS rest
        |  FROM u),
        |p2 AS (SELECT doc_id, scheme,
        |  lower(regexp_replace(regexp_extract(rest, '^([^/?]*)', 1),
        |    '^.*@', '')) AS hostport,
        |  regexp_replace(rest, '^[^/?]*', '') AS pq
        |  FROM p1),
        |p3 AS (SELECT doc_id, scheme,
        |  CASE WHEN scheme = '' THEN ''
        |       ELSE regexp_replace(regexp_replace(hostport,
        |         ':[0-9]*$$', ''), '\\.+$$', '') END AS host,
        |  regexp_extract(hostport, ':([0-9]+)$$', 1) AS port,
        |  regexp_extract(pq, '^([^?]*)', 1) AS rawpath,
        |  regexp_extract(pq, '\\?(.*)$$', 1) AS rawq
        |  FROM p2),
        |p3b AS (SELECT doc_id, scheme, host, port,
        |  ${sqlDecodeUnreserved("rawpath")} AS dpath,
        |  ${sqlDecodeUnreserved("rawq")} AS dq
        |  FROM p3),
        |p4 AS (SELECT doc_id, scheme, host, port,
        |  CASE WHEN regexp_replace(dpath, '/+$$', '') = '' THEN '/'
        |       ELSE regexp_replace(dpath, '/+$$', '') END AS path,
        |  array_to_string(list_filter(string_split(dq, '&'),
        |    p -> p <> '' AND NOT regexp_matches(lower(p),
        |      '^(utm_[a-z0-9_]*|fbclid|gclid|msclkid|mc_eid|igshid|ref|ref_src)(=.*)?$$')),
        |    '&') AS q
        |  FROM p3b)
        |SELECT doc_id,
        |  CASE WHEN scheme = '' OR host = '' THEN NULL
        |  ELSE scheme || '://' || host
        |    || (CASE WHEN TRY_CAST(port AS INTEGER) IS NOT NULL
        |         AND NOT (scheme = 'http' AND TRY_CAST(port AS INTEGER) = 80)
        |         AND NOT (scheme = 'https' AND TRY_CAST(port AS INTEGER) = 443)
        |        THEN ':' || CAST(TRY_CAST(port AS INTEGER) AS VARCHAR)
        |        ELSE '' END)
        |    || path || (CASE WHEN q <> '' THEN '?' || q ELSE '' END)
        |  END AS url_canon,
        |  host,
        |  CASE WHEN scheme = '' OR host = '' THEN NULL
        |    ELSE ${sqlRegisteredDomain("host")} END AS domain
        |FROM p4 ORDER BY doc_id""".stripMargin,
    // keep-first-by-id per canonical URL; null canonicals never group
    "url02_url_dedup" ->
      (s"""WITH u AS (SELECT doc_id,
        |  ${sqlSynthUrl(escapes = false)} AS url FROM documents),
        |""" +
      """p1 AS (SELECT doc_id,
        |  lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |  regexp_replace(regexp_replace(url,
        |    '^[A-Za-z][A-Za-z0-9+.-]*://', ''), '#.*$', '') AS rest
        |  FROM u),
        |p2 AS (SELECT doc_id, scheme,
        |  lower(regexp_replace(regexp_extract(rest, '^([^/?]*)', 1),
        |    '^.*@', '')) AS hostport,
        |  regexp_replace(rest, '^[^/?]*', '') AS pq
        |  FROM p1),
        |p3 AS (SELECT doc_id, scheme,
        |  CASE WHEN scheme = '' THEN ''
        |       ELSE regexp_replace(regexp_replace(hostport,
        |         ':[0-9]*$', ''), '\.+$', '') END AS host,
        |  regexp_extract(hostport, ':([0-9]+)$', 1) AS port,
        |  regexp_extract(pq, '^([^?]*)', 1) AS rawpath,
        |  regexp_extract(pq, '\?(.*)$', 1) AS rawq
        |  FROM p2),
        |p4 AS (SELECT doc_id, scheme, host, port,
        |  CASE WHEN regexp_replace(rawpath, '/+$', '') = '' THEN '/'
        |       ELSE regexp_replace(rawpath, '/+$', '') END AS path,
        |  array_to_string(list_filter(string_split(rawq, '&'),
        |    p -> p <> '' AND NOT regexp_matches(lower(p),
        |      '^(utm_[a-z0-9_]*|fbclid|gclid|msclkid|mc_eid|igshid|ref|ref_src)(=.*)?$')),
        |    '&') AS q
        |  FROM p3),
        |c AS (SELECT doc_id,
        |  CASE WHEN scheme = '' OR host = '' THEN NULL
        |  ELSE scheme || '://' || host
        |    || (CASE WHEN TRY_CAST(port AS INTEGER) IS NOT NULL
        |         AND NOT (scheme = 'http' AND TRY_CAST(port AS INTEGER) = 80)
        |         AND NOT (scheme = 'https' AND TRY_CAST(port AS INTEGER) = 443)
        |        THEN ':' || CAST(TRY_CAST(port AS INTEGER) AS VARCHAR)
        |        ELSE '' END)
        |    || path || (CASE WHEN q <> '' THEN '?' || q ELSE '' END)
        |  END AS url_canon
        |  FROM p4)
        |SELECT * FROM (
        |  SELECT min(doc_id) AS doc_id, url_canon,
        |    CAST(count(*) AS BIGINT) AS n_copies
        |  FROM c WHERE url_canon IS NOT NULL GROUP BY url_canon
        |  UNION ALL
        |  SELECT doc_id, url_canon, CAST(1 AS BIGINT)
        |  FROM c WHERE url_canon IS NULL)
        |ORDER BY doc_id""").stripMargin,
    // per-domain min-k replay: the naive PARTITION BY domain ORDER BY
    // hash window replays the engine's exact two-level salted min-k
    // (min-k over bucket min-k's is the global min-k — sp06's argument)
    "url03_domain_cap" ->
      (s"""WITH u AS (SELECT doc_id,
        |  ${sqlSynthUrl(escapes = false)} AS url FROM documents),
        |""" +
      """p1 AS (SELECT doc_id,
        |  lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |  regexp_replace(regexp_replace(url,
        |    '^[A-Za-z][A-Za-z0-9+.-]*://', ''), '#.*$', '') AS rest
        |  FROM u),
        |p2 AS (SELECT doc_id, scheme,
        |  lower(regexp_replace(regexp_extract(rest, '^([^/?]*)', 1),
        |    '^.*@', '')) AS hostport
        |  FROM p1),
        |p3 AS (SELECT doc_id, scheme,
        |  CASE WHEN scheme = '' THEN ''
        |       ELSE regexp_replace(regexp_replace(hostport,
        |         ':[0-9]*$', ''), '\.+$', '') END AS host
        |  FROM p2),
        |d AS (SELECT doc_id,
        |  CASE WHEN scheme = '' OR host = '' THEN NULL
        |""" +
      s"""    ELSE ${sqlRegisteredDomain("host")} END AS domain
        |""" +
      """  FROM p3),
        |h AS (SELECT domain, doc_id,
        |    substr(md5(CAST(doc_id AS VARCHAR) || '-url03'), 1, 8) AS hh
        |  FROM d WHERE domain IS NOT NULL),
        |r AS (SELECT domain, doc_id,
        |    CAST(row_number() OVER (PARTITION BY domain ORDER BY hh, doc_id)
        |      AS BIGINT) AS sample_rank
        |  FROM h)
        |SELECT domain, doc_id, sample_rank FROM r WHERE sample_rank <= 5
        |ORDER BY domain, sample_rank""").stripMargin,
    // incremental-cap oracle: url03's BATCH replay over the NEW
    // snapshot (%10==9 dropped; %10==3 present) with the '-url06'
    // salt — the Spark side maintains the same answer incrementally
    // from the old snapshot's stored tables
    "url06_incremental_cap" ->
      (s"""WITH u AS (SELECT doc_id,
        |  ${sqlSynthUrl(escapes = false)} AS url FROM documents
        |  WHERE doc_id % 10 <> 9),
        |""" +
      """p1 AS (SELECT doc_id,
        |  lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |  regexp_replace(regexp_replace(url,
        |    '^[A-Za-z][A-Za-z0-9+.-]*://', ''), '#.*$', '') AS rest
        |  FROM u),
        |p2 AS (SELECT doc_id, scheme,
        |  lower(regexp_replace(regexp_extract(rest, '^([^/?]*)', 1),
        |    '^.*@', '')) AS hostport
        |  FROM p1),
        |p3 AS (SELECT doc_id, scheme,
        |  CASE WHEN scheme = '' THEN ''
        |       ELSE regexp_replace(regexp_replace(hostport,
        |         ':[0-9]*$', ''), '\.+$', '') END AS host
        |  FROM p2),
        |d AS (SELECT doc_id,
        |  CASE WHEN scheme = '' OR host = '' THEN NULL
        |""" +
      s"""    ELSE ${sqlRegisteredDomain("host")} END AS domain
        |""" +
      """  FROM p3),
        |h AS (SELECT domain, doc_id,
        |    substr(md5(CAST(doc_id AS VARCHAR) || '-url06'), 1, 8) AS hh
        |  FROM d WHERE domain IS NOT NULL),
        |r AS (SELECT domain, doc_id,
        |    CAST(row_number() OVER (PARTITION BY domain ORDER BY hh, doc_id)
        |      AS BIGINT) AS sample_rank
        |  FROM h)
        |SELECT domain, doc_id, sample_rank FROM r WHERE sample_rank <= 5
        |ORDER BY domain, sample_rank""").stripMargin,
    // web-pipeline replay: url05's rule chain (url_pass), ht01's
    // extraction chain (clean), cu01's quality formula, keep-first
    // group among passers — every stage interaction replayed
    "wp01_web_pipeline" ->
      (sqlWebPipelineCtes + "\n" +
      """SELECT r.doc_id, r.url_pass,
        |  coalesce(r.url_pass AND r.doc_id = k.keep_id, FALSE)
        |    AS is_canonical,
        |  qt.n_tokens_clean, qt.quality,
        |  (coalesce(r.url_pass AND r.doc_id = k.keep_id, FALSE)
        |    AND qt.n_tokens_clean >= 10 AND qt.quality >= 20)
        |    AS final_keep
        |FROM rr r JOIN qt USING (doc_id)
        |LEFT JOIN k ON r.url_canon = k.url_canon
        |ORDER BY r.doc_id""".stripMargin),
    // acquire-side tail replay: wp01's keepers, then the engine's
    // urlHost/registeredDomain chain over the canonical, url03's
    // salted min-k window as the cap, and the mixture aggregates; the
    // ids_md5 over the sorted capped ids pins the exact surviving set
    "wp02_web_acquire" ->
      (sqlWebPipelineCtes + ",\n" +
      s"""kp AS (SELECT r.doc_id, r.url_canon, qt.n_tokens_clean
        |  FROM rr r JOIN qt USING (doc_id)
        |  LEFT JOIN k ON r.url_canon = k.url_canon
        |  WHERE coalesce(r.url_pass AND r.doc_id = k.keep_id, FALSE)
        |    AND qt.n_tokens_clean >= 10 AND qt.quality >= 20),
        |hs AS (SELECT doc_id, n_tokens_clean,
        |  regexp_replace(regexp_replace(lower(regexp_replace(
        |    regexp_extract(regexp_replace(regexp_replace(url_canon,
        |      '^[A-Za-z][A-Za-z0-9+.-]*://', ''), '#.*$$', ''),
        |    '^([^/?]*)', 1), '^.*@', '')),
        |    ':[0-9]*$$', ''), '\\.+$$', '') AS host
        |  FROM kp),
        |dmn AS (SELECT doc_id, n_tokens_clean,
        |    ${sqlRegisteredDomain("host")} AS domain
        |  FROM hs),
        |cap AS (SELECT domain, doc_id, n_tokens_clean,
        |    row_number() OVER (PARTITION BY domain ORDER BY
        |      substr(md5(CAST(doc_id AS VARCHAR) || '-wp02'), 1, 8),
        |      doc_id) AS rk
        |  FROM dmn),
        |kc AS (SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_kept
        |  FROM dmn GROUP BY domain),
        |cp AS (SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_capped,
        |    CAST(SUM(n_tokens_clean) AS BIGINT) AS n_tokens,
        |    md5(array_to_string(list_sort(list(doc_id)), ',')) AS ids_md5
        |  FROM cap WHERE rk <= 3 GROUP BY domain),
        |t2 AS (SELECT SUM(n_tokens) AS tot FROM cp)
        |SELECT cp.domain, kc.n_kept, cp.n_capped, cp.n_tokens,
        |  CAST(CASE WHEN t2.tot = 0 THEN 0
        |    ELSE (cp.n_tokens * 1000) // t2.tot END AS BIGINT)
        |    AS token_permille,
        |  cp.ids_md5
        |FROM cp JOIN kc USING (domain) CROSS JOIN t2
        |ORDER BY cp.domain""".stripMargin),
    // URL-filter replay: the synth is already canonical, so canon is
    // the unparseable CASE; counters/rules recompute with the same
    // path/query regexes and exact integer comparisons
    "url05_url_filters" ->
      (s"""WITH u AS (SELECT doc_id,
        |  $sqlSynthFilterUrl AS url FROM documents),
        |""" +
      """c AS (SELECT doc_id,
        |  CASE WHEN doc_id % 17 = 0 THEN NULL ELSE url END AS url_canon
        |  FROM u),
        |p AS (SELECT doc_id, url_canon,
        |  regexp_extract(regexp_replace(url_canon,
        |    '^[a-z0-9+.-]+://[^/?]*', ''), '^([^?]*)', 1) AS path,
        |  regexp_extract(regexp_replace(url_canon,
        |    '^[a-z0-9+.-]+://[^/?]*', ''), '\?(.*)$', 1) AS q
        |  FROM c),
        |s AS (SELECT doc_id, url_canon, path,
        |  CAST(CASE WHEN url_canon IS NULL THEN 0
        |    WHEN path IN ('/', '') THEN 0
        |    ELSE length(path) - length(replace(path, '/', '')) END
        |    AS BIGINT) AS n_path_segments,
        |  CAST(CASE WHEN url_canon IS NULL THEN 0 WHEN q = '' THEN 0
        |    ELSE length(q) - length(replace(q, '&', '')) + 1 END
        |    AS BIGINT) AS n_params,
        |  CAST(CASE WHEN url_canon IS NULL THEN 0
        |    ELSE length(regexp_replace(path, '[^0-9]', '', 'g')) END
        |    AS BIGINT) AS n_path_digits,
        |  CAST(CASE WHEN url_canon IS NULL THEN 0 ELSE length(path) END
        |    AS BIGINT) AS n_path_chars
        |  FROM p),
        |r AS (SELECT doc_id, url_canon, n_path_segments, n_params,
        |  n_path_digits, n_path_chars,
        |  (url_canon IS NOT NULL AND NOT regexp_matches(lower(path),
        |    '\.(jpg|jpeg|png|gif|webp|svg|ico|css|js|woff2?|zip|gz|tar|rar|exe|dmg|iso|mp3|mp4|avi|mov|pdf|xml|rss)$'))
        |    AS r_extension,
        |  (url_canon IS NOT NULL AND length(url_canon) <= 200) AS r_length,
        |  (url_canon IS NOT NULL AND n_path_segments <= 8) AS r_path_depth,
        |  (url_canon IS NOT NULL AND n_params <= 4) AS r_params,
        |  (url_canon IS NOT NULL AND n_path_digits * 2 <= n_path_chars)
        |    AS r_digits,
        |  (url_canon IS NOT NULL AND NOT regexp_matches(lower(url_canon),
        |    '(porn|xxx|casino|viagra|escort)')) AS r_blocklist
        |  FROM s)
        |SELECT doc_id, url_canon, n_path_segments, n_params,
        |  n_path_digits, n_path_chars, r_extension, r_length,
        |  r_path_depth, r_params, r_digits, r_blocklist,
        |  (r_extension AND r_length AND r_path_depth AND r_params
        |    AND r_digits AND r_blocklist) AS keep
        |FROM r ORDER BY doc_id""").stripMargin,
    // domain-mixture replay: url03's domain CTE + mw01's share table
    "url04_domain_mixture" ->
      (s"""WITH u AS (SELECT doc_id, text,
        |  ${sqlSynthUrl(escapes = false)} AS url FROM documents),
        |""" +
      """p1 AS (SELECT doc_id, text,
        |  lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |  regexp_replace(regexp_replace(url,
        |    '^[A-Za-z][A-Za-z0-9+.-]*://', ''), '#.*$', '') AS rest
        |  FROM u),
        |p2 AS (SELECT doc_id, text, scheme,
        |  lower(regexp_replace(regexp_extract(rest, '^([^/?]*)', 1),
        |    '^.*@', '')) AS hostport
        |  FROM p1),
        |p3 AS (SELECT doc_id, text, scheme,
        |  CASE WHEN scheme = '' THEN ''
        |       ELSE regexp_replace(regexp_replace(hostport,
        |         ':[0-9]*$', ''), '\.+$', '') END AS host
        |  FROM p2),
        |dm AS (SELECT doc_id, text,
        |  CASE WHEN scheme = '' OR host = '' THEN NULL
        |""" +
      s"""    ELSE ${sqlRegisteredDomain("host")} END AS domain
        |""" +
      """  FROM p3),
        |g AS (SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(len(list_filter(string_split_regex(trim(lower(text)),
        |      '[ \t\n\x0B\f\r]+'), t -> t <> ''))) AS BIGINT) AS n_tokens,
        |    CAST(SUM(length(text)) AS BIGINT) AS n_chars
        |  FROM dm WHERE domain IS NOT NULL GROUP BY domain),
        |t AS (SELECT SUM(n_tokens) AS tot FROM g)
        |SELECT domain, n_docs, n_tokens, n_chars,
        |  CAST(CASE WHEN t.tot = 0 THEN 0
        |    ELSE (n_tokens * 1000) // t.tot END AS BIGINT) AS token_permille
        |FROM g CROSS JOIN t ORDER BY domain""").stripMargin,
    // incremental-mixture oracle: url04's BATCH replay over the NEW
    // snapshot (%10==9 dropped, %10==7 text appended) — the Spark side
    // folds the same answer additively from the old snapshot's stored
    // totals
    "mw04_incremental_mixture" ->
      (s"""WITH u AS (SELECT doc_id,
        |  CASE WHEN doc_id % 10 = 7 THEN text || ' updated rev'
        |    ELSE text END AS text,
        |  ${sqlSynthUrl(escapes = false)} AS url FROM documents
        |  WHERE doc_id % 10 <> 9),
        |""" +
      """p1 AS (SELECT doc_id, text,
        |  lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |  regexp_replace(regexp_replace(url,
        |    '^[A-Za-z][A-Za-z0-9+.-]*://', ''), '#.*$', '') AS rest
        |  FROM u),
        |p2 AS (SELECT doc_id, text, scheme,
        |  lower(regexp_replace(regexp_extract(rest, '^([^/?]*)', 1),
        |    '^.*@', '')) AS hostport
        |  FROM p1),
        |p3 AS (SELECT doc_id, text, scheme,
        |  CASE WHEN scheme = '' THEN ''
        |       ELSE regexp_replace(regexp_replace(hostport,
        |         ':[0-9]*$', ''), '\.+$', '') END AS host
        |  FROM p2),
        |dm AS (SELECT doc_id, text,
        |  CASE WHEN scheme = '' OR host = '' THEN NULL
        |""" +
      s"""    ELSE ${sqlRegisteredDomain("host")} END AS domain
        |""" +
      """  FROM p3),
        |g AS (SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(len(list_filter(string_split_regex(trim(lower(text)),
        |      '[ \t\n\x0B\f\r]+'), t -> t <> ''))) AS BIGINT) AS n_tokens,
        |    CAST(SUM(length(text)) AS BIGINT) AS n_chars
        |  FROM dm WHERE domain IS NOT NULL GROUP BY domain),
        |t AS (SELECT SUM(n_tokens) AS tot FROM g)
        |SELECT domain, n_docs, n_tokens, n_chars,
        |  CAST(CASE WHEN t.tot = 0 THEN 0
        |    ELSE (n_tokens * 1000) // t.tot END AS BIGINT) AS token_permille
        |FROM g CROSS JOIN t ORDER BY domain""").stripMargin,
    // HTML-extraction replay: identical synthesized markup, then the
    // six contract clauses in order; every regexp_replace carries 'g'
    // (Spark's replace is always global) and the block-tag whitespace
    // class is explicit (Java/RE2 \s disagree on \x0B)
    // robots replay: identical url/robots synths, then the parse chain
    // (line explode with positions, directive extraction, lag/sum group
    // windows, group selection) and the gate (escape-fold regex match,
    // longest-rule-wins with allow on ties, default allow)
    "rb01_robots_gate" ->
      ("""WITH u AS (SELECT doc_id,
        |  'site' || CAST(doc_id % 5 AS VARCHAR) AS dom,
        |  CASE WHEN doc_id % 7 = 0 THEN '/private/ok/p' || CAST(doc_id % 6 AS VARCHAR)
        |    WHEN doc_id % 3 = 0 THEN '/private/p' || CAST(doc_id % 6 AS VARCHAR)
        |    WHEN doc_id % 11 = 0 THEN '/docs/page' || CAST(doc_id % 9 AS VARCHAR) || '.html'
        |    WHEN doc_id % 13 = 0 THEN '/docs/page' || CAST(doc_id % 9 AS VARCHAR) || '.html?x=1'
        |    WHEN doc_id % 17 = 0 THEN '/xannotated'
        |    WHEN doc_id % 2 = 0 THEN '/x' || CAST(doc_id % 4 AS VARCHAR) || 'y'
        |    ELSE '/public/p' || CAST(doc_id % 10 AS VARCHAR) END AS path
        |  FROM documents),
        |rb AS (SELECT dom, CASE dom
        |    WHEN 'site1' THEN 'User-agent: *' || chr(10) || 'Disallow: /private' || chr(10) || 'Allow: /private/ok'
        |    WHEN 'site2' THEN 'User-agent: graftbot' || chr(10) || 'Disallow: /docs/*.html$' || chr(10) || 'User-agent: *' || chr(10) || 'Disallow: /'
        |    WHEN 'site3' THEN 'User-agent: alpha' || chr(10) || 'User-agent: graftbot' || chr(10) || 'Disallow: /x*y' || chr(10) || 'Allow: /xa' || chr(10) || '# c' || chr(10) || 'Disallow:'
        |    WHEN 'site4' THEN 'User-agent: otherbot' || chr(10) || 'Disallow: /'
        |    ELSE NULL END AS robots
        |  FROM (SELECT DISTINCT dom FROM u)),
        |ln AS (SELECT dom, t.pos,
        |    regexp_replace(regexp_replace(regexp_replace(t.raw,
        |      '\r$', ''), '#.*$', ''), '^[ \t]+|[ \t]+$', '', 'g') AS line
        |  FROM rb, LATERAL (SELECT
        |    unnest(string_split(coalesce(robots, ''), chr(10))) AS raw,
        |    generate_subscripts(string_split(coalesce(robots, ''), chr(10)), 1) AS pos) t),
        |kv AS (SELECT dom, pos,
        |    lower(regexp_extract(line, '^([A-Za-z-]+)[ \t]*:', 1)) AS key,
        |    regexp_replace(regexp_extract(line,
        |      '^[A-Za-z-]+[ \t]*:[ \t]*(.*)$', 1), '[ \t]+$', '') AS value
        |  FROM ln WHERE line <> ''),
        |kv2 AS (SELECT * FROM kv
        |  WHERE key IN ('user-agent', 'allow', 'disallow')),
        |g1 AS (SELECT dom, pos, key, value,
        |    lag(key) OVER (PARTITION BY dom ORDER BY pos) AS prev_key
        |  FROM kv2),
        |g2 AS (SELECT dom, pos, key, value,
        |    SUM(CASE WHEN key = 'user-agent'
        |      AND (prev_key IS NULL OR prev_key <> 'user-agent')
        |      THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY dom ORDER BY pos ROWS UNBOUNDED PRECEDING)
        |      AS gid
        |  FROM g1),
        |gr AS (SELECT dom, gid,
        |    MAX(CASE WHEN lower(value) = 'graftbot' THEN 1 ELSE 0 END) AS has_agent,
        |    MAX(CASE WHEN value = '*' THEN 1 ELSE 0 END) AS has_star
        |  FROM g2 WHERE key = 'user-agent' GROUP BY dom, gid),
        |da AS (SELECT dom, MAX(has_agent) AS dom_has FROM gr GROUP BY dom),
        |sel AS (SELECT gr.dom, gr.gid FROM gr JOIN da USING (dom)
        |  WHERE CASE WHEN da.dom_has = 1 THEN gr.has_agent = 1
        |    ELSE gr.has_star = 1 END),
        |rl AS (SELECT g2.dom, value AS pattern,
        |    (key = 'allow') AS is_allow,
        |    CAST(strlen(value) AS BIGINT) AS plen,
        |""" +
      s"""    ${sqlRobotsRx("value")} AS rx
        |""" +
      """  FROM g2 JOIN sel ON g2.dom = sel.dom AND g2.gid = sel.gid
        |  WHERE key IN ('allow', 'disallow') AND g2.gid > 0 AND value <> ''),
        |mt AS (SELECT u.doc_id, u.dom, r.plen, r.is_allow
        |  FROM u LEFT JOIN rl r
        |    ON u.dom = r.dom AND regexp_matches(u.path, r.rx)),
        |ag AS (SELECT doc_id, dom,
        |    MAX(plen * 2 + CASE WHEN is_allow THEN 1 ELSE 0 END) AS wkey,
        |    CAST(COUNT(plen) AS BIGINT) AS n_matched
        |  FROM mt GROUP BY doc_id, dom)
        |SELECT doc_id, dom AS domain,
        |  coalesce(wkey % 2 = 1, TRUE) AS allowed,
        |  CAST(wkey // 2 AS BIGINT) AS winner_len,
        |  n_matched
        |FROM ag ORDER BY doc_id""").stripMargin,
    // robots-meta replay: the same line/kv parse, DELAY-side grouping
    // with crawl-delay as a member record (it ends a UA run), clause-4
    // group selection, range-guarded TRY_CAST + floor-to-ms + the
    // conservative MAX; sitemaps sorted distinct, group-independent
    "rb02_robots_meta" ->
      ("""WITH d AS (SELECT DISTINCT
        |    'site' || CAST(doc_id % 5 AS VARCHAR) AS dom FROM documents),
        |rb AS (SELECT dom, CASE dom
        |    WHEN 'site1' THEN 'User-agent: *' || chr(10) || 'Crawl-delay: 1.5' || chr(10) || 'Disallow: /a' || chr(10) || 'Sitemap: https://site1.example/sm.xml'
        |    WHEN 'site2' THEN 'User-agent: graftbot' || chr(10) || 'Crawl-delay: 2' || chr(10) || 'User-agent: *' || chr(10) || 'Crawl-delay: 9'
        |    WHEN 'site3' THEN 'User-agent: otherbot' || chr(10) || 'Crawl-delay: 3' || chr(10) || 'Sitemap: https://site3.example/b.xml' || chr(10) || 'Sitemap: https://site3.example/a.xml'
        |    WHEN 'site4' THEN 'User-agent: graftbot' || chr(10) || 'Crawl-delay: bogus' || chr(10) || 'User-agent: alpha' || chr(10) || 'Crawl-delay: 0.25' || chr(10) || 'User-agent: graftbot' || chr(10) || 'Disallow: /z'
        |    ELSE NULL END AS robots
        |  FROM d),
        |ln AS (SELECT dom, t.pos,
        |    regexp_replace(regexp_replace(regexp_replace(t.raw,
        |      '\r$', ''), '#.*$', ''), '^[ \t]+|[ \t]+$', '', 'g') AS line
        |  FROM rb, LATERAL (SELECT
        |    unnest(string_split(coalesce(robots, ''), chr(10))) AS raw,
        |    generate_subscripts(string_split(coalesce(robots, ''), chr(10)), 1) AS pos) t),
        |kva AS (SELECT dom, pos,
        |    lower(regexp_extract(line, '^([A-Za-z-]+)[ \t]*:', 1)) AS key,
        |    regexp_replace(regexp_extract(line,
        |      '^[A-Za-z-]+[ \t]*:[ \t]*(.*)$', 1), '[ \t]+$', '') AS value
        |  FROM ln WHERE line <> ''),
        |kv4 AS (SELECT * FROM kva
        |  WHERE key IN ('user-agent', 'allow', 'disallow', 'crawl-delay')),
        |g1 AS (SELECT dom, pos, key, value,
        |    lag(key) OVER (PARTITION BY dom ORDER BY pos) AS prev_key
        |  FROM kv4),
        |g2 AS (SELECT dom, pos, key, value,
        |    SUM(CASE WHEN key = 'user-agent'
        |      AND (prev_key IS NULL OR prev_key <> 'user-agent')
        |      THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY dom ORDER BY pos ROWS UNBOUNDED PRECEDING)
        |      AS gid
        |  FROM g1),
        |gr AS (SELECT dom, gid,
        |    MAX(CASE WHEN lower(value) = 'graftbot' THEN 1 ELSE 0 END) AS has_agent,
        |    MAX(CASE WHEN value = '*' THEN 1 ELSE 0 END) AS has_star
        |  FROM g2 WHERE key = 'user-agent' GROUP BY dom, gid),
        |da AS (SELECT dom, MAX(has_agent) AS dom_has FROM gr GROUP BY dom),
        |sel AS (SELECT gr.dom, gr.gid FROM gr JOIN da USING (dom)
        |  WHERE CASE WHEN da.dom_has = 1 THEN gr.has_agent = 1
        |    ELSE gr.has_star = 1 END),
        |cd AS (SELECT g2.dom,
        |    MAX(CAST(floor(TRY_CAST(value AS DOUBLE) * 1000) AS BIGINT))
        |      AS crawl_delay_ms
        |  FROM g2 JOIN sel ON g2.dom = sel.dom AND g2.gid = sel.gid
        |  WHERE key = 'crawl-delay' AND g2.gid > 0
        |    AND TRY_CAST(value AS DOUBLE) IS NOT NULL
        |    AND NOT isnan(TRY_CAST(value AS DOUBLE))
        |    AND TRY_CAST(value AS DOUBLE) >= 0
        |    AND TRY_CAST(value AS DOUBLE) <= 86400
        |  GROUP BY g2.dom),
        |sm AS (SELECT dom, list(value ORDER BY value) AS sitemaps
        |  FROM (SELECT DISTINCT dom, value FROM kva
        |    WHERE key = 'sitemap' AND value <> '')
        |  GROUP BY dom)
        |SELECT d.dom AS domain, cd.crawl_delay_ms,
        |  CAST(coalesce(len(sm.sitemaps), 0) AS BIGINT) AS n_sitemaps,
        |  coalesce(array_to_string(sm.sitemaps, '|'), '') AS sitemaps
        |FROM d LEFT JOIN cd ON d.dom = cd.dom
        |LEFT JOIN sm ON d.dom = sm.dom
        |ORDER BY domain""").stripMargin,
    // fetch-schedule replay: one robots synth through BOTH groupings —
    // the access side (kv2/a*/rl/mt -> per-doc allowed via the
    // allow-wins wkey) and the delay side (kv4/d*/cd conservative max
    // + distinct sitemap count) — then the per-domain schedule math
    "rb03_fetch_schedule" ->
      ("""WITH u AS (SELECT doc_id,
        |  'site' || CAST(doc_id % 5 AS VARCHAR) AS dom,
        |  '/p' || CAST(doc_id % 7 AS VARCHAR) ||
        |    CASE WHEN doc_id % 3 = 0 THEN '.html' ELSE '' END AS path
        |  FROM documents),
        |rb AS (SELECT dom, CASE dom
        |    WHEN 'site1' THEN 'User-agent: *' || chr(10) || 'Crawl-delay: 1.5' || chr(10) || 'Disallow: /p1' || chr(10) || 'Sitemap: https://site1.example/sm.xml'
        |    WHEN 'site2' THEN 'User-agent: graftbot' || chr(10) || 'Crawl-delay: 2' || chr(10) || 'Disallow: /p2' || chr(10) || 'User-agent: *' || chr(10) || 'Crawl-delay: 9' || chr(10) || 'Disallow: /'
        |    WHEN 'site3' THEN 'User-agent: otherbot' || chr(10) || 'Disallow: /' || chr(10) || 'Sitemap: https://site3.example/b.xml' || chr(10) || 'Sitemap: https://site3.example/a.xml'
        |    WHEN 'site4' THEN 'User-agent: *' || chr(10) || 'Disallow: /p4.html$' || chr(10) || 'Crawl-delay: 0.25'
        |    ELSE NULL END AS robots
        |  FROM (SELECT DISTINCT dom FROM u)),
        |ln AS (SELECT dom, t.pos,
        |    regexp_replace(regexp_replace(regexp_replace(t.raw,
        |      '\r$', ''), '#.*$', ''), '^[ \t]+|[ \t]+$', '', 'g') AS line
        |  FROM rb, LATERAL (SELECT
        |    unnest(string_split(coalesce(robots, ''), chr(10))) AS raw,
        |    generate_subscripts(string_split(coalesce(robots, ''), chr(10)), 1) AS pos) t),
        |kva AS (SELECT dom, pos,
        |    lower(regexp_extract(line, '^([A-Za-z-]+)[ \t]*:', 1)) AS key,
        |    regexp_replace(regexp_extract(line,
        |      '^[A-Za-z-]+[ \t]*:[ \t]*(.*)$', 1), '[ \t]+$', '') AS value
        |  FROM ln WHERE line <> ''),
        |kv2 AS (SELECT * FROM kva
        |  WHERE key IN ('user-agent', 'allow', 'disallow')),
        |a1 AS (SELECT dom, pos, key, value,
        |    lag(key) OVER (PARTITION BY dom ORDER BY pos) AS prev_key
        |  FROM kv2),
        |a2 AS (SELECT dom, pos, key, value,
        |    SUM(CASE WHEN key = 'user-agent'
        |      AND (prev_key IS NULL OR prev_key <> 'user-agent')
        |      THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY dom ORDER BY pos ROWS UNBOUNDED PRECEDING)
        |      AS gid
        |  FROM a1),
        |agr AS (SELECT dom, gid,
        |    MAX(CASE WHEN lower(value) = 'graftbot' THEN 1 ELSE 0 END) AS has_agent,
        |    MAX(CASE WHEN value = '*' THEN 1 ELSE 0 END) AS has_star
        |  FROM a2 WHERE key = 'user-agent' GROUP BY dom, gid),
        |ada AS (SELECT dom, MAX(has_agent) AS dom_has FROM agr GROUP BY dom),
        |asel AS (SELECT agr.dom, agr.gid FROM agr JOIN ada USING (dom)
        |  WHERE CASE WHEN ada.dom_has = 1 THEN agr.has_agent = 1
        |    ELSE agr.has_star = 1 END),
        |rl AS (SELECT a2.dom, value AS pattern,
        |    (key = 'allow') AS is_allow,
        |    CAST(strlen(value) AS BIGINT) AS plen,
        |""" +
      s"""    ${sqlRobotsRx("value")} AS rx
        |""" +
      """  FROM a2 JOIN asel ON a2.dom = asel.dom AND a2.gid = asel.gid
        |  WHERE key IN ('allow', 'disallow') AND a2.gid > 0 AND value <> ''),
        |mt AS (SELECT u.doc_id, u.dom, r.plen, r.is_allow
        |  FROM u LEFT JOIN rl r
        |    ON u.dom = r.dom AND regexp_matches(u.path, r.rx)),
        |ag AS (SELECT doc_id, dom,
        |    MAX(plen * 2 + CASE WHEN is_allow THEN 1 ELSE 0 END) AS wkey
        |  FROM mt GROUP BY doc_id, dom),
        |al AS (SELECT doc_id, dom,
        |    coalesce(wkey % 2 = 1, TRUE) AS allowed FROM ag),
        |kv4 AS (SELECT * FROM kva
        |  WHERE key IN ('user-agent', 'allow', 'disallow', 'crawl-delay')),
        |d1 AS (SELECT dom, pos, key, value,
        |    lag(key) OVER (PARTITION BY dom ORDER BY pos) AS prev_key
        |  FROM kv4),
        |d2 AS (SELECT dom, pos, key, value,
        |    SUM(CASE WHEN key = 'user-agent'
        |      AND (prev_key IS NULL OR prev_key <> 'user-agent')
        |      THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY dom ORDER BY pos ROWS UNBOUNDED PRECEDING)
        |      AS gid
        |  FROM d1),
        |dgr AS (SELECT dom, gid,
        |    MAX(CASE WHEN lower(value) = 'graftbot' THEN 1 ELSE 0 END) AS has_agent,
        |    MAX(CASE WHEN value = '*' THEN 1 ELSE 0 END) AS has_star
        |  FROM d2 WHERE key = 'user-agent' GROUP BY dom, gid),
        |dda AS (SELECT dom, MAX(has_agent) AS dom_has FROM dgr GROUP BY dom),
        |dsel AS (SELECT dgr.dom, dgr.gid FROM dgr JOIN dda USING (dom)
        |  WHERE CASE WHEN dda.dom_has = 1 THEN dgr.has_agent = 1
        |    ELSE dgr.has_star = 1 END),
        |cd AS (SELECT d2.dom,
        |    MAX(CAST(floor(TRY_CAST(value AS DOUBLE) * 1000) AS BIGINT))
        |      AS crawl_delay_ms
        |  FROM d2 JOIN dsel ON d2.dom = dsel.dom AND d2.gid = dsel.gid
        |  WHERE key = 'crawl-delay' AND d2.gid > 0
        |    AND TRY_CAST(value AS DOUBLE) IS NOT NULL
        |    AND NOT isnan(TRY_CAST(value AS DOUBLE))
        |    AND TRY_CAST(value AS DOUBLE) >= 0
        |    AND TRY_CAST(value AS DOUBLE) <= 86400
        |  GROUP BY d2.dom),
        |sm AS (SELECT dom,
        |    CAST(COUNT(DISTINCT value) AS BIGINT) AS n_sitemaps
        |  FROM kva WHERE key = 'sitemap' AND value <> '' GROUP BY dom),
        |agg AS (SELECT dom,
        |    CAST(SUM(CASE WHEN allowed THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_allowed,
        |    CAST(SUM(CASE WHEN allowed THEN 0 ELSE 1 END) AS BIGINT)
        |      AS n_blocked
        |  FROM al GROUP BY dom)
        |SELECT agg.dom AS domain, agg.n_allowed, agg.n_blocked,
        |  cd.crawl_delay_ms,
        |  CAST(coalesce(sm.n_sitemaps, 0) AS BIGINT) AS n_sitemaps,
        |  CAST(agg.n_allowed * coalesce(cd.crawl_delay_ms, 1000)
        |    AS BIGINT) AS est_crawl_ms
        |FROM agg LEFT JOIN cd ON agg.dom = cd.dom
        |LEFT JOIN sm ON agg.dom = sm.dom
        |ORDER BY domain""").stripMargin,
    // composed robots-gated funnel replay: the wp CTEs + registered
    // domains of the canonical hosts + per-domain policies + rb01's
    // parse chain VERBATIM (OracleSyncSpec pins the byte-identity) +
    // the gate and a dedup that respects the robots verdict
    "wp03_web_robots" ->
      (sqlWebPipelineCtes + ",\n" + sqlRobotsFunnelChain + "\n" +
      """SELECT rr.doc_id, ra.robots_allowed, rr.url_pass,
        |  coalesce(ra.robots_allowed AND rr.url_pass
        |    AND rr.doc_id = k2.keep_id, FALSE) AS is_canonical,
        |  (coalesce(ra.robots_allowed AND rr.url_pass
        |    AND rr.doc_id = k2.keep_id, FALSE)
        |    AND qt.n_tokens_clean >= 10 AND qt.quality >= 20)
        |    AS final_keep
        |FROM rr JOIN ra USING (doc_id) JOIN qt USING (doc_id)
        |LEFT JOIN k2 ON rr.url_canon = k2.url_canon
        |ORDER BY rr.doc_id""").stripMargin,
    // the complete front door replay: the robots-funnel chain + wp02's
    // acquire tail (host/registered-domain of each keeper, per-domain
    // hash-rank cap at 3, keeper counts, token mixture) over the
    // robots-respecting final keepers, '-wp04' salt
    "wp04_web_robots_acquire" ->
      (sqlWebPipelineCtes + ",\n" + sqlRobotsFunnelChain + ",\n" +
      s"""kp4 AS (SELECT rr.doc_id, rr.url_canon, qt.n_tokens_clean
        |  FROM rr JOIN ra USING (doc_id) JOIN qt USING (doc_id)
        |  LEFT JOIN k2 ON rr.url_canon = k2.url_canon
        |  WHERE coalesce(ra.robots_allowed AND rr.url_pass
        |      AND rr.doc_id = k2.keep_id, FALSE)
        |    AND qt.n_tokens_clean >= 10 AND qt.quality >= 20),
        |hs AS (SELECT doc_id, n_tokens_clean,
        |  regexp_replace(regexp_replace(lower(regexp_replace(
        |    regexp_extract(regexp_replace(regexp_replace(url_canon,
        |      '^[A-Za-z][A-Za-z0-9+.-]*://', ''), '#.*$$', ''),
        |    '^([^/?]*)', 1), '^.*@', '')),
        |    ':[0-9]*$$', ''), '\\.+$$', '') AS host
        |  FROM kp4),
        |dmn AS (SELECT doc_id, n_tokens_clean,
        |    ${sqlRegisteredDomain("host")} AS domain
        |  FROM hs),
        |cap AS (SELECT domain, doc_id, n_tokens_clean,
        |    row_number() OVER (PARTITION BY domain ORDER BY
        |      substr(md5(CAST(doc_id AS VARCHAR) || '-wp04'), 1, 8),
        |      doc_id) AS rk
        |  FROM dmn),
        |kc AS (SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_kept
        |  FROM dmn GROUP BY domain),
        |cp AS (SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_capped,
        |    CAST(SUM(n_tokens_clean) AS BIGINT) AS n_tokens,
        |    md5(array_to_string(list_sort(list(doc_id)), ',')) AS ids_md5
        |  FROM cap WHERE rk <= 3 GROUP BY domain),
        |t2 AS (SELECT SUM(n_tokens) AS tot FROM cp)
        |SELECT cp.domain, kc.n_kept, cp.n_capped, cp.n_tokens,
        |  CAST(CASE WHEN t2.tot = 0 THEN 0
        |    ELSE (cp.n_tokens * 1000) // t2.tot END AS BIGINT)
        |    AS token_permille,
        |  cp.ids_md5
        |FROM cp JOIN kc USING (domain) CROSS JOIN t2
        |ORDER BY cp.domain""").stripMargin,
    // incremental-acquire oracle: a FULL BATCH replay of the funnel
    // over the NEW snapshot (d2: %10==9 dropped, %10==7 text
    // appended). The Spark side maintains the same answer
    // incrementally from the old snapshot's stored tables — the hash
    // compare is the incremental==batch equivalence proof
    "wp05_incremental_acquire" ->
      (sqlWebPipelineCtesFrom("d2",
        "d2 AS (SELECT doc_id,\n" +
        "    CASE WHEN doc_id % 10 = 7 THEN text || ' updated rev'\n" +
        "      ELSE text END AS text\n" +
        "  FROM documents WHERE doc_id % 10 <> 9),\n") + "\n" +
      """SELECT rr.doc_id, rr.url_pass,
        |  coalesce(rr.url_pass AND rr.doc_id = k.keep_id, FALSE)
        |    AS is_canonical,
        |  (coalesce(rr.url_pass AND rr.doc_id = k.keep_id, FALSE)
        |    AND qt.n_tokens_clean >= 10 AND qt.quality >= 20)
        |    AS final_keep
        |FROM rr JOIN qt USING (doc_id)
        |LEFT JOIN k ON rr.url_canon = k.url_canon
        |ORDER BY rr.doc_id""".stripMargin),
    "ht01_html_extract" -> sqlHt01Replay,
    // ht02's oracle IS ht01's regex replay: the parser tier is
    // byte-equal to the regex tier on the shared domain (the synth is
    // well-formed markup), so one SQL gates both tiers — and any drift
    // between them becomes a hash mismatch on this lane
    "ht02_html_extract_parsed" -> sqlHt01Replay,
    // language-quality replay: cu01's langIdNgram CASE (max hits, ties
    // to the lexicographically LARGEST language — Spark's greatest over
    // (hits, lang) structs), gq01's keep expression, then lang x bin
    // aggregates with the qd01 inverse-ECDF quantile reads
    "lq01_language_quality" ->
      """WITH d AS (SELECT doc_id, text,
        |    string_split_regex(trim(lower(text)),
        |      '[ \t\n\x0B\f\r]+') AS ts,
        |    string_split(text, chr(10)) AS ls
        |  FROM documents),
        |lg AS (SELECT doc_id,
        |    CASE WHEN GREATEST(h_en,h_fr,h_es,h_de) = 0 THEN 'und'
        |         WHEN h_fr = GREATEST(h_en,h_fr,h_es,h_de) THEN 'fr'
        |         WHEN h_es = GREATEST(h_en,h_fr,h_es,h_de) THEN 'es'
        |         WHEN h_en = GREATEST(h_en,h_fr,h_es,h_de) THEN 'en'
        |         ELSE 'de' END AS lang
        |  FROM (SELECT doc_id,
        |    len(list_filter(ts, t -> t IN ('the','and','of','to','in','is',
        |      'that','it','for','was'))) AS h_en,
        |    len(list_filter(ts, t -> t IN ('le','la','les','de','des','et',
        |      'un','une','est','que'))) AS h_fr,
        |    len(list_filter(ts, t -> t IN ('el','la','los','las','de','y',
        |      'un','una','es','que'))) AS h_es,
        |    len(list_filter(ts, t -> t IN ('der','die','das','und','ein',
        |      'eine','ist','nicht','mit','von'))) AS h_de
        |  FROM d)),
        |c AS (SELECT doc_id,
        |    CAST(length(text) AS BIGINT) AS n_chars,
        |    CAST(len(list_filter(ts, t -> length(t) > 0)) AS BIGINT)
        |      AS n_words,
        |    CAST(coalesce(list_sum(list_transform(ts, t -> length(t))), 0)
        |      AS BIGINT) AS n_word_chars,
        |    CAST(len(list_filter(ts, t -> regexp_matches(t, '[a-z]')))
        |      AS BIGINT) AS n_alpha_words,
        |    CAST((CASE WHEN list_contains(ts, 'the') THEN 1 ELSE 0 END)
        |      + (CASE WHEN list_contains(ts, 'be') THEN 1 ELSE 0 END)
        |      + (CASE WHEN list_contains(ts, 'to') THEN 1 ELSE 0 END)
        |      + (CASE WHEN list_contains(ts, 'of') THEN 1 ELSE 0 END)
        |      + (CASE WHEN list_contains(ts, 'and') THEN 1 ELSE 0 END)
        |      + (CASE WHEN list_contains(ts, 'that') THEN 1 ELSE 0 END)
        |      + (CASE WHEN list_contains(ts, 'have') THEN 1 ELSE 0 END)
        |      + (CASE WHEN list_contains(ts, 'with') THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_stop,
        |    CAST(length(text) - length(replace(text, '#', '')) AS BIGINT)
        |      AS n_hash,
        |    CAST((length(text) - length(replace(text, '...', ''))) // 3
        |      AS BIGINT) AS n_ellipsis,
        |    CAST(len(ls) AS BIGINT) AS n_lines,
        |    CAST(len(list_filter(ls, l ->
        |      substr(ltrim(l), 1, 1) IN ('•', '-', '*'))) AS BIGINT)
        |      AS n_bullet_lines,
        |    CAST(len(list_filter(ls, l -> right(rtrim(l), 3) = '...'
        |      OR right(rtrim(l), 1) = '…')) AS BIGINT) AS n_ellipsis_lines
        |  FROM d),
        |m AS (SELECT l.lang, c.n_chars, c.n_words,
        |    ((c.n_words >= 50 AND c.n_words <= 100000)
        |      AND (c.n_word_chars >= 3 * c.n_words AND
        |           c.n_word_chars <= 10 * c.n_words)
        |      AND (10 * c.n_hash <= c.n_words AND
        |           10 * c.n_ellipsis <= c.n_words)
        |      AND (10 * c.n_bullet_lines <= 9 * c.n_lines)
        |      AND (10 * c.n_ellipsis_lines <= 3 * c.n_lines)
        |      AND (5 * c.n_alpha_words >= 4 * c.n_words)
        |      AND (c.n_stop >= 2)) AS keep
        |  FROM lg l JOIN c USING (doc_id)),
        |shares AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(n_words) AS BIGINT) AS n_tokens,
        |    CAST((SUM(CASE WHEN keep THEN 1 ELSE 0 END) * 1000)
        |      // COUNT(*) AS BIGINT) AS gopher_pass_permille
        |  FROM m GROUP BY lang),
        |bins AS (SELECT lang, n_chars // 100 AS bin,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM m GROUP BY 1, 2),
        |cum AS (SELECT lang, bin, cnt,
        |    SUM(cnt) OVER (PARTITION BY lang ORDER BY bin
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    SUM(cnt) OVER (PARTITION BY lang) AS n
        |  FROM bins),
        |qu AS (SELECT lang,
        |    CAST(MIN(CASE WHEN cum >= (500 * n + 999) // 1000
        |      THEN bin * 100 END) AS BIGINT) AS p500_chars,
        |    CAST(MIN(CASE WHEN cum >= (900 * n + 999) // 1000
        |      THEN bin * 100 END) AS BIGINT) AS p900_chars
        |  FROM cum GROUP BY lang)
        |SELECT s.lang, s.n_docs, s.n_tokens, s.gopher_pass_permille,
        |  q.p500_chars, q.p900_chars
        |FROM shares s JOIN qu q USING (lang)
        |ORDER BY s.lang""".stripMargin,
    // datasheet replay: lq01's lang CASE + gopher counters verbatim,
    // the token model's non-empty count, md5 identity for the exact-dup
    // overhang — every section a UNION ALL leg over the same frames
    "cr01_corpus_report" ->
      ("WITH " + sqlCorpusReportChain("", "documents") + "\n" +
      """SELECT section, metric, value FROM v
        |ORDER BY section, metric""").stripMargin,
    // datasheet-delta replay: the SAME chain for both snapshot sides
    // (prefixed CTE names), full-outer joined into old/new/delta rows
    "cr02_datasheet_delta" ->
      ("WITH o_src AS (SELECT doc_id, text FROM documents\n" +
      "    WHERE doc_id % 10 <> 3),\n" +
      "n_src AS (SELECT doc_id,\n" +
      "    CASE WHEN doc_id % 10 = 7 THEN text || ' updated rev'\n" +
      "      ELSE text END AS text\n" +
      "  FROM documents WHERE doc_id % 10 <> 9),\n" +
      sqlCorpusReportChain("o_", "o_src") + ",\n" +
      sqlCorpusReportChain("n_", "n_src") + "\n" +
      """SELECT coalesce(o.section, n.section) AS section,
        |  coalesce(o.metric, n.metric) AS metric,
        |  CAST(coalesce(o.value, 0) AS BIGINT) AS value_old,
        |  CAST(coalesce(n.value, 0) AS BIGINT) AS value_new,
        |  CAST(coalesce(n.value, 0) - coalesce(o.value, 0) AS BIGINT)
        |    AS delta
        |FROM o_v o FULL OUTER JOIN n_v n
        |  ON o.section = n.section AND o.metric = n.metric
        |ORDER BY section, metric""").stripMargin,
    // cr03's oracle is cr01's FULL BATCH chain over the new snapshot
    // (cr02's n_src) — the incremental==batch invariant for the whole
    // maintained datasheet, enforced by hash
    "cr03_incremental_report" ->
      ("WITH n_src AS (SELECT doc_id,\n" +
      "    CASE WHEN doc_id % 10 = 7 THEN text || ' updated rev'\n" +
      "      ELSE text END AS text\n" +
      "  FROM documents WHERE doc_id % 10 <> 9),\n" +
      sqlCorpusReportChain("", "n_src") + "\n" +
      """SELECT section, metric, value FROM v
        |ORDER BY section, metric""").stripMargin,
    // prompt-dedup replay: identical synthesized transcripts, first
    // user turn via the same trim -> role-regex pipeline, tokens-joined
    // normalized md5, group by digest
    "ch02_prompt_dedup" ->
      raw"""WITH tr AS (SELECT doc_id, $sqlSynthPromptTranscript AS t
        |  FROM documents),
        |u AS (SELECT doc_id,
        |    list_filter(list_filter(list_transform(
        |      string_split_regex(t, '\r?\n'), x -> trim(x)),
        |      x -> len(x) > 0),
        |      x -> regexp_extract(x, '^(system|user|assistant): ?', 1)
        |        = 'user') AS ut
        |  FROM tr),
        |p AS (SELECT doc_id,
        |    regexp_replace(ut[1], '^(system|user|assistant): ?', '')
        |      AS prompt
        |  FROM u WHERE len(ut) > 0),
        |n AS (SELECT doc_id,
        |    md5(array_to_string(string_split_regex(trim(lower(prompt)),
        |      '[ \t\n\x0B\f\r]+'), ' ')) AS prompt_fp
        |  FROM p)
        |SELECT prompt_fp, CAST(COUNT(*) AS BIGINT) AS n_copies,
        |  CAST(MIN(doc_id) AS BIGINT) AS keep_id
        |FROM n GROUP BY 1 ORDER BY prompt_fp""".stripMargin,
    // pp01: prompt groups (ch02's fingerprint chain), integer quality
    // (qs01's chain), chosen = rn 1 by (score desc, id), rejected =
    // rn 1 by (score asc, id), margin 1 and the self-pair guard
    "pp01_preference_pairs" ->
      raw"""WITH tr AS (SELECT doc_id, $sqlSynthPromptTranscript AS t
        |  FROM documents),
        |u AS (SELECT doc_id,
        |    list_filter(list_filter(list_transform(
        |      string_split_regex(t, '\r?\n'), x -> trim(x)),
        |      x -> len(x) > 0),
        |      x -> regexp_extract(x, '^(system|user|assistant): ?', 1)
        |        = 'user') AS ut
        |  FROM tr),
        |p AS (SELECT doc_id,
        |    regexp_replace(ut[1], '^(system|user|assistant): ?', '')
        |      AS prompt
        |  FROM u WHERE len(ut) > 0),
        |n AS (SELECT doc_id,
        |    md5(array_to_string(string_split_regex(trim(lower(prompt)),
        |      '[ \t\n\x0B\f\r]+'), ' ')) AS prompt_fp
        |  FROM p),
        |tok AS (SELECT doc_id, text,
        |    string_split_regex(trim(lower(text)), '[ \t\n\x0B\f\r]+') AS ts
        |  FROM documents),
        |ann AS (SELECT doc_id,
        |    GREATEST(CAST(len(ts) AS BIGINT), 1) AS tc,
        |    GREATEST(CAST(length(text) AS BIGINT), 1) AS cc,
        |    CAST(len(list_filter(ts, t -> t IN ('the','a','an','and','or',
        |      'of','to','in','is','it','for','on','with','as','at','by',
        |      'this','that'))) AS BIGINT) AS sw,
        |    CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT)
        |      AS dg,
        |    CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS BIGINT)
        |      AS pc
        |  FROM tok),
        |q AS (SELECT doc_id,
        |    GREATEST(LEAST((sw*100)//tc + LEAST(cc//20, 30) + 40
        |      - (dg*100)//cc - (pc*100)//cc, 100), 0) AS score
        |  FROM ann),
        |c AS (SELECT n.prompt_fp, n.doc_id, q.score
        |  FROM n JOIN q USING (doc_id)),
        |ch AS (SELECT prompt_fp, doc_id, score,
        |    row_number() OVER (PARTITION BY prompt_fp
        |      ORDER BY score DESC, doc_id) AS rn FROM c),
        |rj AS (SELECT prompt_fp, doc_id, score,
        |    row_number() OVER (PARTITION BY prompt_fp
        |      ORDER BY score ASC, doc_id) AS rn FROM c),
        |g AS (SELECT prompt_fp, CAST(COUNT(*) AS BIGINT) AS n_cands
        |  FROM c GROUP BY 1)
        |SELECT ch.prompt_fp,
        |  CAST(ch.doc_id AS BIGINT) AS chosen_id,
        |  CAST(ch.score AS BIGINT) AS chosen_score,
        |  CAST(rj.doc_id AS BIGINT) AS rejected_id,
        |  CAST(rj.score AS BIGINT) AS rejected_score,
        |  g.n_cands
        |FROM ch JOIN rj USING (prompt_fp) JOIN g USING (prompt_fp)
        |WHERE ch.rn = 1 AND rj.rn = 1 AND g.n_cands >= 2
        |  AND ch.doc_id <> rj.doc_id AND ch.score - rj.score >= 1
        |ORDER BY prompt_fp""".stripMargin,
    // composed SFT replay: battery keep -> prompt groups among keepers
    // -> assistant content lengths on survivors (the ch03 offsets'
    // independent twin: end-start must equal len(content))
    "ch04_sft_pipeline" ->
      (raw"""WITH tr AS (SELECT doc_id, $sqlSynthPromptTranscript AS t
        |  FROM documents),
        |""" + sqlPromptFunnelChain +
      raw"""fk AS (SELECT qa.doc_id, qa.qa_keep,
        |    (own.doc_id IS NOT NULL) AS prompt_owner,
        |    (qa.qa_keep AND own.doc_id IS NOT NULL) AS final_keep
        |  FROM qa LEFT JOIN own ON qa.doc_id = own.doc_id),
        |sp AS (SELECT pp.doc_id,
        |    CAST(coalesce(list_sum(list_transform(range(1, len(roles) + 1),
        |      i -> CASE WHEN roles[i] = 'assistant' THEN 1 ELSE 0 END)), 0)
        |      AS BIGINT) AS n_trainable,
        |    CAST(coalesce(list_sum(list_transform(range(1, len(roles) + 1),
        |      i -> CASE WHEN roles[i] = 'assistant' THEN len(contents[i])
        |        ELSE 0 END)), 0) AS BIGINT) AS trainable_chars
        |  FROM pp JOIN fk USING (doc_id) WHERE fk.final_keep)
        |SELECT fk.doc_id, fk.qa_keep, fk.prompt_owner, fk.final_keep,
        |  coalesce(sp.n_trainable, 0) AS n_trainable,
        |  coalesce(sp.trainable_chars, 0) AS trainable_chars
        |FROM fk LEFT JOIN sp ON fk.doc_id = sp.doc_id
        |ORDER BY fk.doc_id""").stripMargin,
    // incremental prompt-dedup oracle: ch04's BATCH replay over the
    // NEW snapshot (d: %10==9 dropped, %10==7 transcript gains an
    // adjacent second assistant turn — a QA-gate flip). The Spark side
    // maintains the same answer incrementally — hash equality is the
    // incremental==batch proof on the SFT side
    "ch06_incremental_prompts" ->
      (raw"""WITH tr AS (SELECT doc_id,
        |    CASE WHEN doc_id % 10 = 7
        |      THEN $sqlSynthPromptTranscript
        |        || chr(10) || 'assistant: rev two'
        |      ELSE $sqlSynthPromptTranscript END AS t
        |  FROM documents WHERE doc_id % 10 <> 9),
        |""" + sqlPromptFunnelChain +
      raw"""fin AS (SELECT qa.doc_id, qa.qa_keep,
        |    (own.doc_id IS NOT NULL) AS prompt_owner,
        |    (qa.qa_keep AND own.doc_id IS NOT NULL) AS final_keep
        |  FROM qa LEFT JOIN own ON qa.doc_id = own.doc_id)
        |SELECT doc_id, qa_keep, prompt_owner, final_keep
        |FROM fin ORDER BY doc_id""").stripMargin,
    // render-span replay: same parse, per-turn piece lengths
    // (12 + len(role) + 1 + len(content) + 11), running-sum starts via
    // list_sum over the length prefix, md5 of the rendered concat
    "ch03_render_spans" ->
      raw"""WITH tr AS (SELECT doc_id, $sqlSynthTranscript AS t
        |  FROM documents),
        |rr AS (SELECT doc_id,
        |    list_filter(list_transform(string_split_regex(t, '\r?\n'),
        |      x -> trim(x)), x -> len(x) > 0) AS turns
        |  FROM tr),
        |pp AS (SELECT doc_id,
        |    list_transform(turns,
        |      x -> regexp_extract(x, '^(system|user|assistant): ?', 1))
        |      AS roles,
        |    list_transform(turns,
        |      x -> regexp_replace(x, '^(system|user|assistant): ?', ''))
        |      AS contents
        |  FROM rr),
        |ln AS (SELECT doc_id, roles, contents,
        |    list_transform(range(1, len(roles) + 1),
        |      i -> 12 + len(roles[i]) + 1 + len(contents[i]) + 11)
        |      AS lens,
        |    md5(array_to_string(list_transform(range(1, len(roles) + 1),
        |      i -> '<|im_start|>' || roles[i] || chr(10) || contents[i]
        |        || '<|im_end|>' || chr(10)), '')) AS rendered_md5
        |  FROM pp WHERE len(roles) > 0),
        |ex AS (SELECT doc_id, CAST(i AS BIGINT) AS turn_idx,
        |    roles[i] AS role,
        |    CAST(coalesce(list_sum(lens[1 : i - 1]), 0)
        |      + 12 + len(roles[i]) + 1 AS BIGINT) AS start,
        |    CAST(coalesce(list_sum(lens[1 : i - 1]), 0)
        |      + 12 + len(roles[i]) + 1 + len(contents[i]) AS BIGINT)
        |      AS "end",
        |    rendered_md5
        |  FROM ln, UNNEST(generate_series(1, len(roles))) AS u(i))
        |SELECT doc_id, turn_idx, role, start, "end",
        |  (role = 'assistant') AS trainable, rendered_md5
        |FROM ex ORDER BY doc_id, turn_idx""".stripMargin,
    // packing-bridge replay: ch03's span chain per turn, then pk01's
    // recursive next-fit CTE over (grp, rank) with piece = content +
    // role + 24 and the bin-local rebase s = tot_before + 13 + role_len
    // carried through the recurrence
    "ch05_packed_spans" ->
      (sqlPackedSpansChain + "\n" +
      raw"""SELECT grp AS "group", bin,
        |  CAST(COUNT(*) AS BIGINT) AS n_turns,
        |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_convs,
        |  CAST(SUM(piece) AS BIGINT) AS total_chars,
        |  CAST(coalesce(SUM(CASE WHEN trainable THEN content_len END), 0)
        |    AS BIGINT) AS trainable_chars,
        |  string_agg(doc_id || ':' || turn_idx || ':' || s || ':'
        |    || (s + content_len), '|' ORDER BY rn) AS span_keys
        |FROM r GROUP BY grp, bin ORDER BY "group", bin""").stripMargin,
    // packed-shards replay: the ch05 chain's bins + the exclusive
    // cumulative-chars shard cut along (grp, bin) order — the
    // shardByTokens formula over bins, 8 shards
    "ch07_packed_shards" ->
      (sqlPackedSpansChain + "," + "\n" +
      raw"""bins AS (SELECT grp, bin,
        |    CAST(COUNT(*) AS BIGINT) AS n_turns,
        |    CAST(SUM(piece) AS BIGINT) AS total_chars,
        |    CAST(coalesce(SUM(CASE WHEN trainable THEN content_len END),
        |      0) AS BIGINT) AS trainable_chars
        |  FROM r GROUP BY grp, bin),
        |cum AS (SELECT grp, bin, n_turns, total_chars, trainable_chars,
        |    coalesce(SUM(total_chars) OVER (ORDER BY grp, bin
        |      ROWS UNBOUNDED PRECEDING), 0) - total_chars AS chars_before,
        |    SUM(total_chars) OVER () AS tot
        |  FROM bins),
        |sh AS (SELECT *, CASE WHEN tot <= 0 THEN 0
        |    ELSE LEAST(7, (chars_before * 8) // tot) END AS shard
        |  FROM cum)
        |SELECT CAST(shard AS INT) AS shard,
        |  CAST(COUNT(*) AS BIGINT) AS n_bins,
        |  CAST(SUM(n_turns) AS BIGINT) AS n_turns,
        |  CAST(SUM(total_chars) AS BIGINT) AS total_chars,
        |  CAST(SUM(trainable_chars) AS BIGINT) AS trainable_chars
        |FROM sh GROUP BY shard ORDER BY shard""").stripMargin,
    // transcript-QA replay: the identical synthesized transcript, the
    // identical trim -> role-regex -> battery list pipeline (': ?' so a
    // trimmed empty turn still parses as its role)
    "ch01_turn_stats" ->
      raw"""WITH tr AS (SELECT doc_id, $sqlSynthTranscript AS t
        |  FROM documents),
        |ls AS (SELECT doc_id,
        |    list_filter(list_transform(string_split_regex(t, '\r?\n'),
        |      x -> trim(x)), x -> len(x) > 0) AS turns
        |  FROM tr),
        |rr AS (SELECT doc_id, turns,
        |    list_transform(turns,
        |      x -> regexp_extract(x, '^(system|user|assistant): ?', 1))
        |      AS roles,
        |    list_transform(turns,
        |      x -> regexp_replace(x, '^(system|user|assistant): ?', ''))
        |      AS contents
        |  FROM ls),
        |st AS (SELECT doc_id,
        |    CAST(len(turns) AS BIGINT) AS n_turns,
        |    CASE WHEN len(roles) = 0 THEN NULL ELSE roles[1] END
        |      AS first_role,
        |    CAST(len(list_filter(roles, x -> x = 'system')) AS BIGINT)
        |      AS n_system,
        |    CAST(len(list_filter(roles, x -> x = 'user')) AS BIGINT)
        |      AS n_user,
        |    CAST(len(list_filter(roles, x -> x = 'assistant')) AS BIGINT)
        |      AS n_assistant,
        |    CAST(len(list_filter(roles, x -> x = '')) AS BIGINT)
        |      AS n_bad_role,
        |    CAST(coalesce(list_sum(list_transform(range(1, len(roles) + 1),
        |      i -> CASE WHEN roles[i] = 'user' THEN
        |        len(list_filter(string_split_regex(trim(lower(contents[i])),
        |          '[ \t\n\x0B\f\r]+'), w -> w <> '')) ELSE 0 END)), 0)
        |      AS BIGINT) AS user_tokens,
        |    CAST(coalesce(list_sum(list_transform(range(1, len(roles) + 1),
        |      i -> CASE WHEN roles[i] = 'assistant' THEN
        |        len(list_filter(string_split_regex(trim(lower(contents[i])),
        |          '[ \t\n\x0B\f\r]+'), w -> w <> '')) ELSE 0 END)), 0)
        |      AS BIGINT) AS assistant_tokens,
        |    CAST(CASE WHEN len(roles) < 2 THEN 0
        |      ELSE len(list_filter(range(2, len(roles) + 1),
        |        i -> roles[i] = roles[i-1])) END AS BIGINT)
        |      AS n_repeat_role,
        |    CAST(len(list_filter(range(1, len(roles) + 1),
        |      i -> roles[i] <> '' AND len(trim(contents[i])) = 0))
        |      AS BIGINT) AS n_empty_turns
        |  FROM rr)
        |SELECT *,
        |  (n_assistant >= 1
        |    AND coalesce(first_role IN ('system', 'user'), FALSE)
        |    AND n_bad_role = 0 AND n_repeat_role = 0
        |    AND n_empty_turns = 0) AS keep
        |FROM st ORDER BY doc_id""".stripMargin,
    "gq01_gopher_rules" ->
      """WITH d AS (SELECT doc_id, text,
        |    string_split_regex(trim(lower(text)),
        |      '[ \t\n\x0B\f\r]+') AS ts,
        |    string_split(text, chr(10)) AS ls
        |  FROM documents),
        |c AS (SELECT doc_id,
        |    CAST(len(list_filter(ts, t -> length(t) > 0)) AS BIGINT)
        |      AS n_words,
        |    CAST(coalesce(list_sum(list_transform(ts, t -> length(t))), 0)
        |      AS BIGINT) AS n_word_chars,
        |    CAST(len(list_filter(ts, t -> regexp_matches(t, '[a-z]')))
        |      AS BIGINT) AS n_alpha_words,
        |    CAST((CASE WHEN list_contains(ts, 'the') THEN 1 ELSE 0 END)
        |      + (CASE WHEN list_contains(ts, 'be') THEN 1 ELSE 0 END)
        |      + (CASE WHEN list_contains(ts, 'to') THEN 1 ELSE 0 END)
        |      + (CASE WHEN list_contains(ts, 'of') THEN 1 ELSE 0 END)
        |      + (CASE WHEN list_contains(ts, 'and') THEN 1 ELSE 0 END)
        |      + (CASE WHEN list_contains(ts, 'that') THEN 1 ELSE 0 END)
        |      + (CASE WHEN list_contains(ts, 'have') THEN 1 ELSE 0 END)
        |      + (CASE WHEN list_contains(ts, 'with') THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_stop,
        |    CAST(length(text) - length(replace(text, '#', '')) AS BIGINT)
        |      AS n_hash,
        |    CAST((length(text) - length(replace(text, '...', ''))) // 3
        |      AS BIGINT) AS n_ellipsis,
        |    CAST(len(ls) AS BIGINT) AS n_lines,
        |    CAST(len(list_filter(ls, l ->
        |      substr(ltrim(l), 1, 1) IN ('•', '-', '*'))) AS BIGINT)
        |      AS n_bullet_lines,
        |    CAST(len(list_filter(ls, l -> right(rtrim(l), 3) = '...'
        |      OR right(rtrim(l), 1) = '…')) AS BIGINT) AS n_ellipsis_lines
        |  FROM d)
        |SELECT doc_id, n_words, n_word_chars, n_alpha_words, n_stop,
        |  n_hash, n_ellipsis, n_lines, n_bullet_lines, n_ellipsis_lines,
        |  (n_words >= 50 AND n_words <= 100000) AS r_word_count,
        |  (n_word_chars >= 3 * n_words AND n_word_chars <= 10 * n_words)
        |    AS r_mean_word_len,
        |  (10 * n_hash <= n_words AND 10 * n_ellipsis <= n_words)
        |    AS r_symbol_ratio,
        |  (10 * n_bullet_lines <= 9 * n_lines) AS r_bullet_lines,
        |  (10 * n_ellipsis_lines <= 3 * n_lines) AS r_ellipsis_lines,
        |  (5 * n_alpha_words >= 4 * n_words) AS r_alpha_words,
        |  (n_stop >= 2) AS r_stopwords,
        |  ((n_words >= 50 AND n_words <= 100000)
        |    AND (n_word_chars >= 3 * n_words AND
        |         n_word_chars <= 10 * n_words)
        |    AND (10 * n_hash <= n_words AND 10 * n_ellipsis <= n_words)
        |    AND (10 * n_bullet_lines <= 9 * n_lines)
        |    AND (10 * n_ellipsis_lines <= 3 * n_lines)
        |    AND (5 * n_alpha_words >= 4 * n_words)
        |    AND (n_stop >= 2)) AS keep
        |FROM c ORDER BY doc_id""".stripMargin,
    // BPE pair-count replay: vocabulary word counts, adjacent char
    // pairs via substr over a range list, frequency-weighted sums
    "pc01_bpe_pairs" ->
      """WITH tk AS (SELECT tok FROM (
        |    SELECT unnest(string_split_regex(trim(lower(text)),
        |      '[ \t\n\x0B\f\r]+')) AS tok
        |    FROM documents) WHERE tok <> ''),
        |w AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS wcnt
        |  FROM tk GROUP BY tok ORDER BY wcnt DESC, tok LIMIT 100000),
        |p AS (SELECT unnest(list_transform(range(1, length(tok)),
        |    i -> substr(tok, CAST(i AS INT), 2))) AS pair, wcnt
        |  FROM w WHERE length(tok) >= 2)
        |SELECT pair, CAST(SUM(wcnt) AS BIGINT) AS pair_count
        |FROM p GROUP BY pair
        |ORDER BY pair_count DESC, pair LIMIT 20""".stripMargin,
    // Heaps-curve replay: first-doc per token, bucket counts, window
    // cumulative sums over the bounded bucket domain
    "vg01_vocab_growth" ->
      """WITH tk AS (SELECT doc_id, tok FROM (
        |    SELECT doc_id, unnest(string_split_regex(trim(lower(text)),
        |      '[ \t\n\x0B\f\r]+')) AS tok
        |    FROM documents) WHERE tok <> ''),
        |f AS (SELECT tok, MIN(doc_id) AS first_id FROM tk GROUP BY tok),
        |nb AS (SELECT first_id // 50 AS bucket,
        |    CAST(COUNT(*) AS BIGINT) AS new_tokens FROM f GROUP BY 1),
        |tb AS (SELECT doc_id // 50 AS bucket,
        |    CAST(COUNT(*) AS BIGINT) AS n_tokens FROM tk GROUP BY 1),
        |j AS (SELECT coalesce(tb.bucket, nb.bucket) AS bucket,
        |    coalesce(n_tokens, 0) AS n_tokens,
        |    coalesce(new_tokens, 0) AS new_tokens
        |  FROM tb FULL OUTER JOIN nb ON tb.bucket = nb.bucket)
        |SELECT bucket, n_tokens, new_tokens,
        |  CAST(SUM(n_tokens) OVER (ORDER BY bucket
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS tokens_seen,
        |  CAST(SUM(new_tokens) OVER (ORDER BY bucket
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS vocab_size
        |FROM j ORDER BY bucket""".stripMargin,
    // char-entropy replay: explicit substr position list (no
    // empty-pattern split — its edge semantics differ across engines),
    // then the per-(doc,char) counts rebuilt relationally — the
    // occurrence counts and en01 rounding chain are identical to the
    // Spark side's row-local HOF form, and integer sums are
    // order-independent, so the two formulations hash-match
    "ce01_char_entropy" ->
      """WITH s AS (SELECT doc_id,
        |    regexp_replace(lower(text), '[ \t\n\x0B\f\r]+', '', 'g') AS s
        |  FROM documents),
        |ch AS (SELECT doc_id, length(s) AS t, unnest(list_transform(
        |    range(1, length(s) + 1), i -> substr(s, CAST(i AS INT), 1)))
        |    AS ch
        |  FROM s WHERE length(s) > 0),
        |cnt AS (SELECT doc_id, MAX(t) AS t, ch,
        |    CAST(COUNT(*) AS BIGINT) AS occ
        |  FROM ch GROUP BY doc_id, ch)
        |SELECT doc_id, CAST(MAX(t) AS BIGINT) AS n_chars,
        |  CAST(COUNT(*) AS BIGINT) AS n_distinct,
        |  CAST(SUM(occ * CAST(round(-log2(CAST(occ AS DOUBLE) /
        |      CAST(t AS DOUBLE)) * 1000000) AS BIGINT)) // MAX(t)
        |    AS BIGINT) AS entropy_mbits
        |FROM cnt
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,
    // cross-source overlap replay: distinct (gram-hash, source) pairs
    // self-joined within the hash — identical counts to the source-set
    // pair explode
    "xs01_cross_source_grams" ->
      """WITH tok AS (SELECT source,
        |    string_split_regex(trim(lower(text)), '[ \t\n\x0B\f\r]+') AS ts
        |  FROM documents),
        |g AS (SELECT source, unnest(CASE WHEN len(ts) < 5 THEN []
        |    ELSE list_transform(range(1, len(ts) - 3),
        |      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' ||
        |        ts[i+3] || ' ' || ts[i+4]) END) AS gram
        |  FROM tok),
        |m AS (SELECT DISTINCT gram, source FROM g)
        |SELECT a.source AS source_a, b.source AS source_b,
        |  CAST(COUNT(*) AS BIGINT) AS n_shared_grams
        |FROM m a JOIN m b ON a.gram = b.gram AND a.source < b.source
        |GROUP BY 1, 2
        |ORDER BY n_shared_grams DESC, source_a, source_b""".stripMargin
  )

  // ------------------------------------------------------------------
  // Vector similarity catalog
  // ------------------------------------------------------------------

  private val vectorCatalog: Map[String, (SparkSession, String) => DataFrame] = Map(
    // brute-force cosine kNN; ids+rank only so cross-engine float noise
    // can't flip a hash (ordering gaps >> 1e-12)
    "q23_knn_of_vec0" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val anchor = e.filter(col("vec_id") === 0L).select(col("embedding").as("qv"))
      val top = e.filter(col("vec_id") =!= 0L)
        .crossJoin(broadcast(anchor))
        .withColumn("score", cosineSim(col("embedding"), col("qv")))
        .select(col("vec_id"), col("score"))
        .orderBy(desc("score"), col("vec_id"))
        .limit(10)
      top
        // unpartitioned window over the limit(10) frame — tiny task
        .withColumn("rk",
          row_number().over(Window.orderBy(desc("score"), col("vec_id"))).cast("long"))
        .select(col("vec_id"), col("rk"))
        .orderBy(col("rk"))
    }),
    "q24_embed_label_stats" -> ((s, dir) => {
      t(s, dir, "embeddings")
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          max(size(col("embedding"))).cast("long").as("dim"))
        .orderBy(col("label"))
    }),
    // FULL-oracle UDAF representative (SURVEY §2.10): per-label centroid
    // via the VectorAvgExact typed Aggregator — ONE hash aggregation over
    // integer micro-units (merge-order independent, so it replays
    // cross-engine; the float VectorAvg twin's double sums cannot). The
    // posexplode to (label, dim) rows happens AFTER the aggregation, on
    // n_labels × dim rows, not on the corpus. n_vecs equals the oracle's
    // per-(label, dim) count because the table's vectors are
    // uniform-length (q24 pins dim); the aggregator itself zero-pads
    // ragged input.
    "va01_vector_avg" -> ((s, dir) => {
      // null/empty vectors are excluded up front so n_vecs, the
      // aggregator's divisor, and the oracle's per-(label, dim) COUNT(*)
      // are the same population by construction (a NULL would be counted
      // by count(*) but skipped by the aggregator and unnest)
      t(s, dir, "embeddings")
        .filter(col("embedding").isNotNull && size(col("embedding")) > 0)
        .groupBy(col("label"))
        .agg(
          graft.functions.VectorAvgExact.vectorAvgExact(col("embedding"))
            .as("avgq"),
          count(lit(1)).as("n_vecs"))
        .select(col("label"), col("n_vecs"), posexplode(col("avgq")))
        .select(col("label"), col("pos").as("dim"),
          col("col").as("avg_micros"), col("n_vecs"))
        .orderBy(col("label"), col("dim"))
    }),
    // FULL-oracle M1/M2 representative: the portable-md5 hash embedder
    // (PortableHashEmbedder.embed) over the first 50 documents at dim 16 —
    // slot counts are exact integers and the normalize step is three
    // correctly-rounded IEEE ops, so every float replays bit-for-bit in
    // DuckDB (the murmur `hash_embed` twin stays the 100 TB default and
    // stays spec-gated: no SQL engine computes Scala murmur3). Output
    // doubles are the float values widened, roundtripped through REAL on
    // the oracle side.
    "me01_hash_embed" -> ((s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") < 50)
      graft.vector.PortableHashEmbedder.embed(docs, "doc_id", "text", dim = 16)
        .select(col("doc_id"), posexplode(col("embedding")))
        .select(col("doc_id"), col("pos").as("dim"),
          col("col").cast("double").as("val"))
        .orderBy(col("doc_id"), col("dim"))
    })
  )

  /** pk01's greedy next-fit is a per-group SEQUENTIAL recurrence — bin and
    * running total at rank i depend on rank i-1 — so the oracle is a
    * recursive CTE stepping rank→rank+1 within each pack group (all 16
    * groups advance one rank per recursion level). The chunk derivation
    * mirrors q49's; keys/aggregation mirror PackedBin exactly. */
  private val packingOracle: Map[String, String] = Map(
    "pk01_sequence_packing" ->
      """WITH RECURSIVE t AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ts
        |  FROM documents
        |), n AS (
        |  SELECT doc_id, ts,
        |    CASE WHEN len(ts) <= 64 THEN 1
        |         ELSE 1 + CAST(ceil((len(ts) - 64) / 48.0) AS BIGINT)
        |    END AS nc
        |  FROM t WHERE ts IS NOT NULL
        |), c0 AS (
        |  SELECT doc_id, g - 1 AS chunk_idx,
        |    len(ts[(g-1)*48 + 1 : (g-1)*48 + 64]) AS n_tokens
        |  FROM n, UNNEST(generate_series(1, nc)) AS s(g)
        |), c AS (
        |  SELECT doc_id % 16 AS grp, doc_id, chunk_idx,
        |    CAST(n_tokens AS BIGINT) AS n_tokens,
        |    row_number() OVER (PARTITION BY doc_id % 16
        |                       ORDER BY doc_id, chunk_idx) AS rn
        |  FROM c0
        |), r AS (
        |  SELECT grp, rn, doc_id, chunk_idx, n_tokens,
        |    CAST(0 AS BIGINT) AS bin, n_tokens AS tot
        |  FROM c WHERE rn = 1
        |  UNION ALL
        |  SELECT c.grp, c.rn, c.doc_id, c.chunk_idx, c.n_tokens,
        |    CASE WHEN r.tot + c.n_tokens <= 256 THEN r.bin ELSE r.bin + 1 END,
        |    CASE WHEN r.tot + c.n_tokens <= 256 THEN r.tot + c.n_tokens
        |         ELSE c.n_tokens END
        |  FROM r JOIN c ON c.grp = r.grp AND c.rn = r.rn + 1
        |)
        |SELECT grp AS "group", bin, COUNT(*) AS n_chunks,
        |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
        |  string_agg(doc_id || ':' || chunk_idx, '|' ORDER BY rn) AS chunk_keys
        |FROM r GROUP BY grp, bin ORDER BY "group", bin""".stripMargin)

  /** km01's Lloyd replay, one CTE block per unrolled iteration:
    * VectorAvgExact quantization (`floor(x·1e6 + 0.5)` on the exact
    * float→double widening), md5-sampled init (ann02's portable sample),
    * argmin assignment as a row_number window over (d2, cell), per-dim
    * floor-div means (va01's exactness argument: |sum| ≪ 2^53 and the
    * quotient sits ≥ 1/n from any integer, so the double floor() is
    * exact), emptied cells carried via left join + coalesce. Dim 64 is
    * the table's pinned vector width (q24). */
  /** One integer-Lloyd CTE chain over `embedding[lo .. lo+dims-1]` with
    * table prefix `p` — defines `${p}em` (micro-quantized vectors),
    * `${p}c0..c$iters` (codebook states) and `${p}f`, the final
    * (vec_id, cell, d2) assignment. Shared by the km01 oracle (one
    * full-width chain) and the pq01 oracle (m sliced chains), so the
    * k-means replay has ONE definition. */
  private def kmeansChainSql(
      p: String, lo: Int, dims: Int, k: Int, iters: Int,
      where: String = ""): String = {
    val sliceExpr =
      if (lo == 1 && dims == 64) "embedding"
      else s"embedding[$lo:${lo + dims - 1}]"
    val d2 = (c: String) =>
      s"""CAST(list_sum(list_transform(generate_series(1, $dims),
         |        j -> (e.v[j] - $c.centroid[j]) * (e.v[j] - $c.centroid[j])))
         |        AS BIGINT)""".stripMargin
    val iter = (i: Int) =>
      s"""${p}a$i AS (SELECT vec_id, v, cell FROM (
         |    SELECT e.vec_id, e.v, c.cell,
         |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |        ${d2("c")}, c.cell) AS rn
         |    FROM ${p}em e CROSS JOIN ${p}c${i - 1} c) WHERE rn = 1),
         |${p}s$i AS (SELECT cell, g.j AS j, CAST(SUM(v[g.j]) AS BIGINT) AS s,
         |    COUNT(*) AS n
         |  FROM ${p}a$i, UNNEST(generate_series(1, $dims)) AS g(j)
         |  GROUP BY cell, g.j),
         |${p}m$i AS (SELECT cell,
         |    array_agg(CAST(floor(CAST(s AS DOUBLE) / n) AS BIGINT)
         |      ORDER BY j) AS centroid
         |  FROM ${p}s$i GROUP BY cell),
         |${p}c$i AS (SELECT ${p}c${i - 1}.cell,
         |    coalesce(${p}m$i.centroid, ${p}c${i - 1}.centroid) AS centroid
         |  FROM ${p}c${i - 1} LEFT JOIN ${p}m$i USING (cell))""".stripMargin
    s"""${p}em AS (SELECT vec_id, list_transform(CAST($sliceExpr AS DOUBLE[]),
       |    x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT)) AS v
       |  FROM embeddings$where),
       |${p}c0 AS (SELECT CAST(row_number() OVER (ORDER BY
       |      ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT,
       |      vec_id) - 1 AS BIGINT) AS cell, v AS centroid
       |  FROM ${p}em
       |  ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT,
       |    vec_id
       |  LIMIT $k),
       |${(1 to iters).map(iter).mkString(",\n")},
       |${p}f AS (SELECT vec_id, cell, d2 FROM (
       |  SELECT e.vec_id, c.cell, ${d2("c")} AS d2,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |      ${d2("c")}, c.cell) AS rn
       |  FROM ${p}em e CROSS JOIN ${p}c$iters c) WHERE rn = 1)""".stripMargin
  }

  private val kmeansOracleSql: String =
    s"""WITH ${kmeansChainSql("", 1, 64, 8, 2)}
       |SELECT vec_id, cell, d2 FROM f
       |ORDER BY vec_id""".stripMargin

  private val vectorOracle: Map[String, String] = Map(
    "km01_kmeans_int" -> kmeansOracleSql,
    // PQ encode: four 16-dim integer-Lloyd chains (the km01 chain builder
    // with sliced inputs), codes = per-subspace argmin cells, d2_total =
    // exact integer reconstruction error
    "pq01_product_quant" -> {
      val chains = (0 until 4)
        .map(s => kmeansChainSql(s"p$s", s * 16 + 1, 16, 8, 2))
        .mkString(",\n")
      s"""WITH $chains
         |SELECT a.vec_id, a.cell AS code0, b.cell AS code1,
         |  c.cell AS code2, d.cell AS code3,
         |  CAST(a.d2 + b.d2 + c.d2 + d.d2 AS BIGINT) AS d2_total
         |FROM p0f a JOIN p1f b USING (vec_id)
         |  JOIN p2f c USING (vec_id) JOIN p3f d USING (vec_id)
         |ORDER BY a.vec_id""".stripMargin
    },
    // PQ ADC replay: the same four sliced chains trained WITHOUT vec 0,
    // per-subspace query-to-centroid lookup tables, code joins, exact
    // full-width distance in-row
    "pq02_adc_topk" -> {
      val chains = (0 until 4)
        .map(s => kmeansChainSql(s"p$s", s * 16 + 1, 16, 8, 2,
          where = " WHERE vec_id <> 0"))
        .mkString(",\n")
      val dts = (0 until 4).map { s =>
        s"""dt$s AS (SELECT c.cell,
           |    CAST(list_sum(list_transform(generate_series(1, 16),
           |      j -> (qv.v[${s * 16} + j] - c.centroid[j]) *
           |           (qv.v[${s * 16} + j] - c.centroid[j])))
           |      AS BIGINT) AS d2q
           |  FROM p${s}c2 c CROSS JOIN qv)""".stripMargin
      }.mkString(",\n")
      s"""WITH $chains,
         |qv AS (SELECT list_transform(CAST(embedding AS DOUBLE[]),
         |    x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT)) AS v
         |  FROM embeddings WHERE vec_id = 0),
         |$dts,
         |fe AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
         |    x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT)) AS v
         |  FROM embeddings WHERE vec_id <> 0),
         |ex AS (SELECT fe.vec_id,
         |    CAST(list_sum(list_transform(generate_series(1, 64),
         |      j -> (fe.v[j] - qv.v[j]) * (fe.v[j] - qv.v[j])))
         |      AS BIGINT) AS exact_d2
         |  FROM fe CROSS JOIN qv)
         |SELECT f0.vec_id,
         |  CAST(d0.d2q + d1.d2q + d2x.d2q + d3.d2q AS BIGINT) AS adc_d2,
         |  ex.exact_d2
         |FROM p0f f0 JOIN p1f f1 USING (vec_id)
         |  JOIN p2f f2 USING (vec_id) JOIN p3f f3 USING (vec_id)
         |  JOIN dt0 d0 ON d0.cell = f0.cell
         |  JOIN dt1 d1 ON d1.cell = f1.cell
         |  JOIN dt2 d2x ON d2x.cell = f2.cell
         |  JOIN dt3 d3 ON d3.cell = f3.cell
         |  JOIN ex ON ex.vec_id = f0.vec_id
         |ORDER BY adc_d2, f0.vec_id
         |LIMIT 10""".stripMargin
    },
    // JL ±1 projection: exact long dot products of the micro-quantized
    // vector with md5-sign rows — merge-order independent by construction
    "jl01_random_projection" ->
      """WITH em AS (SELECT vec_id,
        |    list_transform(CAST(embedding AS DOUBLE[]),
        |      x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT)) AS v
        |  FROM embeddings),
        |px AS (SELECT vec_id, a.j AS j, b.i AS i, v[b.i + 1] AS x
        |  FROM em,
        |    UNNEST(generate_series(0, 15)) AS a(j),
        |    UNNEST(generate_series(0, 63)) AS b(i))
        |SELECT vec_id, CAST(j AS BIGINT) AS dim,
        |  CAST(SUM(x * (CASE WHEN ('0x' || substr(md5(
        |      'jl-' || CAST(j AS VARCHAR) || '-' || CAST(i AS VARCHAR)),
        |      1, 8))::BIGINT % 2 = 0 THEN 1 ELSE -1 END)) AS BIGINT)
        |    AS y_micro
        |FROM px GROUP BY vec_id, j
        |ORDER BY vec_id, dim""".stripMargin,
    "q23_knn_of_vec0" ->
      """SELECT vec_id, rk FROM (
        |  SELECT e.vec_id,
        |    CAST(ROW_NUMBER() OVER (ORDER BY
        |      list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |                             CAST(a.embedding AS DOUBLE[])) DESC,
        |      e.vec_id) AS BIGINT) AS rk
        |  FROM embeddings e
        |  CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) a
        |  WHERE e.vec_id <> 0)
        |WHERE rk <= 10 ORDER BY rk""".stripMargin,
    "q24_embed_label_stats" ->
      """SELECT label, COUNT(*) AS n, CAST(MAX(len(embedding)) AS BIGINT) AS dim
        |FROM embeddings GROUP BY label ORDER BY label""".stripMargin,
    // per-label centroid in integer micro-units: quantize each element on
    // the exact float→double widening, sum as BIGINT (merge-order
    // independent), floor-divide by the group count. The double floor() is
    // exact here: |sum| ≤ 1e6·|x|·n ≪ 2^53 and the quotient sits ≥ 1/n
    // from any other integer, far outside one ulp.
    "va01_vector_avg" ->
      """WITH q AS (
        |  SELECT label, list_transform(CAST(embedding AS DOUBLE[]),
        |    x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT)) AS qv
        |  FROM embeddings),
        |x AS (
        |  SELECT label, CAST(unnest(range(len(qv))) AS INTEGER) AS dim,
        |    unnest(qv) AS q
        |  FROM q)
        |SELECT label, dim,
        |  CAST(floor(CAST(SUM(q) AS DOUBLE) / COUNT(*)) AS BIGINT)
        |    AS avg_micros,
        |  COUNT(*) AS n_vecs
        |FROM x GROUP BY label, dim
        |ORDER BY label, dim""".stripMargin,
    // PortableHashEmbedder.embed replayed relationally: token → md5-32 →
    // (slot = (h>>1) % dim, sign = ±1) → per-(doc, slot) integer counts →
    // dense 16-slot grid → L2 normalize in double, float-roundtripped
    "me01_hash_embed" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
        |  FROM documents WHERE doc_id < 50),
        |hs AS (
        |  SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h
        |  FROM tok),
        |acc AS (
        |  SELECT doc_id, CAST((h // 2) % 16 AS INTEGER) AS dim,
        |    SUM(CASE WHEN h % 2 = 0 THEN 1 ELSE -1 END) AS acc
        |  FROM hs GROUP BY 1, 2),
        |grid AS (
        |  SELECT d.doc_id, CAST(r.range AS INTEGER) AS dim
        |  FROM (SELECT DISTINCT doc_id FROM documents WHERE doc_id < 50) d,
        |    range(16) r),
        |dense AS (
        |  SELECT g.doc_id, g.dim, COALESCE(a.acc, 0) AS acc
        |  FROM grid g LEFT JOIN acc a
        |    ON g.doc_id = a.doc_id AND g.dim = a.dim),
        |nrm AS (
        |  SELECT doc_id, SUM(acc * acc) AS norm FROM dense GROUP BY doc_id)
        |SELECT d.doc_id, d.dim,
        |  CAST(CAST(CASE WHEN nrm.norm = 0 THEN 0.0
        |    ELSE d.acc * (1.0 / sqrt(CAST(nrm.norm AS DOUBLE))) END
        |    AS REAL) AS DOUBLE) AS val
        |FROM dense d JOIN nrm ON d.doc_id = nrm.doc_id
        |ORDER BY d.doc_id, d.dim""".stripMargin
  )

  // ------------------------------------------------------------------
  // Sessionization (windowed analytics over the events stream table)
  // ------------------------------------------------------------------

  private val sessionCatalog: Map[String, (SparkSession, String) => DataFrame] = Map(
    "st01_user_sessions" -> ((s, dir) => {
      val ev = events(s, dir)
        .withColumn("sec", expr("CAST(ts_ns DIV 1000000000 AS BIGINT)"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ns"), col("event_id"))
      ev.withColumn("prev", lag(col("sec"), 1).over(w))
        .withColumn("is_new",
          when(col("sec") - col("prev") > 1800L, 1).otherwise(0))
        .groupBy(col("user_id"))
        .agg((lit(1) + sum(col("is_new"))).cast("long").as("n_sessions"),
          count(lit(1)).as("n_events"))
        .orderBy(col("user_id"))
    }),
    // SLIDING windows (1 h window, 15 min slide) with exact aggregates —
    // the native `window()` operator the streaming path uses
    // (EventStreams.slidingUsers), here in its batch form with a full
    // oracle: every event lands in exactly 4 epoch-aligned windows, which
    // DuckDB replays by cross-joining slide offsets k = 0..3. The window
    // start travels as epoch SECONDS (integer) so no timestamp-type
    // mismatch can leak into the hash compare.
    "st02_sliding_hourly" -> ((s, dir) => {
      events(s, dir)
        .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"))
        .select(
          expr("CAST(unix_micros(w.start) DIV 1000000 AS BIGINT)").as("ws_sec"),
          col("event_type"), col("n"), col("n_users"))
        .orderBy(col("ws_sec"), col("event_type"))
    }),
    // NATIVE session_window operator (st01 oracles the manual lag
    // formulation; this oracles Spark's built-in interval-merge). The
    // replay is gaps-and-islands in MICROSECONDS — the operator's own
    // precision, where a new session starts iff the gap is >= 30 min
    // (session end is exclusive); a seconds-floor oracle could mis-bucket
    // boundary events. Session start emitted as epoch micros (exact long).
    "st03_session_windows" -> ((s, dir) => {
      events(s, dir)
        .groupBy(session_window(col("ts"), "30 minutes").as("sw"),
          col("user_id"))
        .agg(count(lit(1)).as("n"))
        .select(expr("unix_micros(sw.start)").as("start_us"),
          col("user_id"), col("n"))
        .orderBy(col("user_id"), col("start_us"))
    }),
    // the stream-stream interval join's batch form (EventStreams
    // .intervalJoin is one definition for both; StreamingSpec pins the
    // streaming run equal to this batch run) — funnel shape: every event
    // pair on the same user within [0, 30 min], aggregated per type pair
    // with the exact integer-micros gap mass so the output stays 25 rows
    // at any scale
    "st04_interval_join" -> ((s, dir) => {
      val ev = events(s, dir)
      graft.streaming.EventStreams.intervalJoin(ev, ev, "30 minutes")
        .groupBy(col("l_type"), col("r_type"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(expr("unix_micros(r_ts) - unix_micros(l_ts)"))
            .as("sum_gap_us"))
        .orderBy(col("l_type"), col("r_type"))
    })
  )

  private val sessionOracle: Map[String, String] = Map(
    "st02_sliding_hourly" ->
      """SELECT ws_sec, event_type, COUNT(*) AS n,
        | COUNT(DISTINCT user_id) AS n_users
        |FROM (
        |  SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 900 - k) * 900 AS ws_sec,
        |    event_type, user_id
        |  FROM events CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k) ks)
        |GROUP BY ws_sec, event_type
        |ORDER BY ws_sec, event_type""".stripMargin,
    // the running sum MUST order by (us, event_id) — the same tie-break
    // as the LAG — or two identical-ts events at a session boundary could
    // split the new-session flag across the tie nondeterministically
    "st03_session_windows" ->
      """WITH t AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us,
        |    LAG(epoch_us(ts)) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |m AS (
        |  SELECT user_id, us,
        |    SUM(CASE WHEN prev IS NULL OR us - prev >= 1800000000
        |             THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY us, event_id
        |            ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM t)
        |SELECT CAST(MIN(us) AS BIGINT) AS start_us, user_id, COUNT(*) AS n
        |FROM m GROUP BY user_id, sid
        |ORDER BY user_id, start_us""".stripMargin,
    "st01_user_sessions" ->
      """SELECT user_id,
        | CAST(1 + SUM(CASE WHEN sec - prev > 1800 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
        | COUNT(*) AS n_events
        |FROM (
        |  SELECT user_id, ts, CAST(floor(epoch(ts)) AS BIGINT) AS sec,
        |    LAG(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events)
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    // inequality self-join replay: DuckDB's IEJoin handles the interval
    // predicate natively; gaps summed as exact integer micros
    "st04_interval_join" ->
      """WITH j AS (
        |  SELECT l.event_type AS l_type, r.event_type AS r_type,
        |    epoch_us(r.ts) - epoch_us(l.ts) AS gap_us
        |  FROM events l JOIN events r ON l.user_id = r.user_id
        |    AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 30 MINUTE)
        |SELECT l_type, r_type, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |  CAST(SUM(gap_us) AS BIGINT) AS sum_gap_us
        |FROM j GROUP BY l_type, r_type
        |ORDER BY l_type, r_type""".stripMargin
  )

  // ------------------------------------------------------------------
  // Temporal joins + deterministic sampling (training-pipeline extras):
  // as-of join, point-in-interval range join, hash split, group sample.
  // ------------------------------------------------------------------

  private val temporalCatalog: Map[String, (SparkSession, String) => DataFrame] = Map(
    // as-of join: each view event matched to the user's most recent
    // purchase at-or-before it (pandas merge_asof semantics, one
    // sort-shuffle on user_id — no pair blow-up). Right side is
    // pre-aggregated to one row per (user, ts) so ts ties can't make the
    // carried value nondeterministic.
    "aj01_asof_purchase" -> ((s, dir) => {
      val ev = events(s, dir)
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id"), col("user_id"), col("ts_ns"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts_ns"))
        .agg(max(col("value")).as("purchase_value"))
        .select(col("user_id"), col("ts_ns").as("pts_ns"), col("purchase_value"))
      graft.operators.TemporalJoins.asofJoin(
          views, purchases, key = "user_id",
          leftTs = "ts_ns", rightTs = "pts_ns",
          rightCols = Seq("purchase_value"))
        .select(col("event_id"), col("user_id"),
          // ns difference is nonnegative (backward match), so truncating
          // DIV equals floor — matches DuckDB's // on bigints
          expr("CAST((ts_ns - matched_ts) DIV 1000000000 AS BIGINT)").as("gap_s"),
          col("purchase_value"))
        .orderBy(col("event_id"))
    }),
    // range join: how many lineitems shipped within ±1 day of each urgent
    // order's date — a genuine inequality join (no equi-key) that the
    // bucketized rangeJoin turns into an equi-join on 2-day cells instead
    // of a nested loop over |orders|×|lineitem|.
    "rj01_range_join" -> ((s, dir) => {
      // parquet dates load as TIMESTAMP_NTZ; all sessions pin UTC, so the
      // NTZ→TIMESTAMP cast is exact and epoch seconds match DuckDB epoch()
      val iv = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"),
          (unix_seconds(col("o_orderdate").cast("timestamp")) - 86400L).as("w_lo"),
          (unix_seconds(col("o_orderdate").cast("timestamp")) + 86400L).as("w_hi"))
      // dedup-before-join: shipdates are day-granular, so 600k point rows
      // collapse to ~2.5k distinct days — join the distinct values weighted
      // by count and SUM the weights after (same result, ~100x less join
      // work; the pattern that matters at 100 TB)
      val p = t(s, dir, "lineitem")
        .select(unix_seconds(col("l_shipdate").cast("timestamp")).as("ship_s"))
        .groupBy(col("ship_s")).agg(count(lit(1)).as("n_pts"))
      // bucketWidth = 0 derives the cell width from the median interval
      // span (here exactly the old 172800 s constant — every window is
      // two days wide), so callers stop hand-tuning a data property
      graft.operators.TemporalJoins.rangeJoin(p, iv, "ship_s", "w_lo", "w_hi",
          bucketWidth = 0L, inclusiveHigh = true)
        .groupBy(col("o_orderkey")).agg(sum(col("n_pts")).as("n_in_window"))
        .groupBy(col("n_in_window")).agg(count(lit(1)).as("n_orders"))
        .orderBy(col("n_in_window"))
    }),
    // content-addressed train/val/test split: md5(id-salt) cut by weight
    // thresholds — zero shuffles, identical assignment on any engine
    "sp01_hash_split" -> ((s, dir) => {
      graft.operators.Sampling.hashSplit(t(s, dir, "documents"),
          "doc_id", "graft", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("split"))
    }),
    // Duffield–Lund–Thorup priority sampling: fixed-count weighted
    // without-replacement sample + the max(w, tau) subset-sum estimator.
    // Priorities are ONE correctly-rounded IEEE division from md5-60bit
    // content-addressed uniforms, so sample AND estimator replay
    // bit-for-bit in DuckDB; plan is TakeOrderedAndProject(k+1), no
    // global sort
    "sp05_priority_sample" -> ((s, dir) => {
      graft.operators.Sampling.prioritySample(t(s, dir, "documents"),
          "doc_id", greatest(col("n_chars"), lit(1L)), k = 100, salt = "dlt")
        .orderBy(desc("priority"), col("doc_id"))
    }),
    // deterministic balanced-token sharding: content-addressed global
    // shuffle + equal token mass per shard to within one document;
    // two-level slice plan, naive-global-window oracle (integer-exact)
    "sp03_token_shards" -> ((s, dir) => {
      graft.operators.Sampling.shardByTokens(t(s, dir, "documents"),
          "doc_id", "text", nShards = 8)
        .select(col("doc_id"), col("n_tokens"),
          col("shard").cast("long").as("shard"))
        .orderBy(col("doc_id"))
    }),
    // z-order layout summary: quantize (l_partkey, l_suppkey) onto 8
    // bits each from their exact [min, max] domains (two bounded
    // scalars), interleave into a Morton key, cut into 16 fixed z
    // ranges, and report per-bucket count + per-dimension min/max —
    // the per-file stats ranges an OPTIMIZE ZORDER write hands parquet
    // min/max pruning. Exact integer math end to end
    "zo01_zorder_buckets" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select("l_partkey", "l_suppkey")
      val d = li.agg(
        min("l_partkey"), max("l_partkey"),
        min("l_suppkey"), max("l_suppkey")).head()
      graft.operators.Layout.zorderBuckets(li,
        Seq("l_partkey", "l_suppkey"),
        Seq((d.getLong(0), d.getLong(1)), (d.getLong(2), d.getLong(3))),
        bits = 8, nBuckets = 16)
    }),
    // mixture solver: the budgets table mixtureSample consumes, solved
    // from exact micro-share targets (en-heavy mixture over lang) —
    // largest T satisfiable at the target proportions, floor math
    "mw03_mixture_budgets" -> ((s, dir) => {
      graft.operators.Sampling.mixtureBudgets(
        t(s, dir, "documents"), "lang", "text",
        Seq("de" -> 150000L, "en" -> 400000L, "es" -> 150000L,
          "fr" -> 150000L, "zh" -> 150000L))
        .orderBy(col("lang"))
    }),
    // padding-efficiency report: arrival-order vs length-sorted batching
    // at batch 32 — the waste table that justifies (or vetoes) a length
    // sort before fixed-shape training/inference
    "pk02_padding_report" -> ((s, dir) => {
      graft.operators.Sampling.paddingReport(
        t(s, dir, "documents"), "doc_id", "text", batchSize = 32)
    }),
    // three-dimension z-order: the same exact interleave at d=3
    // (partkey, suppkey, linenumber) — every dimension's per-bucket
    // range stays tight, which is the whole point of the curve at d>2
    "zo03_zorder3_buckets" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"),
          col("l_linenumber").cast("long").as("l_linenumber"))
      val d = li.agg(
        min("l_partkey"), max("l_partkey"),
        min("l_suppkey"), max("l_suppkey"),
        min("l_linenumber"), max("l_linenumber")).head()
      graft.operators.Layout.zorderBuckets(li,
        Seq("l_partkey", "l_suppkey", "l_linenumber"),
        Seq((d.getLong(0), d.getLong(1)), (d.getLong(2), d.getLong(3)),
          (d.getLong(4), d.getLong(5))),
        bits = 6, nBuckets = 16)
    }),
    // pruning what-if: files skipped by an l_suppkey range filter under
    // a single l_partkey sort vs the 2-column z-order — the planner
    // report that justifies the rewrite. Predicate = the middle 1/16th
    // slice of the suppkey domain, derived from the same exact scalars
    "zo02_pruning_whatif" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select("l_partkey", "l_suppkey")
      val d = li.agg(
        min("l_partkey"), max("l_partkey"),
        min("l_suppkey"), max("l_suppkey")).head()
      val (smin, smax) = (d.getLong(2), d.getLong(3))
      val w = smax - smin + 1L
      val lo = smin + 7L * w / 16L
      val hi = smin + 8L * w / 16L - 1L
      graft.operators.Layout.pruningComparison(li,
        Seq("l_partkey", "l_suppkey"),
        Seq((d.getLong(0), d.getLong(1)), (smin, smax)),
        "l_suppkey", lo, hi, bits = 8, nBuckets = 16)
    }),
    // leakage-safe split: hashSplit keyed by near-dup cluster
    // representative — near-duplicates can never straddle train/test;
    // portable signatures so DuckDB replays clusters + split bit-for-bit
    "sp04_leakage_safe_split" -> ((s, dir) => {
      graft.operators.Sampling.leakageSafeSplit(t(s, dir, "documents"),
          "doc_id", "text", "graft",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
          threshold = 0.8, portable = true)
        .select(col("doc_id"), col("rep_id"), col("split"))
        .orderBy(col("doc_id"))
    }),
    // FineWeb-style quality selection: top-scoring docs until half the
    // corpus token mass; hierarchical boundary refinement (score-bin
    // prefix, then hash-slice prefix inside the one boundary bin) — the
    // naive shape this replays in SQL is ONE global window
    "qs01_top_quality" -> ((s, dir) => {
      val docs = t(s, dir, "documents").withColumn("quality",
        graft.functions.TextFunctions.qualityScore(col("text")))
      // Stats variant: the lane needs no payload column, so the
      // operator's id-keyed rejoin — a SECOND full corpus pass
      // re-evaluating the heavy qualityScore expression — is skipped;
      // quality rides the one-pass stats frame (same expression, same
      // rows, identical values)
      graft.operators.Sampling.selectTopQualityShareStats(docs,
          "doc_id", "text", "quality", sharePermille = 500)
        .select(col("doc_id"), col("quality"), col("n_tokens"))
        .orderBy(col("doc_id"))
    }),
    // deterministic per-group sample: 3 docs per language by salted hash
    "sp02_group_sample" -> ((s, dir) => {
      graft.operators.Sampling.groupSample(t(s, dir, "documents"),
          groupCol = "lang", idCol = "doc_id", n = 3, salt = "sample")
        .select(col("lang"), col("sample_rank").cast("long").as("sample_rank"),
          col("doc_id"))
        .orderBy(col("lang"), col("sample_rank"))
    })
  )

  private val temporalOracle: Map[String, String] = Map(
    "aj01_asof_purchase" ->
      """WITH v AS (SELECT event_id, user_id, ts FROM events
        |           WHERE event_type = 'view'),
        |p AS (SELECT user_id, ts, MAX(value) AS purchase_value FROM events
        |      WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT v.event_id, v.user_id,
        |  (epoch_ns(v.ts) - epoch_ns(p.ts)) // 1000000000 AS gap_s,
        |  p.purchase_value
        |FROM v ASOF LEFT JOIN p
        |  ON v.user_id = p.user_id AND v.ts >= p.ts
        |ORDER BY v.event_id""".stripMargin,
    "rj01_range_join" ->
      """WITH iv AS (SELECT o_orderkey,
        |    CAST(epoch(o_orderdate) AS BIGINT) - 86400 AS w_lo,
        |    CAST(epoch(o_orderdate) AS BIGINT) + 86400 AS w_hi
        |  FROM orders WHERE o_orderpriority = '1-URGENT'),
        |p AS (SELECT CAST(epoch(l_shipdate) AS BIGINT) AS ship_s FROM lineitem),
        |m AS (SELECT o_orderkey, COUNT(*) AS n_in_window
        |      FROM p JOIN iv ON ship_s >= w_lo AND ship_s <= w_hi
        |      GROUP BY 1)
        |SELECT n_in_window, COUNT(*) AS n_orders FROM m
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "sp01_hash_split" ->
      """SELECT split, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM (SELECT CASE WHEN h < 'cccccccc' THEN 'train'
        |                  WHEN h < 'e6666666' THEN 'val'
        |                  ELSE 'test' END AS split, n_chars
        |      FROM (SELECT substring(md5(CAST(doc_id AS VARCHAR) || '-graft'), 1, 8) AS h,
        |                   n_chars
        |            FROM documents))
        |GROUP BY split ORDER BY split""".stripMargin,
    // DLT replay: same 60-bit uniforms, same single division, same
    // (k+1)-th-priority threshold
    "sp05_priority_sample" ->
      """WITH q AS (
        |  SELECT doc_id, GREATEST(n_chars, 1) AS weight,
        |    CAST(GREATEST(n_chars, 1) AS DOUBLE) /
        |      ((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '-dlt'),
        |          1, 15))::BIGINT AS DOUBLE) + 1.0)
        |        / 1152921504606846976.0) AS priority
        |  FROM documents),
        |t AS (SELECT * FROM q ORDER BY priority DESC, doc_id LIMIT 101),
        |tau AS (SELECT CASE WHEN COUNT(*) > 100 THEN MIN(priority)
        |               ELSE 0.0 END AS tau FROM t)
        |SELECT doc_id, weight, priority,
        |  GREATEST(CAST(weight AS DOUBLE), tau) AS w_hat
        |FROM (SELECT * FROM t ORDER BY priority DESC, doc_id LIMIT 100), tau
        |ORDER BY priority DESC, doc_id""".stripMargin,
    // naive replay of the two-level shard plan: one global window in
    // hash order, exclusive running token sum, integer floor division
    "sp03_token_shards" ->
      """WITH t AS (SELECT doc_id,
        |    CAST(len(list_filter(string_split_regex(trim(lower(text)),
        |      '[ \t\n\x0B\f\r]+'), x -> x <> '')) AS BIGINT) AS n_tokens,
        |    substr(md5(CAST(doc_id AS VARCHAR) || '-shard'), 1, 8) AS hh
        |  FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |    SUM(n_tokens) OVER (ORDER BY hh, doc_id) - n_tokens AS cum,
        |    SUM(n_tokens) OVER () AS tot
        |  FROM t)
        |SELECT doc_id, n_tokens,
        |  CAST(CASE WHEN tot <= 0 THEN 0
        |       ELSE LEAST(7, (cum * 8) // tot) END AS BIGINT) AS shard
        |FROM c ORDER BY doc_id""".stripMargin,
    // z-order replay: exact integer quantization from the true domains
    // (scalar subquery), the identical unrolled bit interleave, fixed
    // 16-way z-range cut (d*bits = 16 -> 2^16 z domain)
    "zo01_zorder_buckets" ->
      s"""WITH dom AS (SELECT MIN(l_partkey) AS pmin, MAX(l_partkey) AS pmax,
        |    MIN(l_suppkey) AS smin, MAX(l_suppkey) AS smax FROM lineitem),
        |q AS (SELECT l_partkey, l_suppkey,
        |    ((l_partkey - pmin) * 256) // (pmax - pmin + 1) AS qp,
        |    ((l_suppkey - smin) * 256) // (smax - smin + 1) AS qs
        |  FROM lineitem CROSS JOIN dom),
        |z AS (SELECT l_partkey, l_suppkey,
        |    ${sqlZValue(Seq("qp", "qs"), 8)} AS zv
        |  FROM q)
        |SELECT CAST((zv * 16) // 65536 AS BIGINT) AS bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  MIN(l_partkey) AS l_partkey_min, MAX(l_partkey) AS l_partkey_max,
        |  MIN(l_suppkey) AS l_suppkey_min, MAX(l_suppkey) AS l_suppkey_max
        |FROM z GROUP BY 1 ORDER BY bucket""".stripMargin,
    // mixture-solver replay: per-source token totals, the same min-over-
    // sources floor solve in HUGEINT, budgets by floor micro-share
    "mw03_mixture_budgets" ->
      """WITH tk AS (SELECT lang AS g,
        |    CAST(SUM(len(list_filter(string_split_regex(trim(lower(text)),
        |      '[ \t\n\x0B\f\r]+'), x -> x <> ''))) AS BIGINT) AS nt
        |  FROM documents GROUP BY 1),
        |w AS (SELECT * FROM (VALUES ('de', 150000), ('en', 400000),
        |    ('es', 150000), ('fr', 150000), ('zh', 150000)) AS t(g, wm)),
        |tt AS (SELECT MIN((CAST(coalesce(tk.nt, 0) AS HUGEINT) * 1000000)
        |    // wm) AS t
        |  FROM w LEFT JOIN tk USING (g)),
        |u AS (SELECT coalesce(tk.g, w.g) AS lang,
        |    coalesce(tk.nt, 0) AS n_tokens,
        |    coalesce(w.wm, 0) AS weight_micro
        |  FROM tk FULL OUTER JOIN w ON tk.g = w.g)
        |SELECT lang, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(weight_micro AS BIGINT) AS weight_micro,
        |  CAST((CAST(weight_micro AS HUGEINT) * tt.t) // 1000000 AS BIGINT)
        |    AS token_budget
        |FROM u CROSS JOIN tt ORDER BY lang""".stripMargin,
    // padding replay: naive single-window ranks under both orderings
    // (the two-level Spark plan is spec-proven equal to this)
    "pk02_padding_report" ->
      """WITH b AS (SELECT doc_id AS id,
        |    CAST(coalesce(len(list_filter(string_split_regex(trim(lower(
        |      text)), '[ \t\n\x0B\f\r]+'), x -> x <> '')), 0)
        |      AS BIGINT) AS nt
        |  FROM documents),
        |r AS (
        |  SELECT 'arrival' AS layout, nt,
        |    row_number() OVER (ORDER BY id) AS rk FROM b
        |  UNION ALL
        |  SELECT 'length_sorted' AS layout, nt,
        |    row_number() OVER (ORDER BY nt DESC, id) AS rk FROM b),
        |g AS (SELECT layout, (rk - 1) // 32 AS batch, COUNT(*) AS n,
        |    MAX(nt) AS mx, SUM(nt) AS sm
        |  FROM r GROUP BY 1, 2),
        |a AS (SELECT layout, CAST(COUNT(*) AS BIGINT) AS n_batches,
        |    CAST(COALESCE(SUM(sm), 0) AS BIGINT) AS useful_tokens,
        |    CAST(COALESCE(SUM(mx * n), 0) AS BIGINT) AS padded_tokens
        |  FROM g GROUP BY 1)
        |SELECT layout, n_batches, useful_tokens, padded_tokens,
        |  CAST(CASE WHEN padded_tokens <= 0 THEN 0
        |    ELSE ((padded_tokens - useful_tokens) * 1000) // padded_tokens
        |    END AS BIGINT) AS waste_permille
        |FROM a ORDER BY layout""".stripMargin,
    // d=3 z-order replay: identical interleave with bit k of column i
    // at output bit 3k+i; z domain 2^18, 16 fixed ranges
    "zo03_zorder3_buckets" ->
      s"""WITH dom AS (SELECT MIN(l_partkey) AS pmin, MAX(l_partkey) AS pmax,
        |    MIN(l_suppkey) AS smin, MAX(l_suppkey) AS smax,
        |    MIN(CAST(l_linenumber AS BIGINT)) AS lmin,
        |    MAX(CAST(l_linenumber AS BIGINT)) AS lmax FROM lineitem),
        |q AS (SELECT l_partkey, l_suppkey,
        |    CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |    ((l_partkey - pmin) * 64) // (pmax - pmin + 1) AS qp,
        |    ((l_suppkey - smin) * 64) // (smax - smin + 1) AS qs,
        |    ((CAST(l_linenumber AS BIGINT) - lmin) * 64)
        |      // (lmax - lmin + 1) AS ql
        |  FROM lineitem CROSS JOIN dom),
        |z AS (SELECT l_partkey, l_suppkey, l_linenumber,
        |    ${sqlZValue(Seq("qp", "qs", "ql"), 6)} AS zv
        |  FROM q)
        |SELECT CAST((zv * 16) // 262144 AS BIGINT) AS bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  MIN(l_partkey) AS l_partkey_min, MAX(l_partkey) AS l_partkey_max,
        |  MIN(l_suppkey) AS l_suppkey_min, MAX(l_suppkey) AS l_suppkey_max,
        |  MIN(l_linenumber) AS l_linenumber_min,
        |  MAX(l_linenumber) AS l_linenumber_max
        |FROM z GROUP BY 1 ORDER BY bucket""".stripMargin,
    // pruning what-if replay: the same two bucketings (single-column
    // value ranges vs the unrolled z interleave), the same min/max-vs-
    // range prunability test, the same derived 1/16th-slice predicate
    "zo02_pruning_whatif" ->
      s"""WITH dom AS (SELECT MIN(l_partkey) AS pmin, MAX(l_partkey) AS pmax,
        |    MIN(l_suppkey) AS smin, MAX(l_suppkey) AS smax FROM lineitem),
        |pr AS (SELECT smin + 7 * (smax - smin + 1) // 16 AS lo,
        |    smin + 8 * (smax - smin + 1) // 16 - 1 AS hi FROM dom),
        |q AS (SELECT l_suppkey,
        |    ((l_partkey - pmin) * 256) // (pmax - pmin + 1) AS qp,
        |    ((l_suppkey - smin) * 256) // (smax - smin + 1) AS qs
        |  FROM lineitem CROSS JOIN dom),
        |sb AS (SELECT (qp * 16) // 256 AS bucket,
        |    COUNT(*) AS n_rows, MIN(l_suppkey) AS fmin, MAX(l_suppkey) AS fmax
        |  FROM q GROUP BY 1),
        |zb AS (SELECT ((${sqlZValue(Seq("qp", "qs"), 8)}) * 16) // 65536
        |      AS bucket,
        |    COUNT(*) AS n_rows, MIN(l_suppkey) AS fmin, MAX(l_suppkey) AS fmax
        |  FROM q GROUP BY 1),
        |agg AS (
        |  SELECT 'single_sort' AS layout,
        |    CAST(COUNT(*) AS BIGINT) AS n_buckets,
        |    CAST(COUNT(*) FILTER (fmax < pr.lo OR fmin > pr.hi) AS BIGINT)
        |      AS n_pruned,
        |    CAST(COALESCE(SUM(n_rows)
        |      FILTER (NOT (fmax < pr.lo OR fmin > pr.hi)), 0) AS BIGINT)
        |      AS rows_scanned
        |  FROM sb CROSS JOIN pr GROUP BY pr.lo, pr.hi
        |  UNION ALL
        |  SELECT 'zorder' AS layout,
        |    CAST(COUNT(*) AS BIGINT) AS n_buckets,
        |    CAST(COUNT(*) FILTER (fmax < pr.lo OR fmin > pr.hi) AS BIGINT)
        |      AS n_pruned,
        |    CAST(COALESCE(SUM(n_rows)
        |      FILTER (NOT (fmax < pr.lo OR fmin > pr.hi)), 0) AS BIGINT)
        |      AS rows_scanned
        |  FROM zb CROSS JOIN pr GROUP BY pr.lo, pr.hi)
        |SELECT layout, n_buckets, n_pruned, rows_scanned
        |FROM agg ORDER BY layout""".stripMargin,
    // dd05's portable cluster replay + sp01's split thresholds applied to
    // the cluster representative (own id when unclustered)
    "sp04_leakage_safe_split" ->
      """WITH RECURSIVE
        |tok AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ts
        |  FROM documents),
        |gr AS (
        |  SELECT doc_id, CASE WHEN len(ts) < 3 THEN []
        |    ELSE list_transform(range(1, len(ts) - 1),
        |      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]) END AS grams
        |  FROM tok),
        |th AS (SELECT doc_id,
        |    list_transform(grams, g -> ('0x' || substr(md5(g),1,8))::BIGINT)
        |      AS hs
        |  FROM gr),
        |sig AS (SELECT doc_id, list_transform(range(0, 64), j ->
        |    coalesce(list_min(list_transform(hs, h ->
        |      (((('0x' || substr(md5('a' || j),1,8))::BIGINT % 2147483647) + 1)
        |          * h +
        |        ('0x' || substr(md5('b' || j),1,8))::BIGINT % 4294967291)
        |        % 4294967291)),
        |      4294967291)) AS s
        |  FROM th),
        |bands AS (SELECT doc_id, s, unnest(range(0, 16)) AS band FROM sig),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.doc_id < b.doc_id
        |    AND a.s[a.band*4+1 : a.band*4+4] = b.s[b.band*4+1 : b.band*4+4]),
        |ex AS (SELECT doc_id, list_distinct(grams) AS gs FROM gr),
        |conf AS (SELECT c.id_a, c.id_b
        |  FROM cand c JOIN ex ea ON ea.doc_id = c.id_a
        |    JOIN ex eb ON eb.doc_id = c.id_b
        |  WHERE len(ea.gs) + len(eb.gs) - len(list_intersect(ea.gs, eb.gs)) > 0
        |    AND CAST(len(list_intersect(ea.gs, eb.gs)) AS DOUBLE) /
        |      (len(ea.gs) + len(eb.gs) - len(list_intersect(ea.gs, eb.gs)))
        |      >= 0.8),
        |sym AS (SELECT id_a AS src, id_b AS dst FROM conf
        |  UNION SELECT id_b, id_a FROM conf),
        |reach(id, lab) AS (
        |  SELECT DISTINCT src, src FROM sym
        |  UNION
        |  SELECT s.dst, r.lab FROM reach r JOIN sym s ON s.src = r.id
        |  WHERE r.lab < s.dst),
        |clus AS (SELECT id, MIN(lab) AS keep_id FROM reach GROUP BY id),
        |rep AS (SELECT d.doc_id,
        |    coalesce(c.keep_id, d.doc_id) AS rep_id
        |  FROM documents d LEFT JOIN clus c ON c.id = d.doc_id)
        |SELECT doc_id, rep_id,
        |  CASE WHEN substr(md5(CAST(rep_id AS VARCHAR) || '-graft'), 1, 8)
        |         < 'cccccccc' THEN 'train'
        |       WHEN substr(md5(CAST(rep_id AS VARCHAR) || '-graft'), 1, 8)
        |         < 'e6666666' THEN 'val'
        |       ELSE 'test' END AS split
        |FROM rep
        |ORDER BY doc_id""".stripMargin,
    // naive replay of the hierarchical selection: integer quality score
    // (cu01's replay), salted hash, ONE global window in (quality desc,
    // hash, id) order, integer-exact half-token budget
    "qs01_top_quality" ->
      """WITH tok AS (SELECT doc_id, text,
        |    string_split_regex(trim(lower(text)), '[ \t\n\x0B\f\r]+') AS ts
        |  FROM documents),
        |ann AS (SELECT doc_id,
        |    CAST(len(list_filter(ts, x -> x <> '')) AS BIGINT) AS n_tokens,
        |    GREATEST(CAST(len(ts) AS BIGINT), 1) AS tc,
        |    GREATEST(CAST(length(text) AS BIGINT), 1) AS cc,
        |    CAST(len(list_filter(ts, t -> t IN ('the','a','an','and','or',
        |      'of','to','in','is','it','for','on','with','as','at','by',
        |      'this','that'))) AS BIGINT) AS sw,
        |    CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT)
        |      AS dg,
        |    CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS BIGINT)
        |      AS pc,
        |    substr(md5(CAST(doc_id AS VARCHAR) || '-tq'), 1, 8) AS hh
        |  FROM tok),
        |q AS (SELECT doc_id, n_tokens, hh,
        |    GREATEST(LEAST((sw*100)//tc + LEAST(cc//20, 30) + 40
        |      - (dg*100)//cc - (pc*100)//cc, 100), 0) AS quality
        |  FROM ann),
        |c AS (SELECT doc_id, quality, n_tokens,
        |    SUM(n_tokens) OVER (ORDER BY quality DESC, hh, doc_id) AS cum,
        |    SUM(n_tokens) OVER () AS tot
        |  FROM q)
        |SELECT doc_id, CAST(quality AS BIGINT) AS quality, n_tokens
        |FROM c WHERE cum <= (tot * 500) // 1000
        |ORDER BY doc_id""".stripMargin,
    "sp02_group_sample" ->
      """SELECT lang, sample_rank, doc_id FROM (
        |  SELECT lang, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY
        |      substring(md5(CAST(doc_id AS VARCHAR) || '-sample'), 1, 8),
        |      doc_id) AS sample_rank
        |  FROM documents)
        |WHERE sample_rank <= 3
        |ORDER BY lang, sample_rank""".stripMargin
  )

  // ------------------------------------------------------------------
  // Graph catalog: BFS / variable-length paths over a derived hierarchy
  // (region → nation → customer), oracle-checked against the closed form.
  // ------------------------------------------------------------------

  private def hierarchyEdges(s: SparkSession, dir: String): DataFrame = {
    val rn = t(s, dir, "nation").select(
      (col("n_regionkey").cast("long") + 1000000L).as("src"),
      (col("n_nationkey").cast("long") + 2000000L).as("dst"))
    val nc = t(s, dir, "customer").select(
      (col("c_nationkey").cast("long") + 2000000L).as("src"),
      (col("c_custkey") + 3000000L).as("dst"))
    rn.unionByName(nc)
  }

  /** The g06/g05b multi-parent DAG: hierarchy extended with
    * customer→order and (distinct) order→part edges. Duplicate-free by
    * construction (disjoint id ranges per level; orderPart distinct'd). */
  private def dagEdges(s: SparkSession, dir: String): DataFrame = {
    val custOrder = t(s, dir, "orders").select(
      (col("o_custkey") + 3000000L).as("src"),
      (col("o_orderkey") + 10000000L).as("dst"))
    val orderPart = t(s, dir, "lineitem").select(
      (col("l_orderkey") + 10000000L).as("src"),
      (col("l_partkey") + 100000000L).as("dst"))
      .distinct()
    hierarchyEdges(s, dir).unionByName(custOrder).unionByName(orderPart)
  }

  // Shared graph-lane edge frames: the graph lanes traverse a few edge
  // sets, and the graph operators read the frame they are given without
  // materializing it (the GraphOps edge contract). Within one process each
  // frame is declared ONCE per (session, sf-dir) — the traversal inputs
  // repartitioned on src, so each level's join exchanges only the
  // frontier — and reused; persist is lazy, so the first traversal
  // that touches it pays the one materialization. A handful of small
  // frames (≤~1 M edge rows at sf0.1) keyed by session: Verify/Bench run
  // one session per process, the test JVM shares one.
  private val sharedEdgeFrames =
    scala.collection.mutable.Map.empty[(SparkSession, String, String), DataFrame]
  private def sharedEdges(s: SparkSession, dir: String, key: String)(
      build: => DataFrame): DataFrame =
    sharedEdgeFrames.synchronized {
      // entries of stopped sessions are dead weight (their cached blocks
      // died with the context) — sweep them so a long-lived JVM cycling
      // sessions can't grow the map or pin dead SparkSession objects
      sharedEdgeFrames.filterInPlace((k, _) => !k._1.sparkContext.isStopped)
      sharedEdgeFrames.getOrElseUpdate((s, dir, key), build)
    }
  private def hierPart(s: SparkSession, dir: String): DataFrame =
    sharedEdges(s, dir, "hier") {
      hierarchyEdges(s, dir).repartition(col("src"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
  private def dagPart(s: SparkSession, dir: String): DataFrame =
    sharedEdges(s, dir, "dag") {
      dagEdges(s, dir).repartition(col("src"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
  /** Undirected hierarchy for g05's sampled Brandes (forward ∪ reverse is
    * duplicate-free: the level id-ranges are disjoint). */
  private def hierUndirectedPart(s: SparkSession, dir: String): DataFrame =
    sharedEdges(s, dir, "hier-undirected") {
      val h = hierarchyEdges(s, dir)
      h.unionByName(h.select(col("dst").as("src"), col("src").as("dst")))
        .repartition(col("src"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
  /** Undirected multi-parent DAG for g09's shortest path (forward ∪
    * reverse is duplicate-free: the DAG's level id-ranges are disjoint). */
  private def dagUndirectedPart(s: SparkSession, dir: String): DataFrame =
    sharedEdges(s, dir, "dag-undirected") {
      val d = dagEdges(s, dir)
      d.unionByName(d.select(col("dst").as("src"), col("src").as("dst")))
        .repartition(col("src"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** g03/g04's co-purchase graph (grouped pair generation → weight ≥ 2),
    * built once per process: the pair-gen + aggregation is the expensive
    * half of both lanes and is identical between them. */
  private def coPurchaseEdges(s: SparkSession, dir: String): DataFrame =
    sharedEdges(s, dir, "copurchase") {
      val l = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"))
      graft.operators.Joins.groupedPairs(l, "l_orderkey", "l_partkey")
        .groupBy(col("a").as("src"), col("b").as("dst"))
        .agg(count(lit(1)).as("w"))
        .filter(col("w") >= 2)
        .select("src", "dst")
        // the w>=2 filter leaves a small frame, but a CACHED plan keeps
        // its 32 shuffle partitions (AQE cannot re-coalesce it), and every
        // scan of it — g03's CC canonicalize, g04's and g14's adjacency,
        // g07's edge distinct — would run ~32 near-empty tasks. Coalesce
        // before persisting.
        .coalesce(4)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** g11/g14's undirected adjacency over the co-purchase graph
    * (`GraphOps.undirectedAdjacency`), built and persisted ONCE per
    * (session, sf-dir): both lanes and every pass of a bench sweep read
    * the one materialized frame. */
  private def coPurchaseAdj(s: SparkSession, dir: String): DataFrame =
    sharedEdges(s, dir, "copurchase-adj") {
      GraphOps.undirectedAdjacency(coPurchaseEdges(s, dir))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** The g05b/g05c lanes' shared forward-Brandes frame: one BFS from
    * the 8 deterministic roots per (session, sf-dir), persisted —
    * the forward counts ARE g05b's output and g05c's backward input. */
  private def brandesForward(s: SparkSession, dir: String): DataFrame =
    sharedEdges(s, dir, "brandes-forward") {
      val regionRoots = t(s, dir, "region")
        .select((col("r_regionkey").cast("long") + 1000000L).as("root"))
      val nationRoots = t(s, dir, "nation")
        .select((col("n_nationkey").cast("long") + 2000000L).as("root"))
        .orderBy(substring(md5(concat(col("root").cast("string"),
          lit("-bc")).cast("binary")), 1, 8), col("root"))
        .limit(3)
      graft.operators.Betweenness.forwardCounts(
          dagPart(s, dir), regionRoots.unionByName(nationRoots), maxDepth = 4)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  private val graphCatalog: Map[String, (SparkSession, String) => DataFrame] = Map(
    "g01_bfs_depths" -> ((s, dir) => {
      val roots = t(s, dir, "region")
        .select((col("r_regionkey").cast("long") + 1000000L).as("id"))
      GraphOps.bfsDepths(hierPart(s, dir), roots, maxDepth = 5)
        .orderBy(col("id"))
    }),
    "g02_path_counts" -> ((s, dir) => {
      val roots = t(s, dir, "region")
        .select((col("r_regionkey").cast("long") + 1000000L).as("id"))
      GraphOps.varLengthPaths(hierPart(s, dir), roots, maxDepth = 5)
        .groupBy(col("depth"))
        .agg(count(lit(1)).as("nodes"), sum(col("n_paths")).as("paths"))
        .orderBy(col("depth"))
    }),
    // MULTI-PARENT var-length paths: extending the tree with orders and
    // parts makes a true DAG (a part sits in many orders), so at depth 4
    // paths > nodes — path-counting ≠ pair-counting, oracle-proven.
    "g06_multiparent_paths" -> ((s, dir) => {
      val roots = t(s, dir, "region")
        .select((col("r_regionkey").cast("long") + 1000000L).as("id"))
      GraphOps.varLengthPaths(dagPart(s, dir), roots, maxDepth = 6)
        .groupBy(col("depth"))
        .agg(count(lit(1)).as("nodes"), sum(col("n_paths")).as("paths"))
        .orderBy(col("depth"))
    }),
    // moved out of rows-only: the component histogram has a closed
    // recursive-CTE oracle in DuckDB
    "g03_components" -> ((s, dir) => {
      // co-purchase edges via grouped pair generation (one lineitem scan,
      // no self-join — Joins.groupedPairs, measured 2x faster); frame
      // shared with g04 (coPurchaseEdges)
      GraphOps.connectedComponents(coPurchaseEdges(s, dir))
        .groupBy(col("component")).agg(count(lit(1)).as("csize"))
        .groupBy(col("csize")).agg(count(lit(1)).as("n_components"))
        .orderBy(col("csize"))
    }),
    // FULL-oracle Brandes forward phase (g05's sampled-Brandes backward
    // half sums doubles and stays rows-only; the forward sigma recurrence
    // is exact integer arithmetic and replays in DuckDB as unrolled BFS
    // CTEs). Runs on the g06 multi-parent DIRECTED DAG so path counts
    // genuinely multiply (sigma > 1 at the part level) — on the plain
    // hierarchy tree sigma ≡ 1 and the recurrence would go unexercised.
    // Roots: the 5 regions (deep reach) + 3 nations sampled by the same
    // portable md5 order the sampling oracles replay (xxhash64, which
    // `approx` uses, has no DuckDB twin).
    "g05b_brandes_forward" -> ((s, dir) =>
      brandesForward(s, dir).orderBy(col("root"), col("id"))),
    // FULL-oracle Brandes BACKWARD phase — the half that was rows-only —
    // in integer micro-units (Betweenness.betweennessIntFromForward):
    // the floor-div dependency recurrence is exact integer arithmetic,
    // so unlike the float backward phase it replays bit-for-bit as
    // unrolled per-level CTEs on top of the forward block it SHARES
    // with g05b (one BFS per process, not two — same DAG, same 8
    // deterministic roots).
    "g05c_betweenness_int" -> ((s, dir) =>
      graft.operators.Betweenness.betweennessIntFromForward(
          brandesForward(s, dir), dagPart(s, dir))
        .orderBy(col("id"))),
    // bounded-horizon closeness + harmonic centrality of the sampled
    // roots — ONE root-domain agg over the same shared forward frame
    // (third consumer of the one BFS); exact integer floor-div terms
    "g13_closeness" -> ((s, dir) =>
      graft.operators.Betweenness.closenessFromForward(
          brandesForward(s, dir))
        .orderBy(col("root"))),
    // link prediction over the co-purchase graph: capped common-neighbor
    // pairs + engine-exact Adamic–Adar (micro-rounded 1/log2 deg terms);
    // the symmetrized adjacency is the shared persisted frame
    "g14_link_prediction" -> ((s, dir) =>
      GraphOps.linkPrediction(coPurchaseAdj(s, dir), maxNeighbors = 64)
        .orderBy(desc("common_neighbors"), desc("aa_micro"),
          col("node_a"), col("node_b"))
        .limit(20)),
    // degree table over the directed multi-parent DAG — GraphOps.degrees
    // was implemented-but-spec-only; two partial aggregations + full
    // outer join. Aggregated per (out, in)
    // shape so the lane output stays bounded at any scale.
    "g08_degree_shape" -> ((s, dir) => {
      GraphOps.degrees(dagPart(s, dir))
        .withColumn("has_out", col("out_degree") > 0)
        .withColumn("has_in", col("in_degree") > 0)
        .groupBy(col("has_out"), col("has_in"))
        .agg(count(lit(1)).as("n_nodes"),
          sum(col("out_degree")).as("total_out"),
          sum(col("in_degree")).as("total_in"))
        .orderBy(col("has_out"), col("has_in"))
    }),
    // FULL-oracle PageRank: deterministic synchronous integer-micro-unit
    // formulation (GraphOps.pageRank — a double-sum order could never
    // replay cross-engine) over the symmetrized co-purchase
    // graph; the DuckDB oracle unrolls the 5 supersteps as CTEs exactly
    // like g04's LPA.
    "g07_pagerank_int" -> ((s, dir) => {
      val e = coPurchaseEdges(s, dir)
      val sym = e.unionByName(
        e.select(col("dst").as("src"), col("src").as("dst")))
      GraphOps.pageRank(sym, iters = 5)
        .orderBy(desc("pr"), col("id"))
        .limit(100)
    }),
    // FULL-oracle G2: shortestPath's node SEQUENCE (the Cypher semantics —
    // a path, not a length; reference `analysis_queries.md:138-141`),
    // previously spec-only. Undirected BFS over the multi-parent DAG from
    // region 0 to the min part id: a part sits under many orders, so the
    // min-parent tie-break does real work on the way back down. The
    // endpoint lookup is a driver-sized scalar (MIN over one column).
    "g09_shortest_path" -> ((s, dir) => {
      val dst = 100000000L +
        t(s, dir, "lineitem").agg(min(col("l_partkey"))).head().getLong(0)
      // maxDepth 4 = the region→nation→customer→order→part radius; past
      // it BFS floods the whole graph through shared parts (the oracle's
      // unrolled level 5-6 CTEs measured 30x the 4-level cost). Both
      // engines return an identical EMPTY frame if the part ever drifted
      // out of radius, so the cap cannot desync the hash.
      GraphOps.shortestPathFrame(dagUndirectedPart(s, dir), 1000000L, dst,
          maxDepth = 4)
        .orderBy(col("step"))
    }),
    // degree-ordered (compact-forward) triangle counting over the
    // co-purchase graph — the wedge join is bounded by oriented
    // out-degrees (O(m^1.5), skew-immune), but the triangle SET is
    // orientation-independent, so the oracle replays it with a naive
    // three-way join. Top-20 participants, count-desc then id.
    "g10_triangles" -> ((s, dir) => {
      GraphOps.triangleParticipation(coPurchaseEdges(s, dir))
        .orderBy(desc("n_triangles"), col("id"))
        .limit(20)
    }),
    // bounded-round k-core peeling (graph-cleaning op): 5 synchronous
    // "drop degree < 3" rounds over the co-purchase graph — at sf0.01
    // peeling is STILL SHRINKING at round 5 (1295→1065), so the lane
    // genuinely pins the bounded-round semantics, not just a fixpoint
    // both formulations would reach
    "g11_kcore" -> ((s, dir) => {
      GraphOps.kCorePeel(coPurchaseAdj(s, dir), k = 3, rounds = 5)
        .orderBy(col("id"))
    }),
    // FULL-oracle HITS (hubs & authorities): deterministic synchronous
    // integer-micro-unit formulation with floor-div max-normalization
    // (GraphOps.hitsIntSync) over the DIRECTED (src<dst canonical)
    // co-purchase graph — the same unrolled-CTE replay family as
    // g04/g07; the directed edge orientation makes hub and auth
    // genuinely different scores.
    "g12_hits_int" -> ((s, dir) =>
      GraphOps.hitsIntSync(coPurchaseEdges(s, dir), iters = 4)
        .orderBy(desc("auth"), desc("hub"), col("id"))
        .limit(100))
  )

  /** SQL twin of `coPurchaseEdges` — the ONE definition interpolated
    * into every oracle that replays this graph (g03/g04/g07/g10/g11), so
    * the Scala edge build and its five replays cannot drift apart. Lines
    * carry no margin bars: outer stripMargin leaves them untouched. */
  private val coPurchaseCteSql: String =
    """e AS (
      |  SELECT a.l_partkey AS src, b.l_partkey AS dst
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2)""".stripMargin

  /** SQL twin of the portable MinHash signature/banding chain over
    * `documents` — ONE definition interpolated into the dd01/fz01/dd05/
    * dd06 oracles so the four replays cannot drift (same contract as
    * [[coPurchaseCteSql]]: lines carry no margin bars, so the outer
    * stripMargin leaves them untouched). sp04 and cu01 band DIFFERENT
    * base frames (split-salted ids / curation-annotated text) and keep
    * their own inlined chains. `tok` carries `text` through for dd06's
    * survivor election; the other lanes never read it (pruned). */
  /** dd01's portable-minhash banding chain (tok→gr→th→sig→bands),
    * parameterized by CTE prefix and source relation so the datasheet
    * chain can replay it over prefixed snapshot CTEs; the bare
    * `documents` instance ([[minhashBandsCteSql]]) keeps the dd-family
    * oracles unchanged. */
  private def sqlMinhashBandsCtes(p: String, src: String): String =
    raw"""${p}tok AS (
      |  SELECT doc_id, text, string_split_regex(trim(lower(text)), '\s+') AS ts
      |  FROM $src),
      |${p}gr AS (
      |  SELECT doc_id, CASE WHEN len(ts) < 3 THEN []
      |    ELSE list_transform(range(1, len(ts) - 1),
      |      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]) END AS grams
      |  FROM ${p}tok),
      |${p}th AS (SELECT doc_id,
      |    list_transform(grams, g -> ('0x' || substr(md5(g),1,8))::BIGINT)
      |      AS hs
      |  FROM ${p}gr),
      |${p}sig AS (SELECT doc_id, list_transform(range(0, 64), j ->
      |    coalesce(list_min(list_transform(hs, h ->
      |      (((('0x' || substr(md5('a' || j),1,8))::BIGINT % 2147483647) + 1)
      |          * h +
      |        ('0x' || substr(md5('b' || j),1,8))::BIGINT % 4294967291)
      |        % 4294967291)),
      |      4294967291)) AS s
      |  FROM ${p}th),
      |${p}bands AS (SELECT doc_id, s, unnest(range(0, 16)) AS band
      |  FROM ${p}sig)""".stripMargin

  private val minhashBandsCteSql: String =
    sqlMinhashBandsCtes("", "documents")

  /** Shared forward-BFS CTE block of the Brandes oracles (g05b forward
    * counts, g05c integer backward phase): the multi-parent DAG, the 8
    * deterministic roots, and levels l0..l4 with per-level sigma
    * aggregation + visited anti-join — one definition so the two
    * replays cannot drift. Same no-margin-bar convention as
    * [[coPurchaseCteSql]] — and no CONTENT line may begin with `|`
    * either (a leading `||` concat would lose a bar to the consuming
    * template's stripMargin). */
  private val brandesForwardCteSql: String = {
    val step = (i: Int) => {
      val visited = (0 until i)
        .map(j => s"SELECT root, id FROM l$j").mkString(" UNION ALL ")
      s"""l$i AS (
         |  SELECT g.root, g.id, $i AS depth, g.sigma FROM (
         |    SELECT f.root AS root, e.dst AS id,
         |      CAST(SUM(f.sigma) AS BIGINT) AS sigma
         |    FROM l${i - 1} f JOIN e ON f.id = e.src
         |    GROUP BY 1, 2) g
         |  WHERE NOT EXISTS (SELECT 1 FROM ($visited) v
         |                    WHERE v.root = g.root AND v.id = g.id))""".stripMargin
    }
    s"""e0 AS (
       |  SELECT CAST(n_regionkey AS BIGINT) + 1000000 AS src,
       |         CAST(n_nationkey AS BIGINT) + 2000000 AS dst FROM nation
       |  UNION ALL
       |  SELECT CAST(c_nationkey AS BIGINT) + 2000000, c_custkey + 3000000
       |  FROM customer
       |  UNION ALL
       |  SELECT o_custkey + 3000000, o_orderkey + 10000000 FROM orders
       |  UNION ALL
       |  SELECT DISTINCT l_orderkey + 10000000, l_partkey + 100000000
       |  FROM lineitem),
       |e AS (SELECT DISTINCT src, dst FROM e0),
       |roots AS (
       |  SELECT CAST(r_regionkey AS BIGINT) + 1000000 AS root FROM region
       |  UNION ALL
       |  SELECT root FROM (
       |    SELECT CAST(n_nationkey AS BIGINT) + 2000000 AS root FROM nation
       |    ORDER BY substring(md5(
       |      CAST(CAST(n_nationkey AS BIGINT) + 2000000 AS VARCHAR) ||
       |        '-bc'), 1, 8), root
       |    LIMIT 3) t),
       |l0 AS (SELECT root, root AS id, 0 AS depth,
       |       CAST(1 AS BIGINT) AS sigma FROM roots),
       |${(1 to 4).map(step).mkString(",\n")}""".stripMargin
  }

  private val graphOracle: Map[String, String] = Map(
    // closed form of BFS over the region→nation→customer tree
    "g01_bfs_depths" ->
      """SELECT id, depth FROM (
        |  SELECT CAST(r_regionkey AS BIGINT) + 1000000 AS id, 0 AS depth FROM region
        |  UNION ALL
        |  SELECT CAST(n_nationkey AS BIGINT) + 2000000, 1 FROM nation
        |  UNION ALL
        |  SELECT c_custkey + 3000000, 2 FROM customer)
        |ORDER BY id""".stripMargin,
    "g02_path_counts" ->
      """SELECT depth, nodes, paths FROM (
        |  SELECT 1 AS depth, COUNT(*) AS nodes, COUNT(*) AS paths FROM nation
        |  UNION ALL
        |  SELECT 2, COUNT(*), COUNT(*) FROM customer)
        |ORDER BY depth""".stripMargin,
    // closed form for the multi-parent DAG: depths 1..3 are trees (paths =
    // nodes); depth 4 counts parts once per containing order
    "g06_multiparent_paths" ->
      """SELECT depth, nodes, paths FROM (
        |  SELECT 1 AS depth, COUNT(*) AS nodes, COUNT(*) AS paths FROM nation
        |  UNION ALL
        |  SELECT 2, COUNT(*), COUNT(*) FROM customer
        |  UNION ALL
        |  SELECT 3, COUNT(*), COUNT(*) FROM orders
        |  UNION ALL
        |  -- a (root, node) row per region that reaches the part; paths =
        |  -- one per distinct containing order
        |  SELECT 4, COUNT(DISTINCT (n_regionkey, l_partkey)),
        |    (SELECT COUNT(*) FROM (SELECT DISTINCT l_orderkey, l_partkey
        |                           FROM lineitem))
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey)
        |ORDER BY depth""".stripMargin,
    // deterministic synchronous LPA replayed superstep by superstep: per
    // iteration count each (vertex, neighbour-label), rank count-desc
    // label-asc, keep rank 1 — exactly GraphOps.labelPropagation's
    // min(struct(-count, label)) argmax. 5 unrolled CTE levels, then the
    // canonical partition (min member id per final label).
    "g04_communities" -> {
      val step = (i: Int) =>
        s"""it$i AS (
           |  SELECT id, label FROM (
           |    SELECT j.a AS id, l.label,
           |      ROW_NUMBER() OVER (PARTITION BY j.a
           |        ORDER BY COUNT(*) DESC, l.label) AS rn
           |    FROM adj j JOIN it${i - 1} l ON j.b = l.id
           |    GROUP BY j.a, l.label)
           |  WHERE rn = 1)""".stripMargin
      s"""WITH $coPurchaseCteSql,
         |adj AS (SELECT src AS a, dst AS b FROM e
         |        UNION ALL SELECT dst, src FROM e),
         |it0 AS (SELECT DISTINCT a AS id, a AS label FROM adj),
         |${(1 to 5).map(step).mkString(",\n")}
         |SELECT MIN(id) AS community, CAST(COUNT(*) AS BIGINT) AS csize
         |FROM it5 GROUP BY label
         |ORDER BY csize DESC, community""".stripMargin
    },
    // degrees replayed as two grouped counts full-outer-joined, nulls to 0
    "g08_degree_shape" -> {
      s"""WITH e0 AS (
         |  SELECT CAST(n_regionkey AS BIGINT) + 1000000 AS src,
         |         CAST(n_nationkey AS BIGINT) + 2000000 AS dst FROM nation
         |  UNION ALL
         |  SELECT CAST(c_nationkey AS BIGINT) + 2000000, c_custkey + 3000000
         |  FROM customer
         |  UNION ALL
         |  SELECT o_custkey + 3000000, o_orderkey + 10000000 FROM orders
         |  UNION ALL
         |  SELECT DISTINCT l_orderkey + 10000000, l_partkey + 100000000
         |  FROM lineitem),
         |deg AS (
         |  SELECT COALESCE(o.id, i.id) AS id,
         |    COALESCE(o.od, 0) AS out_degree,
         |    COALESCE(i.idg, 0) AS in_degree
         |  FROM (SELECT src AS id, COUNT(*) AS od FROM e0 GROUP BY src) o
         |  FULL OUTER JOIN
         |    (SELECT dst AS id, COUNT(*) AS idg FROM e0 GROUP BY dst) i
         |  ON o.id = i.id)
         |SELECT out_degree > 0 AS has_out, in_degree > 0 AS has_in,
         |  COUNT(*) AS n_nodes,
         |  CAST(SUM(out_degree) AS BIGINT) AS total_out,
         |  CAST(SUM(in_degree) AS BIGINT) AS total_in
         |FROM deg GROUP BY 1, 2
         |ORDER BY has_out, has_in""".stripMargin
    },
    // Brandes forward phase replayed as unrolled level-synchronous BFS
    // CTEs over the directed multi-parent DAG: level i aggregates sigma
    // over in-edges from level i-1 and anti-joins everything already
    // visited — exactly forwardCounts' per-level join + sum + anti-join.
    "g05b_brandes_forward" ->
      s"""WITH $brandesForwardCteSql
         |SELECT root, id, depth, sigma FROM (
         |  SELECT * FROM l0 UNION ALL SELECT * FROM l1
         |  UNION ALL SELECT * FROM l2 UNION ALL SELECT * FROM l3
         |  UNION ALL SELECT * FROM l4)
         |ORDER BY root, id""".stripMargin,
    // truncated closeness/harmonic replay over the same forward block:
    // exact integer floor-div terms, order-independent sums
    "g13_closeness" ->
      s"""WITH $brandesForwardCteSql,
         |fw AS (SELECT root, id, depth FROM (
         |  SELECT root, id, depth FROM l0 UNION ALL
         |  SELECT root, id, depth FROM l1 UNION ALL
         |  SELECT root, id, depth FROM l2 UNION ALL
         |  SELECT root, id, depth FROM l3 UNION ALL
         |  SELECT root, id, depth FROM l4))
         |SELECT root, CAST(COUNT(*) AS BIGINT) AS n_reached,
         |  CAST(SUM(depth) AS BIGINT) AS sum_depth,
         |  CASE WHEN SUM(depth) > 0 THEN
         |      CAST((COUNT(*) - 1) * 1000000 // SUM(depth) AS BIGINT)
         |    ELSE CAST(0 AS BIGINT) END AS closeness_micro,
         |  CAST(SUM(CASE WHEN depth >= 1 THEN 1000000 // depth
         |    ELSE 0 END) AS BIGINT) AS harmonic_micro
         |FROM fw GROUP BY root ORDER BY root""".stripMargin,
    // link-prediction replay: the same capped wedge self-join (smallest-
    // id neighbor cap via row_number), full-degree Adamic–Adar weights
    "g14_link_prediction" ->
      s"""WITH $coPurchaseCteSql,
         |adj AS (SELECT src AS u, dst AS v FROM e
         |        UNION ALL SELECT dst, src FROM e),
         |deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS deg
         |  FROM adj GROUP BY u),
         |cap AS (SELECT u, v FROM (
         |    SELECT u, v, row_number() OVER (PARTITION BY u ORDER BY v)
         |      AS rn FROM adj) WHERE rn <= 64),
         |p AS (SELECT x.v AS node_a, y.v AS node_b, d.deg
         |  FROM cap x JOIN cap y ON x.u = y.u AND x.v < y.v
         |  JOIN deg d ON d.u = x.u)
         |SELECT node_a, node_b,
         |  CAST(COUNT(*) AS BIGINT) AS common_neighbors,
         |  CAST(SUM(CAST(round(1000000.0 / log2(CAST(deg AS DOUBLE)))
         |    AS BIGINT)) AS BIGINT) AS aa_micro
         |FROM p GROUP BY 1, 2
         |ORDER BY common_neighbors DESC, aa_micro DESC, node_a, node_b
         |LIMIT 20""".stripMargin,
    // the backward phase in integer micro-units: per level d,
    // delta_d(v) = SUM over DAG successors w of
    // (sigma_v * (1000000 + delta_{d+1}(w))) // sigma_w — exactly
    // Betweenness.betweennessIntFromForward's floor-div recurrence; depth-0
    // roots excluded, zero rows filtered
    "g05c_betweenness_int" -> {
      val back = (d: Int) =>
        s"""b$d AS (
           |  SELECT v.root, v.id, COALESCE(s.d, CAST(0 AS BIGINT)) AS delta
           |  FROM l$d v LEFT JOIN (
           |    SELECT x.root, x.id,
           |      CAST(SUM((x.sigma * (1000000 + b.delta)) // w.sigma)
           |        AS BIGINT) AS d
           |    FROM l$d x JOIN e ON x.id = e.src
           |    JOIN l${d + 1} w ON w.root = x.root AND w.id = e.dst
           |    JOIN b${d + 1} b ON b.root = w.root AND b.id = w.id
           |    GROUP BY 1, 2) s ON s.root = v.root AND s.id = v.id)""".stripMargin
      s"""WITH $brandesForwardCteSql,
         |b4 AS (SELECT root, id, CAST(0 AS BIGINT) AS delta FROM l4),
         |${(3 to 1 by -1).map(back).mkString(",\n")}
         |SELECT id, CAST(SUM(delta) AS BIGINT) AS bc_micro
         |FROM (SELECT * FROM b1 UNION ALL SELECT * FROM b2
         |      UNION ALL SELECT * FROM b3)
         |GROUP BY id HAVING SUM(delta) > 0
         |ORDER BY id""".stripMargin
    },
    // integer PageRank replayed superstep by superstep: each iteration
    // joins shares ((pr*850) // (1000*outdeg), floor division both
    // engines) onto the symmetric adjacency and re-aggregates by target —
    // exactly GraphOps.pageRank's join + sum shape
    "g07_pagerank_int" -> {
      val step = (i: Int) =>
        s"""p$i AS (
           |  SELECT b.id, b.outdeg,
           |    CAST(150000 + COALESCE(c.c, 0) AS BIGINT) AS pr
           |  FROM base b LEFT JOIN (
           |    SELECT a.v AS id,
           |      CAST(SUM((p.pr * 850) // (1000 * p.outdeg)) AS BIGINT) AS c
           |    FROM adj a JOIN p${i - 1} p ON a.u = p.id AND p.outdeg > 0
           |    GROUP BY a.v) c ON b.id = c.id)""".stripMargin
      s"""WITH $coPurchaseCteSql,
         |adj AS (SELECT src AS u, dst AS v FROM e
         |        UNION ALL SELECT dst, src FROM e),
         |verts AS (SELECT DISTINCT u AS id FROM adj),
         |outdeg AS (SELECT u AS id, COUNT(*) AS outdeg FROM adj GROUP BY u),
         |base AS (
         |  SELECT v.id, COALESCE(o.outdeg, 0) AS outdeg
         |  FROM verts v LEFT JOIN outdeg o ON v.id = o.id),
         |p0 AS (SELECT id, outdeg, CAST(1000000 AS BIGINT) AS pr FROM base),
         |${(1 to 5).map(step).mkString(",\n")}
         |SELECT id, pr FROM p5
         |ORDER BY pr DESC, id LIMIT 100""".stripMargin
    },
    // shortestPath replayed as unrolled level-synchronous BFS CTEs over
    // the symmetrized multi-parent DAG — per level group the next
    // frontier by target with MIN(parent) and anti-join all visited
    // levels (exactly shortestPath's groupBy(id).min(parent) +
    // left_anti) — then a recursive parent walk from dst. Spark stops at
    // the level where dst appears; the oracle's extra levels can't touch
    // the walk (chain nodes live at depths ≤ d(dst), fixed earlier).
    "g09_shortest_path" -> {
      val step = (i: Int) => {
        val visited = (0 until i)
          .map(j => s"SELECT id FROM l$j").mkString(" UNION ALL ")
        s"""l$i AS (
           |  SELECT g.id, $i AS depth, g.parent FROM (
           |    SELECT s.dst AS id, MIN(f.id) AS parent
           |    FROM l${i - 1} f JOIN sym s ON f.id = s.src
           |    GROUP BY s.dst) g
           |  WHERE NOT EXISTS (SELECT 1 FROM ($visited) v
           |                    WHERE v.id = g.id))""".stripMargin
      }
      s"""WITH RECURSIVE e0 AS (
         |  SELECT CAST(n_regionkey AS BIGINT) + 1000000 AS src,
         |         CAST(n_nationkey AS BIGINT) + 2000000 AS dst FROM nation
         |  UNION ALL
         |  SELECT CAST(c_nationkey AS BIGINT) + 2000000, c_custkey + 3000000
         |  FROM customer
         |  UNION ALL
         |  SELECT o_custkey + 3000000, o_orderkey + 10000000 FROM orders
         |  UNION ALL
         |  SELECT DISTINCT l_orderkey + 10000000, l_partkey + 100000000
         |  FROM lineitem),
         |sym AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
         |l0 AS (SELECT CAST(1000000 AS BIGINT) AS id, 0 AS depth,
         |       CAST(-1 AS BIGINT) AS parent),
         |${(1 to 4).map(step).mkString(",\n")},
         |visited AS (
         |  ${(0 to 4).map(j => s"SELECT * FROM l$j").mkString(" UNION ALL ")}),
         |walk(id, depth, parent) AS (
         |  SELECT v.id, v.depth, v.parent FROM visited v
         |  WHERE v.id = (SELECT MIN(l_partkey) + 100000000 FROM lineitem)
         |  UNION ALL
         |  SELECT v.id, v.depth, v.parent
         |  FROM walk w JOIN visited v ON v.id = w.parent)
         |SELECT CAST(depth AS INTEGER) AS step, id FROM walk
         |ORDER BY step""".stripMargin
    },
    // naive three-way-join triangle enumeration (src<dst edges are
    // already canonical) — the degree-ordered Spark plan finds the same
    // triangle set; per-node counts via a 3-arm union
    "g10_triangles" ->
      s"""WITH $coPurchaseCteSql,
        |tri AS (
        |  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
        |  FROM e e1 JOIN e e2 ON e1.dst = e2.src
        |  JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst),
        |nodes AS (
        |  SELECT a AS id FROM tri
        |  UNION ALL SELECT b FROM tri
        |  UNION ALL SELECT c FROM tri)
        |SELECT id, CAST(COUNT(*) AS BIGINT) AS n_triangles
        |FROM nodes GROUP BY id
        |ORDER BY n_triangles DESC, id LIMIT 20""".stripMargin,
    // k-core peeling unrolled round by round: each s_i keeps the vertices
    // with >= 3 neighbors inside s_{i-1} — exactly kCorePeel's
    // join-count-filter (its early exit only skips no-op rounds)
    "g11_kcore" -> {
      val round = (i: Int) =>
        s"""s$i AS (SELECT a AS id FROM (
           |  SELECT x.a, COUNT(*) AS c FROM sym x
           |  JOIN s${i - 1} p ON x.a = p.id
           |  JOIN s${i - 1} q ON x.b = q.id
           |  GROUP BY x.a) WHERE c >= 3)""".stripMargin
      s"""WITH $coPurchaseCteSql,
         |sym AS (SELECT src AS a, dst AS b FROM e
         |        UNION ALL SELECT dst, src FROM e),
         |s0 AS (SELECT DISTINCT a AS id FROM sym),
         |${(1 to 5).map(round).mkString(",\n")}
         |SELECT x.a AS id, CAST(COUNT(*) AS BIGINT) AS core_degree
         |FROM sym x JOIN s5 p ON x.a = p.id JOIN s5 q ON x.b = q.id
         |GROUP BY x.a ORDER BY id""".stripMargin
    },
    // integer HITS unrolled: per iteration auth = in-sum of hub then
    // floor-div max-normalize, hub = out-sum of auth then normalize —
    // exactly hitsIntSync's recurrence (// is floor division; every
    // operand is non-negative, so it matches Spark's DIV)
    "g12_hits_int" -> {
      // each unrolled level references its predecessor exactly once
      // (normalization via MAX() OVER (), not a scalar subquery): a
      // double reference PER LEVEL re-inlines the upstream chain and
      // goes exponential across 4 iterations. The one deliberate
      // exception is a4 — consumed by both hn4 and the final select —
      // which costs at most ONE extra chain evaluation, not 2^levels
      // (measured ~1 s total at sf0.01)
      val step = (i: Int) =>
        s"""a$i AS (
           |  SELECT id, (araw * 1000000) // (MAX(araw) OVER ()) AS auth
           |  FROM (
           |    SELECT e.dst AS id, CAST(SUM(h.h) AS BIGINT) AS araw
           |    FROM e JOIN h${i - 1} h ON e.src = h.id GROUP BY e.dst)),
           |hn$i AS (
           |  SELECT id, (hraw * 1000000) // (MAX(hraw) OVER ()) AS h
           |  FROM (
           |    SELECT e.src AS id, CAST(SUM(a.auth) AS BIGINT) AS hraw
           |    FROM e JOIN a$i a ON e.dst = a.id GROUP BY e.src)),
           |h$i AS (
           |  SELECT v.id, CAST(COALESCE(n.h, 0) AS BIGINT) AS h
           |  FROM verts v LEFT JOIN hn$i n ON v.id = n.id)""".stripMargin
      s"""WITH $coPurchaseCteSql,
         |verts AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
         |h0 AS (SELECT id, CAST(1000000 AS BIGINT) AS h FROM verts),
         |${(1 to 4).map(step).mkString(",\n")}
         |SELECT h4.id, h4.h AS hub,
         |  CAST(COALESCE(a4.auth, 0) AS BIGINT) AS auth
         |FROM h4 LEFT JOIN a4 ON h4.id = a4.id
         |ORDER BY auth DESC, hub DESC, h4.id
         |LIMIT 100""".stripMargin
    },
    // min-label fixpoint as a recursive CTE: a label spreads to any
    // neighbor with a larger id, so each component's min reaches every
    // member; MIN(lab) per node = component id
    "g03_components" ->
      s"""WITH RECURSIVE
        |$coPurchaseCteSql,
        |sym AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
        |reach(id, lab) AS (
        |  SELECT DISTINCT src, src FROM sym
        |  UNION
        |  SELECT s.dst, r.lab FROM reach r JOIN sym s ON s.src = r.id
        |  WHERE r.lab < s.dst),
        |comp AS (SELECT id, MIN(lab) AS comp FROM reach GROUP BY id),
        |sizes AS (SELECT comp, COUNT(*) AS csize FROM comp GROUP BY comp)
        |SELECT csize, COUNT(*) AS n_components FROM sizes
        |GROUP BY csize ORDER BY csize""".stripMargin,
    // asymmetric n-gram containment (decontamination): |test ∩ train| /
    // |test| over distinct word-3-gram shingle sets, deterministic
    // doc_id%10 test/train split — same hash-vs-string story as dd03
    "dc01_ngram_containment" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    range(1, len(ts) - 1),
        |    i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS s
        |  FROM (SELECT doc_id,
        |          string_split_regex(trim(lower(text)), '\s+') AS ts
        |        FROM documents)
        |  WHERE len(ts) >= 3),
        |test AS (SELECT * FROM sh WHERE doc_id % 10 = 0),
        |train AS (SELECT * FROM sh WHERE doc_id % 10 <> 0)
        |SELECT test_id, train_id, containment FROM (
        |  SELECT te.doc_id AS test_id, tr.doc_id AS train_id,
        |    CAST(len(list_intersect(te.s, tr.s)) AS DOUBLE) / len(te.s)
        |      AS containment
        |  FROM test te JOIN train tr ON len(list_intersect(te.s, tr.s)) > 0)
        |ORDER BY containment DESC, test_id, train_id
        |LIMIT 20""".stripMargin,
    // dc03's oracle: dc01's full batch replay with the TRAIN side
    // replaced by the new snapshot (test side fixed) — the
    // incremental==batch invariant for the decontamination table
    "dc03_incremental_decontam" ->
      """WITH base AS (SELECT doc_id, text FROM documents),
        |test0 AS (SELECT doc_id, text FROM base WHERE doc_id % 10 = 0),
        |tr0 AS (SELECT doc_id, text FROM base WHERE doc_id % 10 <> 0),
        |snap AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text
        |  FROM tr0 WHERE doc_id % 13 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text FROM tr0
        |  WHERE doc_id % 11 = 0 AND doc_id % 13 <> 0),
        |te AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    range(1, len(ts) - 1),
        |    i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS s
        |  FROM (SELECT doc_id,
        |          string_split_regex(trim(lower(text)), '\s+') AS ts
        |        FROM test0)
        |  WHERE len(ts) >= 3),
        |tr AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    range(1, len(ts) - 1),
        |    i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS s
        |  FROM (SELECT doc_id,
        |          string_split_regex(trim(lower(text)), '\s+') AS ts
        |        FROM snap)
        |  WHERE len(ts) >= 3)
        |SELECT test_id, train_id, containment FROM (
        |  SELECT te.doc_id AS test_id, tr.doc_id AS train_id,
        |    CAST(len(list_intersect(te.s, tr.s)) AS DOUBLE) / len(te.s)
        |      AS containment
        |  FROM te JOIN tr ON len(list_intersect(te.s, tr.s)) > 0)
        |ORDER BY containment DESC, test_id, train_id
        |LIMIT 20""".stripMargin,
    // 13-gram decontamination: the bloom pre-filter is answer-invisible
    // (no false negatives + exact confirm join), so the oracle replays
    // the exact semi-join — per train doc, matching 13-gram OCCURRENCES
    // against the test split's distinct gram set
    // explicit whitespace class, not \s: Java and RE2 \s disagree on \x0B
    "dc02_bloom_decontam" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)),
        |    '[ \t\n\x0B\f\r]+') AS ts
        |  FROM documents),
        |gr AS (
        |  SELECT doc_id, CASE WHEN len(ts) < 13 THEN []
        |    ELSE list_transform(range(1, len(ts) - 11),
        |      i -> array_to_string(ts[i : i+12], ' ')) END AS gs
        |  FROM tok),
        |te AS (SELECT DISTINCT unnest(gs) AS g FROM gr WHERE doc_id % 10 = 0),
        |tr AS (SELECT doc_id AS train_id, len(gs) AS n_grams, unnest(gs) AS g
        |       FROM gr WHERE doc_id % 10 <> 0)
        |SELECT train_id, n_hits, n_grams,
        |  CAST(n_hits AS DOUBLE) / n_grams AS contamination
        |FROM (
        |  SELECT tr.train_id, tr.n_grams, COUNT(*) AS n_hits
        |  FROM tr JOIN te ON tr.g = te.g
        |  GROUP BY tr.train_id, tr.n_grams)
        |ORDER BY contamination DESC, train_id
        |LIMIT 50""".stripMargin,
    // exact jaccard over distinct word-3-gram shingle sets; matches the
    // posting-list implementation (hash collisions are 64-bit-improbable)
    // SNM replay: normalized key prefix, per-block row_number ranking,
    // rank-window pairs, dd01's exact-jaccard formulation
    "sn01_sorted_neighborhood" ->
      raw"""WITH k AS (
        |  SELECT doc_id, substr(regexp_replace(trim(lower(text)),
        |    '[ \t\n\x0B\f\r]+', ' ', 'g'), 1, 24) AS key
        |  FROM documents),
        |r AS (SELECT doc_id, key, substr(key, 1, 8) AS block,
        |    row_number() OVER (PARTITION BY substr(key, 1, 8)
        |      ORDER BY key, doc_id) AS rk
        |  FROM k),
        |p AS (SELECT DISTINCT least(a.doc_id, b.doc_id) AS id_a,
        |    greatest(a.doc_id, b.doc_id) AS id_b
        |  FROM r a JOIN r b
        |    ON a.block = b.block AND b.rk - a.rk BETWEEN 1 AND 3),
        |gr AS (SELECT doc_id,
        |    CASE WHEN len(ts) < 3 THEN []
        |      ELSE list_distinct(list_transform(range(1, len(ts) - 1),
        |        i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) END AS gs
        |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)),
        |      '[ \t\n\x0B\f\r]+') AS ts FROM documents))
        |SELECT p.id_a, p.id_b,
        |  CASE WHEN len(ea.gs) + len(eb.gs) = 0 THEN 0.0
        |    ELSE CAST(len(list_intersect(ea.gs, eb.gs)) AS DOUBLE) /
        |      (len(ea.gs) + len(eb.gs) - len(list_intersect(ea.gs, eb.gs)))
        |    END AS exact_jaccard
        |FROM p JOIN gr ea ON ea.doc_id = p.id_a
        |  JOIN gr eb ON eb.doc_id = p.id_b
        |ORDER BY exact_jaccard DESC, p.id_a, p.id_b
        |LIMIT 50""".stripMargin,
    // winnowing replay: md5-32 k-token hashes, list_min per w-window
    // (value-min — the positional tie-break cannot change the emitted
    // SET), distinct per doc, capped inverted-index pair counts
    "fp01_winnowing" ->
      raw"""WITH tk AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)),
        |    '[ \t\n\x0B\f\r]+') AS ts
        |  FROM documents),
        |hs AS (
        |  SELECT doc_id,
        |    CASE WHEN len(ts) >= 4 THEN
        |      list_transform(range(1, len(ts) - 2),
        |        p -> ('0x' || substr(md5(array_to_string(ts[p : p+3], ' ')),
        |          1, 8))::BIGINT)
        |    ELSE [] END AS hs
        |  FROM tk),
        |fp AS (
        |  SELECT DISTINCT doc_id, fp FROM (
        |    SELECT doc_id,
        |      unnest(CASE WHEN len(hs) >= 4 THEN
        |        list_transform(range(1, len(hs) - 2),
        |          p -> list_min(hs[p : p+3]))
        |      ELSE [] END) AS fp
        |    FROM hs)),
        |usable AS (
        |  SELECT fp FROM (SELECT fp, COUNT(*) AS n FROM fp GROUP BY fp)
        |  WHERE n >= 2 AND n <= 1000),
        |cf AS (SELECT f.doc_id, f.fp FROM fp f JOIN usable USING (fp))
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(COUNT(*) AS BIGINT) AS n_shared
        |FROM cf a JOIN cf b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING COUNT(*) >= 2
        |ORDER BY n_shared DESC, id_a, id_b
        |LIMIT 50""".stripMargin,
    // fp02's oracle is fp01's FULL BATCH replay over the new snapshot —
    // the incremental==batch invariant for the winnowing pair table
    "fp02_incremental_winnowing" ->
      raw"""WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
        |snap AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text
        |  FROM base WHERE doc_id % 13 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text FROM base
        |  WHERE doc_id % 11 = 0 AND doc_id % 13 <> 0),
        |tk AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)),
        |    '[ \t\n\x0B\f\r]+') AS ts
        |  FROM snap),
        |hs AS (
        |  SELECT doc_id,
        |    CASE WHEN len(ts) >= 4 THEN
        |      list_transform(range(1, len(ts) - 2),
        |        p -> ('0x' || substr(md5(array_to_string(ts[p : p+3], ' ')),
        |          1, 8))::BIGINT)
        |    ELSE [] END AS hs
        |  FROM tk),
        |fp AS (
        |  SELECT DISTINCT doc_id, fp FROM (
        |    SELECT doc_id,
        |      unnest(CASE WHEN len(hs) >= 4 THEN
        |        list_transform(range(1, len(hs) - 2),
        |          p -> list_min(hs[p : p+3]))
        |      ELSE [] END) AS fp
        |    FROM hs)),
        |usable AS (
        |  SELECT fp FROM (SELECT fp, COUNT(*) AS n FROM fp GROUP BY fp)
        |  WHERE n >= 2 AND n <= 1000),
        |cf AS (SELECT f.doc_id, f.fp FROM fp f JOIN usable USING (fp))
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(COUNT(*) AS BIGINT) AS n_shared
        |FROM cf a JOIN cf b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING COUNT(*) >= 2
        |ORDER BY n_shared DESC, id_a, id_b
        |LIMIT 50""".stripMargin,
    // CDC replay: the same md5-32 window hashes cut boundaries at
    // h % 16 = 0, chunks are the between-boundary token slices, md5-60
    // fingerprints, duplicate counting over the fingerprint
    "cd01_cdc_chunks" ->
      raw"""WITH tk AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)),
        |    '[ \t\n\x0B\f\r]+') AS ts
        |  FROM documents),
        |wh AS (
        |  SELECT doc_id, ts,
        |    CASE WHEN len(ts) >= 4 THEN
        |      list_transform(range(1, len(ts) - 2),
        |        p -> ('0x' || substr(md5(array_to_string(ts[p : p+3], ' ')),
        |          1, 8))::BIGINT)
        |    ELSE [] END AS hs
        |  FROM tk),
        |b AS (
        |  SELECT doc_id, ts,
        |    CASE WHEN len(ts) >= 2 THEN
        |      list_filter(range(1, len(ts)), p -> p + 1 <= len(hs)
        |        AND hs[p + 1] % 16 = 0)
        |    ELSE [] END AS bs
        |  FROM wh),
        |c AS (
        |  SELECT doc_id, ts, list_prepend(0, bs) AS ss,
        |    list_append(bs, len(ts)) AS es
        |  FROM b WHERE len(ts) > 1 OR (len(ts) = 1 AND ts[1] <> '')),
        |ch AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(array_to_string(ts[ss[i]+1 : es[i]], ' ')),
        |      1, 15))::BIGINT AS chunk_h,
        |    CAST(es[i] - ss[i] AS BIGINT) AS n_tokens
        |  FROM c, UNNEST(generate_series(1, len(ss))) AS u(i))
        |SELECT chunk_h, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(COUNT(*) AS BIGINT) AS n_chunks,
        |  CAST(MAX(n_tokens) AS BIGINT) AS max_tokens
        |FROM ch GROUP BY chunk_h HAVING COUNT(DISTINCT doc_id) >= 2
        |ORDER BY n_docs DESC, n_chunks DESC, chunk_h
        |LIMIT 100""".stripMargin,
    // snapshot-diff replay: the identical synthesized new snapshot, md5
    // digests per side, full-outer reconciliation, unchanged omitted
    "cd02_corpus_diff" ->
      """WITH newsnap AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text
        |  FROM documents WHERE doc_id % 13 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id,
        |    'brand new ' || CAST(doc_id AS VARCHAR) AS text
        |  FROM documents WHERE doc_id % 11 = 0),
        |o AS (SELECT doc_id, md5(text) AS fp FROM documents),
        |n AS (SELECT doc_id, md5(text) AS fp FROM newsnap),
        |j AS (SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        |    CASE WHEN o.doc_id IS NULL THEN 'added'
        |         WHEN n.doc_id IS NULL THEN 'removed'
        |         WHEN o.fp <> n.fp THEN 'changed'
        |         ELSE 'unchanged' END AS status
        |  FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
        |SELECT doc_id, status FROM j
        |WHERE status <> 'unchanged' ORDER BY doc_id""".stripMargin,
    // substring-span replay: positional 8-token window md5-32 hashes,
    // cross-doc duplicated set, gaps-and-islands merge — the SAME window
    // functions the Spark plan uses, so the whole lane hash-matches
    "sd01_dup_spans" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, i AS pos,
        |    ('0x' || substr(md5(
        |      array_to_string(list_slice(toks, i+1, i+8), ' ')), 1, 8)
        |    )::BIGINT AS gh
        |  FROM d, LATERAL unnest(range(0, len(toks) - 8 + 1)) AS t(i)
        |  WHERE len(toks) >= 8),
        |dup AS (SELECT gh FROM (SELECT DISTINCT doc_id, gh FROM g)
        |  GROUP BY gh HAVING COUNT(*) >= 2),
        |dp AS (SELECT doc_id, pos FROM g JOIN dup USING (gh)),
        |isl AS (SELECT doc_id, pos,
        |    CASE WHEN lag(pos) OVER w IS NULL OR pos > lag(pos) OVER w + 8
        |      THEN 1 ELSE 0 END AS ns
        |  FROM dp WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        |sp AS (SELECT doc_id, pos,
        |    SUM(ns) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
        |  FROM isl)
        |SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
        |  CAST(MAX(pos) + 8 AS BIGINT) AS span_end,
        |  CAST(COUNT(*) AS BIGINT) AS n_windows
        |FROM sp GROUP BY doc_id, span_id
        |ORDER BY doc_id, span_start
        |LIMIT 100""".stripMargin,
    // sd03's oracle is sd01's FULL BATCH replay over the new snapshot —
    // the incremental==batch invariant, enforced end to end by hash
    "sd03_incremental_spans" ->
      """WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
        |snap AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text
        |  FROM base WHERE doc_id % 13 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text FROM base
        |  WHERE doc_id % 11 = 0 AND doc_id % 13 <> 0),
        |d AS (
        |  SELECT doc_id,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        |  FROM snap),
        |g AS (
        |  SELECT doc_id, i AS pos,
        |    ('0x' || substr(md5(
        |      array_to_string(list_slice(toks, i+1, i+8), ' ')), 1, 8)
        |    )::BIGINT AS gh
        |  FROM d, LATERAL unnest(range(0, len(toks) - 8 + 1)) AS t(i)
        |  WHERE len(toks) >= 8),
        |dup AS (SELECT gh FROM (SELECT DISTINCT doc_id, gh FROM g)
        |  GROUP BY gh HAVING COUNT(*) >= 2),
        |dp AS (SELECT doc_id, pos FROM g JOIN dup USING (gh)),
        |isl AS (SELECT doc_id, pos,
        |    CASE WHEN lag(pos) OVER w IS NULL OR pos > lag(pos) OVER w + 8
        |      THEN 1 ELSE 0 END AS ns
        |  FROM dp WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        |sp AS (SELECT doc_id, pos,
        |    SUM(ns) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
        |  FROM isl)
        |SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
        |  CAST(MAX(pos) + 8 AS BIGINT) AS span_end,
        |  CAST(COUNT(*) AS BIGINT) AS n_windows
        |FROM sp GROUP BY doc_id, span_id
        |ORDER BY doc_id, span_start
        |LIMIT 100""".stripMargin,
    // removal replay: kept tokens = case-preserving raw split at
    // positions outside every span, re-joined with single spaces;
    // string_agg(... ORDER BY pos) mirrors the order-preserving
    // higher-order filter
    "sd02_rm_spans" ->
      """WITH d AS (
        |  SELECT doc_id, text,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS toks,
        |    regexp_split_to_array(trim(text), '\s+') AS rtoks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, i AS pos,
        |    ('0x' || substr(md5(
        |      array_to_string(list_slice(toks, i+1, i+8), ' ')), 1, 8)
        |    )::BIGINT AS gh
        |  FROM d, LATERAL unnest(range(0, len(toks) - 8 + 1)) AS t(i)
        |  WHERE len(toks) >= 8),
        |dup AS (SELECT gh FROM (SELECT DISTINCT doc_id, gh FROM g)
        |  GROUP BY gh HAVING COUNT(*) >= 2),
        |dp AS (SELECT doc_id, pos FROM g JOIN dup USING (gh)),
        |isl AS (SELECT doc_id, pos,
        |    CASE WHEN lag(pos) OVER w IS NULL OR pos > lag(pos) OVER w + 8
        |      THEN 1 ELSE 0 END AS ns
        |  FROM dp WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        |sp AS (SELECT doc_id, pos,
        |    SUM(ns) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
        |  FROM isl),
        |spans AS (SELECT doc_id, MIN(pos) AS span_start,
        |    MAX(pos) + 8 AS span_end
        |  FROM sp GROUP BY doc_id, span_id),
        |tok AS (SELECT d.doc_id, i AS pos, rtoks[i+1] AS tk
        |  FROM d, LATERAL unnest(range(0, len(rtoks))) t(i)
        |  WHERE d.doc_id IN (SELECT DISTINCT doc_id FROM spans)),
        |keep AS (SELECT t.doc_id, t.pos, t.tk FROM tok t
        |  WHERE NOT EXISTS (SELECT 1 FROM spans c
        |    WHERE c.doc_id = t.doc_id
        |      AND t.pos >= c.span_start AND t.pos < c.span_end)),
        |reb AS (SELECT doc_id, COUNT(*) AS n_tokens_after,
        |    string_agg(tk, ' ' ORDER BY pos) AS new_text
        |  FROM keep GROUP BY doc_id)
        |SELECT a.doc_id,
        |  CAST(coalesce(r.n_tokens_after, 0) AS BIGINT) AS n_tokens_after,
        |  md5(coalesce(r.new_text, '')) AS new_fingerprint
        |FROM (SELECT DISTINCT doc_id FROM spans) a
        |LEFT JOIN reb r USING (doc_id)
        |ORDER BY doc_id
        |LIMIT 100""".stripMargin,
    "dd03_ngram_jaccard" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    range(1, len(ts) - 1),
        |    i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS s
        |  FROM (SELECT doc_id,
        |          string_split_regex(trim(lower(text)), '\s+') AS ts
        |        FROM documents)
        |  WHERE len(ts) >= 3)
        |SELECT id_a, id_b, jaccard FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |      (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.s, b.s)) > 0)
        |ORDER BY jaccard DESC, id_a, id_b
        |LIMIT 20""".stripMargin,
    // full MinHash+LSH replay over the engine-portable signature family
    // (md5-32 base hash; (a_j*h+b_j) mod 4294967291 permutations with
    // md5-derived constants — no RNG): signatures, 16 bands of 4, distinct
    // candidate pairs, signature-overlap estimate, exact distinct-3-gram
    // jaccard — all bit-identical to the Spark lane
    "dd01_minhash_candidates" ->
      raw"""WITH $minhashBandsCteSql,
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
        |    a.s AS sa, b.s AS sb
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.doc_id < b.doc_id
        |    AND a.s[a.band*4+1 : a.band*4+4] = b.s[b.band*4+1 : b.band*4+4]),
        |ex AS (SELECT doc_id, list_distinct(grams) AS gs FROM gr)
        |SELECT c.id_a, c.id_b,
        |  CAST(len(list_filter(range(1, 65), i -> c.sa[i] = c.sb[i]))
        |    AS DOUBLE) / 64 AS est_jaccard,
        |  CASE WHEN len(ea.gs) + len(eb.gs) = 0 THEN 0.0
        |    ELSE CAST(len(list_intersect(ea.gs, eb.gs)) AS DOUBLE) /
        |      (len(ea.gs) + len(eb.gs) - len(list_intersect(ea.gs, eb.gs)))
        |    END AS exact_jaccard
        |FROM cand c
        |JOIN ex ea ON ea.doc_id = c.id_a
        |JOIN ex eb ON eb.doc_id = c.id_b
        |ORDER BY est_jaccard DESC, c.id_a, c.id_b
        |LIMIT 20""".stripMargin,
    // dd01's candidate replay + Levenshtein verification: both engines
    // implement the classic unit-cost edit distance, so the thresholded
    // Spark form (-1 above 64, filtered) equals the <= 64 predicate here
    "fz01_fuzzy_pairs" ->
      raw"""WITH $minhashBandsCteSql,
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.doc_id < b.doc_id
        |    AND a.s[a.band*4+1 : a.band*4+4] = b.s[b.band*4+1 : b.band*4+4])
        |SELECT id_a, id_b, edit_distance FROM (
        |  SELECT c.id_a, c.id_b,
        |    levenshtein(da.text, db.text) AS edit_distance
        |  FROM cand c
        |  JOIN documents da ON da.doc_id = c.id_a
        |  JOIN documents db ON db.doc_id = c.id_b)
        |WHERE edit_distance <= 64
        |ORDER BY edit_distance, id_a, id_b
        |LIMIT 20""".stripMargin,
    // incremental-index replay: the same banding chain split into corpus
    // (doc_id % 5 != 0) and incoming; the index keeps a bucket's rows when
    // under cap (1) else its min-id representative, then incoming joins on
    // band-slice equality — bit-identical to minhashIndexFromSigs +
    // nearDupAgainstIndexFromSigs over the portable signature family
    "id01_incremental_neardup" ->
      raw"""WITH $minhashBandsCteSql,
        |bb AS (SELECT doc_id, s, band, s[band*4+1 : band*4+4] AS bk
        |  FROM bands),
        |corp AS (SELECT * FROM bb WHERE doc_id % 5 <> 0),
        |inc AS (SELECT * FROM bb WHERE doc_id % 5 = 0),
        |sizes AS (SELECT band, bk, COUNT(*) AS n, MIN(doc_id) AS rep
        |  FROM corp GROUP BY 1, 2),
        |idx AS (SELECT c.doc_id, c.s, c.band, c.bk FROM corp c
        |  JOIN sizes z ON c.band = z.band AND c.bk = z.bk
        |  WHERE z.n <= 1 OR c.doc_id = z.rep),
        |cand AS (SELECT DISTINCT i.doc_id AS id, x.doc_id AS corpus_id,
        |    i.s AS sa, x.s AS sb
        |  FROM inc i JOIN idx x ON i.band = x.band AND i.bk = x.bk)
        |SELECT id, corpus_id,
        |  CAST(len(list_filter(range(1, 65), i -> sa[i] = sb[i]))
        |    AS DOUBLE) / 64 AS est_jaccard
        |FROM cand
        |ORDER BY est_jaccard DESC, id, corpus_id
        |LIMIT 100""".stripMargin,
    // id02's oracle is the FULL capped-index rebuild over the new
    // snapshot: the %2 half-corpus takes the %13/%7/%11-copy step, the
    // same banding chain re-bands it, and a bucket keeps its rows when
    // under cap (1) else its min-id representative — the maintained
    // index must match by hash (same no-xxhash64-collision reading as
    // id01: bucket equality = band-slice equality)
    "id02_incremental_index" ->
      raw"""WITH base AS (SELECT doc_id, text FROM documents
        |  WHERE doc_id % 2 = 0),
        |snap AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text
        |  FROM base WHERE doc_id % 13 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text FROM base
        |  WHERE doc_id % 11 = 0 AND doc_id % 13 <> 0),
        |${sqlMinhashBandsCtes("i2", "snap")},
        |bb AS (SELECT doc_id, band, s[band*4+1 : band*4+4] AS bk
        |  FROM i2bands),
        |sizes AS (SELECT band, bk, COUNT(*) AS n, MIN(doc_id) AS rep
        |  FROM bb GROUP BY 1, 2)
        |SELECT b.doc_id, CAST(b.band AS BIGINT) AS band
        |FROM bb b JOIN sizes z ON b.band = z.band AND b.bk = z.bk
        |WHERE z.n <= 1 OR b.doc_id = z.rep
        |ORDER BY doc_id, band""".stripMargin,
    // dd01's replay + exact-jaccard confirmation at 0.8 + recursive-CTE
    // connected components (g03's min-label pattern): the full
    // resolution pipeline, bit-identical to the Spark lane
    "dd05_dedup_resolve" ->
      raw"""WITH RECURSIVE
        |$minhashBandsCteSql,
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.doc_id < b.doc_id
        |    AND a.s[a.band*4+1 : a.band*4+4] = b.s[b.band*4+1 : b.band*4+4]),
        |ex AS (SELECT doc_id, list_distinct(grams) AS gs FROM gr),
        |conf AS (SELECT c.id_a, c.id_b
        |  FROM cand c JOIN ex ea ON ea.doc_id = c.id_a
        |    JOIN ex eb ON eb.doc_id = c.id_b
        |  WHERE len(ea.gs) + len(eb.gs) - len(list_intersect(ea.gs, eb.gs)) > 0
        |    AND CAST(len(list_intersect(ea.gs, eb.gs)) AS DOUBLE) /
        |      (len(ea.gs) + len(eb.gs) - len(list_intersect(ea.gs, eb.gs)))
        |      >= 0.8),
        |sym AS (SELECT id_a AS src, id_b AS dst FROM conf
        |  UNION SELECT id_b, id_a FROM conf),
        |reach(id, lab) AS (
        |  SELECT DISTINCT src, src FROM sym
        |  UNION
        |  SELECT s.dst, r.lab FROM reach r JOIN sym s ON s.src = r.id
        |  WHERE r.lab < s.dst)
        |SELECT id, MIN(lab) AS keep_id FROM reach GROUP BY id
        |ORDER BY id""".stripMargin,
    // dd05's cluster replay + integer quality + FIRST_VALUE election per
    // cluster (quality desc, id asc) — NULLS LAST pinned to match Spark
    "dd06_dedup_elect" ->
      raw"""WITH RECURSIVE
        |$minhashBandsCteSql,
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.doc_id < b.doc_id
        |    AND a.s[a.band*4+1 : a.band*4+4] = b.s[b.band*4+1 : b.band*4+4]),
        |ex AS (SELECT doc_id, list_distinct(grams) AS gs FROM gr),
        |conf AS (SELECT c.id_a, c.id_b
        |  FROM cand c JOIN ex ea ON ea.doc_id = c.id_a
        |    JOIN ex eb ON eb.doc_id = c.id_b
        |  WHERE len(ea.gs) + len(eb.gs) - len(list_intersect(ea.gs, eb.gs)) > 0
        |    AND CAST(len(list_intersect(ea.gs, eb.gs)) AS DOUBLE) /
        |      (len(ea.gs) + len(eb.gs) - len(list_intersect(ea.gs, eb.gs)))
        |      >= 0.8),
        |sym AS (SELECT id_a AS src, id_b AS dst FROM conf
        |  UNION SELECT id_b, id_a FROM conf),
        |reach(id, lab) AS (
        |  SELECT DISTINCT src, src FROM sym
        |  UNION
        |  SELECT s.dst, r.lab FROM reach r JOIN sym s ON s.src = r.id
        |  WHERE r.lab < s.dst),
        |clus AS (SELECT id, MIN(lab) AS cluster_id FROM reach GROUP BY id),
        |q AS (SELECT doc_id,
        |    GREATEST(LEAST((sw*100)//tc + LEAST(cc//20, 30) + 40
        |      - (dg*100)//cc - (pc*100)//cc, 100), 0) AS quality
        |  FROM (SELECT doc_id,
        |      GREATEST(CAST(len(string_split_regex(trim(lower(text)),
        |        '[ \t\n\x0B\f\r]+')) AS BIGINT), 1) AS tc,
        |      GREATEST(CAST(length(text) AS BIGINT), 1) AS cc,
        |      CAST(len(list_filter(string_split_regex(trim(lower(text)),
        |        '[ \t\n\x0B\f\r]+'), t -> t IN ('the','a','an','and','or',
        |        'of','to','in','is','it','for','on','with','as','at','by',
        |        'this','that'))) AS BIGINT) AS sw,
        |      CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT)
        |        AS dg,
        |      CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
        |        AS BIGINT) AS pc
        |    FROM documents))
        |SELECT c.id, c.cluster_id,
        |  FIRST_VALUE(c.id) OVER (PARTITION BY c.cluster_id
        |    ORDER BY q.quality DESC NULLS LAST, c.id ASC) AS keep_id
        |FROM clus c JOIN q ON q.doc_id = c.id
        |ORDER BY id""".stripMargin,
    // the ENTIRE curation pipeline replayed: integer quality score,
    // stopword-profile language argmax (tie-break = larger lang string,
    // mirroring Spark's greatest(struct(hits,lang))), exact dedup by
    // md5 fingerprint rank, portable-minhash LSH near-dup at est>=0.8,
    // recursive-CTE transitive clusters, anti-join of the drops
    "cu01_curation" ->
      """WITH RECURSIVE
        |tok AS (
        |  SELECT doc_id, text,
        |    string_split_regex(trim(lower(text)), '[ \t\n\x0B\f\r]+') AS ts
        |  FROM documents),
        |ann AS (
        |  SELECT doc_id, text, ts,
        |    CAST(len(ts) AS BIGINT) AS n_tokens, md5(text) AS fp,
        |    GREATEST(CAST(len(ts) AS BIGINT), 1) AS tc,
        |    GREATEST(CAST(length(text) AS BIGINT), 1) AS cc,
        |    CAST(len(list_filter(ts, t -> t IN ('the','a','an','and','or',
        |      'of','to','in','is','it','for','on','with','as','at','by',
        |      'this','that'))) AS BIGINT) AS sw,
        |    CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT)
        |      AS dg,
        |    CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS BIGINT)
        |      AS pc
        |  FROM tok),
        |q2 AS (
        |  SELECT doc_id, text, ts, n_tokens, fp,
        |    GREATEST(LEAST((sw*100)//tc + LEAST(cc//20, 30) + 40
        |      - (dg*100)//cc - (pc*100)//cc, 100), 0) AS quality
        |  FROM ann),
        |lg AS (
        |  SELECT doc_id,
        |    CASE WHEN GREATEST(h_en,h_fr,h_es,h_de) = 0 THEN 'und'
        |         WHEN h_fr = GREATEST(h_en,h_fr,h_es,h_de) THEN 'fr'
        |         WHEN h_es = GREATEST(h_en,h_fr,h_es,h_de) THEN 'es'
        |         WHEN h_en = GREATEST(h_en,h_fr,h_es,h_de) THEN 'en'
        |         ELSE 'de' END AS lang_guess
        |  FROM (SELECT doc_id,
        |    len(list_filter(ts, t -> t IN ('the','and','of','to','in','is',
        |      'that','it','for','was'))) AS h_en,
        |    len(list_filter(ts, t -> t IN ('le','la','les','de','des','et',
        |      'un','une','est','que'))) AS h_fr,
        |    len(list_filter(ts, t -> t IN ('el','la','los','las','de','y',
        |      'un','una','es','que'))) AS h_es,
        |    len(list_filter(ts, t -> t IN ('der','die','das','und','ein',
        |      'eine','ist','nicht','mit','von'))) AS h_de
        |  FROM q2)),
        |ded AS (
        |  SELECT a.doc_id, a.text, a.n_tokens, a.quality, l.lang_guess,
        |    ROW_NUMBER() OVER (PARTITION BY a.fp ORDER BY a.doc_id) AS rn
        |  FROM q2 a JOIN lg l USING (doc_id)
        |  WHERE a.n_tokens >= 10 AND a.quality >= 20
        |    AND l.lang_guess IN ('en','fr','es','de','und')),
        |surv AS (SELECT doc_id, text, n_tokens, quality, lang_guess
        |  FROM ded WHERE rn = 1),
        |gr AS (
        |  SELECT s.doc_id, CASE WHEN len(t.ts) < 3 THEN []
        |    ELSE list_transform(range(1, len(t.ts) - 1),
        |      i -> t.ts[i] || ' ' || t.ts[i+1] || ' ' || t.ts[i+2]) END
        |      AS grams
        |  FROM surv s JOIN tok t USING (doc_id)),
        |th AS (SELECT doc_id,
        |    list_transform(grams, g -> ('0x' || substr(md5(g),1,8))::BIGINT)
        |      AS hs
        |  FROM gr),
        |sig AS (SELECT doc_id, list_transform(range(0, 64), j ->
        |    coalesce(list_min(list_transform(hs, h ->
        |      (((('0x' || substr(md5('a' || j),1,8))::BIGINT % 2147483647) + 1)
        |          * h +
        |        ('0x' || substr(md5('b' || j),1,8))::BIGINT % 4294967291)
        |        % 4294967291)),
        |      4294967291)) AS s
        |  FROM th),
        |bands AS (SELECT doc_id, s, unnest(range(0, 16)) AS band FROM sig),
        |conf AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.doc_id < b.doc_id
        |    AND a.s[a.band*4+1 : a.band*4+4] = b.s[b.band*4+1 : b.band*4+4]
        |  WHERE CAST(len(list_filter(range(1, 65), i -> a.s[i] = b.s[i]))
        |      AS DOUBLE) / 64 >= 0.8),
        |sym AS (SELECT id_a AS src, id_b AS dst FROM conf
        |  UNION SELECT id_b, id_a FROM conf),
        |reach(id, lab) AS (
        |  SELECT DISTINCT src, src FROM sym
        |  UNION
        |  SELECT s.dst, r.lab FROM reach r JOIN sym s ON s.src = r.id
        |  WHERE r.lab < s.dst),
        |drops AS (SELECT id FROM
        |  (SELECT id, MIN(lab) AS keep_id FROM reach GROUP BY id)
        |  WHERE id != keep_id)
        |SELECT s.doc_id, s.n_tokens, CAST(s.quality AS BIGINT) AS quality,
        |  s.lang_guess,
        |  CAST(len(regexp_extract_all(trim(s.text), '[^ \t\n\x0B\f\r]+'))
        |    AS BIGINT) AS n_tokens_check,
        |  (s.n_tokens >= 10 AND s.quality >= 20
        |    AND s.lang_guess IN ('en','fr','es','de','und')) AS passes_config
        |FROM surv s ANTI JOIN drops d ON d.id = s.doc_id
        |ORDER BY s.doc_id
        |LIMIT 100""".stripMargin,
    // full SimHash replay over the portable 60-bit family (md5-60 token
    // hashes, majority bit votes), 16-bit pigeonhole blocks, hamming via
    // bit_count(xor), exact distinct-token jaccard
    "dd02_simhash_pairs" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ts
        |  FROM documents),
        |th AS (SELECT doc_id, ts,
        |    list_transform(ts, t -> ('0x' || substr(md5(t),1,15))::BIGINT)
        |      AS hs
        |  FROM tok),
        |sig AS (SELECT doc_id,
        |    CAST(list_sum(list_transform(range(0, 60), b ->
        |      CASE WHEN 2 * len(list_filter(hs,
        |            h -> (h // (1::BIGINT << b)) % 2 = 1)) > len(hs)
        |        THEN (1::BIGINT << b) ELSE 0::BIGINT END)) AS BIGINT) AS s
        |  FROM th),
        |blk AS (SELECT doc_id, s, unnest(range(0, 4)) AS band FROM sig),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
        |    a.s AS sa, b.s AS sb
        |  FROM blk a JOIN blk b
        |    ON a.band = b.band AND a.doc_id < b.doc_id
        |    AND ((a.s >> (16 * a.band)) & 65535) =
        |        ((b.s >> (16 * b.band)) & 65535)),
        |ex AS (SELECT doc_id, list_distinct(ts) AS gs FROM tok)
        |SELECT id_a, id_b, hamming, exact_jaccard FROM (
        |  SELECT c.id_a, c.id_b,
        |    CAST(bit_count(xor(c.sa, c.sb)) AS BIGINT) AS hamming,
        |    CASE WHEN len(ea.gs) + len(eb.gs) = 0 THEN 0.0
        |      ELSE CAST(len(list_intersect(ea.gs, eb.gs)) AS DOUBLE) /
        |        (len(ea.gs) + len(eb.gs) - len(list_intersect(ea.gs, eb.gs)))
        |      END AS exact_jaccard
        |  FROM cand c
        |  JOIN ex ea ON ea.doc_id = c.id_a
        |  JOIN ex eb ON eb.doc_id = c.id_b)
        |WHERE hamming <= 32
        |ORDER BY hamming, id_a, id_b
        |LIMIT 20""".stripMargin,
    // full embedding-LSH replay: md5-derived Rademacher hyperplanes, bit
    // b of table t set iff the signed sequential-double sum >= 0, 4
    // bucket tables, distinct bucket-sharing pairs, cosine composed
    // dot/nx/ny exactly like the codegen'd expression loop
    "dd04_embedding_neardup" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |bkt AS (
        |  SELECT vec_id, v, r.t AS band,
        |    CAST(list_sum(list_transform(range(0, 6), b ->
        |      CASE WHEN list_sum(list_transform(range(1, len(v) + 1), i ->
        |          CASE WHEN ('0x' || substr(
        |                md5('p' || r.t || '_' || b || '_' || (i-1)), 1, 8)
        |              )::BIGINT % 2 = 0
        |            THEN v[i] ELSE -v[i] END)) >= 0
        |        THEN (1::BIGINT << b) ELSE 0::BIGINT END)) AS BIGINT) AS bucket
        |  FROM e, range(0, 4) AS r(t)),
        |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
        |    a.v AS va, b.v AS vb
        |  FROM bkt a JOIN bkt b
        |    ON a.band = b.band AND a.bucket = b.bucket
        |    AND a.vec_id < b.vec_id)
        |SELECT id_a, id_b,
        |  (SELECT CASE WHEN nx = 0 OR ny = 0 THEN 0.0
        |          ELSE dot / sqrt(nx * ny) END FROM (SELECT
        |    list_sum(list_transform(range(1, len(va) + 1), i -> va[i] * vb[i]))
        |      AS dot,
        |    list_sum(list_transform(range(1, len(va) + 1), i -> va[i] * va[i]))
        |      AS nx,
        |    list_sum(list_transform(range(1, len(vb) + 1), i -> vb[i] * vb[i]))
        |      AS ny)) AS cos
        |FROM cand
        |ORDER BY cos DESC, id_a, id_b
        |LIMIT 20""".stripMargin,
    // SemDeDup replay: ann02's md5-ordered sampled centroids + argmax
    // assignment (cscore DESC, cell ASC = Spark's min(struct(-score,
    // cell))), then within-cell pairs with the dd04 exact-composition
    // cosine
    "sm01_semantic_dedup" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |h AS (SELECT vec_id, v,
        |    ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT
        |      AS hk
        |  FROM e),
        |cents AS (
        |  SELECT CAST(row_number() OVER (ORDER BY hk, vec_id) AS INT) - 1
        |      AS cell,
        |    v AS centroid
        |  FROM h ORDER BY hk, vec_id LIMIT 16),
        |sc AS (
        |  SELECT e.vec_id, e.v, cents.cell,
        |    (SELECT CASE WHEN nx = 0 OR ny = 0 THEN 0.0
        |            ELSE dot / sqrt(nx * ny) END FROM (SELECT
        |      list_sum(list_transform(range(1, len(v) + 1), i ->
        |        v[i] * centroid[i])) AS dot,
        |      list_sum(list_transform(range(1, len(v) + 1), i ->
        |        v[i] * v[i])) AS nx,
        |      list_sum(list_transform(range(1, len(centroid) + 1), i ->
        |        centroid[i] * centroid[i])) AS ny)) AS cscore
        |  FROM e CROSS JOIN cents),
        |asg AS (SELECT vec_id, v, cell FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY cscore DESC, cell) AS rn FROM sc)
        |  WHERE rn = 1),
        |pr AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    a.v AS va, b.v AS vb
        |  FROM asg a JOIN asg b
        |    ON a.cell = b.cell AND a.vec_id < b.vec_id)
        |SELECT id_a, id_b, cos FROM (
        |  SELECT id_a, id_b,
        |    (SELECT CASE WHEN nx = 0 OR ny = 0 THEN 0.0
        |            ELSE dot / sqrt(nx * ny) END FROM (SELECT
        |      list_sum(list_transform(range(1, len(va) + 1), i ->
        |        va[i] * vb[i])) AS dot,
        |      list_sum(list_transform(range(1, len(va) + 1), i ->
        |        va[i] * va[i])) AS nx,
        |      list_sum(list_transform(range(1, len(vb) + 1), i ->
        |        vb[i] * vb[i])) AS ny)) AS cos
        |  FROM pr)
        |WHERE cos >= 0.2
        |ORDER BY cos DESC, id_a, id_b
        |LIMIT 50""".stripMargin,
    // LSH top-k replay: query (vec 0) and corpus bucketed by the same
    // portable hyperplanes, candidates = bucket collisions in any table,
    // exact-composition cosine, exact global top-10 rank (0 = LSH miss)
    "ann01_lsh_topk" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        |c AS (SELECT vec_id, v FROM e WHERE vec_id <> 0),
        |qb AS (
        |  SELECT r.t AS band,
        |    CAST(list_sum(list_transform(range(0, 6), b ->
        |      CASE WHEN list_sum(list_transform(range(1, len(qv) + 1), i ->
        |          CASE WHEN ('0x' || substr(
        |                md5('p' || r.t || '_' || b || '_' || (i-1)), 1, 8)
        |              )::BIGINT % 2 = 0
        |            THEN qv[i] ELSE -qv[i] END)) >= 0
        |        THEN (1::BIGINT << b) ELSE 0::BIGINT END)) AS BIGINT) AS bucket
        |  FROM q, range(0, 8) AS r(t)),
        |cb AS (
        |  SELECT vec_id, r.t AS band,
        |    CAST(list_sum(list_transform(range(0, 6), b ->
        |      CASE WHEN list_sum(list_transform(range(1, len(v) + 1), i ->
        |          CASE WHEN ('0x' || substr(
        |                md5('p' || r.t || '_' || b || '_' || (i-1)), 1, 8)
        |              )::BIGINT % 2 = 0
        |            THEN v[i] ELSE -v[i] END)) >= 0
        |        THEN (1::BIGINT << b) ELSE 0::BIGINT END)) AS BIGINT) AS bucket
        |  FROM c, range(0, 8) AS r(t)),
        |cand AS (SELECT DISTINCT cb.vec_id
        |  FROM cb JOIN qb ON cb.band = qb.band AND cb.bucket = qb.bucket),
        |sc AS (
        |  SELECT c.vec_id,
        |    (SELECT CASE WHEN nx = 0 OR ny = 0 THEN 0.0
        |            ELSE dot / sqrt(nx * ny) END FROM (SELECT
        |      list_sum(list_transform(range(1, len(v) + 1), i -> v[i] * qv[i]))
        |        AS dot,
        |      list_sum(list_transform(range(1, len(v) + 1), i -> v[i] * v[i]))
        |        AS nx,
        |      list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * qv[i]))
        |        AS ny)) AS score
        |  FROM c, q),
        |ex AS (SELECT vec_id,
        |    CAST(row_number() OVER (ORDER BY score DESC, vec_id) AS BIGINT)
        |      AS exact_rank
        |  FROM sc)
        |SELECT s.vec_id, s.score,
        |  coalesce(x.exact_rank, 0) AS exact_rank
        |FROM sc s
        |JOIN cand USING (vec_id)
        |LEFT JOIN (SELECT * FROM ex WHERE exact_rank <= 10) x USING (vec_id)
        |ORDER BY s.score DESC, s.vec_id
        |LIMIT 10""".stripMargin,
    // kNN-graph replay: portable buckets (8 bits x 4 tables), distinct
    // bucket-sharing pairs, both directions, per-id rank by falling
    // cosine with neighbor-id ties, rank <= 5, first 100 rows by (id, rank)
    "ann03_knn_graph" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |bkt AS (
        |  SELECT vec_id, v, r.t AS band,
        |    CAST(list_sum(list_transform(range(0, 8), b ->
        |      CASE WHEN list_sum(list_transform(range(1, len(v) + 1), i ->
        |          CASE WHEN ('0x' || substr(
        |                md5('p' || r.t || '_' || b || '_' || (i-1)), 1, 8)
        |              )::BIGINT % 2 = 0
        |            THEN v[i] ELSE -v[i] END)) >= 0
        |        THEN (1::BIGINT << b) ELSE 0::BIGINT END)) AS BIGINT) AS bucket
        |  FROM e, range(0, 4) AS r(t)),
        |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
        |    a.v AS va, b.v AS vb
        |  FROM bkt a JOIN bkt b
        |    ON a.band = b.band AND a.bucket = b.bucket
        |    AND a.vec_id < b.vec_id),
        |sc AS (SELECT id_a, id_b,
        |  (SELECT CASE WHEN nx = 0 OR ny = 0 THEN 0.0
        |          ELSE dot / sqrt(nx * ny) END FROM (SELECT
        |    list_sum(list_transform(range(1, len(va) + 1), i -> va[i] * vb[i]))
        |      AS dot,
        |    list_sum(list_transform(range(1, len(va) + 1), i -> va[i] * va[i]))
        |      AS nx,
        |    list_sum(list_transform(range(1, len(vb) + 1), i -> vb[i] * vb[i]))
        |      AS ny)) AS cos
        |  FROM cand),
        |sym AS (
        |  SELECT id_a AS id, id_b AS neighbor_id, cos AS score FROM sc
        |  UNION ALL
        |  SELECT id_b AS id, id_a AS neighbor_id, cos AS score FROM sc),
        |rk AS (SELECT id, neighbor_id, score,
        |    CAST(row_number() OVER (PARTITION BY id
        |      ORDER BY score DESC, neighbor_id) AS BIGINT) AS rank
        |  FROM sym)
        |SELECT id, neighbor_id, score, rank FROM rk
        |WHERE rank <= 5
        |ORDER BY id, rank
        |LIMIT 100""".stripMargin,
    // ann05's oracle: ann03's full batch replay over the NEW snapshot —
    // the incremental==batch invariant for the kNN candidate index
    "ann05_incremental_knn" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |  WHERE vec_id % 2 = 0 AND vec_id % 10 <> 8),
        |bkt AS (
        |  SELECT vec_id, v, r.t AS band,
        |    CAST(list_sum(list_transform(range(0, 8), b ->
        |      CASE WHEN list_sum(list_transform(range(1, len(v) + 1), i ->
        |          CASE WHEN ('0x' || substr(
        |                md5('p' || r.t || '_' || b || '_' || (i-1)), 1, 8)
        |              )::BIGINT % 2 = 0
        |            THEN v[i] ELSE -v[i] END)) >= 0
        |        THEN (1::BIGINT << b) ELSE 0::BIGINT END)) AS BIGINT) AS bucket
        |  FROM e, range(0, 4) AS r(t)),
        |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
        |    a.v AS va, b.v AS vb
        |  FROM bkt a JOIN bkt b
        |    ON a.band = b.band AND a.bucket = b.bucket
        |    AND a.vec_id < b.vec_id),
        |sc AS (SELECT id_a, id_b,
        |  (SELECT CASE WHEN nx = 0 OR ny = 0 THEN 0.0
        |          ELSE dot / sqrt(nx * ny) END FROM (SELECT
        |    list_sum(list_transform(range(1, len(va) + 1), i -> va[i] * vb[i]))
        |      AS dot,
        |    list_sum(list_transform(range(1, len(va) + 1), i -> va[i] * va[i]))
        |      AS nx,
        |    list_sum(list_transform(range(1, len(vb) + 1), i -> vb[i] * vb[i]))
        |      AS ny)) AS cos
        |  FROM cand),
        |sym AS (
        |  SELECT id_a AS id, id_b AS neighbor_id, cos AS score FROM sc
        |  UNION ALL
        |  SELECT id_b AS id, id_a AS neighbor_id, cos AS score FROM sc),
        |rk AS (SELECT id, neighbor_id, score,
        |    CAST(row_number() OVER (PARTITION BY id
        |      ORDER BY score DESC, neighbor_id) AS BIGINT) AS rank
        |  FROM sym)
        |SELECT id, neighbor_id, score, rank FROM rk
        |WHERE rank <= 5
        |ORDER BY id, rank
        |LIMIT 100""".stripMargin,
    // IVF replay: coarse centroids = the 16 ids with the smallest md5-32
    // (same portable-hash family as the dedup signatures), cell = argmax
    // cosine with ties to the lowest cell, probe the 4 cells nearest the
    // query, exact-composition cosine, exact global rank (0 = IVF miss)
    "ann02_ivf_topk" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |h AS (
        |  SELECT vec_id, v,
        |    ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT AS hk
        |  FROM e),
        |cents AS (
        |  SELECT CAST(row_number() OVER (ORDER BY hk, vec_id) AS INT) - 1
        |      AS cell,
        |    v AS centroid
        |  FROM h ORDER BY hk, vec_id LIMIT 16),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        |c AS (SELECT vec_id, v FROM e WHERE vec_id <> 0),
        |sc AS (
        |  SELECT c.vec_id, c.v, cents.cell,
        |    (SELECT CASE WHEN nx = 0 OR ny = 0 THEN 0.0
        |            ELSE dot / sqrt(nx * ny) END FROM (SELECT
        |      list_sum(list_transform(range(1, len(v) + 1), i ->
        |        v[i] * centroid[i])) AS dot,
        |      list_sum(list_transform(range(1, len(v) + 1), i ->
        |        v[i] * v[i])) AS nx,
        |      list_sum(list_transform(range(1, len(centroid) + 1), i ->
        |        centroid[i] * centroid[i])) AS ny)) AS cscore
        |  FROM c CROSS JOIN cents),
        |asg AS (
        |  SELECT vec_id, v, cell FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY cscore DESC, cell) AS rn FROM sc)
        |  WHERE rn = 1),
        |pc AS (
        |  SELECT cell FROM (
        |    SELECT cell,
        |      (SELECT CASE WHEN nx = 0 OR ny = 0 THEN 0.0
        |              ELSE dot / sqrt(nx * ny) END FROM (SELECT
        |        list_sum(list_transform(range(1, len(centroid) + 1), i ->
        |          centroid[i] * qv[i])) AS dot,
        |        list_sum(list_transform(range(1, len(centroid) + 1), i ->
        |          centroid[i] * centroid[i])) AS nx,
        |        list_sum(list_transform(range(1, len(qv) + 1), i ->
        |          qv[i] * qv[i])) AS ny)) AS qscore
        |    FROM cents, q)
        |  ORDER BY qscore DESC, cell LIMIT 4),
        |sel AS (SELECT a.vec_id, a.v FROM asg a JOIN pc USING (cell)),
        |scq AS (
        |  SELECT s.vec_id,
        |    (SELECT CASE WHEN nx = 0 OR ny = 0 THEN 0.0
        |            ELSE dot / sqrt(nx * ny) END FROM (SELECT
        |      list_sum(list_transform(range(1, len(v) + 1), i ->
        |        v[i] * qv[i])) AS dot,
        |      list_sum(list_transform(range(1, len(v) + 1), i ->
        |        v[i] * v[i])) AS nx,
        |      list_sum(list_transform(range(1, len(qv) + 1), i ->
        |        qv[i] * qv[i])) AS ny)) AS score
        |  FROM sel s, q),
        |exsc AS (
        |  SELECT c.vec_id,
        |    (SELECT CASE WHEN nx = 0 OR ny = 0 THEN 0.0
        |            ELSE dot / sqrt(nx * ny) END FROM (SELECT
        |      list_sum(list_transform(range(1, len(v) + 1), i ->
        |        v[i] * qv[i])) AS dot,
        |      list_sum(list_transform(range(1, len(v) + 1), i ->
        |        v[i] * v[i])) AS nx,
        |      list_sum(list_transform(range(1, len(qv) + 1), i ->
        |        qv[i] * qv[i])) AS ny)) AS score
        |  FROM c, q),
        |ex AS (SELECT vec_id,
        |    CAST(row_number() OVER (ORDER BY score DESC, vec_id) AS BIGINT)
        |      AS exact_rank
        |  FROM exsc)
        |SELECT s.vec_id, s.score, coalesce(x.exact_rank, 0) AS exact_rank
        |FROM scq s
        |LEFT JOIN (SELECT * FROM ex WHERE exact_rank <= 10) x USING (vec_id)
        |ORDER BY s.score DESC, s.vec_id
        |LIMIT 10""".stripMargin,
    // ann04's oracle: batch re-assignment of the NEW snapshot under the
    // OLD snapshot's pinned centroids, probed identically — the
    // incremental==batch invariant for the IVF assignment table
    "ann04_incremental_ivf" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |old AS (SELECT vec_id, v FROM e WHERE vec_id % 10 <> 3),
        |h AS (
        |  SELECT vec_id, v,
        |    ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT AS hk
        |  FROM old),
        |cents AS (
        |  SELECT CAST(row_number() OVER (ORDER BY hk, vec_id) AS INT) - 1
        |      AS cell,
        |    v AS centroid
        |  FROM h ORDER BY hk, vec_id LIMIT 16),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        |c AS (SELECT vec_id, v FROM e
        |  WHERE vec_id <> 0 AND vec_id % 10 <> 9),
        |sc AS (
        |  SELECT c.vec_id, c.v, cents.cell,
        |    (SELECT CASE WHEN nx = 0 OR ny = 0 THEN 0.0
        |            ELSE dot / sqrt(nx * ny) END FROM (SELECT
        |      list_sum(list_transform(range(1, len(v) + 1), i ->
        |        v[i] * centroid[i])) AS dot,
        |      list_sum(list_transform(range(1, len(v) + 1), i ->
        |        v[i] * v[i])) AS nx,
        |      list_sum(list_transform(range(1, len(centroid) + 1), i ->
        |        centroid[i] * centroid[i])) AS ny)) AS cscore
        |  FROM c CROSS JOIN cents),
        |asg AS (
        |  SELECT vec_id, v, cell FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY cscore DESC, cell) AS rn FROM sc)
        |  WHERE rn = 1),
        |pc AS (
        |  SELECT cell FROM (
        |    SELECT cell,
        |      (SELECT CASE WHEN nx = 0 OR ny = 0 THEN 0.0
        |              ELSE dot / sqrt(nx * ny) END FROM (SELECT
        |        list_sum(list_transform(range(1, len(centroid) + 1), i ->
        |          centroid[i] * qv[i])) AS dot,
        |        list_sum(list_transform(range(1, len(centroid) + 1), i ->
        |          centroid[i] * centroid[i])) AS nx,
        |        list_sum(list_transform(range(1, len(qv) + 1), i ->
        |          qv[i] * qv[i])) AS ny)) AS qscore
        |    FROM cents, q)
        |  ORDER BY qscore DESC, cell LIMIT 4),
        |sel AS (SELECT a.vec_id, a.v FROM asg a JOIN pc USING (cell)),
        |scq AS (
        |  SELECT s.vec_id,
        |    (SELECT CASE WHEN nx = 0 OR ny = 0 THEN 0.0
        |            ELSE dot / sqrt(nx * ny) END FROM (SELECT
        |      list_sum(list_transform(range(1, len(v) + 1), i ->
        |        v[i] * qv[i])) AS dot,
        |      list_sum(list_transform(range(1, len(v) + 1), i ->
        |        v[i] * v[i])) AS nx,
        |      list_sum(list_transform(range(1, len(qv) + 1), i ->
        |        qv[i] * qv[i])) AS ny)) AS score
        |  FROM sel s, q)
        |SELECT vec_id, score FROM scq
        |ORDER BY score DESC, vec_id
        |LIMIT 10""".stripMargin,
    // keep-first line dedup: same synthesized dups as the Spark lane;
    // ownership = min (doc_id, pos) per line string among >= 10-char
    // lines, only affected docs are rebuilt (bp02's rebuild pattern)
    "pd01_paragraph_dedup" ->
      raw"""WITH aug AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 5 = 0
        |         THEN chr(10) || string_split_regex(text, '\r?\n')[1]
        |         ELSE '' END ||
        |    CASE WHEN doc_id % 4 = 1
        |         THEN chr(10) || 'Shared disclaimer: sample text corpus.'
        |         ELSE '' END ||
        |    CASE WHEN doc_id % 6 = 2 THEN chr(10) || '--' ELSE '' END
        |      AS text
        |  FROM documents),
        |lines AS (
        |  SELECT doc_id,
        |    generate_subscripts(string_split_regex(text, '\r?\n'), 1) AS pos,
        |    unnest(string_split_regex(text, '\r?\n')) AS line
        |  FROM aug),
        |mk AS (
        |  SELECT doc_id, pos, line,
        |    length(line) >= 10 AS eligible,
        |    COUNT(*) OVER (PARTITION BY line) AS cnt,
        |    row_number() OVER (PARTITION BY line ORDER BY doc_id, pos)
        |      AS rn
        |  FROM lines),
        |affected AS (
        |  SELECT doc_id,
        |    coalesce(string_agg(line, chr(10) ORDER BY pos)
        |      FILTER (WHERE NOT (eligible AND cnt > 1 AND rn > 1)), '')
        |      AS new_text
        |  FROM mk GROUP BY doc_id
        |  HAVING COUNT(CASE WHEN eligible AND cnt > 1 AND rn > 1
        |               THEN 1 END) > 0)
        |SELECT a.doc_id, CAST(length(x.t2) AS BIGINT) AS n_chars_clean,
        |  md5(x.t2) AS clean_md5
        |FROM (SELECT aug.doc_id, coalesce(af.new_text, aug.text) AS t2
        |      FROM aug LEFT JOIN affected af USING (doc_id)) x
        |JOIN aug a USING (doc_id)
        |ORDER BY a.doc_id""".stripMargin,
    // dd05's portable cluster replay + inverse-cluster-size weights over
    // the dense doc grid (unclustered docs weigh 1,000,000)
    "sw01_soft_dedup" ->
      raw"""WITH RECURSIVE
        |$minhashBandsCteSql,
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.doc_id < b.doc_id
        |    AND a.s[a.band*4+1 : a.band*4+4] = b.s[b.band*4+1 : b.band*4+4]),
        |ex AS (SELECT doc_id, list_distinct(grams) AS gs FROM gr),
        |conf AS (SELECT c.id_a, c.id_b
        |  FROM cand c JOIN ex ea ON ea.doc_id = c.id_a
        |    JOIN ex eb ON eb.doc_id = c.id_b
        |  WHERE len(ea.gs) + len(eb.gs) - len(list_intersect(ea.gs, eb.gs)) > 0
        |    AND CAST(len(list_intersect(ea.gs, eb.gs)) AS DOUBLE) /
        |      (len(ea.gs) + len(eb.gs) - len(list_intersect(ea.gs, eb.gs)))
        |      >= 0.8),
        |sym AS (SELECT id_a AS src, id_b AS dst FROM conf
        |  UNION SELECT id_b, id_a FROM conf),
        |reach(id, lab) AS (
        |  SELECT DISTINCT src, src FROM sym
        |  UNION
        |  SELECT s.dst, r.lab FROM reach r JOIN sym s ON s.src = r.id
        |  WHERE r.lab < s.dst),
        |clus AS (SELECT id, MIN(lab) AS rep FROM reach GROUP BY id),
        |sz AS (SELECT rep, CAST(COUNT(*) AS BIGINT) AS n
        |       FROM clus GROUP BY rep)
        |SELECT d.doc_id,
        |  CAST(coalesce(s.n, 1) AS BIGINT) AS cluster_size,
        |  CAST(1000000 // coalesce(s.n, 1) AS BIGINT) AS weight_micro
        |FROM documents d
        |LEFT JOIN clus c ON c.id = d.doc_id
        |LEFT JOIN sz s ON s.rep = c.rep
        |ORDER BY d.doc_id""".stripMargin,
    // DSIR replay: hashed unigram+bigram buckets (portable md5-32 mod
    // 256), add-one smoothed target/raw bucket models, ratio-of-ratios
    // divided in EXACTLY the Spark shape (two IEEE divisions, one
    // division of the quotients, one libm log2, one micro rounding)
    "ds01_dsir_select" ->
      raw"""WITH tok AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)),
        |    '[ \t\n\x0B\f\r]+') AS ts
        |  FROM documents),
        |fe AS (
        |  SELECT doc_id, doc_id % 10 = 0 AS targ, f
        |  FROM (SELECT doc_id, unnest(list_concat(ts,
        |      CASE WHEN len(ts) < 2 THEN []
        |        ELSE list_transform(range(1, len(ts)),
        |          i -> ts[i] || ' ' || ts[i+1]) END)) AS f
        |    FROM tok)
        |  WHERE f <> ''),
        |fb AS (SELECT doc_id, targ,
        |    ('0x' || substr(md5(f), 1, 8))::BIGINT % 256 AS b
        |  FROM fe),
        |tb AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS tc
        |  FROM fb WHERE targ GROUP BY b),
        |g AS (SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) AS occ
        |  FROM fb WHERE NOT targ GROUP BY doc_id, b),
        |rb AS (SELECT b, CAST(SUM(occ) AS BIGINT) AS rc FROM g GROUP BY b),
        |tt AS (SELECT (SELECT coalesce(SUM(tc), 0) FROM tb) AS t,
        |              (SELECT coalesce(SUM(rc), 0) FROM rb) AS r),
        |llr AS (SELECT coalesce(tb.b, rb.b) AS b,
        |    CAST(round(log2(
        |      (CAST(coalesce(tb.tc, 0) + 1 AS DOUBLE) /
        |        CAST(tt.t + 256 AS DOUBLE)) /
        |      (CAST(coalesce(rb.rc, 0) + 1 AS DOUBLE) /
        |        CAST(tt.r + 256 AS DOUBLE))) * 1000000) AS BIGINT)
        |      AS llr_b
        |  FROM tb FULL OUTER JOIN rb ON tb.b = rb.b CROSS JOIN tt)
        |SELECT g.doc_id, CAST(SUM(g.occ) AS BIGINT) AS n_feats,
        |  CAST(SUM(g.occ * l.llr_b) AS BIGINT) AS llr_micro
        |FROM g JOIN llr l USING (b)
        |GROUP BY g.doc_id
        |ORDER BY llr_micro DESC, g.doc_id
        |LIMIT 100""".stripMargin,
    // novelty replay: 3-gram first-occurrence by min doc_id, occurrence-
    // weighted permille (gram strings group directly — the 60-bit
    // fingerprint is answer-invisible absent collisions, the dedup-family
    // stance)
    "ng01_novel_ngrams" ->
      raw"""WITH tok AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)),
        |    '[ \t\n\x0B\f\r]+') AS ts
        |  FROM documents),
        |gr AS (
        |  SELECT doc_id, CASE WHEN len(ts) < 3 THEN []
        |    ELSE list_transform(range(1, len(ts) - 1),
        |      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]) END AS gs
        |  FROM tok),
        |pd AS (SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS occ
        |  FROM (SELECT doc_id, unnest(gs) AS g FROM gr) GROUP BY 1, 2),
        |fst AS (SELECT g, MIN(doc_id) AS fid FROM pd GROUP BY g)
        |SELECT doc_id,
        |  CAST(SUM(occ) AS BIGINT) AS n_grams,
        |  CAST(SUM(CASE WHEN doc_id = fid THEN occ ELSE 0 END) AS BIGINT)
        |    AS novel_grams,
        |  CAST((SUM(CASE WHEN doc_id = fid THEN occ ELSE 0 END) * 1000)
        |    // SUM(occ) AS BIGINT) AS novel_permille
        |FROM pd JOIN fst USING (g)
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,
    // nb01's shared prediction block -> confusion matrix -> per-class
    // integer-permille precision/recall/F1 (F1 = harmonic mean of the
    // permille values, the Spark side's exact convention)
    "cm01_classifier_eval" ->
      raw"""WITH $nbPredictCteSql,
        |sc2 AS (SELECT d.lang AS t, b.pred AS p
        |  FROM best b JOIN documents d USING (doc_id) WHERE b.rn = 1),
        |cm AS (SELECT t, p, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM sc2 GROUP BY 1, 2),
        |tru AS (SELECT t AS label, CAST(SUM(n) AS BIGINT) AS n_true
        |  FROM cm GROUP BY 1),
        |prd AS (SELECT p AS label, CAST(SUM(n) AS BIGINT) AS n_pred
        |  FROM cm GROUP BY 1),
        |tpf AS (SELECT t AS label, n AS tp FROM cm WHERE t = p),
        |j AS (SELECT coalesce(tru.label, prd.label) AS label,
        |    coalesce(tru.n_true, 0) AS n_true,
        |    coalesce(prd.n_pred, 0) AS n_pred,
        |    coalesce(tpf.tp, 0) AS tp
        |  FROM tru FULL OUTER JOIN prd ON tru.label = prd.label
        |  LEFT JOIN tpf ON tpf.label = coalesce(tru.label, prd.label)),
        |pr AS (SELECT label, n_true, n_pred, tp,
        |    CASE WHEN n_pred = 0 THEN 0
        |         ELSE (tp * 1000) // n_pred END AS precision_permille,
        |    CASE WHEN n_true = 0 THEN 0
        |         ELSE (tp * 1000) // n_true END AS recall_permille
        |  FROM j)
        |SELECT label, CAST(n_true AS BIGINT) AS n_true,
        |  CAST(n_pred AS BIGINT) AS n_pred, CAST(tp AS BIGINT) AS tp,
        |  CAST(precision_permille AS BIGINT) AS precision_permille,
        |  CAST(recall_permille AS BIGINT) AS recall_permille,
        |  CAST(CASE WHEN precision_permille + recall_permille = 0 THEN 0
        |       ELSE (2 * precision_permille * recall_permille)
        |         // (precision_permille + recall_permille) END AS BIGINT)
        |    AS f1_permille
        |FROM pr
        |ORDER BY label""".stripMargin,
    // calibration replay: best (rn=1) vs runner-up (rn=2) nll margin
    // off the SAME ranked CTE, 1-bit bins, accuracy permille per bin
    "cm02_nb_calibration" ->
      raw"""WITH $nbPredictCteSql,
        |m AS (SELECT b1.doc_id, b1.pred,
        |    b2.nll_micro - b1.nll_micro AS margin
        |  FROM best b1 LEFT JOIN best b2
        |    ON b1.doc_id = b2.doc_id AND b2.rn = 2
        |  WHERE b1.rn = 1),
        |j AS (SELECT m.margin, (m.pred = d.lang) AS ok
        |  FROM m JOIN documents d USING (doc_id))
        |SELECT CAST(margin // 1000000 AS BIGINT) AS margin_bin,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(COUNT(*) FILTER (ok) AS BIGINT) AS n_correct,
        |  CAST((COUNT(*) FILTER (ok)) * 1000 // COUNT(*) AS BIGINT)
        |    AS acc_permille
        |FROM j GROUP BY 1 ORDER BY margin_bin NULLS FIRST""".stripMargin,
    // stratified fixed-k replay: the naive single per-stratum window the
    // two-level Spark plan is provably equal to
    "sp06_stratified_sample" ->
      """WITH h AS (SELECT lang, doc_id,
        |    substr(md5(CAST(doc_id AS VARCHAR) || '-strat'), 1, 8) AS hh
        |  FROM documents),
        |r AS (SELECT lang, doc_id,
        |    CAST(row_number() OVER (PARTITION BY lang ORDER BY hh, doc_id)
        |      AS BIGINT) AS sample_rank
        |  FROM h)
        |SELECT lang, doc_id, sample_rank FROM r
        |WHERE sample_rank <= 20
        |ORDER BY lang, sample_rank""".stripMargin
  )

  // ------------------------------------------------------------------
  // Rows-only catalog (no closed-form SQL oracle): LSH dedup, ANN,
  // sampled betweenness
  // ------------------------------------------------------------------

  // Rows-only entries carry SELF-VERIFYING invariant columns: the exact
  // value (or an independently computed check) rides in the same row as
  // the estimate, so the semantics are pinned by InvariantsSpec bounds —
  // the driver's rows-only gate checks cardinality; the invariant columns
  // carry the meaning.
  private val rowsOnlyCatalog: Map[String, (SparkSession, String) => DataFrame] = Map(
    // dd01/dd02 run the REAL banding/blocking/candidate/estimate code over
    // the engine-portable (md5-derived, RNG-free) signature family, so the
    // full pipeline — signature, LSH bands, candidate pairs, estimates —
    // hash-matches a DuckDB replay (oracle below). The murmur signature
    // path stays the scale default and keeps its own specs + ScaleProof.
    "dd01_minhash_candidates" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val sigs = docs.select(
        col("doc_id").as("id"),
        Dedup.minhashSigColumnPortable(col("text"), numHashes = 64, nGram = 3)
          .as("sig"))
      // exact_jaccard next to the MinHash estimate: |est - exact| is
      // bounded by the 64-hash signature's sampling error (InvariantsSpec)
      Dedup.withExactJaccard(
        Dedup.minhashCandidatesFromSigs(sigs, numHashes = 64, bands = 16),
        docs, "doc_id", "text", nGram = 3)
        .orderBy(desc("est_jaccard"), col("id_a"), col("id_b"))
        .limit(20)
    }),
    // fuzzy (edit-distance) dedup: Levenshtein verification over the SAME
    // portable LSH candidate pairs as dd01 — thresholded levenshtein on
    // candidates only, never all-pairs; full DuckDB oracle (both engines
    // implement the classic unit-cost edit distance)
    "fz01_fuzzy_pairs" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val sigs = docs.select(
        col("doc_id").as("id"),
        Dedup.minhashSigColumnPortable(col("text"), numHashes = 64, nGram = 3)
          .as("sig"))
      Dedup.fuzzyPairs(
        Dedup.minhashCandidatesFromSigs(sigs, numHashes = 64, bands = 16),
        docs, "doc_id", "text", maxDist = 64)
        .orderBy(col("edit_distance"), col("id_a"), col("id_b"))
        .limit(20)
    }),
    // incremental dedup vs a PREBUILT index — the stream-static shape
    // that avoids re-running all-corpus dedup on every arrival batch
    // (Dedup.minhashIndex + nearDupAgainstIndex, previously spec-only).
    // Corpus = doc_id % 5 != 0, incoming = the rest; maxBucketSize = 1 so
    // the hot-bucket representative-degrade path is actually exercised
    // (155 corpus buckets hold 2 rows at sf0.01 and keep min-id only).
    // Same no-xxhash64-collision assumption as dd01: the oracle equates
    // bucket equality with band-slice equality.
    "id01_incremental_neardup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      def sigsOf(d: DataFrame) = d.select(
        col("doc_id").as("id"),
        Dedup.minhashSigColumnPortable(col("text"), numHashes = 64, nGram = 3)
          .as("sig"))
      val index = Dedup.minhashIndexFromSigs(
        sigsOf(docs.filter(col("doc_id") % 5 =!= 0)),
        numHashes = 64, bands = 16, maxBucketSize = 1)
      Dedup.nearDupAgainstIndexFromSigs(
        sigsOf(docs.filter(col("doc_id") % 5 === 0)),
        index, numHashes = 64, bands = 16)
        .dropDuplicates("id", "corpus_id")
        .select(col("id"), col("corpus_id"), col("est_jaccard"))
        .orderBy(desc("est_jaccard"), col("id"), col("corpus_id"))
        .limit(100)
    }),
    // INCREMENTAL maintenance of id01's capped band index
    // (maintainMinhashIndex) — removals included, the gap the
    // additions-only mergeIntoMinhashIndex leaves. %2 half-corpus (the
    // sd03 cost convention), %13/%7/%11-copy snapshot step; cap=1 so
    // the step both RESURRECTS rows (a removed crowd member un-degrades
    // its buckets) and DEGRADES them (the %11 exact copies re-crowd
    // their sources' buckets). Signatures stage once — the index build,
    // the departed-side banding, and the next-sigs union all read them.
    // Oracle = full DuckDB rebuild of the capped index over the new
    // snapshot (same no-xxhash64-collision reading as id01)
    "id02_incremental_index" -> ((s, dir) => {
      import graft.operators.Incremental
      val base = t(s, dir, "documents")
        .filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("text"))
      val newSnap = base.filter(col("doc_id") % 13 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
        .unionByName(
          base.filter(col("doc_id") % 11 === 0 && col("doc_id") % 13 =!= 0)
            .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      def sigsOf(d: DataFrame) = d.select(
        col("doc_id").as("id"),
        Dedup.minhashSigColumnPortable(col("text"), numHashes = 64, nGram = 3)
          .as("sig"))
      val priorSigs = graft.operators.Barriers.stage(sigsOf(base))
      val priorIndex = Dedup.minhashIndexFromSigs(priorSigs,
        numHashes = 64, bands = 16, maxBucketSize = 1)
      val diffDf = modStepDiff(base, "doc_id")
        .withColumnRenamed("doc_id", "id")
      // deltaSigs stay LAZY (measured r15): its three consumers execute
      // as concurrent AQE stages — an eager stage read id02 at 1.61 s vs
      // 1.31 baseline (the hy01/withExactJaccard serialization lesson)
      val deltaSigs = sigsOf(newSnap.join(
        diffDf.filter(col("status").isin("added", "changed"))
          .select(col("id").as("doc_id")),
        Seq("doc_id"), "left_semi"))
      val (_, nextIndex) = Incremental.maintainMinhashIndex(
        priorSigs, deltaSigs, diffDf, priorIndex,
        numHashes = 64, bands = 16, maxBucketSize = 1)
      nextIndex
        .select(col("id").as("doc_id"), col("band").cast("long").as("band"))
        .orderBy(col("doc_id"), col("band"))
    }),
    "dd02_simhash_pairs" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val sigs = docs.select(
        col("doc_id").as("id"),
        Dedup.simhash60Portable(col("text")).as("sig"))
      // exact token-set (1-gram) Jaccard next to the hamming distance:
      // simhash hashes token sets, so low hamming must mean high overlap
      Dedup.withExactJaccard(
        Dedup.simhashNearDupFromSigs(sigs, maxHamming = 32),
        docs, "doc_id", "text", nGram = 1)
        .withColumn("hamming", col("hamming").cast("long"))
        .orderBy(col("hamming"), col("id_a"), col("id_b"))
        .limit(20)
    }),
    "dd03_ngram_jaccard" -> ((s, dir) => {
      Dedup.ngramJaccard(t(s, dir, "documents"), "doc_id", "text",
          nGram = 3, threshold = 0.0)
        .orderBy(desc("jaccard"), col("id_a"), col("id_b"))
        .limit(20)
    }),
    // end-to-end near-dup RESOLUTION — the call a curation pipeline
    // actually makes: portable-minhash LSH candidates → exact-jaccard
    // confirmation at 0.8 → transitive clusters (star CC; chains like
    // A~B~C collapse to one survivor). Full oracle: the dd01 replay plus
    // a recursive-CTE connected components (g03's pattern)
    "dd05_dedup_resolve" -> ((s, dir) => {
      Dedup.nearDupResolve(t(s, dir, "documents"), "doc_id", "text",
          threshold = 0.8, portable = true)
        .orderBy(col("id"))
    }),
    // priority-elected survivors: same clusters as dd05, but each keeps
    // its highest-quality member (ties -> smaller id), the policy real
    // pipelines want; integer quality score so the election replays
    "dd06_dedup_elect" -> ((s, dir) => {
      val d = t(s, dir, "documents").withColumn("quality",
        TextFunctions.qualityScore(col("text")))
      Dedup.nearDupResolveBy(d, "doc_id", "text", "quality",
          threshold = 0.8, portable = true)
        .orderBy(col("id"))
    }),
    // sorted-neighborhood dedup blocking (Hernández/Stolfo SIGMOD'95,
    // blocked multi-pass variant): sort by the normalized 24-char key
    // prefix within 8-char blocks, candidate pairs within a rank window
    // of 4, exact-jaccard verification — the third classic blocking
    // family next to LSH banding (dd01) and pigeonholing (dd02)
    "sn01_sorted_neighborhood" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.withExactJaccard(
        Dedup.sortedNeighborhoodPairs(docs, "doc_id", "text",
          keyLen = 24, blockLen = 8, w = 4).drop("block"),
        docs, "doc_id", "text", nGram = 3)
        .orderBy(desc("exact_jaccard"), col("id_a"), col("id_b"))
        .limit(50)
    }),
    // CCNet-style keep-first paragraph dedup: every repeated line keeps
    // only its globally first (min doc_id, pos) occurrence; lines under
    // 10 chars are exempt. The corpus has no repeated lines (the bp02
    // finding), so both engines append the same deterministic dups —
    // a shared disclaimer (cross-doc dups, owner = doc 1), each %5 doc's
    // own first line (intra-doc dup, owner = pos 0), and a short "--"
    // separator that must SURVIVE everywhere (the exemption proof)
    "pd01_paragraph_dedup" -> ((s, dir) => {
      val firstLine = element_at(split(col("text"), "\r?\n"), 1)
      val aug = t(s, dir, "documents").withColumn(
        "text",
        concat(
          col("text"),
          when(col("doc_id") % 5 === 0, concat(lit("\n"), firstLine))
            .otherwise(lit("")),
          when(col("doc_id") % 4 === 1,
            lit("\nShared disclaimer: sample text corpus."))
            .otherwise(lit("")),
          when(col("doc_id") % 6 === 2, lit("\n--")).otherwise(lit(""))))
      Dedup.dedupLinesKeepFirst(aug, "doc_id", "text", minChars = 10)
        .select(
          col("doc_id"),
          length(col("text")).cast("long").as("n_chars_clean"),
          md5(col("text").cast("binary")).as("clean_md5"))
        .orderBy(col("doc_id"))
    }),
    // soft dedup: inverse-cluster-size document weights over dd05's
    // portable near-dup clusters — keep every copy, weight content once
    // in expectation (the reweight-don't-drop dedup policy)
    "sw01_soft_dedup" -> ((s, dir) => {
      Dedup.softDedupWeights(t(s, dir, "documents"), "doc_id", "text",
          threshold = 0.8, portable = true)
        .orderBy(col("doc_id"))
    }),
    // DSIR data selection (Xie et al. NeurIPS 2023): hashed
    // unigram+bigram importance weights of the %10 target split's
    // distribution over the raw rest, integer micro-bit log-ratios
    // (lm01's rounding convention), top-100 selection as
    // TakeOrderedAndProject
    "ds01_dsir_select" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      CorpusStats.dsirWeights(
          docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text",
          docs.filter(col("doc_id") % 10 === 0), "text", buckets = 256)
        .orderBy(desc("llr_micro"), col("doc_id"))
        .limit(100)
    }),
    // per-document novel-3-gram rate under corpus (doc_id) order — the
    // "how much new text does each doc add" novelty curve; first
    // occurrence at document granularity, 60-bit gram fingerprints
    "ng01_novel_ngrams" -> ((s, dir) => {
      CorpusStats.novelGramRate(t(s, dir, "documents"), "doc_id", "text",
          nGram = 3)
        .orderBy(col("doc_id"))
    }),
    // classifier evaluation: per-class precision/recall/F1 permilles of
    // nb01's Naive Bayes over the true lang — ONE confusion-matrix pass,
    // label-domain-bounded output
    "cm01_classifier_eval" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val scored = CorpusStats.naiveBayesPredict(
          docs, "doc_id", "text", "lang", vocabCap = 64)
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      CorpusStats.classifierReport(scored, "lang", "pred")
        .orderBy(col("label"))
    }),
    // reliability table: accuracy per decision-margin bin (runner-up
    // nll - best nll, 1-bit bins) — does higher confidence mean higher
    // accuracy before the classifier's scores gate any data?
    "cm02_nb_calibration" -> ((s, dir) => {
      CorpusStats.naiveBayesCalibration(
        t(s, dir, "documents"), "doc_id", "text", "lang",
        vocabCap = 64, binWidthMicro = 1000000L)
    }),
    // deterministic fixed-count sample per stratum: 20 docs per lang by
    // salted content-hash order — exact min-k via the two-level bucket
    // ranking (no per-stratum global sort); oracle is the naive single
    // window
    "sp06_stratified_sample" -> ((s, dir) => {
      graft.operators.Sampling.stratifiedFixedSample(
          t(s, dir, "documents"), "doc_id", "lang", k = 20, salt = "strat")
        .orderBy(col("lang"), col("sample_rank"))
    }),
    // winnowing document fingerprints (Schleimer et al. SIGMOD'03, the
    // MOSS algorithm): min-hash of every w-window of k-token hashes →
    // distinct fingerprint sets → inverted-index shared counts with the
    // hot-posting cap. Any shared ≥(w+k-1)-token run guarantees a shared
    // fingerprint — the published containment-detection contract
    "fp01_winnowing" -> ((s, dir) => {
      // the (id, fp) fingerprint frame is narrow, minhash-expensive and
      // consumed THREE times by the pair count (usability census + both
      // posting-join sides) — stage it once (§7.2); composition equals
      // Dedup.winnowingPairs(k=4, w=4, minShared=2) exactly
      val fps = graft.operators.Barriers.stage(
        Dedup.winnowingFingerprints(t(s, dir, "documents"), "doc_id",
            "text", k = 4, w = 4)
          .select(col("doc_id").as("id"), col("fp")))
      Dedup.winnowingPairCounts(fps, "id", maxPostingLength = 1000)
        .filter(col("n_shared") >= 2L)
        .orderBy(desc("n_shared"), col("id_a"), col("id_b"))
        .limit(50)
    }),
    // content-defined chunking dedup (rsync/LBFS boundaries, relational):
    // variable-length chunks cut where the 4-token window hash ≡ 0 mod 16,
    // md5-60 chunk fingerprints, cross-document duplicate counting — the
    // block-level dedup modality that survives token insertions (fixed
    // windows shift; CDC boundaries re-synchronize)
    "cd01_cdc_chunks" -> ((s, dir) => {
      Dedup.cdcChunks(t(s, dir, "documents"), "doc_id", "text",
          k = 4, divisor = 16L)
        .groupBy(col("chunk_h"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_chunks"),
          max(col("n_tokens")).as("max_tokens"))
        .filter(col("n_docs") >= 2)
        .orderBy(desc("n_docs"), desc("n_chunks"), col("chunk_h"))
        .limit(100)
    }),
    // snapshot reconciliation for the incremental pipeline: the
    // synthesized NEW snapshot (shared test data by construction — the
    // pii01/bp02 convention) drops every 13th doc, revises every 7th,
    // and adds an offset-keyed doc per 11th; the operator must name
    // exactly those ids. The exchange carries (id, md5) only
    "cd02_corpus_diff" -> ((s, dir) => {
      val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val newSnap = base.filter(col("doc_id") % 13 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
        .unionByName(base.filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            concat(lit("brand new "), col("doc_id").cast("string")).as("text")))
      Dedup.corpusDiff(base, newSnap, "doc_id", "text")
        .orderBy(col("doc_id"))
    }),
    // substring-level dedup (Lee et al. ACL'22 re-expressed relationally):
    // maximal cross-doc duplicated 8-token spans; fully oracle-replayable
    // (md5-32 window hashes + the same gaps-and-islands windows in SQL)
    "sd01_dup_spans" -> ((s, dir) => {
      // staging the (id, pos, gh) posting frame for the census+merge
      // pair was MEASURED and rejected this round: paired A/Bs read
      // sd01 at 0.90-1.14× control-normalized (mixed) and the
      // alphabetically adjacent sd02 consistently slower next to the
      // extra cached blocks — the two consumers already execute as
      // concurrent AQE stages inside the one action
      Dedup.dupSpans(t(s, dir, "documents"), "doc_id", "text",
          k = 8, minDocs = 2L)
        .orderBy(col("doc_id"), col("span_start"))
        .limit(100)
    }),
    // the removal half: affected docs only, with the rebuilt text pinned
    // by an md5 fingerprint (case preserved, whitespace normalized)
    "sd02_rm_spans" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // the narrow span table computes ONCE (staged) and feeds both the
      // affected-ids projection and the rewrite — each consumer re-ran
      // the full posting build (2 window-hash passes each) inlined
      val spans = graft.operators.Barriers.stage(
        Dedup.dupSpans(docs, "doc_id", "text", k = 8, minDocs = 2L))
      val affected = spans.select("doc_id").distinct()
      Dedup.removeSpansFrame(docs, spans, "doc_id", "text")
        .join(affected, Seq("doc_id"), "left_semi")
        .select(col("doc_id"),
          when(length(col("text")) === 0, lit(0L))
            .otherwise(size(split(col("text"), " ")).cast("long"))
            .as("n_tokens_after"),
          md5(col("text").cast("binary")).as("new_fingerprint"))
        .orderBy(col("doc_id"))
        .limit(100)
    }),
    // INCREMENTAL winnowing maintenance (maintainWinnowingPairs): the
    // same sd03 snapshot step folds per-fingerprint pair contributions
    // additively into the stored UNFILTERED pair table — only fps whose
    // posting membership moved re-pair (full-text %11 copies flip their
    // fps from singleton to usable; %13 removals can flip back). The
    // minShared filter applies on OUTPUT, as batch does. Oracle = fp01's
    // full BATCH replay over the new snapshot: incremental==batch by hash
    "fp02_incremental_winnowing" -> ((s, dir) => {
      import graft.operators.Incremental
      // %2 half-corpus, same rationale as sd03 (the proof pays three
      // pair-count passes over the fingerprint index)
      val base = t(s, dir, "documents")
        .filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("text"))
      val newSnap = base.filter(col("doc_id") % 13 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
        .unionByName(
          base.filter(col("doc_id") % 11 === 0 && col("doc_id") % 13 =!= 0)
            .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      def fps(d: DataFrame) =
        Dedup.winnowingFingerprints(d, "doc_id", "text", k = 4, w = 4)
      // staged: the stored-state setup (pair counts), the departed-side
      // contribution, and the next-fps union all read the prior
      // fingerprint frame — unstaged, the row-local selection re-runs
      // its token/hash arrays per consumer. The DELTA fingerprints are
      // an independent scan, so they join the same concurrent wave
      // (§2.6; winnowingPairDeltas' isStaged guard skips its own stage)
      val diffDf = modStepDiff(base, "doc_id")
      val Seq(priorFps, deltaFps) = graft.operators.Barriers.stageAll(
        fps(base),
        fps(newSnap.join(
          diffDf.filter(col("status").isin("added", "changed"))
            .select("doc_id"),
          Seq("doc_id"), "left_semi")))
      // the stored pair table builds on a BACKGROUND thread while the
      // signed deltas compute (the cr03/ann05 overlap shape), fenced by
      // await() at the fold
      val priorPairsAsync = graft.operators.Barriers.stageAsync(
        Dedup.winnowingPairCounts(priorFps, "doc_id"))
      val (_, pairDeltas) =
        try Incremental.winnowingPairDeltas(
          priorFps, deltaFps, diffDf, "doc_id")
        catch { case e0: Throwable => priorPairsAsync.cancel(); throw e0 }
      val nextPairs = Incremental.foldPairDeltas(
        priorPairsAsync.await(), pairDeltas)
      nextPairs.filter(col("n_shared") >= 2L)
        .orderBy(desc("n_shared"), col("id_a"), col("id_b"))
        .limit(50)
    }),
    // INCREMENTAL span-dedup maintenance (maintainDupSpans): the
    // snapshot step folds the cd02-style delta (%13 removed, %7 text-
    // revised, %11 duplicated under an offset id — full-text copies so
    // gram dup-statuses FLIP 1→2, and removals can flip 2→1) into the
    // persisted (postings, gram counts, spans) state; only delta docs
    // and flipped-gram holders re-merge. Oracle = sd01's full BATCH
    // replay over the new snapshot: incremental==batch by hash
    "sd03_incremental_spans" -> ((s, dir) => {
      import graft.operators.Incremental
      // the %2 half-corpus: the incremental==batch invariant is corpus-
      // independent, and the proof pays ~4 posting passes — halving the
      // input halves the lane price without weakening the proof
      val base = t(s, dir, "documents")
        .filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("text"))
      val newSnap = base.filter(col("doc_id") % 13 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
        .unionByName(
          base.filter(col("doc_id") % 11 === 0 && col("doc_id") % 13 =!= 0)
            .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      val k = 8
      // prior state computed batch-style IN-LANE (the wp05 proof
      // harness convention — in production these three frames are
      // table reads); the postings STAGE once (Barriers.stage) because
      // counts, spans, the departed-side fold, and the next-postings
      // union all read them — unstaged, the window-hash explode would
      // re-run per consumer. The maintenance itself is delta-bounded
      val priorPostings = graft.operators.Barriers.stage(
        Dedup.spanPostings(base, "doc_id", "text", k))
      val priorCounts = Dedup.gramDocCounts(priorPostings, "doc_id")
      // the stored span table is only consumed by the final carry fold,
      // so it materializes on a BACKGROUND thread while maintainDupSpans
      // runs its gram-fold/touched waves (§2.6) — the by-name parameter
      // evaluates the await() after those waves
      val priorSpansAsync = graft.operators.Barriers.stageAsync(
        Dedup.spansFromPostings(priorPostings,
          priorCounts.filter(col("nd") >= 2L).select("gh"), "doc_id", k))
      val diffDf = modStepDiff(base, "doc_id")
      // deltaPostings stay LAZY (measured r15): the fold's three
      // consumers execute as concurrent AQE stages — an eager stage read
      // sd03 at 4.49 s vs 3.48 (the hy01 serialization lesson)
      val deltaPostings = Dedup.spanPostings(
        newSnap.join(
          diffDf.filter(col("status").isin("added", "changed"))
            .select("doc_id"),
          Seq("doc_id"), "left_semi"),
        "doc_id", "text", k)
      val (_, _, nextSpans) =
        try Incremental.maintainDupSpans(
          priorPostings, deltaPostings, diffDf, priorCounts,
          priorSpansAsync.await(), "doc_id", k, minDocs = 2L)
        catch { case e: Throwable => priorSpansAsync.cancel(); throw e }
      nextSpans.orderBy(col("doc_id"), col("span_start")).limit(100)
    }),
    // decontamination: which training docs contain a test doc's n-grams
    // (deterministic doc_id%10 split; full DuckDB oracle above)
    "dc01_ngram_containment" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.ngramContainment(
        docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text",
        docs.filter(col("doc_id") % 10 === 0), "doc_id", "text",
        nGram = 3, minContainment = 0.0)
        .orderBy(desc("containment"), col("test_id"), col("train_id"))
        .limit(20)
    }),
    // INCREMENTAL decontamination (maintainContainment): the test suite
    // is FIXED (the dc02/ds01 contract), the TRAIN corpus takes the
    // %13/%7/%11-copy snapshot step, and only touched shingles' cross-
    // side contributions fold into the stored overlap table. Oracle =
    // dc01's full batch replay over the new train snapshot
    "dc03_incremental_decontam" -> ((s, dir) => {
      import graft.operators.Incremental
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val testSets = docs.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id").as("test_id"),
          ngramHashes(TextFunctions.tokens(col("text")), 3).as("__s"))
        .select(col("test_id"), col("__s"),
          size(col("__s")).cast("long").as("test_size"))
      // staged (the ann05/sd03 prior-frame convention): testPost feeds
      // the prior overlap build AND the maintenance fold; unstaged, each
      // consumer re-ran the n-gram explode and the plan AQE re-optimizes
      // per stage carried the duplicated tree. Materialized CONCURRENTLY
      // with the prior train postings below (Barriers.stageAll) — the
      // two chains are independent
      val testPostLazy = testSets
        .select(col("test_id"), explode(col("__s")).as("sh"))
      val oldTrain = docs.filter(col("doc_id") % 10 =!= 0)
      val newTrain = oldTrain.filter(col("doc_id") % 13 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
        .unionByName(
          oldTrain
            .filter(col("doc_id") % 11 === 0 && col("doc_id") % 13 =!= 0)
            .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      def post(d: DataFrame) = d.select(col("doc_id"),
        explode(ngramHashes(TextFunctions.tokens(col("text")), 3)).as("sh"))
      // staged: the ok census, the prior overlap, and the fold's
      // departed-side contribution all read the prior postings
      // (measured both ways same-window: staged 3.6 s vs unstaged
      // 4.0 s). The DELTA postings are an independent scan — same
      // concurrent wave (§2.6; containmentDeltas' isStaged guard skips
      // its own sequential delta stage)
      val diffDf = modStepDiff(oldTrain, "doc_id")
      val Seq(testPost, priorPost, deltaPost) =
        graft.operators.Barriers.stageAll(
          testPostLazy, post(oldTrain),
          post(newTrain.join(
            diffDf.filter(col("status").isin("added", "changed"))
              .select("doc_id"),
            Seq("doc_id"), "left_semi")))
      // prior overlap table computed batch-style in-lane (production:
      // a table read) — the capped intersection counts, inter >= 1.
      // NOT async-staged (measured second sitting): the cr03/fp02
      // overlap shape read dc03 at 2.47 s vs 2.37 lazy (paired quiet
      // windows) — the heavy test×train join gains too little overlap
      // from the short delta waves to repay its checkpoint write; left
      // lazy, AQE overlaps it inside the final job's stages
      val ok = priorPost.groupBy("sh").agg(count(lit(1)).as("__n"))
        .filter(col("__n") <= 10000).select("sh")
      val priorInter = testPost
        .join(priorPost.join(ok, Seq("sh"), "left_semi"), Seq("sh"))
        .groupBy(col("test_id"), col("doc_id"))
        .agg(count(lit(1)).as("inter"))
      val (_, nextInter) = Incremental.maintainContainment(
        priorPost, deltaPost, diffDf, priorInter, testPost, "doc_id")
      nextInter
        .join(testSets.select(col("test_id"), col("test_size")),
          Seq("test_id"))
        .select(col("test_id"), col("doc_id").as("train_id"),
          (col("inter").cast("double") / col("test_size").cast("double"))
            .as("containment"))
        .orderBy(desc("containment"), col("test_id"), col("train_id"))
        .limit(20)
    }),
    // published 13-gram decontamination shape (which train docs share ANY
    // 13-gram with the test split), corpus side guarded by a broadcast
    // bloom pre-filter + exact confirm — the bloom has no false negatives
    // and the confirm join removes false positives, so the oracle is a
    // plain gram semi-join replay; the bloom is invisible in the answer
    // and saves the corpus shuffle at scale
    "dc02_bloom_decontam" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Decontaminate.bloomDecontaminate(
        docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text",
        docs.filter(col("doc_id") % 10 === 0), "text", nGram = 13)
        .orderBy(desc("contamination"), col("train_id"))
        .limit(50)
    }),
    // full LSH near-dup replay: md5-derived Rademacher hyperplanes (no
    // RNG), buckets from sequential-double signed sums (bit-exact in both
    // engines), real bucketing/capping/scoring code, full-precision cosine
    // (the oracle composes dot/nx/ny exactly like the codegen'd loop —
    // verified bit-exact over all 500 vecs at sf0.01)
    "dd04_embedding_neardup" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Dedup.nearDupFromBuckets(
        Similarity.withLshBucketsPlanes(
          e, "embedding", Similarity.portableHyperplanes(64, 6, 4)),
        "vec_id", "embedding", cosThreshold = -1.0)
        .orderBy(desc("cos"), col("id_a"), col("id_b"))
        .limit(20)
    }),
    // SemDeDup-shaped semantic dedup: md5-sampled centroids (the ann02
    // replay), argmax-agg assignment, within-CELL exact-cosine pairs —
    // one-assignment blocking instead of dd04's hyperplane LSH. The
    // corpus has no true near-dup embedding pairs (max within-cell cos
    // < 0.5 at sf0.01), so like dd04's threshold -1 the lane pins the
    // mechanism at a low threshold, cos-desc
    "sm01_semantic_dedup" -> ((s, dir) => {
      Dedup.semanticNearDup(t(s, dir, "embeddings"), "vec_id", "embedding",
        nCells = 16, cosThreshold = 0.2, portable = true)
        .orderBy(desc("cos"), col("id_a"), col("id_b"))
        .limit(50)
    }),
    // Lloyd's k-means in exact integer micro-units (the clustering step
    // of SemDeDup/cluster-balanced-sampling pipelines) — 2 full
    // assign→update rounds plus a final assignment, replayed as unrolled
    // CTEs: VectorAvgExact quantization + floor-div means, squared
    // integer distances, argmin ties by cell, emptied cells carrying
    // their previous centroid
    "km01_kmeans_int" -> ((s, dir) => {
      Similarity.Ivf.kMeansAssignInt(t(s, dir, "embeddings"),
          "vec_id", "embedding", k = 8, iters = 2)
        .orderBy(col("vec_id"))
    }),
    // product quantization encode (Jégou et al. TPAMI 2011): 4×16-dim
    // integer-Lloyd codebooks (km01's trainer per subspace, one shared
    // SQL chain builder), encode = ONE codegen projection with all 4
    // codebooks as driver literals — zero corpus shuffle; d2_total is
    // the exact reconstruction error
    "pq01_product_quant" -> ((s, dir) => {
      Similarity.Ivf.pqEncodeInt(t(s, dir, "embeddings"),
          "vec_id", "embedding", m = 4, subDim = 16, k = 8, iters = 2)
        .orderBy(col("vec_id"))
    }),
    // JL ±1 random projection (Achlioptas 2003): 64→16 dims in exact
    // micro-unit longs via md5-derived sign rows — a literal-matrix
    // codegen projection, zero shuffle; the dim-reduction front of the
    // ANN/clustering family
    "jl01_random_projection" -> ((s, dir) => {
      Similarity.Ivf.randomProjectInt(t(s, dir, "embeddings"),
          "vec_id", "embedding", inDim = 64, outDim = 16, salt = "jl")
        .orderBy(col("vec_id"), col("dim"))
    }),
    // PQ ADC search (the query half of pq01): score vec 0 against the
    // corpus through codes + an m×k driver lookup table, exact longs;
    // exact_d2 rides in-row so the ADC error is readable off the output
    "pq02_adc_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0L)
        .select(col("embedding")).head().getSeq[Float](0)
      Similarity.Ivf.pqTopK(e.filter(col("vec_id") =!= 0L),
        "vec_id", "embedding", q, k = 10, m = 4, subDim = 16,
        kCode = 8, iters = 2)
    }),
    // portable-hyperplane LSH top-k with a FULL oracle (same replay story
    // as dd04); exact_rank = position in the exact global top-10, 0 = a
    // true LSH miss (0 instead of null keeps the column integral in both
    // engines' dataframe paths) — recall@10 readable off the output
    "ann01_lsh_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0L)
        .select(col("embedding")).head().getSeq[Float](0)
      val corpus = e.filter(col("vec_id") =!= 0L)
      // the unpartitioned rank windows here run over top-k (10-row) frames
      val exact = Similarity.bruteForceTopK(corpus, "vec_id", "embedding", q, 10)
        .withColumn("exact_rank", row_number().over(
          Window.orderBy(desc("score"), col("vec_id"))))
        .select(col("vec_id"), col("exact_rank"))
      // 8 tables (vs dd04's 4): the corpus has no true near-neighbors of
      // vec 0 (exact top-10 cosines 0.28-0.37), so single-table collision
      // probability is low; 8 tables keep deterministic recall@10 >= 3
      Similarity.lshTopKPlanes(corpus, "vec_id", "embedding", q, k = 10,
          planes = Similarity.portableHyperplanes(64, 6, 8))
        .join(exact, Seq("vec_id"), "left")
        .withColumn("exact_rank",
          coalesce(col("exact_rank").cast("long"), lit(0L)))
        .orderBy(desc("score"), col("vec_id"))
    }),
    // IVF top-k with a FULL oracle: portable md5-sampled coarse centroids
    // (cell assignment is argmax cosine with ties to the lowest cell —
    // replayed in SQL as a row_number window), probe the 4 cells nearest
    // the query, exact-composition cosine throughout; exact_rank 0 = a
    // true IVF miss, as in ann01
    "ann02_ivf_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0L)
        .select(col("embedding")).head().getSeq[Float](0)
      val corpus = e.filter(col("vec_id") =!= 0L)
      val cents = Similarity.Ivf.portableCentroids(
        e, "vec_id", "embedding", nCells = 16)
      val assigned = Similarity.Ivf.assignCells(
        corpus, "vec_id", "embedding", cents)
      // same verification lane as ann01: exact global rank per returned id
      val exact = Similarity.bruteForceTopK(corpus, "vec_id", "embedding", q, 10)
        .withColumn("exact_rank", row_number().over(
          Window.orderBy(desc("score"), col("vec_id"))))
        .select(col("vec_id"), col("exact_rank"))
      Similarity.Ivf.probe(assigned, "vec_id", "embedding", cents, q,
          k = 10, nProbe = 4)
        .join(exact, Seq("vec_id"), "left")
        .withColumn("exact_rank",
          coalesce(col("exact_rank").cast("long"), lit(0L)))
        .orderBy(desc("score"), col("vec_id"))
    }),
    // INCREMENTAL IVF maintenance (maintainIvfAssignments): centroids
    // pinned at index build (portable sample of the OLD snapshot — in
    // production a persisted artifact); the snapshot step (%10==3 added,
    // %10==9 removed) folds into the stored assignment table with only
    // delta vectors paying the argmax. Probe served from the maintained
    // table. Oracle = full batch re-assignment of the new snapshot under
    // the SAME pinned centroids: incremental==batch by hash
    "ann04_incremental_ivf" -> ((s, dir) => {
      import graft.operators.Incremental
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0L)
        .select(col("embedding")).head().getSeq[Float](0)
      val oldSnap = e.filter(col("vec_id") % 10 =!= 3)
      val newSnap = e.filter(col("vec_id") % 10 =!= 9)
      val cents = Similarity.Ivf.portableCentroids(
        oldSnap, "vec_id", "embedding", nCells = 16)
      def corpus(snap: DataFrame) = snap.filter(col("vec_id") =!= 0L)
        .select(col("vec_id"), col("embedding"))
      val priorAssigned = Similarity.Ivf.assignCells(
        corpus(oldSnap), "vec_id", "embedding", cents)
      val diffDf = residueStepDiff(e, "vec_id", addRes = 3L, dropRes = 9L)
      val deltaVecs = corpus(newSnap).join(
        diffDf.filter(col("status").isin("added", "changed"))
          .select("vec_id"),
        Seq("vec_id"), "left_semi")
      val nextAssigned = Incremental.maintainIvfAssignments(
        priorAssigned, deltaVecs, diffDf, cents, "vec_id", "embedding")
      Similarity.Ivf.probe(nextAssigned, "vec_id", "embedding", cents, q,
          k = 10, nProbe = 4)
        .orderBy(desc("score"), col("vec_id"))
    }),
    // INCREMENTAL kNN-graph maintenance: the LSH candidate index IS a
    // posting-list structure — each vector's (band, bucket) cells are
    // content-addressed fingerprints (hyperplanes pinned), a candidate
    // pair exists iff it shares >= 1 usable cell, and shared-cell counts
    // fold ADDITIVELY — so maintainWinnowingPairs maintains the pair
    // index VERBATIM (cells as fp, bucket cap as the posting cap). The
    // graph slice re-scores/re-ranks from the maintained pair frame
    // (pair-bounded, never corpus x corpus). Oracle = ann03's full batch
    // replay over the new snapshot: incremental==batch by hash
    "ann05_incremental_knn" -> ((s, dir) => {
      import graft.operators.Incremental
      // %2 half-table: the proof pays three pair-frame passes and pairs
      // grow ~quadratically in bucket occupancy, so halving the vectors
      // quarters the lane price without weakening the invariant. EVEN
      // residues for the step (4 added / 8 removed) — the family's 3/9
      // are odd and would never fire on the even half
      val e = t(s, dir, "embeddings").filter(col("vec_id") % 2 === 0)
      val oldSnap = e.filter(col("vec_id") % 10 =!= 4)
      val newSnap = e.filter(col("vec_id") % 10 =!= 8)
      val planes = Similarity.portableHyperplanes(64, 8, 4)
      def cells(snap: DataFrame) = Similarity
        .withLshBucketsPlanes(snap, "embedding", planes)
        .select(col("vec_id"), explode(col("lsh_buckets")).as("bb"))
        .select(col("vec_id"),
          (col("bb.band").cast("long") * lit(4294967296L) +
            col("bb.bucket")).as("fp"))
      // staged like sd03/fp02's priors: the fold reads priorCells three
      // times (next-cells anti-join, touched semi-join, departed-side
      // contribution) and priorPairs twice — unstaged, every consumer
      // re-ran the hyperplane projection AND the plan AQE re-optimizes
      // per stage carried the whole duplicated tree (the lane spent ~4 s
      // of its 6 s wall in driver-side replanning gaps, not stages).
      // Prior and DELTA cells are independent hyperplane scans — one
      // concurrent wave (§2.6; winnowingPairDeltas' isStaged guard skips
      // its own delta stage); the prior pair table then builds on a
      // BACKGROUND thread while the signed deltas compute (the cr03
      // overlap shape), fenced by await() at the fold
      val diffDf = residueStepDiff(e, "vec_id", addRes = 4L, dropRes = 8L)
      val Seq(priorCells, deltaCells) = graft.operators.Barriers.stageAll(
        cells(oldSnap),
        cells(newSnap.join(
          diffDf.filter(col("status").isin("added", "changed"))
            .select("vec_id"),
          Seq("vec_id"), "left_semi")))
      val priorPairsAsync = graft.operators.Barriers.stageAsync(
        Dedup.winnowingPairCounts(
          priorCells, "vec_id", maxPostingLength = 10000))
      val (_, pairDeltas) =
        try Incremental.winnowingPairDeltas(
          priorCells, deltaCells, diffDf, "vec_id",
          maxPostingLength = 10000)
        catch { case e0: Throwable => priorPairsAsync.cancel(); throw e0 }
      val nextPairs = Incremental.foldPairDeltas(
        priorPairsAsync.await(), pairDeltas)
      val vecs = newSnap.select(col("vec_id"), col("embedding"))
      val scored = nextPairs
        .join(vecs.select(col("vec_id").as("id_a"),
          col("embedding").as("__va")), Seq("id_a"))
        .join(vecs.select(col("vec_id").as("id_b"),
          col("embedding").as("__vb")), Seq("id_b"))
        .withColumn("cos", cosineSim(col("__va"), col("__vb")))
        .select(col("id_a"), col("id_b"), col("cos"))
      Similarity.knnFromPairs(scored, k = 5)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("id"), col("rank"))
        .limit(100)
    }),
    // kNN-graph over the whole embeddings table (LSH candidates, per-id
    // top-k): the semantic-dedup/clustering primitive. Portable
    // hyperplanes make the candidate set — and therefore the whole graph
    // slice — fully oracle-replayable (bits=8 → ~256 buckets/table: ~40-row
    // buckets at sf0.1 give each id ~160 candidates across 4 tables,
    // ample for k=5)
    "ann03_knn_graph" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.knnFromPairs(
        Dedup.nearDupFromBuckets(
          Similarity.withLshBucketsPlanes(e, "embedding",
            Similarity.portableHyperplanes(64, 8, 4)),
          "vec_id", "embedding", cosThreshold = -2.0),
        k = 5)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("id"), col("rank"))
        .limit(100)
    }),
    // sequence packing: chunks → budget-bounded bins, greedy next-fit per
    // deterministic pack group (greedy scan is sequential; groups scale
    // out). Oracle-gated: the per-group next-fit recurrence replays as a
    // DuckDB recursive CTE over each group's (id, chunk_idx) rank.
    "pk01_sequence_packing" -> ((s, dir) => {
      val chunks = graft.operators.Chunking.chunk(
        t(s, dir, "documents"), "doc_id", "text", window = 64, stride = 48)
      graft.operators.Chunking.packGreedy(chunks, maxTokens = 256L, numGroups = 16)
        .toDF()
        .select(col("group"), col("bin"), col("n_chunks"),
          col("total_tokens"),
          array_join(col("chunk_keys"), "|").as("chunk_keys"))
        .orderBy(col("group"), col("bin"))
    }),
    // sketch aggregates: the 100 TB observability path (exact distinct /
    // quantiles don't scale; HLL + KLL-style approximations do). Rows-only
    // (sketch internals differ between engines); accuracy pinned in
    // SketchAccuracySpec instead.
    "sk01_approx_stats" -> ((s, dir) => {
      // n_events rides along as the invariant anchor (same agg, zero extra
      // shuffle): approx_users can never exceed the group's row count, and
      // p50 <= p99 by definition — both asserted in InvariantsSpec
      events(s, dir)
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          approx_count_distinct(col("user_id"), 0.02).as("approx_users"),
          percentile_approx(col("value"), lit(0.5), lit(1000)).as("p50"),
          percentile_approx(col("value"), lit(0.99), lit(1000)).as("p99"))
        .orderBy(col("event_type"))
    }),
    "g05_betweenness" -> ((s, dir) => {
      graft.operators.Betweenness.approx(
          hierUndirectedPart(s, dir), k = 8, seed = 42L, maxDepth = 6)
        .orderBy(desc("betweenness"), col("id"))
        .limit(20)
    }),
    // graduated from rows-only: with the portable signature family the
    // ENTIRE pipeline (annotations → filters → exact dedup → LSH near-dup
    // → transitive clusters) replays in DuckDB — every stage is integer
    // arithmetic, md5, or an argmax over stopword-hit counts
    "cu01_curation" -> ((s, dir) => {
      val (curated, dropped) = graft.operators.Curation.curate(
        t(s, dir, "documents"), "doc_id", "text",
        graft.operators.Curation.Config(
          keepLangs = Seq("en", "fr", "es", "de", "und"),
          minhashHashes = 64, minhashBands = 16, portableSig = true))
      // the INDEPENDENT token recount (regex word-run count vs the
      // split-based tokenizer) and the config predicates every survivor
      // must satisfy stay in the output — InvariantsSpec asserts both
      curated.select(col("doc_id"), col("n_tokens"), col("quality"),
          col("lang_guess"),
          regexp_count(trim(col("text")), lit("\\S+")).cast("long")
            .as("n_tokens_check"),
          (col("n_tokens") >= 10L && col("quality") >= 20L &&
            col("lang_guess").isin("en", "fr", "es", "de", "und"))
            .as("passes_config"))
        .orderBy(col("doc_id"))
        .limit(100)
    }),
    // FULL-oracle community detection (was no_oracle through round 6):
    // deterministic synchronous LPA (ties -> smallest label, so the
    // partition replays cross-engine) over the g03
    // co-purchase graph, emitted as the canonical partition — one row per
    // community labeled by its smallest member id. The DuckDB oracle
    // unrolls the 5 supersteps as CTEs and hash-matches the partition
    // itself; modularity (the labeling-beats-random signal) stays gated in
    // InvariantsSpec, which recomputes it from the same membership.
    "g04_communities" -> ((s, dir) => {
      // same grouped-pair co-purchase edge frame as g03 (coPurchaseEdges)
      GraphOps.labelPropagation(coPurchaseEdges(s, dir), iters = 5)
        .groupBy(col("label"))
        .agg(min(col("id")).as("community"), count(lit(1)).as("csize"))
        .select(col("community"), col("csize"))
        .orderBy(desc("csize"), col("community"))
    })
  )

  // ------------------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    (relational ++ textCatalog ++ vectorCatalog ++ sessionCatalog ++
      temporalCatalog ++ graphCatalog ++ rowsOnlyCatalog)
      .map { case (k, f) => k -> withReg(f) }

  def oracleSql: Map[String, String] =
    relationalOracle ++ textOracle ++ vectorOracle ++ sessionOracle ++
      temporalOracle ++ graphOracle ++ packingOracle
}
