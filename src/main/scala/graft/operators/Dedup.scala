package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.GraftFunctions._
import graft.functions.TextFunctions._

/** Corpus deduplication operators, designed for the 100 TB path:
  *
  *  - exact:   one hash-shuffle on a 16-byte digest (never on raw text);
  *  - MinHash: signature is a narrow map; the only shuffle is the LSH
  *             band/bucket exchange whose keys are (band, 8-byte hash);
  *  - SimHash: 64-bit signature, candidate join on 16-bit blocks
  *             (pigeonhole: hamming ≤ 3 ⇒ some 16-bit block equal);
  *  - n-gram Jaccard: inverted-index (posting-list) self-join — shuffles
  *             (shingle-hash, id) pairs, never text × text;
  *  - embedding cosine: random-hyperplane LSH buckets, verify inside bucket.
  *
  * Every function returns a lazy DataFrame — no driver-side collection.
  * Popular-bucket blowup is capped with `maxBucketSize` (documents sharing a
  * degenerate bucket beyond the cap are skipped for that bucket, standard
  * LSH practice; other bands still catch them).
  */
object Dedup {

  /** CPU-heavy per-row stages must not inherit a tiny input's partitioning
    * (a single small parquet file = ONE partition = one core doing all the
    * hashing). No-op when the input is already parallel enough. */
  private[graft] def ensureParallelism(df: DataFrame): DataFrame = {
    // a streaming frame cannot be plan-inspected (toRdd asserts batch);
    // micro-batch parallelism is the source's concern — pass through,
    // which also keeps every ensureParallelism caller streaming-legal
    if (df.isStreaming) return df
    val target = df.sparkSession.sparkContext.defaultParallelism
    // toRdd reads the partition count off the prepared physical plan
    // without the row-encoding layer df.rdd would add
    if (df.queryExecution.toRdd.getNumPartitions < target)
      df.repartition(target)
    else df
  }

  /** Exact duplicate groups by content digest.
    * Output: (fingerprint, n, keep_id) — keep_id = min id, the canonical row. */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(md5Fingerprint(col(textCol)).as("fingerprint"), col(idCol))
      .groupBy("fingerprint")
      .agg(count("*").as("n"), min(idCol).as("keep_id"))

  /** Ids to drop under exact dedup (everything but the canonical id). */
  def exactDropIds(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val withFp = df.select(col(idCol), md5Fingerprint(col(textCol)).as("fingerprint"))
    val keep = withFp.groupBy("fingerprint").agg(min(idCol).as("keep_id"))
    withFp.join(keep, "fingerprint")
      .filter(col(idCol) =!= col("keep_id"))
      .select(col(idCol), col("keep_id"))
  }

  /** Snapshot reconciliation for an INCREMENTAL pipeline: which
    * documents were added, removed, or changed between two corpus
    * snapshots. This is the observability/driver step in front of every
    * incremental stage this module ships ([[nearDupMicroBatch]],
    * [[mergeIntoMinhashIndex]]): re-run expensive passes over the
    * `added`/`changed` slice only, retire `removed` ids from indexes.
    *
    * Contract: ids are unique AND non-null within each snapshot (a null
    * id never joins, so one null row would fabricate a phantom
    * added+removed pair — it raises instead, the [[urlDedup]]
    * convention). Change detection is by md5 content digest, computed
    * scan-side, so the full-outer join — the single exchange — carries
    * (id, 32-hex digest) and never the text; at warehouse scale both
    * sides bucket by id and the exchange vanishes. Digest-equality ≡
    * text-equality up to md5 collision, the module's standard caveat.
    *
    * Output: (idCol, status ∈ added|removed|changed), unchanged rows
    * omitted unless `includeUnchanged` — at 100 TB the unchanged class
    * is the corpus; the diff should be the small thing. */
  def corpusDiff(
      oldDocs: DataFrame,
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      includeUnchanged: Boolean = false): DataFrame = {
    // presence is detected from explicit side markers, NEVER from digest
    // nullity: a null-TEXT row digests to null, and reading that as
    // side-absence would report it 'added' on both sides forever
    def fold(df: DataFrame, fpName: String, presentName: String) =
      df.select(
        when(col(idCol).isNull, raise_error(lit(
          s"corpusDiff: null $idCol — a null id never joins, fabricating " +
            "a phantom added+removed pair; snapshot ids must be unique " +
            "and non-null"))).otherwise(col(idCol)).as(idCol),
        md5Fingerprint(col(textCol)).as(fpName),
        lit(true).as(presentName))
    val joined = fold(oldDocs, "graft_old_fp", "graft_in_old")
      .join(fold(newDocs, "graft_new_fp", "graft_in_new"),
        Seq(idCol), "full_outer")
      .withColumn("status",
        when(col("graft_in_old").isNull, "added")
          .when(col("graft_in_new").isNull, "removed")
          // null-safe: null text on one side vs text on the other is a
          // change; null text on both sides is unchanged
          .when(not(col("graft_old_fp") <=> col("graft_new_fp")), "changed")
          .otherwise("unchanged"))
    (if (includeUnchanged) joined
     else joined.filter(col("status") =!= "unchanged"))
      .select(col(idCol), col("status"))
  }

  /** URL-level exact dedup, keep-first by id — the C4 front door (Raffel
    * et al. 2020 §2.2 deduplicate pages by URL before any text-level
    * pass): rows whose `urlCol` canonicalizes identically
    * (`UrlFunctions.canonicalizeUrl` — case, default ports, fragments,
    * tracking params, trailing slashes all folded) form one group; the
    * minimum id survives. Rows whose URL does NOT parse (null canonical)
    * carry no URL evidence of duplication and are all KEPT, each with
    * `n_copies = 1` and a null `url_canon` — dropping them is a CONTENT
    * policy, downstream of this operator.
    *
    * Scale: ONE scan, ONE aggregation. Parseable and unparseable rows
    * share a single group key — `c|<canonical>` vs the occurrence
    * surrogate `u|<id>` (the [[urlDedupStream]] convention) — so the
    * regexp-heavy canonicalization is evaluated once per row and there
    * is no union of two plan branches re-reading the corpus (the
    * two-branch formulation measured ~2× this one on the bench lane).
    * min/count partials map-side combine; the shuffle is distinct-URL-
    * domain for parseable rows PLUS one narrow (key, id, null) row per
    * unparseable row — junk rows ride the exchange as singleton groups
    * (no combine benefit, but narrow rows and no second corpus scan;
    * on a junk-dominated corpus pre-filter with
    * `UrlFunctions.urlFilterSignals` first, which rejects them anyway).
    * The corpus payload never moves (id-only discipline: survivors
    * re-attach to whatever the caller keeps by `idCol`). Ids must be
    * unique AND non-null: two unparseable rows sharing an id would
    * collapse into one surrogate group, and a NULL id would null the
    * whole coalesced key — every null-id junk row silently merging
    * into ONE group with a null survivor — so a null id raises
    * (the [[graft.operators.Sampling]] hashHex / bpeEncodeViaVocab
    * fail-fast convention) instead of guessing.
    *
    * Output: (idCol, url_canon, n_copies), one row per SURVIVOR. */
  def urlDedup(df: DataFrame, idCol: String, urlCol: String): DataFrame =
    df.select(
      when(col(idCol).isNull, raise_error(lit(
        s"urlDedup: null $idCol — keep-first-by-id needs unique non-null " +
          "ids (a null id would collapse all unparseable rows into one " +
          "surrogate group)")))
        .otherwise(col(idCol)).as(idCol),
      graft.functions.UrlFunctions.canonicalizeUrl(col(urlCol))
        .as("url_canon"))
      .withColumn("__k", coalesce(
        concat(lit("c|"), col("url_canon")),
        concat(lit("u|"), col(idCol).cast("string"))))
      .groupBy(col("__k"))
      // max(url_canon) is deterministic here: every row in a c| group
      // carries the IDENTICAL canonical, and a u| group has one row
      // (whose url_canon is null)
      .agg(min(col(idCol)).as(idCol),
        max(col("url_canon")).as("url_canon"),
        count(lit(1)).as("n_copies"))
      .select(col(idCol), col("url_canon"), col("n_copies"))

  /** Streaming twin of [[urlDedup]]: first-owner = first ARRIVAL within
    * the watermark horizon, via `dropDuplicatesWithinWatermark` on the
    * canonical URL — the ingest-time URL gate (each fetched page passes
    * or drops the moment it arrives; batch [[urlDedup]] remains the
    * compaction-time pass). Unparseable rows key on an occurrence-
    * unique surrogate (domain-separated `u|` hash of (id, ts) — the
    * [[dedupLinesKeepFirstStream]] convention), so they always survive
    * and two junk rows never collapse into one.
    *
    * State bound: one row per DISTINCT canonical URL inside the
    * watermark horizon (plus one per unparseable row until its
    * watermark expiry). Divergences vs batch, pinned: ownership is
    * arrival order, not min id (identical when rows arrive in id
    * order); no `n_copies` count (a keep-first gate doesn't hold the
    * group open to count late copies); and the same exactly-once input
    * contract as the line-dedup stream (a re-delivered row's canonical
    * key collides with its first delivery and is swallowed).
    *
    * Output: the surviving input rows plus `url_canon`. */
  def urlDedupStream(
      docs: DataFrame,
      idCol: String,
      urlCol: String,
      tsCol: String,
      watermark: String = "1 hour"): DataFrame = {
    require(!docs.columns.contains("graft_url_key"),
      "input already has a graft_url_key column")
    docs
      .withWatermark(tsCol, watermark)
      .withColumn("url_canon",
        graft.functions.UrlFunctions.canonicalizeUrl(col(urlCol)))
      .withColumn("graft_url_key", coalesce(
        concat(lit("c|"), col("url_canon")),
        concat(lit("u|"),
          xxhash64(col(idCol).cast("string"), col(tsCol)).cast("string"))))
      .dropDuplicatesWithinWatermark("graft_url_key")
      .drop("graft_url_key")
  }

  /** MinHash + LSH near-duplicate candidate pairs with estimated Jaccard.
    *
    * shingle(nGram) → k-permutation MinHash → split signature into `bands`
    * bands of k/bands rows → bucket-join on (band, hash(bandSlice)) →
    * distinct candidate pairs → estimate Jaccard from full signatures.
    * Output: (id_a, id_b, est_jaccard), id_a < id_b.
    */
  def minhashCandidates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 64,
      bands: Int = 16,
      nGram: Int = 3,
      maxBucketSize: Int = 1000): DataFrame =
    minhashCandidatesFromSigs(
      minhashSignature(ensureParallelism(df), idCol, textCol, numHashes, nGram),
      numHashes, bands, maxBucketSize)

  /** THE shingle→signature recipe, as a Column — the single source of
    * truth for what a MinHash signature means in this library. Both
    * [[minhashSignature]] and composed pipelines ([[Curation.curate]]
    * carries it next to its annotation columns) use this, so the
    * tokenizer/nGram/hash choices can never drift apart and break the
    * banding compatibility between carried and freshly computed sigs. */
  def minhashSigColumn(
      textCol: Column, numHashes: Int = 64, nGram: Int = 3): Column =
    minhashFromHashes(ngramHashes(tokens(textCol), nGram), numHashes)

  /** The signature frame alone: (id, sig). Exposed so a pipeline can
    * compute the signature in the SAME scan as its other per-document
    * columns instead of re-tokenizing later. */
  def minhashSignature(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 64,
      nGram: Int = 3): DataFrame =
    df.select(col(idCol).as("id"),
      minhashSigColumn(col(textCol), numHashes, nGram).as("sig"))

  // ---- Engine-portable (derandomized) signatures -------------------
  //
  // The murmur-based signature expressions above are the scale path, but
  // no SQL engine can replay Scala's murmur3 — which left the minhash/
  // simhash catalog lanes rows-only. These variants derandomize the hash
  // family into primitives every engine computes bit-identically (md5 of
  // the gram/token string, integer arithmetic), so a DuckDB oracle can
  // reproduce candidate pairs and estimates EXACTLY. ~2× the hash cost of
  // the murmur path (md5 + string shingles): use for verification lanes,
  // keep the murmur path for 100 TB.

  /** Largest 32-bit prime: modulus of the portable permutation family. */
  private[graft] val PortableP = graft.functions.PortableHash.P

  /** First 32 bits of md5(s) as an unsigned value in a long — driver-side
    * twin of the SQL `('0x' || substr(md5(s), 1, 8))::BIGINT`. */
  private[operators] def md5_32(s: String): Long =
    graft.functions.PortableHash.md5_32(s)

  /** md5-derived 32-bit hash of a string column, exact in any engine
    * (shared definition: [[graft.functions.PortableHash.h32]]). */
  private def h32(c: Column): Column = graft.functions.PortableHash.h32(c)

  /** Engine-portable MinHash signature (array<long>, length `numHashes`).
    *
    * Base hash: md5-32 of each n-gram string. Permutations: the classic
    * 2-universal `(a_j·h + b_j) mod p` with `p` = [[PortableP]]; the
    * constants are THEMSELVES md5-derived from the literal strings
    * "a<j>"/"b<j>" — no RNG for an oracle to replay. `a_j` is kept below
    * 2³¹ so `a_j·h + b_j` stays under 2⁶³: no wrap-around anywhere, so
    * ANSI Spark, DuckDB BIGINT, and two's-complement longs all agree.
    * Documents with fewer than `nGram` tokens get the all-sentinel
    * signature (`p` in every slot — larger than any permuted value).
    * Banding-compatible with [[minhashCandidatesFromSigs]].
    *
    * Computed by the codegen-side `minhash_portable` expression
    * (functions/SketchExpressions.scala) — the SQL-composed formulation
    * below ([[minhashSigColumnPortableHof]]) is its bit-identical
    * higher-order-function twin, kept for the equivalence spec; the HOF
    * route pays an interpreted lambda plus a fresh `numHashes`-slot array
    * PER SHINGLE (measured 7× the whole dd01 lane at sf0.1). */
  def minhashSigColumnPortable(
      textCol: Column, numHashes: Int = 64, nGram: Int = 3): Column =
    call_function("minhash_portable", tokens(textCol), lit(numHashes), lit(nGram))

  /** HOF twin of [[minhashSigColumnPortable]] — the executable statement
    * of the SQL math the DuckDB oracle replays. Spec-pinned equal to the
    * expression path; not used in production plans. */
  private[graft] def minhashSigColumnPortableHof(
      textCol: Column, numHashes: Int = 64, nGram: Int = 3): Column = {
    require(numHashes > 0, "numHashes must be positive")
    val ab = array((0 until numHashes).map { j =>
      struct(
        lit((md5_32("a" + j) % 2147483647L) + 1L).as("a"),
        lit(md5_32("b" + j) % PortableP).as("b"))
    }: _*)
    val th = transform(tokenNgramsHof(textCol, nGram), g => h32(g))
    val zero = array(Seq.fill(numHashes)(lit(PortableP)): _*)
    aggregate(th, zero, (acc, h) =>
      zip_with(acc, ab, (m, p) =>
        least(m, (p("a") * h + p("b")) % lit(PortableP))))
  }

  /** Engine-portable 60-bit SimHash over the token stream (with
    * multiplicity): per-token hash = md5-60 (15 hex chars — the widest
    * md5 prefix that fits a positive long in every engine), bit votes,
    * bit b set iff strictly more tokens set it than clear it. Works with
    * [[simhashNearDupFromSigs]] (the 16-bit pigeonhole blocks just see a
    * 12-bit top block). Codegen-side expression; [[simhash60PortableHof]]
    * is the spec-pinned SQL twin. */
  def simhash60Portable(textCol: Column): Column =
    call_function("simhash60_portable", tokens(textCol))

  /** HOF twin of [[simhash60Portable]] (see [[minhashSigColumnPortableHof]]). */
  private[graft] def simhash60PortableHof(textCol: Column): Column = {
    val pw = array((0 until 60).map(b => lit(1L << b)): _*)
    val th = transform(tokens(textCol), t =>
      conv(substring(md5(t.cast("binary")), 1, 15), 16, 10).cast("long"))
    val votes = aggregate(th, array(Seq.fill(60)(lit(0L)): _*), (acc, h) =>
      zip_with(acc, pw, (v, p) =>
        v + when(call_function("div", h, p) % lit(2L) === lit(1L), 1L)
          .otherwise(-1L)))
    aggregate(
      zip_with(votes, pw, (v, p) => when(v > 0L, p).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc + x)
  }

  /** (id, sig) → exploded (id, sig, band, bucket) LSH banding rows. */
  private[operators] def bandRows(sigs: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    val bandStructs = (0 until bands).map { b =>
      struct(
        lit(b).as("band"),
        xxhash64(slice(col("sig"), b * rows + 1, rows)).as("bucket"))
    }
    sigs.select(
      col("id"), col("sig"),
      explode(array(bandStructs: _*)).as("bb"))
      .select(col("id"), col("sig"), col("bb.band"), col("bb.bucket"))
  }

  /** PUBLIC banding cells for pair-index maintenance: one (id, fp) row
    * per band, fp = "band:bucket". [[Incremental.maintainWinnowingPairs]]
    * over these cells maintains exactly [[minhashCandidatesFromSigs]]'s
    * pair set — pair ⇔ ≥ 1 shared usable bucket, and the winnowing
    * usability gate (2 ≤ posting ≤ cap) equals [[bucketPairs]]' cap
    * semantics (a 1-row bucket forms no pair either way). The ann05
    * hyperplane-cell trick, exposed for the text-minhash family. */
  def bandCells(
      sigs: DataFrame,
      numHashes: Int = 64,
      bands: Int = 16): DataFrame =
    bandRows(sigs, numHashes, bands)
      .select(col("id"), concat_ws(":", col("band"), col("bucket")).as("fp"))

  /** Signature-overlap estimate of Jaccard between two sig columns. */
  private def estJaccard(a: Column, b: Column, numHashes: Int): Column =
    aggregate(
      zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0),
      (acc, v) => acc + v).cast("double") / lit(numHashes.toDouble)

  /** LSH banding + candidate estimation over precomputed (id, sig) rows —
    * the second half of [[minhashCandidates]]. */
  def minhashCandidatesFromSigs(
      sigs0: DataFrame,
      numHashes: Int = 64,
      bands: Int = 16,
      maxBucketSize: Int = 1000): DataFrame = {
    // the signature frame feeds FIVE consumers below (both banding
    // sides inside bucketPairs, the bucket-cap census, and both
    // withSigs attachment sides); left lazy, every consumer re-ran the
    // numHashes-per-gram signature computation — round-14's cr01 plan
    // carried minhash_portable EIGHT times — and the AQE-replanned lane
    // plan carried the duplicated tree. Narrow (id + numHashes ints) and
    // expensive ⇒ stage (the measured criterion; wide cheap frames like
    // raw posting explodes measured SLOWER staged). Streaming callers
    // pass through: a micro-batch frame arrives here as a batch plan.
    // Already-checkpointed inputs also pass through — nearDupMicroBatch
    // localCheckpoints its sigs before calling; staging a LogicalRDD
    // would pay a second full materialization for blocks that already
    // exist (it still re-checkpoints lazily-checkpointed inputs on
    // first action, which is exactly one materialization either way).
    val sigs =
      if (sigs0.isStreaming || Barriers.isStaged(sigs0)) sigs0
      else Barriers.stage(sigs0)
    val banded = bandRows(sigs, numHashes, bands)
    val pairs = bucketPairs(banded, Seq("band", "bucket"), maxBucketSize)

    withSigs(pairs, sigs)
      .withColumn("est_jaccard",
        estJaccard(col("sig_a"), col("sig_b"), numHashes))
      .select(col("id_a"), col("id_b"), col("est_jaccard"))
  }

  /** Banded LSH INDEX of a corpus: (id, sig, band, bucket) rows, ready to
    * persist (partition/bucket by (band, bucket) at scale). Precompute once
    * over the existing corpus; incremental arrivals then check against it
    * with [[nearDupAgainstIndex]] instead of re-running all-corpus dedup.
    *
    * Hot buckets are CAPPED at build time: a (band, bucket) shared by
    * more than `maxBucketSize` corpus rows keeps only its min-id row as a
    * REPRESENTATIVE, so the stream-static join in [[nearDupAgainstIndex]]
    * can never fan one incoming row out by an unbounded bucket — the cap
    * is the join's worst-case per-row output per band. Degrading to a
    * representative (not dropping, as [[minhashCandidates]]' in-corpus
    * cap does) matters because the hottest buckets are exact-duplicate
    * crowds whose EVERY band is over cap — dropping would make the index
    * blind to precisely the most-duplicated content; one representative
    * still flags every incoming copy (its signature IS the crowd's). */
  def minhashIndex(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 64,
      bands: Int = 16,
      nGram: Int = 3,
      maxBucketSize: Int = 1000): DataFrame =
    minhashIndexFromSigs(
      minhashSignature(ensureParallelism(df), idCol, textCol, numHashes, nGram),
      numHashes, bands, maxBucketSize)

  /** [[minhashIndex]] over precomputed (id, sig) rows — the FromSigs
    * split shared with [[minhashCandidatesFromSigs]], so verification
    * lanes can feed the engine-portable signature family while the
    * murmur path stays the scale default. */
  def minhashIndexFromSigs(
      sigs: DataFrame,
      numHashes: Int = 64,
      bands: Int = 16,
      maxBucketSize: Int = 1000): DataFrame =
    capBuckets(bandRows(sigs, numHashes, bands), maxBucketSize)

  /** The index bucket cap: a banded row survives if its bucket is under
    * cap, or it is the bucket's min-id representative (degrade, never
    * drop — see [[minhashIndex]]). ONE join + one filter, keeping the
    * expensive upstream pipeline at two plan references. */
  private[operators] def capBuckets(banded: DataFrame, maxBucketSize: Int): DataFrame = {
    val sizes = banded
      .groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("__n"), min(col("id")).as("__rep"))
    banded
      .join(sizes, Seq("band", "bucket"))
      .filter(col("__n") <= maxBucketSize || col("id") === col("__rep"))
      .drop("__n", "__rep")
  }

  /** Merge a batch of NEW documents into a [[saveMinhashIndex]] artifact
    * — the compaction step of cross-run incremental corpus building
    * (ingest loop: load → [[nearDupAgainstIndex]] the batch → drop dups
    * → merge survivors back). Signs the batch with the artifact's own
    * pinned parameters (load fails fast on a mismatch), unions, RE-CAPS
    * buckets (two under-cap inputs can exceed the cap merged; the cap
    * degrades crowds to their min-id representative, same as build
    * time), and swaps the artifact.
    *
    * Durability: the merged index writes to a STAGING directory first;
    * only after that write succeeds is the old index deleted and the
    * staging renamed in (Hadoop FS). The previous index is never the
    * only copy while anything can still fail — a crash mid-write leaves
    * the old artifact intact, and a crash between delete and rename
    * leaves the complete `index.staging` next to the sidecar for manual
    * recovery (the one non-atomic window object stores impose).
    *
    * Duplicate semantics (pinned): fully identical rows collapse, so
    * re-ingesting an UNCHANGED id is a no-op; re-ingesting an id with
    * CHANGED text adds the new signature's rows alongside the old ones
    * (both versions then flag incoming duplicates; the stale rows only
    * leave via a full rebuild) — deterministic, never a per-band mix of
    * the two signatures.
    *
    * Returns the merged index row count. */
  def mergeIntoMinhashIndex(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 64,
      bands: Int = 16,
      nGram: Int = 3,
      maxBucketSize: Int = 1000,
      portable: Boolean = false): Long = {
    val existing = loadMinhashIndex(spark, dir, numHashes, bands, nGram,
      portable)
    val sigCol =
      if (portable) minhashSigColumnPortable(col(textCol), numHashes, nGram)
      else minhashSigColumn(col(textCol), numHashes, nGram)
    val newBanded = bandRows(
      ensureParallelism(newDocs).select(col(idCol).as("id"),
        sigCol.as("sig")),
      numHashes, bands)
    val merged = capBuckets(
      existing.unionByName(newBanded)
        .dropDuplicates("band", "bucket", "id", "sig"),
      maxBucketSize)
    // staging write (reads the OLD index lazily — never overwrite what
    // a running plan reads), then delete + rename swap
    merged.write.mode("overwrite").parquet(s"$dir/index.staging")
    val fs = artifactFs(spark, dir)
    val indexPath = new org.apache.hadoop.fs.Path(s"$dir/index")
    val stagingPath = new org.apache.hadoop.fs.Path(s"$dir/index.staging")
    fs.delete(indexPath, true)
    require(fs.rename(stagingPath, indexPath),
      s"mergeIntoMinhashIndex: rename of $stagingPath to $indexPath " +
        "failed — the merged index is intact at the staging path")
    writeIndexMeta(spark, dir, numHashes, bands, nGram, portable)
    spark.read.parquet(s"$dir/index").count()
  }

  /** Schema version written by [[saveMinhashIndex]]; bump on any change
    * to the index row layout (band, bucket, id, sig). */
  private[graft] val MinhashIndexVersion = 1

  /** Hadoop FileSystem for an artifact path — the parquet halves of the
    * artifact already go through Hadoop FS, so the sidecar must too or
    * any non-local `dir` (hdfs://, s3a://) would write the parquet
    * remotely and the sidecar onto the DRIVER's local disk. */
  private def artifactFs(
      spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())

  /** Persist a [[minhashIndex]] frame under `dir` (Parquet + a
    * `_GRAFT_INDEX_META.json` sidecar pinning the schema version and the
    * (numHashes, bands, nGram, portable) parameters the index was built
    * with) so cross-run incremental corpus building is code, not caller
    * convention: build once, save, and every later ingest loads +
    * [[nearDupAgainstIndex]]s its batch. The parameters are part of the
    * artifact because an incoming batch signed with DIFFERENT parameters
    * would silently miss every duplicate (different band boundaries or
    * hash family) — [[loadMinhashIndex]] fails fast instead. All I/O
    * goes through Hadoop FS, so `dir` may be any cluster path. */
  def saveMinhashIndex(
      index: DataFrame,
      dir: String,
      numHashes: Int = 64,
      bands: Int = 16,
      nGram: Int = 3,
      portable: Boolean = false): Unit = {
    index.write.mode("overwrite").parquet(s"$dir/index")
    writeIndexMeta(index.sparkSession, dir, numHashes, bands, nGram,
      portable)
  }

  private def writeIndexMeta(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      numHashes: Int,
      bands: Int,
      nGram: Int,
      portable: Boolean): Unit = {
    val meta =
      s"""{"version":$MinhashIndexVersion,"numHashes":$numHashes,""" +
        s""""bands":$bands,"nGram":$nGram,"portable":$portable}"""
    val fs = artifactFs(spark, dir)
    val out = fs.create(
      new org.apache.hadoop.fs.Path(s"$dir/_GRAFT_INDEX_META.json"), true)
    try out.write((meta + "\n").getBytes("UTF-8")) finally out.close()
  }

  /** Load a [[saveMinhashIndex]] artifact, failing fast unless the
    * sidecar's version AND build parameters match what the caller is
    * about to query with — the mismatch failure mode is SILENT (an index
    * banded differently simply never collides with the incoming batch),
    * which is the one class of error this pair exists to convert into a
    * crash. Values are extracted with anchored regexes over the one-line
    * sidecar (no JSON dependency in the library). */
  def loadMinhashIndex(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      numHashes: Int = 64,
      bands: Int = 16,
      nGram: Int = 3,
      portable: Boolean = false): DataFrame = {
    val fs = artifactFs(spark, dir)
    val metaPath =
      new org.apache.hadoop.fs.Path(s"$dir/_GRAFT_INDEX_META.json")
    require(fs.exists(metaPath),
      s"loadMinhashIndex: no _GRAFT_INDEX_META.json under $dir — not a " +
        "saveMinhashIndex artifact")
    val in = fs.open(metaPath)
    val meta =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    def field(name: String): String =
      s""""$name":([a-z0-9]+)""".r.findFirstMatchIn(meta)
        .map(_.group(1))
        .getOrElse(sys.error(
          s"loadMinhashIndex: sidecar missing field '$name': $meta"))
    val mismatches = Seq(
      ("version", MinhashIndexVersion.toString),
      ("numHashes", numHashes.toString),
      ("bands", bands.toString),
      ("nGram", nGram.toString),
      ("portable", portable.toString))
      .filter { case (k, want) => field(k) != want }
      .map { case (k, want) => s"$k: index has ${field(k)}, caller wants $want" }
    require(mismatches.isEmpty,
      s"loadMinhashIndex: parameter mismatch under $dir — querying this " +
        s"index with these settings would silently miss duplicates: " +
        mismatches.mkString("; "))
    val idx = spark.read.parquet(s"$dir/index")
    val want = Set("band", "bucket", "id", "sig")
    require(want.subsetOf(idx.columns.toSet),
      s"loadMinhashIndex: index under $dir has columns " +
        s"${idx.columns.mkString(",")}, expected $want")
    idx
  }

  /** Near-dup candidates of INCOMING documents against a prebuilt
    * [[minhashIndex]]: one equi-join on (band, bucket) — stateless per
    * batch, so `incoming` may be a STREAMING DataFrame (stream-static
    * join; each micro-batch of new docs is checked against the corpus
    * without recomputing anything corpus-side). Output: (id, corpus_id,
    * est_jaccard, band) — a pair sharing several bands emits one row per
    * shared band; batch callers can `dropDuplicates("id","corpus_id")`,
    * streaming callers keep the operator stateless and dedup downstream.
    * Per-row fan-out is bounded by the index's build-time bucket cap
    * ([[minhashIndex]] `maxBucketSize`). `incoming` docs are NOT checked
    * against each other — use [[nearDupMicroBatch]] (from `foreachBatch`)
    * when a batch's internal dups must not slip through. */
  def nearDupAgainstIndex(
      incoming: DataFrame,
      idCol: String,
      textCol: String,
      index: DataFrame,
      numHashes: Int = 64,
      bands: Int = 16,
      nGram: Int = 3): DataFrame =
    nearDupAgainstIndexFromSigs(
      incoming.select(col(idCol).as("id"),
        minhashSigColumn(col(textCol), numHashes, nGram).as("sig")),
      index, numHashes, bands)

  /** [[nearDupAgainstIndex]] over precomputed incoming (id, sig) rows —
    * see [[minhashIndexFromSigs]] for why the FromSigs split exists. */
  def nearDupAgainstIndexFromSigs(
      incomingSigs: DataFrame,
      index: DataFrame,
      numHashes: Int = 64,
      bands: Int = 16): DataFrame = {
    val newBands = bandRows(incomingSigs, numHashes, bands)
    newBands
      .join(index.select(col("band"), col("bucket"),
        col("id").as("corpus_id"), col("sig").as("corpus_sig")),
        Seq("band", "bucket"))
      .filter(col("id") =!= col("corpus_id")) // re-ingested known docs
      .select(col("id"), col("corpus_id"),
        estJaccard(col("sig"), col("corpus_sig"), numHashes).as("est_jaccard"),
        col("band"))
  }

  /** Complete near-dup check for ONE micro-batch: the batch against the
    * corpus index (stream-static shape) UNION the batch against ITSELF
    * (intra-batch LSH) — without the second leg, two near-identical docs
    * arriving in the same micro-batch both pass and only surface at the
    * next periodic compaction. Signatures are computed once (lazy
    * checkpoint) and feed both legs.
    *
    * The intra-batch leg is a self-join, so `batch` must be a STATIC
    * frame — in Structured Streaming call this from `foreachBatch`, the
    * standard hook for per-batch relational work the streaming planner
    * can't express statelessly.
    *
    * Output: (id, dup_of, est_jaccard, source); source = "corpus" |
    * "batch". For batch pairs the larger id is reported as the dup
    * (keeper = min id, the library-wide convention). */
  def nearDupMicroBatch(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      index: DataFrame,
      numHashes: Int = 64,
      bands: Int = 16,
      nGram: Int = 3,
      maxBucketSize: Int = 1000): DataFrame = {
    val sigs = minhashSignature(
      ensureParallelism(batch), idCol, textCol, numHashes, nGram)
      .localCheckpoint(false)
    val vsCorpus = bandRows(sigs, numHashes, bands)
      .join(index.select(col("band"), col("bucket"),
        col("id").as("corpus_id"), col("sig").as("corpus_sig")),
        Seq("band", "bucket"))
      .filter(col("id") =!= col("corpus_id"))
      .select(col("id"), col("corpus_id").as("dup_of"),
        estJaccard(col("sig"), col("corpus_sig"), numHashes).as("est_jaccard"))
      .dropDuplicates("id", "dup_of")
      .withColumn("source", lit("corpus"))
    val intra = minhashCandidatesFromSigs(sigs, numHashes, bands, maxBucketSize)
      .select(col("id_b").as("id"), col("id_a").as("dup_of"),
        col("est_jaccard"), lit("batch").as("source"))
    vsCorpus.unionByName(intra)
  }

  /** Transitive near-duplicate resolution: candidate pairs form a graph;
    * connected components give duplicate CLUSTERS (A~B, B~C ⇒ {A,B,C}
    * keep one), which pairwise dropping gets wrong. Returns
    * (id, keep_id) for every clustered id — rows with id != keep_id are
    * the drops. Pair mining is pluggable: feed it `minhashCandidates`
    * (filtered to the confidence threshold), `simhashNearDup`, etc. */
  def nearDupClusters(pairs: DataFrame): DataFrame = {
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
    // Duplicate chains are path-shaped (each doc near the next drift
    // step); the star rounds keep the round count independent of chain
    // length, and the candidate-pair graph is usually small enough for
    // connectedComponents' driver union-find. The component label IS the
    // cluster's min id — exactly the keeper contract.
    GraphOps.connectedComponents(edges)
      .select(col("id"), col("component").as("keep_id"))
  }

  /** End-to-end near-duplicate RESOLUTION — the single call a curation
    * pipeline actually makes: MinHash signatures → LSH candidate pairs →
    * exact distinct-n-gram-Jaccard confirmation at `threshold` →
    * transitive clusters ([[nearDupClusters]]). Output: (id, keep_id)
    * for every document that landed in a cluster; keep_id is the
    * cluster's min id (the survivor), so `id != keep_id` rows are the
    * drop list. Docs that never met a confirmed pair don't appear.
    *
    * Confirmation matters: LSH banding alone admits false positives
    * (est_jaccard is a 64-sample estimate), and pairwise dropping alone
    * gets chains wrong (A~B, B~C must collapse to ONE survivor even when
    * A~C was never a candidate). This composes the capped candidate
    * stage, the pair-driven exact check (never corpus×corpus), and star
    * CC — each already scale-shaped; nothing here adds a shuffle beyond
    * theirs.
    *
    * `portable = true` swaps in the md5-derived signature family
    * ([[minhashSigColumnPortable]]) so an external SQL engine can replay
    * the whole pipeline bit-for-bit (the dd05 oracle does); murmur stays
    * the 100 TB default. */
  def nearDupResolve(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.8,
      nGram: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      maxBucketSize: Int = 1000,
      portable: Boolean = false): DataFrame = {
    val sigExpr =
      if (portable) minhashSigColumnPortable(col(textCol), numHashes, nGram)
      else minhashSigColumn(col(textCol), numHashes, nGram)
    val sigs = ensureParallelism(docs)
      .select(col(idCol).as("id"), sigExpr.as("sig"))
    val confirmed = withExactJaccard(
      minhashCandidatesFromSigs(sigs, numHashes, bands, maxBucketSize),
      docs, idCol, textCol, nGram)
      .filter(col("exact_jaccard") >= threshold)
    nearDupClusters(confirmed.select("id_a", "id_b"))
  }

  /** The corpus after near-duplicate removal: [[nearDupResolve]]'s drop
    * list anti-joined away — every cluster keeps exactly its min-id
    * survivor, unclustered documents pass through untouched. The drop
    * list is tiny relative to the corpus (it's bounded by the confirmed
    * pairs), so the anti-join broadcasts. */
  def dropNearDups(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.8,
      nGram: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      maxBucketSize: Int = 1000,
      portable: Boolean = false): DataFrame = {
    val drops = nearDupResolve(docs, idCol, textCol, threshold, nGram,
      numHashes, bands, maxBucketSize, portable)
      .filter(col("id") =!= col("keep_id"))
      .select(col("id").as(idCol))
    docs.join(broadcast(drops), Seq(idCol), "left_anti")
  }

  /** [[nearDupResolve]] with PRIORITY-BASED survivor election: real
    * pipelines keep the best member of a near-dup cluster (highest
    * quality score, longest, most recent…), not the smallest id. The
    * cluster structure is exactly nearDupResolve's (its min-id label is
    * kept as `cluster_id` — a stable cluster name); the survivor is
    * re-elected per cluster as the member with the highest
    * `priorityCol`, ties broken by smaller id. Output: (id, cluster_id,
    * keep_id).
    *
    * The election window partitions by cluster over the CLUSTER MAP,
    * not the corpus — the map is bounded by confirmed pairs, and
    * cluster sizes are dup-chain lengths, so the window input is tiny
    * and well-distributed at any corpus scale. `priorityCol` is looked
    * up from `docs` via the map side of a broadcast join. */
  def nearDupResolveBy(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      priorityCol: String,
      threshold: Double = 0.8,
      nGram: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      maxBucketSize: Int = 1000,
      portable: Boolean = false): DataFrame = {
    val clusters = nearDupResolve(docs, idCol, textCol, threshold, nGram,
      numHashes, bands, maxBucketSize, portable)
      .withColumnRenamed("keep_id", "cluster_id")
    val pri = docs.select(col(idCol).as("id"), col(priorityCol).as("graft_pri"))
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("graft_pri").desc, col("id").asc)
    broadcast(clusters).join(pri, Seq("id"))
      .withColumn("keep_id", first(col("id")).over(w))
      .select(col("id"), col("cluster_id"), col("keep_id"))
  }

  /** The corpus after priority-elected near-duplicate removal: every
    * cluster keeps its highest-priority member ([[nearDupResolveBy]]),
    * everything unclustered passes through. */
  def dropNearDupsBy(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      priorityCol: String,
      threshold: Double = 0.8,
      nGram: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      maxBucketSize: Int = 1000,
      portable: Boolean = false): DataFrame = {
    val drops = nearDupResolveBy(docs, idCol, textCol, priorityCol,
      threshold, nGram, numHashes, bands, maxBucketSize, portable)
      .filter(col("id") =!= col("keep_id"))
      .select(col("id").as(idCol))
    docs.join(broadcast(drops), Seq(idCol), "left_anti")
  }

  /** SimHash near-duplicates: pairs with hamming(sig_a, sig_b) <= maxHamming.
    * Uses the 4×16-bit block pigeonhole for candidate generation, which is
    * complete for maxHamming <= 3. Output: (id_a, id_b, hamming). */
  def simhashNearDup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      // in-bucket pairing is quadratic: a 10k bucket means 5·10^7 pairs
      // for ONE block value. 1000 caps that at 5·10^5; a true near-dup
      // pair is only lost if ALL FOUR of its blocks are degenerate
      // (measured on the 50k-doc low-entropy smoke: -6% pairs, -87% time)
      maxBucketSize: Int = 1000): DataFrame =
    simhashNearDupFromSigs(
      ensureParallelism(df).select(
        col(idCol).as("id"),
        simhash64(tokens(col(textCol))).as("sig")),
      maxHamming, maxBucketSize)

  /** Block pigeonhole + in-bucket pairing over precomputed (id, sig)
    * rows — the second half of [[simhashNearDup]], exposed so a pipeline
    * can carry the signature from its own scan (or use the portable
    * [[simhash60Portable]] family). */
  def simhashNearDupFromSigs(
      sigs: DataFrame,
      maxHamming: Int = 3,
      maxBucketSize: Int = 1000): DataFrame = {
    val blockStructs = (0 until 4).map { b =>
      struct(
        lit(b).as("band"),
        shiftrightunsigned(col("sig"), b * 16)
          .bitwiseAND(lit(0xffffL)).as("bucket"))
    }
    val blocked = sigs.select(
      col("id"), col("sig"),
      explode(array(blockStructs: _*)).as("bb"))
      .select(col("id"), col("sig"), col("bb.band"), col("bb.bucket"))

    withSigs(bucketPairs(blocked, Seq("band", "bucket"), maxBucketSize), sigs)
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Exact n-gram Jaccard similarity via inverted-index posting lists.
    * Output: (id_a, id_b, jaccard) for pairs sharing >= 1 shingle and
    * jaccard >= threshold.
    *
    * `threshold > 0` routes through [[prefixFilteredJaccard]] (AllPairs/
    * PPJoin prefix filtering): candidate volume tracks the answer instead
    * of the hot-shingle quadratic (measured 17× less shuffle on the
    * ScaleProof 10× corpus), and the result is STRICTLY more faithful —
    * intersections are counted in full by `array_intersect`, so
    * `maxPostingLength` only bounds candidate GENERATION (prefix lists)
    * rather than silently removing hot shingles from the intersection
    * counts the way the enumeration route below must.
    *
    * `threshold = 0` (complete pairwise output) keeps the enumeration
    * shape: postings are grouped per shingle-hash and pairs generated
    * inside the grouped array — exactly two shuffles total (by shingle,
    * by pair) and the shingling pipeline runs once, vs. the naive
    * self-join's double computation + extra exchange. Text never crosses
    * the wire, only (hash, id, size). Degenerate shingles (posting list >
    * maxPostingLength) are dropped — the standard stopword-shingle guard
    * against quadratic blowup. */
  def ngramJaccard(
      df: DataFrame,
      idCol: String,
      textCol: String,
      nGram: Int = 3,
      threshold: Double = 0.0,
      maxPostingLength: Int = 10000,
      // lists longer than this pair via a self-join on the shingle hash
      // instead of in-group generation — see below
      selfJoinPostingLength: Int = 1024): DataFrame = {
    val sets = ensureParallelism(df).select(
      col(idCol).as("id"),
      ngramHashes(tokens(col(textCol)), nGram).as("shingles"))
      .withColumn("set_size", size(col("shingles")))

    // With a real threshold, route through prefix filtering instead of
    // enumerating every co-occurrence: candidate volume then tracks the
    // answer, not the hot-shingle quadratic.
    if (threshold > 0.0)
      return prefixFilteredJaccard(sets, threshold, maxPostingLength)

    val postings = sets
      .select(col("id"), col("set_size"), explode(col("shingles")).as("sh"))

    val lists = postings
      .groupBy("sh")
      .agg(collect_list(struct(col("id"), col("set_size"))).as("ps"))
      .filter(size(col("ps")).between(2, maxPostingLength))

    // all i<j combinations within one posting list, by list length:
    //
    //  - SHORT lists: two chained Generate operators — pairs stream one
    //    row at a time; transient state is the carried array (≤ a few
    //    KiB). (A single flatten(transform×transform) array held every
    //    |ps|²/2 pair struct in one row's buffer while it was built:
    //    ~5·10⁷ structs (GBs) per hot shingle at maxPostingLength —
    //    measured OOM on the 10× hot-shingle corpus, ScaleProof.)
    //  - LONG lists: the chained shape still COPIES the carried array
    //    once per first-element (O(|ps|²) struct copies — measured 48 s
    //    at 10×, dominated by exactly this); pairing them as a self-join
    //    of the re-exploded members on `sh` streams 16-byte rows out of
    //    the shuffle with no array carrying at all. The exploded frames
    //    inherit the groupBy's hash partitioning on `sh`, so the join
    //    adds no extra exchange of the big side.
    val shortLists = lists.filter(size(col("ps")) <= selfJoinPostingLength)
    val longLists = lists.filter(size(col("ps")) > selfJoinPostingLength)
    val shortPairs = shortLists
      .select(posexplode(col("ps")).as(Seq("i", "a")), col("ps"))
      .select(col("a"),
        explode(slice(col("ps"), col("i") + lit(2), size(col("ps")))).as("b"))
    val longMembers = longLists
      .select(col("sh"), explode(col("ps")).as("m"))
    val longPairs = longMembers.select(col("sh"), col("m").as("a"))
      .join(longMembers.select(col("sh"), col("m").as("b")), Seq("sh"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a"), col("b"))
    val firsts = shortPairs.unionByName(longPairs)

    // canonicalize the WHOLE struct by id, so (sa, sb) stay paired with
    // (id_a, id_b): collect_list order is partition-arrival order, and
    // keeping a's size with the least id regardless of which side a landed
    // on would split one pair into several (id_a, id_b, sa, sb) groups
    // with mixed-up sizes — undercounting the intersection
    val lo = when(col("a.id") <= col("b.id"), col("a")).otherwise(col("b"))
    val hi = when(col("a.id") <= col("b.id"), col("b")).otherwise(col("a"))
    val pairs = firsts
      .select(
        lo.getField("id").as("id_a"),
        hi.getField("id").as("id_b"),
        lo.getField("set_size").as("sa"),
        hi.getField("set_size").as("sb"))

    // threshold is 0 on this path (positive thresholds returned through
    // the prefix route above): complete pairwise output, no pruning
    pairs
      .groupBy("id_a", "id_b", "sa", "sb")
      .agg(count("*").as("inter"))
      .withColumn(
        "jaccard",
        col("inter").cast("double") /
          (col("sa") + col("sb") - col("inter")).cast("double"))
      .select("id_a", "id_b", "jaccard")
  }

  /** Prefix-filtered exact Jaccard (the AllPairs/PPJoin family — Bayardo
    * et al., WWW'07; Xiao et al., WWW'08): order every document's shingles
    * by GLOBAL rarity (document frequency, ties by hash — one total order
    * for the whole corpus) and index only the first
    * `|s| - ceil(t*|s|) + 1` of them. Any pair with Jaccard >= t must
    * share at least one PREFIX shingle under that order, so candidate
    * generation touches only rare-shingle posting lists: a boilerplate
    * shingle shared by half the corpus sorts LAST in every document and
    * never generates a candidate — exactly the hot-list quadratic that
    * full enumeration pays (measured: ~125M of ~160M pair-rows on the
    * ScaleProof 10x corpus came from sub-threshold hot-shingle pairs that
    * produced ZERO output at t=0.7).
    *
    * Verification is exact: candidates join back the (distinct-hash)
    * shingle sets — bounded by document length, broadcast-eligible per
    * join side at small corpora, id-keyed shuffles at scale — and count
    * the true intersection with `array_intersect`. The epsilon inside
    * `ceil` keeps float rounding from ever SHORTENING a prefix (longer =
    * more candidates = still exact; shorter could miss pairs).
    * `maxPostingLength` still caps degenerate PREFIX lists (documented
    * lossy, same contract as the enumeration route).
    */
  private def prefixFilteredJaccard(
      sets: DataFrame,
      threshold: Double,
      maxPostingLength: Int): DataFrame = {
    val posts = sets
      .filter(col("set_size") > 0)
      .select(col("id"), col("set_size"), explode(col("shingles")).as("sh"))
    val dfTab = posts.groupBy("sh").agg(count(lit(1)).as("df"))
    val prefLen = (col("set_size") -
      ceil(col("set_size") * lit(threshold) - lit(1e-9)) + lit(1)).cast("int")
    val w = Window.partitionBy(col("id")).orderBy(col("df").asc, col("sh").asc)
    val prefix = posts.join(dfTab, "sh")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= prefLen)
      .select("id", "set_size", "sh")
    val okSh = prefix.groupBy("sh").agg(count(lit(1)).as("__n"))
      .filter(col("__n") <= maxPostingLength)
      .select("sh")
    val p = prefix.join(okSh, Seq("sh"), "left_semi")
    val cands = p.select(col("sh"), col("id").as("id_a"), col("set_size").as("sa"))
      .join(
        p.select(col("sh"), col("id").as("id_b"), col("set_size").as("sb")),
        Seq("sh"))
      .filter(col("id_a") < col("id_b"))
      // length-ratio prune: jaccard <= min/max sizes
      .filter(least(col("sa"), col("sb")).cast("double") >=
        greatest(col("sa"), col("sb")).cast("double") * threshold)
      .select("id_a", "id_b")
      .distinct()
    cands
      .join(sets.select(col("id").as("id_a"), col("shingles").as("set_a"),
        col("set_size").as("sa")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("shingles").as("set_b"),
        col("set_size").as("sb")), "id_b")
      .withColumn("inter",
        size(array_intersect(col("set_a"), col("set_b"))).cast("long"))
      .withColumn(
        "jaccard",
        col("inter").cast("double") /
          (col("sa") + col("sb") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Cross-corpus n-gram CONTAINMENT — the decontamination primitive: for
    * every (test, train) pair sharing at least one shingle,
    * `containment = |shingles(test) ∩ shingles(train)| / |shingles(test)|`
    * (asymmetric by design: a test doc fully quoted inside a larger train
    * doc scores 1.0 where Jaccard would dilute it — exactly the leak that
    * benchmark decontamination must catch).
    *
    * Same scale shape as [[ngramJaccard]]: inverted-index join keyed on
    * the 64-bit shingle hash — text never shuffles, only (hash, id, size)
    * rows — with the stopword-shingle guard (`maxPostingLength`, applied
    * to the TRAIN posting lists, the unbounded side) bounding the
    * per-shingle fan-out. Intersections accumulate in one partial-
    * aggregable count keyed (test_id, train_id). And as with
    * [[ngramJaccard]], `minContainment > 0` routes through one-sided
    * prefix filtering (test-side prefix ordered by train document
    * frequency) with exact `array_intersect` verification — hot
    * boilerplate shingles never generate candidates, and the cap bounds
    * only candidate generation, not counted overlap.
    *
    * Output: (test_id, train_id, containment >= minContainment). Callers
    * drop contaminated TRAIN docs by joining on train_id. */
  def ngramContainment(
      train: DataFrame,
      trainIdCol: String,
      trainTextCol: String,
      test: DataFrame,
      testIdCol: String,
      testTextCol: String,
      nGram: Int = 3,
      minContainment: Double = 0.0,
      maxPostingLength: Int = 10000): DataFrame = {
    val trainSets = ensureParallelism(train).select(
      col(trainIdCol).as("train_id"),
      ngramHashes(tokens(col(trainTextCol)), nGram).as("train_set"))
    val testSets = ensureParallelism(test).select(
      col(testIdCol).as("test_id"),
      ngramHashes(tokens(col(testTextCol)), nGram).as("test_set"))
      .withColumn("test_size", size(col("test_set")))
    val trainPost = trainSets
      .select(col("train_id"), explode(col("train_set")).as("sh"))

    // With a real threshold, the same prefix-filter argument as
    // [[prefixFilteredJaccard]] applies one-sidedly: containment >= t
    // needs |inter| >= t*|test|, so if a test doc's first
    // |test| - ceil(t*|test|) + 1 shingles — ordered by TRAIN document
    // frequency ascending (absent-from-train counts as 0), ties by hash —
    // share nothing with a train doc, that pair is below threshold.
    // Rare-in-train prefixes mean hot boilerplate shingles never generate
    // candidates; verification counts the FULL intersection exactly, so
    // `maxPostingLength` (still applied to the train lists candidates
    // join through) only bounds generation, not the counted overlap.
    if (minContainment > 0.0) {
      val trainDf = trainPost.groupBy("sh").agg(count(lit(1)).as("df"))
      val prefLen = (col("test_size") -
        ceil(col("test_size") * lit(minContainment) - lit(1e-9)) + lit(1))
        .cast("int")
      val w = Window.partitionBy(col("test_id"))
        .orderBy(col("df").asc, col("sh").asc)
      val testPrefix = testSets
        .select(col("test_id"), col("test_size"),
          explode(col("test_set")).as("sh"))
        .join(trainDf, Seq("sh"), "left_outer")
        .withColumn("df", coalesce(col("df"), lit(0L)))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= prefLen)
        .select("test_id", "sh")
      val okSh = trainPost.groupBy("sh")
        .agg(count(lit(1)).as("__n"))
        .filter(col("__n") <= maxPostingLength)
        .select("sh")
      val cands = testPrefix
        .join(trainPost.join(okSh, Seq("sh"), "left_semi"), Seq("sh"))
        .select("test_id", "train_id")
        .distinct()
      return cands
        .join(testSets, "test_id")
        .join(trainSets, "train_id")
        .withColumn("inter",
          size(array_intersect(col("test_set"), col("train_set"))).cast("long"))
        .withColumn("containment",
          col("inter").cast("double") / col("test_size").cast("double"))
        .filter(col("containment") >= minContainment)
        .select(col("test_id"), col("train_id"), col("containment"))
    }

    val testPost = testSets
      .select(col("test_id"), col("test_size"), explode(col("test_set")).as("sh"))
    // cap degenerate train-side shingles via aggregate + semi-join (no
    // window — same reasoning as bucketPairs)
    val okSh = trainPost.groupBy("sh")
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") <= maxPostingLength)
      .select("sh")
    testPost
      .join(trainPost.join(okSh, Seq("sh"), "left_semi"), Seq("sh"))
      .groupBy(col("test_id"), col("train_id"), col("test_size"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("containment",
        col("inter").cast("double") / col("test_size").cast("double"))
      .select(col("test_id"), col("train_id"), col("containment"))
  }

  /** Embedding near-duplicates: random-hyperplane LSH bucket join + exact
    * cosine verification inside buckets. Output: (id_a, id_b, cos).
    *
    * `quantized = true` swaps the float vectors in the candidate-pair
    * exchange for int8 (`Similarity.quantizeI8`) and scores with the
    * codegen'd `dot_q8` reconstruction: the pair shuffle — measured as
    * the dominant exchange at scale (SCALING.md §Measured evidence) —
    * carries ~4× fewer bytes. Scores then deviate from float cosine by
    * the per-element rounding step (|Δcos| ≲ 0.01 on unit-ish vectors;
    * bound pinned in QuantizationSpec): pad `cosThreshold` accordingly,
    * and keep the default float path when exact float parity matters. */
  def embeddingNearDup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      cosThreshold: Double = 0.9,
      bitsPerTable: Int = 8,
      tables: Int = 4,
      seed: Long = 42L,
      maxBucketSize: Int = 10000,
      quantized: Boolean = false): DataFrame =
    nearDupFromBuckets(
      Similarity.withLshBuckets(
        ensureParallelism(df), vecCol, dim, bitsPerTable, tables, seed),
      idCol, vecCol, cosThreshold, maxBucketSize, quantized)

  /** SemDeDup-shaped semantic dedup (Abbas et al. 2023, "SemDeDup: Data-
    * efficient learning at web-scale through semantic deduplication"):
    * cluster the embedding space coarsely, then prune within-cluster
    * pairs above a cosine threshold. Differs from [[embeddingNearDup]]
    * (hyperplane LSH) in its blocking: cells are nearest-CENTROID
    * regions, so near-dups that straddle a cell boundary are missed by
    * design — the published recall trade for one-assignment blocking.
    *
    * Composition of existing audited pieces: deterministic sampled
    * centroids ([[Similarity.Ivf.centroids]]; `portable = true` takes
    * the md5-ordered variant an SQL oracle replays), argmax-aggregation
    * assignment ([[Similarity.Ivf.assignCells]] — one row per id crosses
    * the wire), then the cell id feeds the SAME bucket-pairing, hot-
    * bucket-capping and full-precision scoring path as the LSH lanes
    * ([[nearDupFromBuckets]] with a single (band=0, bucket=cell) entry).
    * Output: (id_a, id_b, cos) within-cell pairs at or above the
    * threshold; resolve to keepers with [[nearDupClusters]] /
    * [[nearDupResolveBy]] as usual. */
  def semanticNearDup(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      nCells: Int = 16,
      cosThreshold: Double = 0.9,
      maxCellSize: Int = 10000,
      portable: Boolean = false): DataFrame = {
    val cents =
      if (portable) Similarity.Ivf.portableCentroids(emb, idCol, vecCol, nCells)
      else Similarity.Ivf.centroids(emb, idCol, vecCol, nCells)
    val assigned = Similarity.Ivf.assignCells(
      ensureParallelism(emb), idCol, vecCol, cents)
    val bucketed = assigned.withColumn("lsh_buckets",
      array(struct(lit(0).as("band"), col("cell").cast("long").as("bucket"))))
    nearDupFromBuckets(bucketed, idCol, vecCol, cosThreshold, maxCellSize)
  }

  /** Pairing + scoring half of [[embeddingNearDup]] over rows that already
    * carry `lsh_buckets` (from [[Similarity.withLshBuckets]] or the
    * portable-hyperplane variant) — exposed so a verification lane can
    * swap the hyperplane family while exercising the same bucketing,
    * capping, and scoring code. */
  def nearDupFromBuckets(
      bucketed: DataFrame,
      idCol: String,
      vecCol: String,
      cosThreshold: Double = 0.9,
      maxBucketSize: Int = 10000,
      quantized: Boolean = false): DataFrame = {
    // (id, sig, lsh_buckets) once; the banding explode carries only ids
    // and the vectors re-join per ID after the pair distinct (withSigs)
    val sigFrame =
      if (quantized)
        Similarity.quantizeI8(bucketed, vecCol)
          .select(col(idCol).as("id"),
            struct(col("q8"), col("q8_scale"), col("q8_norm")).as("sig"),
            col("lsh_buckets"))
      else
        bucketed.select(col(idCol).as("id"), col(vecCol).as("sig"),
          col("lsh_buckets"))
    val hashed = sigFrame
      .select(col("id"), explode(col("lsh_buckets")).as("bb"))
      .select(col("id"), col("bb.band"), col("bb.bucket"))

    val score =
      if (quantized)
        Similarity.cosineQ8(
          col("sig_a.q8"), col("sig_a.q8_scale"), col("sig_a.q8_norm"),
          col("sig_b.q8"), col("sig_b.q8_scale"), col("sig_b.q8_norm"))
      else cosineSim(col("sig_a"), col("sig_b"))
    withSigs(
      bucketPairs(hashed, Seq("band", "bucket"), maxBucketSize),
      sigFrame.select(col("id"), col("sig")))
      .withColumn("cos", score)
      // NaN guard: cosineSim already defines zero-norm cosine as 0.0, so
      // NaN can only arise from NaN-valued embedding ELEMENTS (a corrupt
      // upstream model write) — and Spark's ordering semantics would let
      // that NaN pass ANY >= threshold and match its whole bucket
      .filter(!isnan(col("cos")) && col("cos") >= cosThreshold)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** Self-verification lane for estimator-based candidate pairs: append
    * the EXACT n-gram Jaccard (`exact_jaccard`) to a (id_a, id_b, …) pair
    * frame by joining each side back to its distinct-shingle set. Cost is
    * two joins driven by the (few) candidate pairs, never corpus×corpus —
    * candidates are the output of a capped LSH/blocking stage, so this
    * stays cheap at any corpus size. With the exact value riding in the
    * same row as the estimate, a drifting estimator is visible in the
    * query output itself, not only in a spec. */
  def withExactJaccard(
      pairs: DataFrame,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      nGram: Int = 3): DataFrame = {
    // Shape MEASURED and kept (r15): the two gram-set sides below
    // duplicate the tokenize/ngram text pass, but they execute as
    // CONCURRENT AQE stages inside the one action, so the duplication
    // costs wall-clock ~nothing. Two §3.2 variants were measured and
    // REJECTED: (a) stage(pairs) + stage(restricted sets) serialized
    // three job waves — cr02 4.30 s vs 2.79 baseline; (b) a lazy
    // pair-id semi-restriction of the sets pass re-ran the candidate
    // generator once per reference and still lost — cr02 3.17, dd02
    // 2.17 vs 1.43, dd01 1.53 vs 1.22 (medians of 5 each). At cluster
    // scale the same trade holds: the restriction's extra candidate
    // passes grow with the corpus exactly like the text pass it trims.
    val sets = docs.select(
      col(idCol).as("__xid"),
      ngramHashes(tokens(col(textCol)), nGram).as("__xset"))
    val inter = size(array_intersect(col("__xa"), col("__xb"))).cast("double")
    pairs
      .join(sets.select(col("__xid").as("id_a"), col("__xset").as("__xa")),
        Seq("id_a"))
      .join(sets.select(col("__xid").as("id_b"), col("__xset").as("__xb")),
        Seq("id_b"))
      .withColumn("exact_jaccard",
        when(size(col("__xa")) + size(col("__xb")) === 0, 0.0)
          .otherwise(inter /
            (size(col("__xa")) + size(col("__xb")) - inter).cast("double")))
      .drop("__xa", "__xb")
  }

  /** Edit-distance (Levenshtein) verification over candidate pairs —
    * fuzzy dedup for OCR-noise / small-mutation duplicates that token-set
    * measures under-score (a single-character typo changes every
    * overlapping shingle it touches, but costs exactly 1 edit).
    *
    * Never all-pairs: `pairs` comes from a bucketed candidate generator
    * ([[minhashCandidatesFromSigs]] et al.), and the distance runs on the
    * candidate rows only, with Spark's THRESHOLDED levenshtein — the DP
    * early-exits down a `2*maxDist+1` band instead of filling the full
    * |a|×|b| matrix, so one degenerate long-text pair cannot stall a
    * task. Pairs above `maxDist` are dropped (the thresholded form
    * returns -1 for them).
    *
    * Output: (id_a, id_b, edit_distance). */
  def fuzzyPairs(
      pairs: DataFrame,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxDist: Int = 64): DataFrame = {
    require(maxDist >= 0, "maxDist must be >= 0")
    val txt = docs.select(col(idCol).as("__fid"), col(textCol).as("__ftx"))
    pairs
      .join(txt.select(col("__fid").as("id_a"), col("__ftx").as("__fa")),
        Seq("id_a"))
      .join(txt.select(col("__fid").as("id_b"), col("__ftx").as("__fb")),
        Seq("id_b"))
      .withColumn("edit_distance",
        levenshtein(col("__fa"), col("__fb"), maxDist).cast("long"))
      .filter(col("edit_distance") >= 0L)
      .select(col("id_a"), col("id_b"), col("edit_distance"))
  }

  /** Distinct within-bucket pairs (id_a < id_b) as BARE ID PAIRS, with a
    * per-bucket size cap to bound worst-case blowup. Payloads
    * (signatures, vectors) attach afterwards via [[withSigs]]: a pair can
    * match in up to `bands` buckets, so carrying payloads through the
    * pair join + distinct moves each one once per BUCKET HIT (and sorts
    * payload-fat rows in the join) — the ScaleProof 100× corpus OOM'd an
    * 8 GiB heap on exactly that shape; bare 16-byte pair rows sort and
    * spill trivially, and each payload then shuffles once per ID. */
  private def bucketPairs(
      banded: DataFrame,
      bucketCols: Seq[String],
      maxBucketSize: Int): DataFrame = {
    // bucket sizes via aggregate + join, NOT a window: a window cap sorts
    // each (band, bucket) partition in one task, and the degenerate hot
    // buckets this cap exists for are exactly the partitions that sort
    // slowest. The size frame is small (one row per bucket) and the join
    // is AQE-splittable. Measured on the 50k-doc smoke: simhash 94s → window
    // removed (see SCALING.md).
    val sizes = banded
      .groupBy(bucketCols.map(col): _*)
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") <= maxBucketSize)
      .drop("bucket_n")
    val capped = banded.join(sizes, bucketCols, "left_semi")

    val l = capped.select(bucketCols.map(col) :+ col("id").as("id_a"): _*)
    val r = capped.select(bucketCols.map(col) :+ col("id").as("id_b"): _*)

    l.join(r, bucketCols)
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
  }

  /** Attach each side's `sig` to an (id_a, id_b) pair frame from an
    * (id, sig) frame — the payload-rejoin half of [[bucketPairs]]. */
  private def withSigs(pairs: DataFrame, sigs: DataFrame): DataFrame =
    pairs
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")),
        Seq("id_a"))
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")),
        Seq("id_b"))

  // ------------------------------------------------------------------
  // Substring-level dedup: duplicated token SPANS across documents
  // ------------------------------------------------------------------

  /** Positional k-token window hashes of a text column:
    * `array<long>` where slot p = md5-32 of the space-joined tokens
    * [p, p+k) of the lower-cased whitespace tokenization. Engine-portable
    * (DuckDB: md5 over `array_to_string(list_slice(toks, p+1, p+k), ' ')`),
    * so span lanes can carry a full SQL oracle. Documents shorter than k
    * tokens get an empty array. Pure codegen'd Column — no explode of
    * text, no UDF. */
  def windowHashes(textCol: Column, k: Int): Column =
    windowHashesFromTokens(tokens(textCol), k)

  /** [[windowHashes]] over an already-computed token array column. Feed
    * an ATTRIBUTE (an aliased column from a previous select) when the
    * result participates in further per-element work: an inlined token
    * tree re-splits the text per window element (see the cdcChunks
    * HOF-eval note), an attribute is a row-field read. */
  def windowHashesFromTokens(toks: Column, k: Int): Column =
    when(size(toks) >= k,
      transform(sequence(lit(0), size(toks) - k),
        i => h32(concat_ws(" ", slice(toks, i + lit(1), lit(k))))))
      .otherwise(array().cast("array<bigint>"))

  /** Maximal duplicated token spans — the substring-level member of the
    * dedup family (the relational re-expression of suffix-array
    * duplicated-substring removal, Lee et al. ACL 2022, "Deduplicating
    * Training Data Makes Language Models Better"; reference has no
    * substring dedup — this is part of the LLM-pipeline surface).
    *
    * A position p of a document is duplicated when its k-token window
    * [p, p+k) also occurs in >= `minDocs` distinct documents (window
    * equality = [[windowHashes]]). Overlapping-or-adjacent duplicated
    * windows merge into maximal spans by gaps-and-islands over the
    * sorted positions — with a uniform k the `pos > lag(pos) + k` test
    * is exactly the interval-merge condition.
    *
    * Scale shape (the removeBoilerplateLines discipline): text is never
    * exploded or shuffled — only (id, pos, gh) tuples move. The
    * duplicated-gram set is a partial-aggregated groupBy on an 8-byte
    * key; a corpus-wide hot window (boilerplate sentence) fans out
    * linearly in its occurrence count, never quadratically. Span merge
    * shuffles one narrow row per duplicated window, partitioned by id.
    *
    * Output: (id, span_start, span_end, n_windows) — token indices into
    * the whitespace tokenization, end exclusive, one row per maximal
    * span. */
  def dupSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 50,
      minDocs: Long = 2L): DataFrame = {
    require(k >= 2, "window length below 2 degenerates to token counting")
    require(minDocs >= 2, "minDocs below 2 marks every position duplicated")
    val postings = spanPostings(docs, idCol, textCol, k)
    val dup = gramDocCounts(postings, idCol)
      .filter(col("nd") >= minDocs)
      .select("gh")
    spansFromPostings(postings, dup, idCol, k)
  }

  /** [[dupSpans]]'s inverted-index stage alone: the (id, pos, gh) k-token
    * window-hash postings of a corpus — the structure a production span
    * deduper PERSISTS between snapshots so the next crawl folds in
    * delta-bounded ([[Incremental.maintainDupSpans]]). */
  def spanPostings(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int): DataFrame =
    ensureParallelism(docs)
      .select(col(idCol),
        posexplode(windowHashes(col(textCol), k)).as(Seq("pos", "gh")))

  /** Distinct-document counts per window hash over a [[spanPostings]]
    * frame: (gh, nd) with nd ≥ 1 — the SECOND persisted artifact of the
    * incremental span pipeline (the fold needs singleton counts too:
    * a gram at nd=1 folding to nd=2 is exactly a dup-status flip). */
  def gramDocCounts(postings: DataFrame, idCol: String): DataFrame =
    postings.select(col(idCol), col("gh")).distinct()
      .groupBy("gh").agg(count(lit(1)).as("nd"))

  /** [[dupSpans]]'s merge stage alone: gaps-and-islands over the posting
    * positions whose gram is in `dup` (a (gh)-only frame). Shared by the
    * batch operator and the incremental maintenance so both compute the
    * SAME span geometry from one source. */
  def spansFromPostings(
      postings: DataFrame,
      dup: DataFrame,
      idCol: String,
      k: Int): DataFrame = {
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    postings.join(dup, "gh")
      .select(col(idCol), col("pos"))
      .withColumn("new_span",
        when(lag(col("pos"), 1).over(w).isNull
          || col("pos") > lag(col("pos"), 1).over(w) + k, 1).otherwise(0))
      .withColumn("span_id", sum(col("new_span")).over(w))
      .groupBy(col(idCol), col("span_id"))
      .agg(
        min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + k).cast("long").as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col(idCol), col("span_start"), col("span_end"),
        col("n_windows"))
  }

  /** Sorted-neighborhood candidate pairs (Hernández/Stolfo SIGMOD'95 —
    * the classic record-linkage blocking method next to LSH banding and
    * SimHash pigeonholing): records sort by a normalized key and every
    * pair within a sliding window of `w` ranks becomes a candidate.
    * This is the BLOCKED multi-pass variant: the sort key's first
    * `blockLen` chars form a block, ranking and the window stay inside
    * the block — the published recall trade (pairs straddling a block
    * boundary are missed; cf. sm01's one-assignment blocking note) that
    * makes the sort a partitioned window instead of a single-task
    * global sort.
    *
    * Key: the whitespace-collapsed lower-cased text's first `keyLen`
    * chars (explicit [ \t\n\x0B\f\r] class — Java and RE2 \s disagree
    * on \x0B). Pairs are canonicalized to id_a < id_b.
    *
    * Scale: one narrow (block, key-prefix, id) shuffle for the
    * partitioned ranking; the pair join exchanges (block, rank, id)
    * rows ×(w−1) — never text. A degenerate corpus sharing one block
    * serializes that block's sort: pick `blockLen` so blocks stay
    * bounded (the blocking-key choice is THE tuning knob of SNM).
    *
    * Output: (id_a, id_b, block) distinct candidate pairs. */
  def sortedNeighborhoodPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      keyLen: Int = 24,
      blockLen: Int = 8,
      w: Int = 4): DataFrame = {
    require(w >= 2, "window below 2 yields no pairs")
    require(blockLen >= 1 && blockLen <= keyLen,
      "blockLen must be within the key")
    val ranked = ensureParallelism(docs)
      .select(col(idCol).as("id"),
        substring(regexp_replace(trim(lower(col(textCol))),
          "[ \\t\\n\\x0B\\f\\r]+", " "), 1, keyLen).as("__key"))
      .withColumn("__block", substring(col("__key"), 1, blockLen))
      .withColumn("__rank", row_number().over(
        Window.partitionBy(col("__block")).orderBy(col("__key"), col("id"))))
    val left = ranked.select(col("__block"), col("__rank"), col("id"))
      .withColumn("__off", explode(sequence(lit(1), lit(w - 1))))
    val right = ranked.select(col("__block").as("__b2"),
      col("__rank").as("__rr"), col("id").as("__other"))
    left
      .join(right, col("__block") === col("__b2") &&
        col("__rank") + col("__off") === col("__rr"))
      .select(
        least(col("id"), col("__other")).as("id_a"),
        greatest(col("id"), col("__other")).as("id_b"),
        col("__block").as("block"))
      .dropDuplicates("id_a", "id_b")
  }

  /** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    * SIGMOD'03 — the MOSS algorithm): in every window of `w` consecutive
    * k-token window hashes, keep the window's MINIMUM hash; the distinct
    * kept values are the document's fingerprint set, and any two
    * documents sharing a token run of length ≥ w + k − 1 are guaranteed
    * to share at least one fingerprint. Density is ~2/(w+1) of the
    * hash stream — the published robustness/size dial.
    *
    * Selection is by VALUE minimum (position-free): equal minima within
    * a window are the same fingerprint value anyway, so the positional
    * tie-break of the paper changes nothing about the emitted SET, and
    * the SQL replay stays a plain `list_min`. Only full windows select
    * (documents with fewer than w window hashes emit nothing).
    *
    * Scale shape: selection is per-document, so it is ROW-LOCAL list
    * work inside the scan task (the cdcChunks staging discipline —
    * no (id, pos, hash) explode, no per-doc window sort, no distinct
    * shuffle; the first cut paid all three); what leaves the task is
    * the already-distinct (id, fp) rows. Output: (idCol, fp: long),
    * distinct per document. */
  def winnowingFingerprints(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 4,
      w: Int = 4): DataFrame = {
    require(k >= 2, "window length below 2 degenerates to token counting")
    require(w >= 1, "winnowing window must be at least 1")
    val staged = ensureParallelism(docs)
      .select(col(idCol), tokens(col(textCol)).as("__toks"))
      .select(col(idCol), windowHashesFromTokens(col("__toks"), k).as("__wh"))
    val wh = col("__wh")
    val fps = when(size(wh) >= w,
      array_distinct(transform(sequence(lit(0), size(wh) - w),
        p => array_min(slice(wh, p + 1, lit(w))))))
      .otherwise(array().cast("array<bigint>"))
    staged.select(col(idCol), explode(fps).as("fp"))
  }

  /** Cross-document shared-fingerprint counts over
    * [[winnowingFingerprints]] — the MOSS similarity report. Pairing is
    * an inverted-index join on the fingerprint value with the dc01 hot-
    * posting discipline: a fingerprint shared by more than
    * `maxPostingLength` documents is dropped from pairing (a corpus-wide
    * boilerplate fingerprint would otherwise fan out quadratically);
    * singleton postings are pruned before the join (they cannot pair).
    * Output: (id_a, id_b, n_shared) with id_a < id_b and
    * n_shared ≥ `minShared`. */
  def winnowingPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 4,
      w: Int = 4,
      minShared: Long = 2L,
      maxPostingLength: Int = 1000): DataFrame =
    winnowingPairCounts(
      winnowingFingerprints(docs, idCol, textCol, k, w)
        .select(col(idCol).as("id"), col("fp")),
      "id", maxPostingLength)
      .filter(col("n_shared") >= minShared)

  /** [[winnowingPairs]]' inverted-index join alone, UNFILTERED
    * (n_shared ≥ 1), over an already-computed (idCol, fp) fingerprint
    * frame — the pair-count table an incremental winnowing pipeline
    * persists between snapshots ([[Incremental.maintainWinnowingPairs]]
    * folds per-fingerprint contributions additively, so the state must
    * keep the sub-threshold counts the batch operator's `minShared`
    * filter would discard). Usability gating (posting length in
    * [2, maxPostingLength]) is computed over the frame as given — pass
    * the FULL corpus fingerprints (or an fp-complete semi-join slice:
    * restricting by fp keeps every holder of a kept fp, so posting
    * lengths stay exact). */
  def winnowingPairCounts(
      fp: DataFrame,
      idCol: String,
      maxPostingLength: Int = 1000): DataFrame = {
    val usable = fp.groupBy("fp").agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= 2 && col("__n") <= maxPostingLength)
      .select("fp")
    val capped = fp.join(usable, Seq("fp"), "left_semi")
    capped.select(col("fp"), col(idCol).as("id_a"))
      .join(capped.select(col("fp"), col(idCol).as("id_b")), Seq("fp"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
  }

  /** Content-defined chunking (CDC): variable-length chunk boundaries
    * wherever the k-token window hash ≡ 0 (mod `divisor`) — the
    * rsync/LBFS technique re-expressed relationally. Unlike a
    * fixed-stride chunker ([[graft.operators.Chunking]]), a token
    * inserted early in a document shifts only its OWN chunk's
    * fingerprint: every later boundary re-synchronizes, which is what
    * makes CDC fingerprints usable for cross-snapshot/cross-crawl block
    * dedup. Expected chunk length is `divisor` tokens.
    *
    * Boundary rule: 0-based token position p ≥ 1 starts a new chunk
    * when `h32(window[p, p+k)) % divisor == 0` (positions within k of
    * the end have no window and never start a chunk); position 0 is
    * always a chunk start. A document shorter than 2 tokens is one
    * chunk; an empty/whitespace document yields no rows. The chunk
    * fingerprint is md5-60 of the space-joined lower-cased chunk
    * tokens ([[graft.functions.PortableHash.h60]] — 32 bits would
    * birthday-collide at corpus scale), so everything replays exactly
    * in SQL.
    *
    * Scale shape: boundaries, slices, and fingerprints are pure Column
    * array ops inside the scan task — chunk TEXT never leaves it; only
    * (id, chunk_idx, chunk_start, n_tokens, chunk_h) rows emerge, and
    * any downstream dedup is a partial-aggregated groupBy on the 8-byte
    * fingerprint.
    *
    * Output: one row per chunk, (idCol, chunk_idx: long, chunk_start:
    * long, n_tokens: long, chunk_h: long), chunk_start in token
    * indices. */
  def cdcChunks(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 4,
      divisor: Long = 16L): DataFrame = {
    require(k >= 2, "window length below 2 degenerates to token counting")
    require(divisor >= 2L, "divisor below 2 makes every position a boundary")
    // HOF-eval discipline (the dc02 generator-inlining trap's interpreted
    // cousin), two rules learned the hard way here:
    //   1. a lambda that CAPTURES an array-building tree re-evaluates
    //      that whole tree per element (HOFs are interpreted, no CSE) —
    //      nesting three of those was O(n³)/doc and hung the sf0.1
    //      ScaleProof 1× point. Arrays an element needs arrive as HOF
    //      ARGUMENTS (zip-with-positions), evaluated once.
    //   2. even ONE captured non-trivial tree per element is O(n)×cost:
    //      the per-chunk token slice over an inlined tokens(text) tree
    //      re-split the text per chunk (152 s at the 100× point). So the
    //      token and window-hash arrays are staged as ALIASED COLUMNS in
    //      separate selects: CollapseProject keeps a non-cheap alias
    //      referenced more than once in its own projection, making every
    //      lambda reference a row-field read.
    val staged = ensureParallelism(docs)
      .select(col(idCol), tokens(col(textCol)).as("__toks"))
      .select(col(idCol), col("__toks"),
        windowHashesFromTokens(col("__toks"), k).as("__wh"))
    val toks = col("__toks")
    // boundary = window slot p >= 1 whose hash ≡ 0 (mod divisor); slots
    // run 0..n-k so positions within k of the end never start a chunk
    val bs = transform(
      filter(
        zip_with(col("__wh"),
          sequence(lit(0), greatest(size(col("__wh")), lit(1)) - 1),
          (h, p) => struct(h.as("h"), p.as("p"))),
        s => s.getField("p") >= 1 &&
          s.getField("h") % lit(divisor) === 0L),
      s => s.getField("p"))
    val starts = concat(array(lit(0)), bs)
    val ends = concat(bs, array(size(toks)))
    val chunks =
      transform(
        zip_with(starts, ends, (s, e) => struct(s.as("s"), e.as("e"))),
        (se, i) =>
          struct(
            i.cast("long").as("chunk_idx"),
            se.getField("s").cast("long").as("chunk_start"),
            (se.getField("e") - se.getField("s")).cast("long")
              .as("n_tokens"),
            graft.functions.PortableHash.h60(
              concat_ws(" ", slice(toks, se.getField("s") + 1,
                se.getField("e") - se.getField("s"))))
              .as("chunk_h")))
    // a blank document tokenizes to [""] (split of the empty string) in
    // every engine — exclude it rather than emit a chunk of no tokens
    val nonBlank =
      size(toks) > 1 || (size(toks) === 1 && element_at(toks, 1) =!= "")
    staged
      .select(col(idCol),
        explode(when(nonBlank, chunks).otherwise(array().cast(
          "array<struct<chunk_idx:bigint,chunk_start:bigint," +
            "n_tokens:bigint,chunk_h:bigint>>"))).as("c"))
      .select(col(idCol), col("c.chunk_idx"), col("c.chunk_start"),
        col("c.n_tokens"), col("c.chunk_h"))
  }

  /** Rewrites each document with its [[dupSpans]] removed: tokens whose
    * index falls inside any duplicated span are dropped, the rest are
    * re-joined with single spaces. Matching is case-insensitive (the
    * window hash lower-cases) but the rebuild keeps the ORIGINAL token
    * case — only documents that actually contain a span are rewritten
    * at all, and for those, inter-token whitespace is normalized to
    * single spaces (token-level rebuild, as in the suffix-array
    * formulation). Unaffected documents pass through byte-identical. */
  def removeDupSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 50,
      minDocs: Long = 2L): DataFrame =
    removeSpansFrame(docs, dupSpans(docs, idCol, textCol, k, minDocs),
      idCol, textCol)

  /** [[removeDupSpans]] over a PRECOMPUTED [[dupSpans]] frame: a caller
    * that also consumes the span table itself (sd02 projects the
    * affected ids from it) computes the narrow, posting-build-expensive
    * spans ONCE and feeds both consumers — inlined, each consumer re-ran
    * the full (id, pos, gh) posting build. Identical rewrite semantics:
    * this IS [[removeDupSpans]]'s body, with the spans input lifted. */
  def removeSpansFrame(
      docs: DataFrame,
      dupSpansDf: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    require(!docs.columns.contains("graft_spans"),
      "input already has a graft_spans column")
    val spans = dupSpansDf
      .groupBy(col(idCol))
      .agg(collect_list(
        struct(col("span_start"), col("span_end"))).as("graft_spans"))
    // raw split (same element count as tokens(): lower() never changes
    // whitespace) so the rebuild preserves case
    val rawToks = split(trim(col(textCol)), "\\s+")
    val kept = filter(rawToks, (_, i) =>
      !exists(col("graft_spans"), s =>
        i.cast("long") >= s.getField("span_start")
          && i.cast("long") < s.getField("span_end")))
    docs
      .join(spans, Seq(idCol), "left_outer")
      .withColumn(textCol,
        when(col("graft_spans").isNull, col(textCol))
          .otherwise(concat_ws(" ", kept)))
      .drop("graft_spans")
  }

  /** Remove every repeated line occurrence except the globally FIRST one
    * (min (id, pos) across the corpus) — the CCNet-style paragraph-level
    * exact dedup (Wenzek et al. LREC 2020 dedups paragraphs by hash
    * keeping one copy), the keep-first counterpart of
    * [[CorpusStats.removeBoilerplateLines]]'s remove-everywhere rule.
    * Returns the input with `textCol` rewritten; other columns pass
    * through. `idCol` must be orderable (the ownership tie-break).
    *
    * Lines shorter than `minChars` are exempt (pass through untouched):
    * without the floor, structural short lines — blanks, separators,
    * "Introduction" — would collapse to their first corpus occurrence.
    *
    * Shape (the [[CorpusStats.removeBoilerplateLines]] discipline): only
    * (id, pos, 8-byte line hash) tuples shuffle; ownership is ONE
    * partial-aggregable min per hash; the duplicated-hash set is small
    * whenever dup rate is low, so the per-doc removal lists broadcast
    * under AQE, and document text moves once, through the final
    * doc-granular left join against ONLY the affected docs. Line
    * splitting accepts CRLF; rejoining normalizes endings to `\n`. */
  def dedupLinesKeepFirst(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minChars: Int = 10): DataFrame = {
    require(minChars >= 1, "minChars must be >= 1")
    require(!docs.columns.contains("graft_drop_pos"),
      "input already has a graft_drop_pos column")
    val lineHashes = docs.select(
      col(idCol),
      posexplode(split(col(textCol), "\r?\n")).as(Seq("pos", "line")))
      .filter(length(col("line")) >= minChars)
      .select(col(idCol), col("pos"), xxhash64(col("line")).as("lh"))
    // owner = lexicographic-min (id, pos); n > 1 keeps only hashes that
    // actually repeat, so `owners` is duplicate-bounded, not corpus-bounded
    val owners = lineHashes
      .groupBy(col("lh"))
      .agg(min(struct(col(idCol), col("pos"))).as("owner"),
        count(lit(1)).as("n"))
      .filter(col("n") > 1)
      .select(col("lh"), col("owner"))
    val dropPos = lineHashes.join(owners, "lh")
      .filter(!(col(idCol) === col("owner")(idCol) &&
        col("pos") === col("owner")("pos")))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("pos"))).as("graft_drop_pos"))
    val lines = split(col(textCol), "\r?\n")
    val kept = filter(lines, (_, i) => !array_contains(col("graft_drop_pos"), i))
    docs
      .join(dropPos, Seq(idCol), "left_outer")
      .withColumn(
        textCol,
        when(col("graft_drop_pos").isNull, col(textCol))
          .otherwise(concat_ws("\n", kept)))
      .drop("graft_drop_pos")
  }

  /** Streaming twin of [[dedupLinesKeepFirst]]: first-owner = first
    * ARRIVAL over watermarked state. Lines explode with their document's
    * event time; dedup-eligible lines (≥ minChars) key on a content hash
    * and pass `dropDuplicatesWithinWatermark` — the first arrival owns
    * the hash, later occurrences drop; short lines carry an
    * occurrence-unique, domain-separated key so they always survive.
    * Surviving lines reassemble per (doc, tumbling window) in position
    * order.
    *
    * State bound (documented): one row per DISTINCT line hash inside the
    * watermark horizon (8-byte key + event time — duplicate-domain, not
    * corpus-domain) plus one open group per (doc, window) until the
    * watermark closes it.
    *
    * Semantics vs batch: batch ownership is lexicographic-min (id, pos);
    * streaming ownership is arrival order — identical when docs arrive
    * in id order across micro-batches. Duplicates WITHIN one micro-batch
    * keep one arbitrary occurrence (same content, possibly a different
    * position than batch would keep); a document whose EVERY line was
    * owned earlier emits no row at all (batch emits it with empty
    * text); and NULL text emits as empty text (nulls coalesce to ""
    * before the line explode — batch preserves the null) — the
    * documented stream/batch divergences, same class as
    * `curateStream`'s.
    *
    * Input contract (pinned like the divergences above): each document
    * must arrive EXACTLY ONCE — i.e. feed an exactly-once source or
    * pre-dedup on a unique (id, ts). Under at-least-once re-delivery a
    * re-delivered doc's short lines hash to the SAME occurrence keys
    * (id, pos, line) and its long lines to the same content keys, so
    * `dropDuplicatesWithinWatermark` swallows the whole second copy —
    * its (doc, window) group then silently merges into (or, if every
    * line was swallowed, vanishes from) the first delivery's output
    * rather than surfacing the duplicate delivery.
    *
    * Output (append mode): (idCol, window, textCol) — one row per doc
    * once its window expires. */
  def dedupLinesKeepFirstStream(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      tsCol: String,
      watermark: String = "1 hour",
      windowDur: String = "10 minutes",
      minChars: Int = 10): DataFrame = {
    require(minChars >= 1, "minChars must be >= 1")
    val lines = docs
      .withWatermark(tsCol, watermark)
      // coalesce: posexplode(split(null)) would emit zero rows and
      // silently DROP the document; "" explodes to one short (always
      // kept) empty line, so the doc still emits when its window closes
      .select(col(idCol), col(tsCol),
        posexplode(split(coalesce(col(textCol), lit("")), "\r?\n"))
          .as(Seq("pos", "line")))
      .select(col(idCol), col(tsCol), col("pos"), col("line"),
        when(length(col("line")) >= minChars,
          xxhash64(lit("c"), col("line")))
          .otherwise(xxhash64(lit("u"), col(idCol).cast("string"),
            col("pos"), col("line"))).as("__lh"))
    lines
      .dropDuplicatesWithinWatermark("__lh")
      .groupBy(col(idCol), window(col(tsCol), windowDur))
      .agg(concat_ws("\n", transform(
        array_sort(collect_list(struct(col("pos"), col("line")))),
        s => s.getField("line"))).as(textCol))
  }

  /** Soft deduplication: instead of DROPPING near-duplicates, weight
    * every document by the inverse of its near-dup cluster size (the
    * "soft dedup" sampling correction — e.g. SoftDeDup, She et al. 2024;
    * D4, Tirumala et al. 2023 reweight rather than discard) so a
    * down-stream sampler sees each duplicated CONTENT once in
    * expectation while keeping all copies available.
    *
    * Output: (idCol, cluster_size, weight_micro) for EVERY input
    * document — unclustered docs get size 1 / weight 1,000,000; members
    * of a k-cluster get `1000000 DIV k` (exact integer floor, replayable
    * anywhere). Clusters come from [[nearDupResolve]] (LSH candidates →
    * exact-Jaccard confirm → transitive star CC), so this adds NO
    * shuffle beyond that pipeline's: sizes aggregate over the id-keyed
    * cluster frame (duplicate-bounded), and the corpus-side join moves
    * only ids — the weights attach to whatever payload the caller keeps
    * by `idCol`. */
  def softDedupWeights(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.8,
      nGram: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      maxBucketSize: Int = 1000,
      portable: Boolean = false): DataFrame = {
    val clusters = nearDupResolve(docs, idCol, textCol, threshold, nGram,
      numHashes, bands, maxBucketSize, portable)
    val sizes = clusters.groupBy(col("keep_id"))
      .agg(count(lit(1)).cast("long").as("graft_csize"))
    val membership = clusters.join(sizes, "keep_id")
      .select(col("id").as(idCol), col("graft_csize"))
    docs.select(col(idCol))
      .join(membership, Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("graft_csize"), lit(1L)).as("cluster_size"))
      .withColumn("weight_micro",
        call_function("div", lit(1000000L), col("cluster_size")))
  }
}
