package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{CorpusStats, Curation, Dedup, Sampling, Similarity}

/** Scale-proof harness for the dedup/ANN/curation family: runs every
  * operator at 1× (the sf0.1 tables: 5k docs / 2k vectors) and at 10×
  * (50k docs / 20k vectors) and prints measured per-operator evidence:
  *
  *   - total shuffle WRITE bytes and the largest single stage's bytes
  *     (the quantity that must grow ~linearly, not quadratically);
  *   - task skew: max task duration / median task duration over the
  *     operator's stages (a hot bucket/key serializing shows up here);
  *   - wall time and output rows.
  *
  * The 10× corpus is deliberately adversarial, not uniform:
  *   - SKEWED DUP CLUSTERS: every 100th base doc spawns 109 near-dup
  *     variants (50 hot clusters), the rest spawn 9 — cluster-size skew
  *     that hammers LSH buckets and cluster resolution;
  *   - HOT SHINGLES: ~a third of all docs share one boilerplate sentence,
  *     so its shingles' posting lists cover ~17k docs — far past
  *     `maxPostingLength`/`maxBucketSize`, exercising the caps;
  *   - embeddings: 10 deterministic small perturbations per base vector —
  *     dense near-dup clusters for the vector lanes.
  *
  * Run: Test/runMain graft.ScaleProof  (writes the table to stdout; the
  * measured numbers are recorded in SCALING.md §Measured evidence)
  */
object ScaleProof {

  final case class OpStats(
      name: String, scale: String, rows: Long, wallSec: Double,
      shuffleMiB: Double, maxStageMiB: Double, taskSkew: Double, tasks: Int)

  /** Bump when the 10× corpus GENERATOR changes layout: `--reuse` only
    * trusts an on-disk corpus whose marker matches, so a stale corpus
    * from an older build can't silently invalidate a lane's numbers. */
  val CorpusLayoutVersion = 3

  /** Shuffle-growth ceilings at 10×, from SCALING.md's committed measured
    * table (round 4) plus ~50% headroom for run noise. A refactor that
    * regresses a lane past its ceiling fails the run. `ratioCeil` bounds
    * shuffle(10×)/shuffle(1×); when the 1× lane is ~zero-shuffle the
    * ratio is meaningless and `absCeilMiB` bounds the 10× bytes instead.
    * `skewCeil` bounds max/median task duration within the worst
    * substantial stage at 10× (measured ≤ 5.3 everywhere except ann02's
    * driver-head probe stages, measured 16). */
  final case class Bounds(ratioCeil: Double, skewCeil: Double, absCeilMiB: Double = 8.0)
  val bounds: Map[String, Bounds] = Map(
    "dd01_minhash" -> Bounds(10, 8),    // measured 6.2x (id-pair refactor)
    "dd02_simhash" -> Bounds(24, 8),    // measured 15x (id-pair refactor)
    "dd03_ngram" -> Bounds(12, 8),      // measured 7.6x (prefix-filtered)
    "dd04_embdup" -> Bounds(25, 8),     // measured 15x (was 67x pre-refactor)
    "dd04_embdup_q8" -> Bounds(25, 8),  // measured 15x
    "ann01_lsh" -> Bounds(5, 8),        // zero-shuffle at any scale
    "ann02_ivf" -> Bounds(20, 24),      // measured 11x / skew 16
    "ann03_knn" -> Bounds(50, 8),       // measured 33x (id-pair refactor)
    "ann03_knn_q8" -> Bounds(50, 8),    // measured 33x
    "dc01_contain" -> Bounds(5, 8),     // measured 2.8x (prefix-filtered)
    "dc02_bloom" -> Bounds(5, 8),       // fixed eval side: measured 0.2x (sub-linear)
    "hh01_heavy" -> Bounds(10, 8),      // ~zero-shuffle: candidate recount only
    "lm01_surprisal" -> Bounds(25, 8),  // measured 16x
    "ti01_tfidf" -> Bounds(32, 8),      // measured 21x
    "bp01_boiler" -> Bounds(25, 8),     // measured 15x
    "bp02_rmlines" -> Bounds(30, 8),    // measured 19x
    "sd01_spans" -> Bounds(25, 8),      // measured 15.7x
    "sd02_rmspans" -> Bounds(20, 8),    // measured 12.3x
    "ms01_mixsample" -> Bounds(15, 8),  // measured 9.4x (fixed cost only)
    "cu01_curate" -> Bounds(30, 8),     // measured 19x (id-pair refactor)
    "dd05_resolve" -> Bounds(22, 8),    // measured 13.9x
    "sp03_shards" -> Bounds(20, 8),     // measured 13.1x (fixed cost only)
    "qs01_select" -> Bounds(25, 8),     // measured 17.6x of a ~0 base (0.2 MiB)
    "me01_embed" -> Bounds(25, 8),      // measured 16.6x of 1.6 MiB (slot bags)
    // round-8 third-sitting lanes
    "cd01_cdc" -> Bounds(6, 8),         // measured 3.2x (8-byte-key agg only)
    "fp01_winnow" -> Bounds(26, 8),     // measured 16.4x of 2.6 MiB (answer-bound: 308->572k pairs; row-local selection shrank the base)
    "id01_incr" -> Bounds(10, 8),       // measured 5.8x (fixed incoming batch)
    "nb01_nbayes" -> Bounds(52, 8),     // measured 34.9x of 2.8 MiB CONSUMED (r9: action sums nll_micro; byte ratio is compression-dominated — rows grow 11x, see PLANS.md r9)
    "km01_kmeans" -> Bounds(10, 8),     // ~zero-shuffle: k x dim partial buffers only
    "bm01_bm25" -> Bounds(5, 8),        // ZERO shuffle: row-local tf/len + scalar aggs
    "sn01_snm" -> Bounds(5, 8),         // measured 2.7x (narrow rank rows, window-bounded pairs)
    // round-9 lanes (SCALING.md round-9 addendum)
    "pd01_keepfirst" -> Bounds(31, 8),  // measured 20.6x of 0.1 MiB (dup-bounded owner frames)
    "sw01_softdedup" -> Bounds(22, 8),  // measured 14.6x (dd05's pipeline + id-only joins)
    "ds01_dsir" -> Bounds(3, 8),        // measured 0.5x SUB-linear (r9 literal-LUT scoring: docs-bounded agg + 256-key model aggs)
    "ng01_novelty" -> Bounds(16, 8),    // measured 10.7x (60-bit hash rows, map-side combined)
    "cm01_confusion" -> Bounds(52, 8),  // measured 34.9x ≡ consumed nb01 (report adds ~0)
    "sp06_strat" -> Bounds(19, 8),      // measured 12.7x of 0.1 MiB (narrow rank rows)
    "pq01_pq_encode" -> Bounds(10, 8),  // ~zero-shuffle: m cell-keyed codebook aggs only
    "jl01_project" -> Bounds(5, 8),     // ZERO shuffle: literal-matrix projection
    "pq02_adc" -> Bounds(10, 8),        // ~zero-shuffle: training aggs + TakeOrdered
    "dr01_psi" -> Bounds(10, 8),        // bucket-domain count aggs only
    "tf01_fertility" -> Bounds(10, 8),  // lang-domain agg only
    "ks01_ks" -> Bounds(10, 8),         // value-domain aggs + bounded window
    "en01_entropy" -> Bounds(40, 8),    // vocab-bounded (group, token) counts
    // round-9 portable-sketch / filter / tokenizer lanes: all sketch- or
    // vocab-domain aggregations — measured ~ZERO shuffle at 1x AND 10x
    // (abs ceiling binds; the ratio is 0/0)
    "hl01_hll" -> Bounds(5, 8),         // 2^p-domain register max-agg
    "kv01_kmv" -> Bounds(5, 8),         // vocab-domain distinct + TakeOrdered(k)
    "cs01_countmin" -> Bounds(5, 8),    // d*w-domain cell counts
    "gq01_gopher" -> Bounds(5, 8),      // row-local: zero shuffle by construction
    "pc01_bpe" -> Bounds(5, 8),         // vocab-domain counts; pairs over vocab only
    "vg01_heaps" -> Bounds(5, 8),       // vocab + bucket domain aggs only
    "ce01_charent" -> Bounds(5, 8),     // row-local: ZERO shuffle by construction
    "xs01_xsource" -> Bounds(25, 8),    // (gram, source) distinct rows: 8.2x
    "g14_linkpred" -> Bounds(40, 8),    // measured 26.8x — ANSWER-bound: the 10x hot dup clusters are near-cliques, so the link-prediction answer itself grows ~cluster_size^2 (rows 39 -> 15.8M); the 64-neighbor cap bounds per-center work
    // round-10 lanes
    "g13_closeness" -> Bounds(25, 8),   // measured 15.4x (2.9 -> 44.7): candidate graph + per-level forward-BFS join frames
    "pc02_bpe_encode" -> Bounds(21, 8), // measured 13.2x (7.3 -> 96.5): the (id, pos, pieces) reassembly frame ~ corpus token volume — the documented trade vs the zero-shuffle row-local encoder
    "ss01_srcjaccard" -> Bounds(5, 8),  // ~zero-shuffle: vocab-domain distinct + k-bounded pair frames (0.0 -> 0.3 MiB)
    "ct01_containment" -> Bounds(5, 8), // identical frames to ss01 (0.0 -> 0.3 MiB)
    "qd01_quantiles" -> Bounds(5, 8),   // ZERO shuffle: bin-domain count agg + bounded cumulative window
    // round-11 URL front-door lanes: both ~zero-shuffle — map-side
    // min/count partials collapse to the bounded URL/domain key domain
    "url02_urldedup" -> Bounds(5, 8),   // measured 0.0 -> 0.1 MiB
    "url03_domaincap" -> Bounds(8, 8),  // measured 0.0 -> 0.4 MiB (narrow rank rows)
    // round-12: acquire tail (cap -> mix) — rank rows + id-only join +
    // domain agg, all k-/domain-bounded like url03; measured 0.0 -> 0.4
    // MiB at 1x/10x with the hot domain at 1/3 of corpus, skew 1.6
    "wp02_capmix" -> Bounds(8, 8),
    "lq01_langquality" -> Bounds(5, 8), // ZERO shuffle: lang x bin domain aggs
    // round-12 lanes
    "lm03_backoff" -> Bounds(22, 8),    // measured 14.3x (4.1 -> 58.4): the (doc, bigram) count agg, like lm01/lm02
    "zo01_zorder" -> Bounds(5, 8),      // ZERO shuffle: scan-local bit math + 16-bucket agg
    "c402_blocklist" -> Bounds(5, 8),   // ZERO shuffle: row-local contains() chain
    "cd02_diff" -> Bounds(19, 8),       // measured 12.1x (0.4 -> 4.3): (id, md5) full-outer join, linear
    "lm04_pplbuckets" -> Bounds(32, 8), // measured 21x (1.6 -> 33.6): lm01's surprisal aggs + bin-domain counts
    "cm02_calibration" -> Bounds(36, 8), // measured 23.7x (2.2 -> 52.1): nb01's candidate frames + bounded per-doc collect
    "ch01_turnstats" -> Bounds(5, 8),   // ZERO shuffle: row-local turn parsing
    "ch02_promptdedup" -> Bounds(5, 8), // measured ~0 -> 0.2 MiB: distinct-prompt digest agg
    "ch03_renderspans" -> Bounds(5, 8), // ZERO shuffle: row-local render + map-local explode
    "pk02_padding" -> Bounds(22, 8),    // measured 14.1x (0.2 -> 2.5): narrow rank rows under two orderings
    "mw03_mixsolve" -> Bounds(5, 8),    // ~ZERO shuffle: source-domain token agg only
    "ch04_sftpipe" -> Bounds(18, 8),    // measured 11.9x (0.1 -> 1.1): prompt-digest agg + id-only joins
    "zo02_pruning" -> Bounds(5, 8),     // ZERO shuffle: two 16-bucket aggs (0.0 at 1x/10x)
    // round-13 lanes
    "ch05_packspans" -> Bounds(19, 8),  // measured 12.4x (0.1 -> 1.6): narrow span rows to the pack-group exchange, text never moves
    "rb03_fetchsched" -> Bounds(11, 8), // measured 0.0 -> 0.7: per-doc verdict agg into the bounded domain key space
    "wp05_incr" -> Bounds(5, 8),        // measured 0.0 -> 0.2: delta broadcasts into the anti/semi joins; only the prior-election setup agg exchanges
    "url06_incrcap" -> Bounds(5, 8),    // measured 0.0 -> 1.0: prior-sample setup windows + touched-domain re-rank (both k-bounded)
    "mw04_incrmix" -> Bounds(5, 8),     // measured 0.0 -> 0.0: the additive fold — departed/delta rows alone aggregate into the domain key space
    "ch07_packshards" -> Bounds(18, 8), // measured 11.9x (0.1 -> 1.7): ch05's linear span rows + numGroups-bounded bin windows
    // round-14 incremental posting/index lanes (state setup measured
    // in-lane — in production the prior frames are table reads)
    "sd03_incrspans" -> Bounds(20, 10), // measured 12.4x (11.7 -> 144.6): ~linear postings/counts setup + answer-bound spans on the dup-heavy corpus; skew 6.3 (hot-gram re-merge)
    "fp02_incrwinnow" -> Bounds(65, 8), // measured 42x (3.1 -> 130.5): ANSWER-bound like fp01 — the unfiltered pair table IS the answer (15.6k -> 12.3M pairs on near-clique variants)
    "ann04_incrivf" -> Bounds(17, 8),   // measured 10.5x (0.5 -> 5.6): the prior-assignment setup agg is the only corpus-wide exchange; the maintenance argmax is delta-broadcast
    "bm02_incrbm25" -> Bounds(45, 8),   // measured 28.1x of a 0.1 MiB base (map-side-combined (term, id) postings — the one token-stream exchange indexing pays; query reads stay term-bounded)
    "hn01_batchbm25" -> Bounds(22, 8),  // measured 15.8x (2.4 -> 38.3): linear index build + the queries x corpus scored product on the 31-token adversarial vocabulary (the query set itself grows ~10x); skew 1.2
    "pp01_prefpairs" -> Bounds(5, 8),   // ~zero-shuffle: one (group, score, id) struct-min/max agg, group-domain rows out
    "hl04_groupedhll" -> Bounds(5, 8),  // ~zero-shuffle: (group x 2^p)-domain register agg, map-side combined
    "hl05_incrgrouped" -> Bounds(25, 8), // measured 16.4x (1.0 -> 16.2): the per-doc grouped contribution frame is the price of removability (hl03's story, group-keyed); skew 2.6
    "dc03_incrdecon" -> Bounds(32, 8),  // measured 21x (5.8 -> 122.3): ANSWER-bound — the hot boilerplate shingle links the fixed test split to ~every variant doc (inter rows 276k -> 3M); the fold itself is touched-shingle-bounded
    "ann05_incrknn" -> Bounds(200, 8),  // measured 133x (1.1 -> 152.4): ANSWER-bound — 10 perturbation variants/vector make the pair index ~cluster-squared (ann03's own knnJoin measured 33x on the same corpus; this lane builds prior+next pair frames AND the fold)
    // round-14 fourth-sitting lanes (sketch/index maintenance)
    "id02_incrindex" -> Bounds(32, 8),  // measured 20.3x (1.4 -> 28.8): linear sig/index setup + touched-bucket re-caps on the hot-cluster corpus; skew 1.9
    "hl03_incrhll" -> Bounds(45, 8),    // measured 29.5x of a 0.8 MiB base (23.9): the per-doc contribution frame is the price of removability — rows ~ docs x covered buckets (<= 64/doc), longer 10x variants cover more buckets; skew 2.7
    "cs03_incrcm" -> Bounds(190, 8))    // measured 126x of a 0.2 MiB base (25.5): contribution frame ~linear in token volume (occurrences 1.07M -> 12.1M = 11.3x); the tiny 1x base is map-side-collapsed partials, not a smaller structure; skew 1.5

  /** 10×→100× ceilings for the lanes the `--x100` subset measures (same
    * ~1.6× margin over the committed SCALING.md third-point table). The
    * pair lanes' growth is answer-bound on this corpus — every base doc
    * gains ~100 confirmed near-dups at 100× — hence the large but
    * committed ratios. */
  val bounds100: Map[String, Bounds] = Map(
    "dd01_minhash" -> Bounds(450, 8),   // measured 290x (answer grew ~100x)
    "cu01_curate" -> Bounds(160, 8),    // measured 100x (pair-bound)
    "sd01_spans" -> Bounds(20, 8),      // measured 12.9x
    "qs01_select" -> Bounds(8, 8),      // measured 2.8x of a ~0 base
    "sp03_shards" -> Bounds(10, 8),     // measured 6.4x
    "me01_embed" -> Bounds(16, 8),      // measured 10.9x (dim-bounded bags)
    "dc02_bloom" -> Bounds(25, 8),      // measured 16.6x of 0.2 MiB (answer-bound)
    "hh01_heavy" -> Bounds(8, 8),       // measured 3.1x of 0.2 MiB
    // round-8 third-sitting third points
    "cd01_cdc" -> Bounds(16, 8),        // measured 10.3x (linear)
    "id01_incr" -> Bounds(26, 8),       // measured 16.5x (answer-bound probe hits)
    "nb01_nbayes" -> Bounds(16, 8),     // measured 10.4x CONSUMED (r9 action; exactly linear)
    "fp01_winnow" -> Bounds(150, 8),    // measured 91.4x (answer grew 50x: 572k->28.7M pairs; pair join is ~all that shuffles now)
    // round-9 third points
    "cm01_confusion" -> Bounds(16, 8),  // measured 10.4x (linear; ≡ consumed nb01)
    "ds01_dsir" -> Bounds(12, 8),       // measured 7.3x of 0.8 MiB (literal-LUT scoring)
    "ng01_novelty" -> Bounds(25, 8),    // measured 16.2x (hash-frame + answer growth)
    "pd01_keepfirst" -> Bounds(100, 8), // measured 65.1x of 1.8 MiB (answer-bound: 100x variants repeat base docs' lines wholesale, so the dup-owner and removal frames approach corpus size — the worst case the operator is shaped for)
    // round-10 third points: the sketch/stat family stays ~zero-shuffle
    // at 550k docs (abs ceiling binds where the 10x base is ~0)
    "dr01_psi" -> Bounds(5, 8),         // 0.0 -> 0.0 MiB
    "tf01_fertility" -> Bounds(5, 8),   // 0.0 -> 0.0 MiB
    "ks01_ks" -> Bounds(4, 8),          // measured 1.5x (0.4 -> 0.6)
    "en01_entropy" -> Bounds(5, 8),     // measured 3.0x (0.4 -> 1.2)
    "hl01_hll" -> Bounds(5, 8),         // 0.0 -> 0.0 MiB
    "kv01_kmv" -> Bounds(6, 8),         // measured 3.0x of 0.1 MiB
    "cs01_countmin" -> Bounds(3, 8),    // measured 1.0x (0.2 -> 0.2)
    "gq01_gopher" -> Bounds(5, 8),      // 0.0 -> 0.0 MiB (row-local)
    "pc01_bpe" -> Bounds(8, 8),         // measured 4.0x of 0.1 MiB
    "vg01_heaps" -> Bounds(5, 8),       // measured 2.7x (0.6 -> 1.6)
    "ce01_charent" -> Bounds(5, 8),     // 0.0 -> 0.0 MiB (row-local)
    "xs01_xsource" -> Bounds(8, 8),     // measured 4.3x (37 -> 160): SUB-linear
    "sp06_strat" -> Bounds(8, 8),       // measured 4.9x (1.3 -> 6.4): SUB-linear
    "pc02_bpe_encode" -> Bounds(16, 8), // measured 9.6x (96.5 -> 927.8): ~linear reassembly frame
    "g14_linkpred" -> Bounds(130, 8),   // measured 82.1x (95.9 -> 7875) — ANSWER-bound: 100x near-cliques are 1100 nodes, answer rows 15.8M -> ~1.1B; skew 3.6 (cap keeps per-center work bounded)
    "g13_closeness" -> Bounds(230, 8),  // measured 142x (44.7 -> 6355) — REACH-bound: the 8 roots' BFS neighborhoods are 1100-cliques at 100x, so per-level (root,id,sigma) frames grow with reachable-set size; skew 1.5
    "sw01_softdedup" -> Bounds(300, 8), // measured 186x (42.4 -> 7887) — ANSWER-bound like dd01's 290x: the exact-Jaccard confirm join over near-clique candidate pairs IS the answer; skew 3.4
    "ss01_srcjaccard" -> Bounds(6, 8),  // measured 3.7x of 0.3 MiB (k-bounded pair frames)
    "ct01_containment" -> Bounds(6, 8), // measured 3.7x of 0.3 MiB (= ss01's frames)
    "qd01_quantiles" -> Bounds(5, 8),   // 0.0 -> 0.0 MiB (bin-domain)
    // round-11 third points: the URL key domain is CONSTANT across
    // scales (51 registered domains / ~51k canonicals), so shuffle
    // stays sketch-sized at 550k docs
    "url02_urldedup" -> Bounds(10, 8),  // measured 6.0x of 0.1 MiB
    "url03_domaincap" -> Bounds(3, 8),  // measured 1.0x (0.4 -> 0.4)
    "lq01_langquality" -> Bounds(5, 8), // 0.0 -> 0.0 MiB (lang x bin domain)
    // round-12 third points
    "lm03_backoff" -> Bounds(16, 8),    // measured 10.1x (58.4 -> 587): exactly linear bigram agg
    "zo01_zorder" -> Bounds(5, 8),      // 0.0 -> 0.0 MiB (16-bucket domain)
    "c402_blocklist" -> Bounds(5, 8),   // 0.0 -> 0.0 MiB (row-local)
    "cd02_diff" -> Bounds(15, 8),       // measured 9.2x (4.3 -> 39.7): linear (id, md5) join frames
    "lm04_pplbuckets" -> Bounds(17, 8), // measured 11.2x (33.6 -> 376.7): ~linear like lm01
    "cm02_calibration" -> Bounds(17, 8), // measured 11.4x (52.1 -> 592): linear, the nb01/cm01 profile
    "ch01_turnstats" -> Bounds(5, 8),   // 0.0 -> 0.0 MiB (row-local)
    "ch02_promptdedup" -> Bounds(5, 8), // prompt-domain agg (bounded at 500 prompts here)
    "ch03_renderspans" -> Bounds(5, 8), // 0.0 -> 0.0 MiB (row-local)
    "pk02_padding" -> Bounds(9, 8, absCeilMiB = 24), // measured 5.8x (2.5 -> 14.3), skew 2.6: SUB-linear rank rows
    "mw03_mixsolve" -> Bounds(5, 8),    // source-domain agg (bounded)
    "ch04_sftpipe" -> Bounds(30, 8, absCeilMiB = 34), // measured 19.9x (1.1 -> 22.8): the id frames cross the broadcast threshold at 100x and pay real hash exchanges — a one-time step, linear after (narrow rows only)
    "zo02_pruning" -> Bounds(5, 8),     // 0.0 -> 0.0 MiB at 550k rows (bucket domain)
    // round-13 third points
    "ch05_packspans" -> Bounds(16, 8),  // measured 10.2x (1.6 -> 16.3): exactly linear span rows, skew 1.1
    "rb03_fetchsched" -> Bounds(24, 8), // measured 15.0x (0.7 -> 10.5): linear verdict rows, skew 1.1
    "wp05_incr" -> Bounds(110, 8),      // measured 68x OF A ~0 BASE (0.2 -> 13.6): the delta/touched frames cross the broadcast threshold at 100x and the prior-election setup agg pays real exchanges — absolute bytes stay sketch-sized for 550k docs; skew 2.0
    "url06_incrcap" -> Bounds(13, 8),   // measured 7.7x (1.0 -> 7.7): linear setup windows, skew 1.3
    "mw04_incrmix" -> Bounds(5, 8),     // measured 0.0 -> 0.4 of a ~0 base: the fold stays sketch-sized at 550k docs; skew 1.5
    "ch07_packshards" -> Bounds(16, 8), // measured 10.2x (1.7 -> 17.3): exactly linear span rows, skew 1.1
    // round-14 third points
    "sd03_incrspans" -> Bounds(21, 8),  // measured 13.2x (144.6 -> 1910): exactly the sd01 linear profile; skew 3.2
    "fp02_incrwinnow" -> Bounds(150, 8), // measured 98.4x (130.5 -> 12837) — ANSWER-bound, fp01's 91.4x profile: 675M pairs at 550k near-clique docs; skew 3.5
    "bm02_incrbm25" -> Bounds(28, 8),   // measured 18.4x (2.7 -> 49.6): ~linear postings fold, skew 1.3
    "dc03_incrdecon" -> Bounds(25, 8),  // measured 16.3x (122.3 -> 1998): the answer keeps growing with the hot-shingle overlap (32.8M inter rows); skew 1.5
    // round-14 fourth-sitting third points
    "id02_incrindex" -> Bounds(27, 8),  // measured 17.9x (28.8 -> 514.9): linear sig/posting setup + hot-crowd re-caps (index rows 780k -> 7.5M); skew 1.5
    "hl03_incrhll" -> Bounds(9, 8),     // measured 5.2x (23.9 -> 123.9): SUB-linear — per-doc bucket coverage saturates at 64 buckets/doc; skew 4.1
    "cs03_incrcm" -> Bounds(3, 8))      // measured 1.1x (25.5 -> 28.4): cell-domain-bounded exchange, map-side combined at 550k docs; skew 3.3

  /** Check measured 1×/10× pairs against [[bounds]]; returns violation
    * messages (empty = all within ceilings). Lanes missing either scale
    * (filtered runs) are skipped. */
  def checkBounds(results: Seq[OpStats]): Seq[String] =
    checkScalePair(results, "1x", "10x", bounds) ++
      checkScalePair(results, "10x", "100x", bounds100)

  private def checkScalePair(
      results: Seq[OpStats],
      s1: String,
      s2: String,
      ceilings: Map[String, Bounds]): Seq[String] =
    results.groupBy(_.name).toSeq.sortBy(_._1).flatMap { case (n, rs) =>
      (rs.find(_.scale == s1), rs.find(_.scale == s2), ceilings.get(n)) match {
        case (Some(a), Some(b), Some(bd)) =>
          val ratioViol =
            if (a.shuffleMiB < 0.05)
              if (b.shuffleMiB > bd.absCeilMiB)
                Seq(f"$n: $s2 shuffle ${b.shuffleMiB}%.1f MiB exceeds " +
                  f"abs ceiling ${bd.absCeilMiB}%.1f ($s1 was ~zero-shuffle)")
              else Nil
            else {
              val r = b.shuffleMiB / a.shuffleMiB
              if (r > bd.ratioCeil)
                Seq(f"$n: shuffle growth $r%.1fx exceeds ceiling ${bd.ratioCeil}%.1fx " +
                  f"(${a.shuffleMiB}%.1f -> ${b.shuffleMiB}%.1f MiB)")
              else Nil
            }
          val skewViol =
            if (b.taskSkew > bd.skewCeil)
              Seq(f"$n: $s2 task skew ${b.taskSkew}%.1f exceeds ceiling ${bd.skewCeil}%.1f")
            else Nil
          ratioViol ++ skewViol
        case _ => Nil
      }
    }

  def main(args: Array[String]): Unit = {
    // optional arg filters: operator names to run (others skipped), and
    // "--reuse" to keep an existing /tmp 10x corpus (isolating one lane
    // without paying the corpus write)
    val reuse = args.contains("--reuse")
    // "--x100" additionally measures a 100x corpus (550k docs) for a
    // 3-point growth curve on TEXT lanes; pass a lane subset to keep the
    // run bounded. Embedding lanes have no 100x corpus — rejected below.
    val x100 = args.contains("--x100")
    val only = args.filterNot(a => a == "--reuse" || a == "--x100").toSet
    val embLanes = Set("dd04_embdup", "dd04_embdup_q8", "ann01_lsh",
      "ann02_ivf", "ann03_knn", "ann03_knn_q8", "ann04_incrivf",
      "ann05_incrknn")
    require(!x100 || (only.nonEmpty && only.intersect(embLanes).isEmpty),
      "--x100 needs an explicit TEXT-lane subset (no 100x embedding corpus)")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftSession.prepare(spark)

    // ---- metrics listener: per-stage shuffle bytes + task durations ----
    val stageShuffle = new ConcurrentHashMap[Int, Long]()
    val taskDurations = new ConcurrentHashMap[Int, ArrayBuffer[Long]]()
    val listener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        stageShuffle.put(sc.stageInfo.stageId,
          sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten): Unit
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        if (te.taskInfo != null) {
          taskDurations.computeIfAbsent(te.stageId, _ => ArrayBuffer.empty)
            .synchronized {
              taskDurations.get(te.stageId) += te.taskInfo.duration: Unit
            }
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    // ---- corpora ----
    val docs1x = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
      .select("doc_id", "text")
    val emb1x = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
      .select("vec_id", "embedding")

    val boiler = " the standard disclaimer sentence appears in very many documents here"
    // same adversarial layout at any multiple: every doc gets `mult`
    // variants, every 100th doc 11x that (the hot dup cluster)
    def variantCorpus(mult: Int): DataFrame = docs1x
      .withColumn("variants",
        when(col("doc_id") % 100 === 0, lit(11 * mult)).otherwise(lit(mult)))
      .select(col("doc_id"), col("text"), explode(
        sequence(lit(0), col("variants") - 1)).as("variant"))
      .select(
        // id space scales with mult (10x keeps its historical *1000):
        // hot docs carry 11*mult variants, so the multiplier must exceed
        // that — mult*100 does at any mult >= 1
        (col("doc_id") * lit(mult * 100L) + col("variant")).as("doc_id"),
        // newline separators instead of spaces: the token stream (split on
        // \s+) is IDENTICAL to the previous space-joined layout, so every
        // shingle-based measurement stays comparable — but the corpus now
        // also carries adversarial cross-doc LINES for the boilerplate-
        // removal lane (the boiler line in ~1/3 of all docs, each
        // "variant marker N" line in one doc per base ≈ 5.4k docs at 10×,
        // each base text line across its own 10/110 variants)
        concat(col("text"),
          // hot shingle: every third variant carries the boilerplate
          when(col("variant") % 3 === 0, lit("\n" + boiler.trim))
            .otherwise(lit("")),
          lit("\nvariant marker "), col("variant")).as("text"))
      .repartition(32)
    val emb10x = emb1x
      .select(col("vec_id"), col("embedding"),
        explode(sequence(lit(0), lit(9))).as("variant"))
      .select(
        (col("vec_id") * 100L + col("variant")).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          (x + (pmod(xxhash64(col("vec_id"), col("variant"), i), lit(1000L))
            .cast("double") / 1000.0 - 0.5) * lit(0.02)).cast("float"))
          .as("embedding"))
      .repartition(32)

    // materialize generators to parquet so every operator measures ITS
    // work, not the corpus construction. --reuse trusts an existing
    // corpus only when its layout-version marker matches this generator
    // (a stale corpus from an older build would silently invalidate the
    // boilerplate/line-layout lanes' measurements).
    val base = "/tmp/graft_scaleproof"
    val marker = Paths.get(s"$base/LAYOUT_VERSION")
    val markerOk = Files.exists(marker) &&
      new String(Files.readAllBytes(marker), "UTF-8").trim ==
        CorpusLayoutVersion.toString
    if (!reuse || !markerOk || !Files.exists(Paths.get(s"$base/docs10x/_SUCCESS"))) {
      Files.createDirectories(Paths.get(base))
      Files.deleteIfExists(marker) // no marker while the corpus is mid-write
      variantCorpus(10).write.mode("overwrite").parquet(s"$base/docs10x")
      emb10x.write.mode("overwrite").parquet(s"$base/emb10x")
      Files.write(marker, s"$CorpusLayoutVersion\n".getBytes("UTF-8")): Unit
    }
    val marker100 = Paths.get(s"$base/LAYOUT_VERSION_100X")
    val marker100Ok = Files.exists(marker100) &&
      new String(Files.readAllBytes(marker100), "UTF-8").trim ==
        CorpusLayoutVersion.toString
    if (x100 &&
        (!reuse || !marker100Ok ||
          !Files.exists(Paths.get(s"$base/docs100x/_SUCCESS")))) {
      Files.deleteIfExists(marker100)
      variantCorpus(100).write.mode("overwrite").parquet(s"$base/docs100x")
      Files.write(marker100, s"$CorpusLayoutVersion\n".getBytes("UTF-8")): Unit
    }
    val d10 = spark.read.parquet(s"$base/docs10x")
    val e10 = spark.read.parquet(s"$base/emb10x")
    println(s"docs 1x=${docs1x.count()} 10x=${d10.count()}  " +
      s"emb 1x=${emb1x.count()} 10x=${e10.count()}")

    val results = ArrayBuffer.empty[OpStats]

    def measure(name: String, scale: String)(f: => Long): Unit = {
      if (only.nonEmpty && !only.contains(name)) return
      stageShuffle.clear(); taskDurations.clear()
      val t0 = System.nanoTime()
      val rows = f
      val wall = (System.nanoTime() - t0) / 1e9
      val shuffles = stageShuffle.values.asScala.toSeq
      // skew WITHIN each substantial stage (median >= 200 ms), then the
      // worst stage: pooling all stages' tasks made a 30 s join task look
      // 200x skewed against the ms-scale tasks of unrelated tiny stages
      val skew = taskDurations.values.asScala
        .map(_.toSeq.sorted)
        .filter(d => d.nonEmpty && d(d.size / 2) >= 200L)
        .map(d => d.last.toDouble / d(d.size / 2))
        .maxOption.getOrElse(1.0)
      val nTasks = taskDurations.values.asScala.map(_.size).sum
      results += OpStats(name, scale, rows, wall,
        shuffles.sum / 1048576.0,
        (0L +: shuffles).max / 1048576.0, skew, nTasks)
      println(f"  $name%-14s $scale%3s ${wall}%7.1f s rows=$rows%-8d " +
        f"shuffle=${shuffles.sum / 1048576.0}%8.1f MiB " +
        f"maxStage=${(0L +: shuffles).max / 1048576.0}%8.1f MiB " +
        f"skew=${skew}%5.1f")
    }

    def runFamily(scale: String, docs: DataFrame, emb: DataFrame): Unit = {
      println(s"== scale $scale ==")
      measure("dd01_minhash", scale)(
        Dedup.minhashCandidates(docs, "doc_id", "text",
          numHashes = 64, bands = 16, nGram = 3)
          .filter(col("est_jaccard") >= 0.8).count())
      measure("dd02_simhash", scale)(
        Dedup.simhashNearDup(docs, "doc_id", "text", maxHamming = 3).count())
      measure("dd03_ngram", scale)(
        Dedup.ngramJaccard(docs, "doc_id", "text", nGram = 3,
          threshold = 0.7).count())
      measure("dd04_embdup", scale)(
        Dedup.embeddingNearDup(emb, "vec_id", "embedding", dim = 64,
          cosThreshold = 0.95, bitsPerTable = 8, tables = 4).count())
      measure("ann01_lsh", scale) {
        val q = emb.orderBy("vec_id").select("embedding").head().getSeq[Float](0)
        Similarity.lshTopK(emb, "vec_id", "embedding", dim = 64,
          query = q, k = 10, bits = 8, tables = 4).count()
      }
      measure("ann02_ivf", scale) {
        val q = emb.orderBy("vec_id").select("embedding").head().getSeq[Float](0)
        val cents = Similarity.Ivf.centroids(emb, "vec_id", "embedding", nCells = 16)
        val assigned = Similarity.Ivf.assignCells(emb, "vec_id", "embedding", cents)
        Similarity.Ivf.probe(assigned, "vec_id", "embedding", cents, q,
          k = 10, nProbe = 4).count()
      }
      measure("dd04_embdup_q8", scale)(
        Dedup.embeddingNearDup(emb, "vec_id", "embedding", dim = 64,
          cosThreshold = 0.95, bitsPerTable = 8, tables = 4,
          quantized = true).count())
      measure("ann05_incrknn", scale) {
        // incremental kNN-graph maintenance under a ~2% vector delta:
        // maintainWinnowingPairs over the content-addressed LSH cells
        // (pair index), then pair-bounded re-score/re-rank
        import graft.operators.Incremental
        val planes = Similarity.portableHyperplanes(64, 8, 4)
        def cells(snap: DataFrame) = Similarity
          .withLshBucketsPlanes(snap, "embedding", planes)
          .select(col("vec_id"), explode(col("lsh_buckets")).as("bb"))
          .select(col("vec_id"),
            (col("bb.band").cast("long") * lit(4294967296L) +
              col("bb.bucket")).as("fp"))
        val oldSnap = emb.filter(col("vec_id") % 100 =!= 3)
        val newSnap = emb.filter(col("vec_id") % 100 =!= 9)
        val priorCells = cells(oldSnap)
        val priorPairs = Dedup.winnowingPairCounts(
          priorCells, "vec_id", maxPostingLength = 1000)
        val d = emb.select(col("vec_id"),
          when(col("vec_id") % 100 === 3, lit("added"))
            .when(col("vec_id") % 100 === 9, lit("removed"))
            .otherwise(lit(null).cast("string")).as("status"))
          .filter(col("status").isNotNull)
        val deltaCells = cells(newSnap.filter(col("vec_id") % 100 === 3))
        val (_, nextPairs) = Incremental.maintainWinnowingPairs(
          priorCells, deltaCells, d, priorPairs, "vec_id",
          maxPostingLength = 1000)
        val vecs = newSnap.select(col("vec_id"), col("embedding"))
        val scored = nextPairs
          .join(vecs.select(col("vec_id").as("id_a"),
            col("embedding").as("__va")), Seq("id_a"))
          .join(vecs.select(col("vec_id").as("id_b"),
            col("embedding").as("__vb")), Seq("id_b"))
          .withColumn("cos",
            graft.GraftFunctions.cosineSim(col("__va"), col("__vb")))
          .select(col("id_a"), col("id_b"), col("cos"))
        Similarity.knnFromPairs(scored, k = 5).count()
      }
      measure("ann04_incrivf", scale) {
        // incremental IVF maintenance under a ~2% vector delta:
        // centroids pinned (the persisted index artifact), only delta
        // vectors pay the broadcast-argmax; the probe reads the
        // maintained table
        import graft.operators.Incremental
        val cents = Similarity.Ivf.centroids(
          emb.filter(col("vec_id") % 100 =!= 3), "vec_id", "embedding",
          nCells = 16).localCheckpoint()
        val prior = Similarity.Ivf.assignCells(
          emb.filter(col("vec_id") % 100 =!= 3), "vec_id", "embedding",
          cents)
        val d = emb.select(col("vec_id"),
          when(col("vec_id") % 100 === 3, lit("added"))
            .when(col("vec_id") % 100 === 9, lit("removed"))
            .otherwise(lit(null).cast("string")).as("status"))
          .filter(col("status").isNotNull)
        val next = Incremental.maintainIvfAssignments(
          prior, emb.filter(col("vec_id") % 100 === 3)
            .select(col("vec_id"), col("embedding")),
          d, cents, "vec_id", "embedding")
        val q = emb.orderBy("vec_id").select("embedding").head()
          .getSeq[Float](0)
        Similarity.Ivf.probe(next, "vec_id", "embedding", cents, q,
          k = 10, nProbe = 4).count()
      }
      measure("ann03_knn", scale)(
        Similarity.knnJoin(emb, "vec_id", "embedding", dim = 64, k = 5,
          bits = 8, tables = 4, maxBucketSize = 1000).count())
      measure("ann03_knn_q8", scale)(
        Similarity.knnJoin(emb, "vec_id", "embedding", dim = 64, k = 5,
          bits = 8, tables = 4, maxBucketSize = 1000,
          quantized = true).count())
      measure("dc01_contain", scale)(
        // decontamination at threshold: exercises the one-sided prefix
        // route (test = every 10th doc, train = the rest)
        Dedup.ngramContainment(
          docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text",
          docs.filter(col("doc_id") % 10 === 0), "doc_id", "text",
          nGram = 3, minContainment = 0.5).count())
      measure("dc02_bloom", scale)(
        // eval side FIXED at the 1x corpus's %10 split across every
        // scale: decontamination's contract is a fixed benchmark suite
        // against a GROWING corpus — scaling the eval set with the
        // corpus would measure a different (and explicitly
        // out-of-contract) shape. The first cut did exactly that and
        // OOM'd the 100x point on the eval-side broadcast; with the
        // fixed eval side the default 8192-word filter serves all
        // scales and only corpus-side work grows.
        graft.operators.Decontaminate.bloomDecontaminate(
          docs, "doc_id", "text",
          docs1x.filter(col("doc_id") % 10 === 0), "text",
          nGram = 13).count())
      measure("hh01_heavy", scale)(
        CorpusStats.heavyHitters(docs, "doc_id", "text", k = 20,
          capacity = 1024).count())
      measure("lm01_surprisal", scale)(
        CorpusStats.unigramSurprisal(docs, "doc_id", "text",
          vocabCap = 1024).count())
      measure("ti01_tfidf", scale)(
        CorpusStats.tfidfTopTerms(docs, "doc_id", "text", k = 5).count())
      measure("bp01_boiler", scale)(
        CorpusStats.boilerplateScore(docs, "doc_id", "text",
          nGram = 3, minDf = 100L).count())
      measure("bp02_rmlines", scale)(
        // sum(length) forces the full text rebuild (a bare count would let
        // Catalyst prune the rewritten column); the "rows" column is total
        // output chars for this lane
        CorpusStats.removeBoilerplateLines(docs, "doc_id", "text",
          minDocs = 1000L)
          .agg(coalesce(sum(length(col("text"))), lit(0L)))
          .head().getLong(0))
      measure("sd01_spans", scale)(
        // substring dedup: the variant corpus is adversarial (every base
        // doc's windows recur across its 10/110 variants, plus the hot
        // boilerplate line in ~1/3 of all docs)
        Dedup.dupSpans(docs, "doc_id", "text", k = 8, minDocs = 2).count())
      measure("sd02_rmspans", scale)(
        // sum(length) forces the rebuild, as in bp02; "rows" = output chars
        Dedup.removeDupSpans(docs, "doc_id", "text", k = 8, minDocs = 2)
          .agg(coalesce(sum(length(col("text"))), lit(0L)))
          .head().getLong(0))
      measure("ms01_mixsample", scale) {
        // mixture sampling: fixed per-source budgets, so at 10x the KEPT
        // set stays the same absolute size — the measured growth is the
        // honest fixed cost (hashing + per-slice subtotals over the whole
        // corpus); the boundary window never sees more than one slice
        val d = docs.withColumn("graft_src",
          (col("doc_id") % 20).cast("string"))
        val budgets = d.select(col("graft_src")).distinct()
          .withColumn("token_budget", lit(5000L))
        Sampling.mixtureSample(d, "doc_id", "text", "graft_src", budgets)
          .count()
      }
      measure("cu01_curate", scale) {
        val (curated, dropped) = Curation.curate(docs, "doc_id", "text",
          Curation.Config(keepLangs = Seq("en", "fr", "es", "de", "und"),
            minhashHashes = 64, minhashBands = 16))
        curated.count() + dropped.count()
      }
      measure("dd05_resolve", scale)(
        // end-to-end resolution on the murmur scale path: candidates +
        // exact confirm + star CC; the variant clusters are dup CHAINS,
        // so CC has real multi-hop work at both scales
        Dedup.nearDupResolve(docs, "doc_id", "text", threshold = 0.8)
          .count())
      measure("qs01_select", scale)(
        // quality-threshold selection: score-bin prefix then hash-slice
        // prefix — only subtotal frames and the one boundary slice
        // shuffle beyond the base annotate; sum(n_tokens) keeps the
        // window's input columns alive
        Sampling.selectTopQualityShare(
          docs.withColumn("graft_q",
            graft.functions.TextFunctions.qualityScore(col("text"))),
          "doc_id", "text", "graft_q", sharePermille = 500)
          .agg(coalesce(sum(col("n_tokens")), lit(0L)))
          .head().getLong(0))
      measure("sp03_shards", scale)(
        // balanced-token sharding: the one unavoidable full-corpus
        // exchange (text rides the slice-window shuffle exactly once —
        // the same bytes a shard-writer would move); sum(shard) defeats
        // column pruning of the window
        Sampling.shardByTokens(docs, "doc_id", "text", nShards = 16)
          .agg(coalesce(sum(col("shard").cast("long")), lit(0L)))
          .head().getLong(0))
      measure("sn01_snm", scale)(
        // sorted-neighborhood blocking: one narrow (block, key-prefix,
        // id) ranking shuffle + the (block, rank, id) window pair join
        Dedup.sortedNeighborhoodPairs(docs, "doc_id", "text",
          keyLen = 24, blockLen = 8, w = 4).count())
      measure("bm01_bm25", scale) {
        // fixed 3-term keyword query (ranks 5..7 of the 1x corpus, the
        // lane's shape) scored over the growing corpus
        val terms = CorpusStats.termCounts(docs1x, "doc_id", "text")
          .orderBy(col("c").desc, col("tok")).limit(7)
          .collect().drop(4).map(_.getString(0)).toSeq
        CorpusStats.bm25TopK(docs, "doc_id", "text", terms, k = 10).count()
      }
      measure("fp01_winnow", scale)(
        // MOSS fingerprints: one narrow (id, pos, hash) shuffle for the
        // sliding min, then capped inverted-index pair counts — the
        // hot boilerplate fingerprint is dropped by the posting cap
        Dedup.winnowingPairs(docs, "doc_id", "text", k = 4, w = 4,
          minShared = 2L).count())
      measure("cd01_cdc", scale)(
        // CDC block dedup: chunk text is hashed inside the scan task;
        // only (id, idx, start, len, h) rows and the 8-byte-key agg move
        Dedup.cdcChunks(docs, "doc_id", "text", k = 4, divisor = 16L)
          .groupBy(col("chunk_h"))
          .agg(countDistinct(col("doc_id")).as("n_docs"),
            count(lit(1)).as("n_chunks"))
          .filter(col("n_docs") >= 2)
          .count())
      measure("id01_incr", scale) {
        // incremental dedup: the incoming micro-batch is FIXED at the 1x
        // corpus's %10 split across every scale (dc02's contract — a
        // batch is bounded by arrival rate, not corpus size); only the
        // INDEX side grows, and its build is the measured cost. At 10x
        // the incoming docs' variants ARE in the index — the realistic
        // hit-heavy case.
        val index = Dedup.minhashIndex(
          docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text",
          numHashes = 64, bands = 16)
        Dedup.nearDupAgainstIndex(
          docs1x.filter(col("doc_id") % 10 === 0), "doc_id", "text",
          index, numHashes = 64, bands = 16).count()
      }
      measure("nb01_nbayes", scale)(
        // labels derived from doc_id (the variant corpus carries no
        // label column); 5 classes = the scoring fan-out factor.
        // sum(nll_micro) — NOT count(): rows are one-per-doc regardless
        // of scores, so count() lets the optimizer prune the argmin
        // aggregate and the classes fan-out exchange with it — the r9
        // probe measured the count() form at HALF the consumed bytes
        CorpusStats.naiveBayesPredict(
          docs.withColumn("graft_lbl", (col("doc_id") % 5).cast("string")),
          "doc_id", "text", "graft_lbl", vocabCap = 1024)
          .agg(coalesce(sum(col("nll_micro")), lit(0L))).head().getLong(0))
      measure("km01_kmeans", scale)(
        // integer Lloyd: per iteration one k-row broadcast + one hash agg
        // keyed by cell — the corpus-side shuffle should stay ~zero.
        // sum(d2) — cardinality is corpus rows regardless of assignment,
        // so count() would prune the argmin (the nb01/PLANS.md r9 rule);
        // here the assignment is a literal projection, so the honest
        // number is still ~zero shuffle
        Similarity.Ivf.kMeansAssignInt(emb, "vec_id", "embedding",
          k = 16, iters = 2)
          .agg(coalesce(sum(col("d2")), lit(0L))).head().getLong(0))
      measure("pq01_pq_encode", scale)(
        // PQ: m codebook trainings (cell-keyed k×subDim partial buffers)
        // + ONE literal-matrix encode projection — ~zero corpus shuffle
        Similarity.Ivf.pqEncodeInt(emb, "vec_id", "embedding",
          m = 4, subDim = 16, k = 8, iters = 2)
          .agg(coalesce(sum(col("d2_total")), lit(0L))).head().getLong(0))
      measure("jl01_project", scale)(
        // JL projection: pure literal-sign-matrix projection, no exchange
        Similarity.Ivf.randomProjectInt(emb, "vec_id", "embedding",
          inDim = 64, outDim = 16, salt = "jl")
          .agg(coalesce(sum(col("y_micro")), lit(0L))).head().getLong(0))
      measure("pq02_adc", scale) {
        // ADC search: codes + driver lookup tables; the scan is a
        // literal projection into TakeOrderedAndProject — the top-k is
        // the action, so nothing here is count()-prunable
        val q = emb.orderBy(col("vec_id")).select(col("embedding"))
          .head().getSeq[Float](0)
        Similarity.Ivf.pqTopK(emb, "vec_id", "embedding", q,
          k = 10, m = 4, subDim = 16, kCode = 8, iters = 2)
          .agg(coalesce(sum(col("adc_d2")), lit(0L))).head().getLong(0)
      }
      measure("dr01_psi", scale)(
        // PSI: two bucket-domain count aggs (map-side combined) + a
        // bucket-domain join — ~zero shuffle at any corpus size
        CorpusStats.psiDrift(
          docs.filter(col("doc_id") % 3 === 0)
            .withColumn("bucket", least(call_function("div",
              length(col("text")).cast("long"), lit(100L)), lit(20L))),
          docs.filter(col("doc_id") % 3 =!= 0)
            .withColumn("bucket", least(call_function("div",
              length(col("text")).cast("long"), lit(100L)), lit(20L))),
          "bucket")
          .agg(coalesce(sum(col("psi_micro")), lit(0L))).head().getLong(0))
      measure("tf01_fertility", scale)(
        // fertility: one lang-domain agg, counters computed in the scan
        CorpusStats.tokenizerFertility(
          docs.withColumn("graft_lang", (col("doc_id") % 7).cast("string")),
          "graft_lang", "text")
          .agg(coalesce(sum(col("fertility_permille")), lit(0L)))
          .head().getLong(0))
      measure("ks01_ks", scale)(
        // KS: value-domain count aggs; the ordered window runs over the
        // bounded length domain, never corpus rows
        CorpusStats.ksDrift(
          docs.filter(col("doc_id") % 3 === 0)
            .withColumn("v", length(col("text")).cast("long")),
          docs.filter(col("doc_id") % 3 =!= 0)
            .withColumn("v", length(col("text")).cast("long")), "v")
          .agg(coalesce(sum(col("gap_micro")), lit(0L))).head().getLong(0))
      measure("en01_entropy", scale)(
        // entropy: (group, token) counts (vocab-bounded, map-side
        // combined) + a group-domain totals join
        CorpusStats.groupTokenEntropy(
          docs.withColumn("graft_src", (col("doc_id") % 7).cast("string")),
          "graft_src", "text")
          .agg(coalesce(sum(col("entropy_mbits")), lit(0L)))
          .head().getLong(0))
      measure("hl01_hll", scale)(
        // HLL registers: ONE 2^p-domain max-agg over the token scan —
        // the map-side combine collapses every task to <= 16 rows
        graft.operators.Sketches.hllRegisters(docs, "text", p = 4)
          .agg(coalesce(sum(col("register")), lit(0L))).head().getLong(0))
      measure("kv01_kmv", scale)(
        // KMV: vocab-domain distinct hash agg + TakeOrdered(k)
        graft.operators.Sketches.kmvDistinct(docs, "text", k = 16)
          .agg(coalesce(sum(col("est_distinct")), lit(0L)))
          .head().getLong(0))
      measure("cs01_countmin", scale)(
        // Count-Min: d*w-domain count agg (map-side combined)
        graft.operators.Sketches.countMinCells(docs, "text", d = 4, w = 64)
          .agg(coalesce(sum(col("cnt")), lit(0L))).head().getLong(0))
      measure("gq01_gopher", scale)(
        // Gopher battery: row-local projection — ZERO shuffle; the only
        // exchange is the scalar count below
        graft.operators.Curation.gopherRules(docs, "doc_id", "text")
          .filter(col("keep")).agg(count(lit(1))).head().getLong(0))
      measure("pc01_bpe", scale)(
        // BPE pair counts: vocab-domain word counts; the pair explode
        // runs over the VOCABULARY, never the corpus
        CorpusStats.bpePairCounts(docs, "text", topK = 20)
          .agg(coalesce(sum(col("pair_count")), lit(0L)))
          .head().getLong(0))
      measure("vg01_heaps", scale)(
        // Heaps curve: vocab-domain first-doc min-agg + bucket-domain
        // totals; the cumulative window runs over buckets only
        CorpusStats.vocabGrowth(docs, "doc_id", "text", bucketWidth = 500L)
          .agg(coalesce(sum(col("vocab_size")), lit(0L)))
          .head().getLong(0))
      measure("ce01_charent", scale)(
        // char entropy: ROW-LOCAL (the whole chain is Column work in
        // the scan task) — zero shuffle by construction; only the
        // scalar agg below exchanges
        CorpusStats.charEntropy(docs, "doc_id", "text")
          .agg(coalesce(sum(col("entropy_mbits")), lit(0L)))
          .head().getLong(0))
      measure("g14_linkpred", scale)(
        // link prediction over the near-dup candidate pair graph: the
        // capped wedge self-join moves only (id, id) pairs and degrees
        graft.operators.GraphOps.linkPrediction(
          graft.operators.GraphOps.undirectedAdjacency(
            Dedup.minhashCandidates(docs, "doc_id", "text",
              numHashes = 64, bands = 16, nGram = 3)
              .select(col("id_a").as("src"), col("id_b").as("dst")))
            .localCheckpoint(),
          maxNeighbors = 64)
          .agg(coalesce(sum(col("common_neighbors")), lit(0L)))
          .head().getLong(0))
      measure("g13_closeness", scale) {
        // closeness/harmonic centrality off ONE forward-Brandes BFS over
        // the near-dup candidate graph: per-level (root,id,sigma) joins
        // + a single root-domain aggregation
        val edges = Dedup.minhashCandidates(docs, "doc_id", "text",
            numHashes = 64, bands = 16, nGram = 3)
          .select(col("id_a").as("src"), col("id_b").as("dst"))
        val roots = docs.select(col("doc_id").as("root"))
          .orderBy(col("root")).limit(8)
        graft.operators.Betweenness.closenessFromForward(
          graft.operators.Betweenness.forwardCounts(
            graft.operators.GraphOps.undirectedAdjacency(edges).localCheckpoint(),
            roots, maxDepth = 4))
          .agg(coalesce(sum(col("harmonic_micro")), lit(0L)))
          .head().getLong(0)
      }
      measure("pc02_bpe_encode", scale) {
        // BPE encode via the pre-encoded vocabulary: the merge fold runs
        // once per DISTINCT word; the corpus side broadcast-joins the
        // word->pieces map and exchanges one (id, pos, pieces)
        // reassembly frame — the measured trade vs the zero-shuffle
        // row-local encoder
        val merges = Seq(("t", "h"), ("th", "e"), ("e", "r"), ("a", "n"),
          ("i", "n"), ("o", "n"), ("e", "s"), ("o", "r"))
        CorpusStats.bpeEncodeViaVocab(docs, "doc_id", "text", merges)
          .agg(coalesce(sum(col("n_pieces")), lit(0L)))
          .head().getLong(0)
      }
      measure("ct01_containment", scale)(
        // directional containment off the SAME merged-bottom-k frame as
        // ss01 — identical exchanges, different final aggregate
        graft.operators.Sketches.sourceContainment(
          docs.withColumn("graft_src", (col("doc_id") % 7).cast("string")),
          "graft_src", "text", k = 64)
          .agg(coalesce(sum(col("containment_a_micro")), lit(0L)))
          .head().getLong(0))
      measure("qd01_quantiles", scale)(
        // histogram quantiles: ONE bin-domain count agg + a bounded
        // cumulative window — ~zero shuffle at any corpus size
        CorpusStats.quantileBins(
          docs.withColumn("graft_len", length(col("text")).cast("long")),
          "graft_len", binWidth = 100L, qs = Seq(250, 500, 900, 990))
          .agg(coalesce(sum(col("est_value")), lit(0L)))
          .head().getLong(0))
      measure("lq01_langquality", scale)(
        // per-language quality report: one row-local scan (language +
        // battery inside one projection), then lang x bin domain aggs
        CorpusStats.languageQualityReport(docs, "doc_id", "text",
          binWidth = 100L, qs = Seq(500, 900))
          .agg(coalesce(sum(col("n_tokens")), lit(0L)))
          .head().getLong(0))
      measure("ss01_srcjaccard", scale)(
        // source-pair bottom-k Jaccard: distinct (src, hash) vocabulary
        // agg, two-level salted min-k per source, all pair work on
        // k-bounded sketches (|sources|^2 * 2k rows)
        graft.operators.Sketches.sourceJaccard(
          docs.withColumn("graft_src", (col("doc_id") % 7).cast("string")),
          "graft_src", "text", k = 64)
          .agg(coalesce(sum(col("est_jaccard_micro")), lit(0L)))
          .head().getLong(0))
      // deterministic URL per doc for the url lanes: one HOT registered
      // domain (a third of the corpus) + 50 long-tail domains; path
      // residues create duplicate groups whose sizes grow linearly
      def scaleUrl = concat(lit("http://"),
        when(col("doc_id") % 3 === 0, lit("hot"))
          .otherwise(concat(lit("site"), (col("doc_id") % 50).cast("string"))),
        lit(".example.com/p"), (col("doc_id") % 1000).cast("string"),
        when(col("doc_id") % 2 === 0, lit("?utm_source=x")).otherwise(lit("")))
      measure("url02_urldedup", scale)(
        // URL-level exact dedup: (url_canon, id) agg with map-side
        // min/count partials — the shuffle is distinct-URL-domain
        // (bounded at ~51k canonicals here regardless of corpus size);
        // the payload never moves (id-only discipline)
        Dedup.urlDedup(
          docs.select(col("doc_id"), scaleUrl.as("url")), "doc_id", "url")
          .agg(coalesce(sum(col("n_copies")), lit(0L))).head().getLong(0))
      measure("url03_domaincap", scale)(
        // per-registered-domain min-k with a deliberate hot domain: the
        // two-level salted windows keep per-task work k-bounded even
        // when one domain holds a third of the corpus
        Sampling.domainCap(
          docs.select(col("doc_id"), scaleUrl.as("url")), "doc_id", "url",
          k = 20, salt = "sp")
          .agg(coalesce(sum(col("sample_rank")), lit(0L))).head().getLong(0))
      measure("wp02_capmix", scale)(
        // acquire-side tail (wp02): keepers -> per-domain cap -> mixture
        // table. The corpus text never moves: tokens ride as a per-doc
        // COUNT through the id-only cap join; the exchanges are the
        // cap's salted min-k rank rows + a domain-level agg, both
        // k-/domain-bounded with the hot domain at 1/3 of the corpus
        {
          val kept = docs.select(col("doc_id"), scaleUrl.as("url"),
            graft.functions.TextFunctions
              .tokenCountNonEmpty(col("text")).as("n_tok"))
          val capped = Sampling.domainCap(
            kept.select(col("doc_id"), col("url")), "doc_id", "url",
            k = 20, salt = "sp2")
          capped
            .join(kept.select(col("doc_id"), col("n_tok")), Seq("doc_id"))
            .groupBy(col("domain"))
            .agg(sum(col("n_tok")).as("n_tokens"))
            .agg(coalesce(sum(col("n_tokens")), lit(0L))).head().getLong(0)
        })
      measure("ch01_turnstats", scale)(
        // transcript battery: row-local split + HOFs over the turn
        // array — zero shuffle by construction
        graft.operators.Conversations.turnStats(
          docs.withColumn("graft_tr", concat(
            lit("user: "), col("text"), lit("\nassistant: ok"))),
          "doc_id", "graft_tr")
          .agg(coalesce(sum(col("n_turns")), lit(0L))).head().getLong(0))
      measure("ch03_renderspans", scale)(
        // render + mask offsets: row-local O(turns^2) arithmetic and a
        // map-local explode — zero shuffle
        graft.operators.Conversations.renderSpans(
          docs.withColumn("graft_tr", concat(
            lit("user: "), col("text"), lit("\nassistant: ok"))),
          "doc_id", "graft_tr")
          .agg(coalesce(sum(col("end")), lit(0L))).head().getLong(0))
      measure("ch04_sftpipe", scale)(
        // composed SFT funnel: row-local QA + prompt-digest agg +
        // row-local render, glued by id-only joins
        {
          // the variant corpus embeds newlines in text — fold them, or
          // every synthesized turn sprouts role-less lines and the QA
          // gate rejects the whole corpus (an empty-keeper funnel
          // measures join degeneracy, not the operator)
          val tr = docs.withColumn("graft_tr", concat(
            lit("user: prompt "), (col("doc_id") % 500).cast("string"),
            lit("\nassistant: "),
            regexp_replace(col("text"), "\n", " ")))
            .select(col("doc_id"), col("graft_tr"))
          // narrow-frame composition (the lane's wp02 discipline):
          // transcript text never joins — qa/digest/span frames are
          // scan-side, joins carry ids + small ints only
          val qa = graft.operators.Conversations
            .turnStats(tr, "doc_id", "graft_tr")
            .filter(col("keep")).select("doc_id")
          val fps = tr.select(col("doc_id"),
            graft.operators.Conversations
              .promptFingerprint(col("graft_tr")).as("graft_fp"))
          val owners = fps.join(qa, Seq("doc_id"))
            .filter(col("graft_fp").isNotNull)
            .groupBy(col("graft_fp")).agg(min(col("doc_id")).as("doc_id"))
            .select("doc_id")
          graft.operators.Conversations
            .renderSpans(tr, "doc_id", "graft_tr")
            .join(owners, Seq("doc_id"), "left_semi")
            .agg(coalesce(sum(col("end")), lit(0L))).head().getLong(0)
        })
      measure("ch05_packspans", scale)(
        // ch→pk bridge: render spans (row-local) → turn-atomic greedy
        // packing. The ONE exchange is the packer's repartition of
        // narrow (id, turn_idx, 3 longs, bool) span rows by pack group;
        // the streaming scan holds one open bin of state per task
        {
          val tr = docs.withColumn("graft_tr", concat(
            lit("user: prompt "), (col("doc_id") % 500).cast("string"),
            lit("\nassistant: "),
            regexp_replace(col("text"), "\n", " ")))
            .select(col("doc_id"), col("graft_tr"))
          graft.operators.Conversations.packRenderSpans(
            graft.operators.Conversations
              .renderSpans(tr, "doc_id", "graft_tr"),
            "doc_id", maxChars = 2048L, numGroups = 64)
            .toDF()
            .agg(coalesce(sum(col("total_chars")), lit(0L)))
            .head().getLong(0)
        })
      measure("rb03_fetchsched", scale)(
        // fetch schedule: the robots gate's verdict agg + the bounded
        // per-domain politeness join. Rules/meta frames are
        // domain-bounded (51 domains here at every scale); the URL side
        // exchanges only (doc_id, allowed) verdicts into a domain agg
        {
          import graft.operators.Robots
          val urls = docs.select(col("doc_id"),
            when(col("doc_id") % 3 === 0, lit("hot"))
              .otherwise(concat(lit("site"),
                (col("doc_id") % 50).cast("string"))).as("graft_dom"),
            concat(lit("/p"), (col("doc_id") % 1000).cast("string"))
              .as("graft_path"))
          val robotsDf = urls.select(col("graft_dom")).distinct()
            .withColumn("graft_robots",
              when(col("graft_dom") === "hot", lit(
                "User-agent: *\nCrawl-delay: 1.5\nDisallow: /p1\n" +
                  "Sitemap: https://hot.example/sm.xml"))
                .otherwise(lit("User-agent: *\nDisallow: /p2")))
          val rules = Robots.parseRobots(
            robotsDf, "graft_dom", "graft_robots", "graftbot")
          val gate = Robots.robotsGate(
            urls, "doc_id", "graft_dom", "graft_path", rules)
          val meta = Robots.robotsMeta(
            robotsDf, "graft_dom", "graft_robots", "graftbot")
          urls.join(gate.select(col("doc_id"), col("allowed")),
              Seq("doc_id"))
            .groupBy(col("graft_dom"))
            .agg(sum(when(col("allowed"), 1L).otherwise(0L))
              .as("n_allowed"))
            .join(meta.select(col("domain").as("graft_dom"),
              col("crawl_delay_ms")), Seq("graft_dom"), "left_outer")
            .agg(coalesce(sum(col("n_allowed") *
              coalesce(col("crawl_delay_ms"), lit(1000L))), lit(0L)))
            .head().getLong(0)
        })
      measure("wp05_incr", scale)(
        // incremental keep-first maintenance under a 2% delta: the
        // delta side broadcasts into the anti/semi joins (the signal
        // table never shuffles for them), re-election is
        // touched-key-restricted, and the only corpus-wide exchange is
        // the prior election's key-domain agg (the stored-state setup,
        // measured here because the lane is self-contained)
        {
          import graft.operators.Incremental
          val sigs = docs.select(col("doc_id"),
            when(col("doc_id") % 97 === 0, lit(null).cast("string"))
              .otherwise(concat(lit("k"),
                (col("doc_id") % 5000).cast("string"))).as("key"),
            (col("doc_id") % 7 =!= 0).as("pass"))
          val prior = sigs.filter(col("doc_id") % 100 =!= 3)
          val delta = sigs.filter(
            col("doc_id") % 100 === 3 || col("doc_id") % 100 === 7)
          val d = docs.select(col("doc_id"),
            when(col("doc_id") % 100 === 3, lit("added"))
              .when(col("doc_id") % 100 === 7, lit("changed"))
              .when(col("doc_id") % 100 === 9, lit("removed"))
              .otherwise(lit(null).cast("string")).as("status"))
            .filter(col("status").isNotNull)
          val priorKeepers = prior
            .filter(col("pass") && col("key").isNotNull)
            .groupBy(col("key")).agg(min(col("doc_id")).as("keep_id"))
          val (ns, nk) = Incremental.maintainKeepFirst(
            prior, delta, d, priorKeepers, "doc_id", "key", "pass")
          nk.agg(coalesce(sum(col("keep_id")), lit(0L)))
            .head().getLong(0) + ns.count()
        })
      measure("url06_incrcap", scale)(
        // incremental domain-cap maintenance under a ~2% delta:
        // delta/touched broadcasts + the re-rank restricted to touched
        // domains through the batch operator's own two-level windows
        {
          import graft.operators.Incremental
          val all = docs.select(col("doc_id"), scaleUrl.as("url"))
            .select(col("doc_id"),
              graft.functions.UrlFunctions.urlDomain(col("url"))
                .as("graft_dom"))
            .filter(col("graft_dom").isNotNull)
          val prior = all.filter(col("doc_id") % 100 =!= 3)
          val delta = all.filter(col("doc_id") % 100 === 3)
          val d = docs.select(col("doc_id"),
            when(col("doc_id") % 100 === 3, lit("added"))
              .when(col("doc_id") % 100 === 9, lit("removed"))
              .otherwise(lit(null).cast("string")).as("status"))
            .filter(col("status").isNotNull)
          val priorSample = Sampling.stratifiedFixedSample(
            prior, "doc_id", "graft_dom", k = 20, salt = "u6")
          val (_, nextSample) = Incremental.maintainMinK(
            prior, delta, d, priorSample, "doc_id", "graft_dom",
            k = 20, salt = "u6")
          nextSample.agg(coalesce(sum(col("sample_rank")), lit(0L)))
            .head().getLong(0)
        })
      measure("mw04_incrmix", scale)(
        // incremental mixture maintenance: departed/delta rows alone
        // aggregate; the totals update is a domain-bounded outer join
        {
          import graft.operators.Incremental
          val sig = docs.select(col("doc_id"), scaleUrl.as("url"),
            graft.functions.TextFunctions
              .tokenCountNonEmpty(col("text")).as("graft_nt"))
            .select(col("doc_id"),
              graft.functions.UrlFunctions.urlDomain(col("url"))
                .as("graft_dom"), col("graft_nt"))
            .filter(col("graft_dom").isNotNull)
          val prior = sig.filter(col("doc_id") % 100 =!= 3)
          val delta = sig.filter(
            col("doc_id") % 100 === 3 || col("doc_id") % 100 === 7)
          val d = docs.select(col("doc_id"),
            when(col("doc_id") % 100 === 3, lit("added"))
              .when(col("doc_id") % 100 === 7, lit("changed"))
              .when(col("doc_id") % 100 === 9, lit("removed"))
              .otherwise(lit(null).cast("string")).as("status"))
            .filter(col("status").isNotNull)
          val priorTotals = prior.groupBy(col("graft_dom")).agg(
            count(lit(1)).as("n_rows"), sum(col("graft_nt")).as("graft_nt"))
          val (_, totals) = Incremental.maintainGroupSums(
            prior, delta, d, priorTotals, "doc_id", "graft_dom",
            Seq("graft_nt"))
          totals.agg(coalesce(sum(col("graft_nt")), lit(0L)))
            .head().getLong(0)
        })
      measure("ch07_packshards", scale)(
        // render -> pack -> shard: ch05's narrow span exchange + the
        // bin-frame shard cut (group subtotals prefix-summed on a
        // numGroups-row frame; within-group windows only)
        {
          val tr = docs.withColumn("graft_tr", concat(
            lit("user: prompt "), (col("doc_id") % 500).cast("string"),
            lit("\nassistant: "),
            regexp_replace(col("text"), "\n", " ")))
            .select(col("doc_id"), col("graft_tr"))
          val bins = graft.operators.Conversations.packRenderSpans(
            graft.operators.Conversations
              .renderSpans(tr, "doc_id", "graft_tr"),
            "doc_id", maxChars = 2048L, numGroups = 64)
            .toDF()
            .select(col("group"), col("bin"), col("total_chars"))
          graft.operators.Conversations.shardPackedBins(bins, nShards = 32)
            .agg(coalesce(sum(col("shard").cast("long")), lit(0L)))
            .head().getLong(0)
        })
      measure("sd03_incrspans", scale)(
        // incremental span-dedup maintenance under a ~2% delta: the
        // stored postings/counts/spans state is set up batch-style
        // (measured here because the lane is self-contained; in
        // production those are table reads), then only delta docs and
        // flipped-gram holders re-merge
        {
          import graft.operators.Incremental
          val prior = docs.filter(col("doc_id") % 100 =!= 3)
          val next = docs.filter(col("doc_id") % 100 =!= 9)
            .withColumn("text",
              when(col("doc_id") % 100 === 7,
                concat(col("text"), lit(" v2"))).otherwise(col("text")))
          val k = 8
          val priorPost = Dedup.spanPostings(prior, "doc_id", "text", k)
          val d = docs.select(col("doc_id"),
            when(col("doc_id") % 100 === 3, lit("added"))
              .when(col("doc_id") % 100 === 7, lit("changed"))
              .when(col("doc_id") % 100 === 9, lit("removed"))
              .otherwise(lit(null).cast("string")).as("status"))
            .filter(col("status").isNotNull)
          val deltaPost = Dedup.spanPostings(
            next.filter(
              col("doc_id") % 100 === 3 || col("doc_id") % 100 === 7),
            "doc_id", "text", k)
          val (_, _, spans) = Incremental.maintainDupSpans(
            priorPost, deltaPost, d,
            Dedup.gramDocCounts(priorPost, "doc_id"),
            Dedup.dupSpans(prior, "doc_id", "text", k, minDocs = 2L),
            "doc_id", k, minDocs = 2L)
          spans.agg(coalesce(sum(col("n_windows")), lit(0L)))
            .head().getLong(0)
        })
      measure("fp02_incrwinnow", scale)(
        // incremental winnowing maintenance under the same delta: only
        // touched fingerprints' postings re-pair, folded additively
        // into the stored (unfiltered) pair table
        {
          import graft.operators.Incremental
          val prior = docs.filter(col("doc_id") % 100 =!= 3)
          val next = docs.filter(col("doc_id") % 100 =!= 9)
            .withColumn("text",
              when(col("doc_id") % 100 === 7,
                concat(col("text"), lit(" v2"))).otherwise(col("text")))
          def fps(f: DataFrame) =
            Dedup.winnowingFingerprints(f, "doc_id", "text", k = 4, w = 4)
          val priorFps = fps(prior)
          val d = docs.select(col("doc_id"),
            when(col("doc_id") % 100 === 3, lit("added"))
              .when(col("doc_id") % 100 === 7, lit("changed"))
              .when(col("doc_id") % 100 === 9, lit("removed"))
              .otherwise(lit(null).cast("string")).as("status"))
            .filter(col("status").isNotNull)
          val deltaFps = fps(next.filter(
            col("doc_id") % 100 === 3 || col("doc_id") % 100 === 7))
          val (_, pairs) = Incremental.maintainWinnowingPairs(
            priorFps, deltaFps, d,
            Dedup.winnowingPairCounts(priorFps, "doc_id"), "doc_id")
          pairs.agg(coalesce(sum(col("n_shared")), lit(0L)))
            .head().getLong(0)
        })
      measure("dc03_incrdecon", scale)(
        // incremental decontamination under a ~2% train delta, test
        // suite FIXED at the 1x %10 split (the dc02/ds01 contract):
        // only touched shingles' cross-side contributions fold into the
        // stored overlap table
        {
          import graft.operators.Incremental
          val testPost = docs1x.filter(col("doc_id") % 10 === 0)
            .select(col("doc_id").as("test_id"),
              explode(graft.GraftFunctions.ngramHashes(
                graft.functions.TextFunctions.tokens(col("text")), 3))
                .as("sh"))
          def post(d: DataFrame) = d.select(col("doc_id"),
            explode(graft.GraftFunctions.ngramHashes(
              graft.functions.TextFunctions.tokens(col("text")), 3))
              .as("sh"))
          val prior = docs.filter(col("doc_id") % 100 =!= 3)
          val next = docs.filter(col("doc_id") % 100 =!= 9)
            .withColumn("text",
              when(col("doc_id") % 100 === 7,
                concat(col("text"), lit(" v2"))).otherwise(col("text")))
          val priorPost = post(prior)
          val ok = priorPost.groupBy("sh").agg(count(lit(1)).as("__n"))
            .filter(col("__n") <= 10000).select("sh")
          val priorInter = testPost
            .join(priorPost.join(ok, Seq("sh"), "left_semi"), Seq("sh"))
            .groupBy(col("test_id"), col("doc_id"))
            .agg(count(lit(1)).as("inter"))
          val d = docs.select(col("doc_id"),
            when(col("doc_id") % 100 === 3, lit("added"))
              .when(col("doc_id") % 100 === 7, lit("changed"))
              .when(col("doc_id") % 100 === 9, lit("removed"))
              .otherwise(lit(null).cast("string")).as("status"))
            .filter(col("status").isNotNull)
          val deltaPost = post(next.filter(
            col("doc_id") % 100 === 3 || col("doc_id") % 100 === 7))
          val (_, nextInter) = Incremental.maintainContainment(
            priorPost, deltaPost, d, priorInter, testPost, "doc_id")
          nextInter.agg(coalesce(sum(col("inter")), lit(0L)))
            .head().getLong(0)
        })
      measure("bm02_incrbm25", scale)(
        // incremental BM25 index maintenance under a ~2% delta: the
        // prior index build pays the one token-stream shuffle indexing
        // always pays (bm01's row-local form deliberately avoids it for
        // one-off queries); the fold re-tokenizes delta docs only and
        // the query reads its terms' postings + the narrow lens frame
        {
          import graft.operators.Incremental
          val prior = docs.filter(col("doc_id") % 100 =!= 3)
          val next = docs.filter(col("doc_id") % 100 =!= 9)
            .withColumn("text",
              when(col("doc_id") % 100 === 7,
                concat(col("text"), lit(" v2"))).otherwise(col("text")))
          val (pp, pl) = CorpusStats.bm25Index(prior, "doc_id", "text")
          val d = docs.select(col("doc_id"),
            when(col("doc_id") % 100 === 3, lit("added"))
              .when(col("doc_id") % 100 === 7, lit("changed"))
              .when(col("doc_id") % 100 === 9, lit("removed"))
              .otherwise(lit(null).cast("string")).as("status"))
            .filter(col("status").isNotNull)
          val (dp, dl) = CorpusStats.bm25Index(
            next.filter(
              col("doc_id") % 100 === 3 || col("doc_id") % 100 === 7),
            "doc_id", "text")
          val (np, nl) = Incremental.maintainBm25Index(
            pp, pl, dp, dl, d, "doc_id")
          CorpusStats.bm25TopKFromIndex(np, nl, "doc_id",
            Seq("the", "and", "variant"), k = 10)
            .agg(coalesce(sum(col("score_micro")), lit(0L)))
            .head().getLong(0)
        })
      measure("hn01_batchbm25", scale)(
        // batch BM25 retrieval (hard-negative mining): index the
        // %10<>0 corpus, one query per %997 doc — the query set GROWS
        // with the corpus, the shape's point — 4 rarest in-corpus
        // terms each. This corpus is retrieval-adversarial (31-token
        // global vocabulary: every term posts corpus-wide), so the
        // scored frame is the full queries x corpus product — the
        // WORST case the operator can meet; real vocabularies bound
        // each query by its terms' posting lists
        {
          import graft.operators.Barriers
          val corpus = docs.filter(col("doc_id") % 10 =!= 0)
          val (p0, l0) = CorpusStats.bm25Index(corpus, "doc_id", "text")
          val postings = Barriers.stage(p0)
          val lens = Barriers.stage(l0)
          val (qPost, _) = CorpusStats.bm25Index(
            docs.filter(col("doc_id") % 997 === 0), "doc_id", "text")
          val dfFrame = postings.groupBy(col("term"))
            .agg(count(lit(1)).as("__df"))
          val queries = qPost
            .join(dfFrame, Seq("term"))
            .withColumn("__rn", row_number().over(
              Window.partitionBy(col("doc_id"))
                .orderBy(col("__df"), col("term"))))
            .filter(col("__rn") <= 4)
            .select(col("doc_id").as("query_id"), col("term"))
          CorpusStats.bm25BatchTopK(postings, lens, "doc_id", queries,
            "query_id", "term", k = 3).count()
        })
      measure("pp01_prefpairs", scale)(
        // preference-pair assembly: scores scan-side, then ONE
        // (group, score, id) aggregation — both elections are struct
        // min/max partials, so only group-domain rows exchange
        graft.operators.Conversations.preferencePairs(
          docs.select(col("doc_id"),
            (col("doc_id") % 50).cast("string").as("grp"),
            graft.functions.TextFunctions.qualityScore(col("text"))
              .as("score")),
          "doc_id", "grp", "score", margin = 1L).count())
      measure("hl04_groupedhll", scale)(
        // per-group HLL: the register agg is (group x 2^p)-domain,
        // map-side combined — ~zero shuffle at any corpus size
        graft.operators.Sketches.groupedHllEstimate(
          graft.operators.Sketches.groupedHllRegisters(
            docs.withColumn("grp", (col("doc_id") % 50).cast("string")),
            "grp", "text", p = 4),
          "grp", p = 4).count())
      measure("hl05_incrgrouped", scale)(
        // per-group register maintenance under a ~2% delta: the prior
        // contribution build is the setup (production: a table read);
        // the fold re-tokenizes delta docs only and re-maxes touched
        // (group, bucket) cells
        {
          import graft.operators.{Barriers, Incremental, Sketches}
          def hllOf(d: DataFrame) = Sketches.groupedHllContrib(
            d.withColumn("grp", (col("doc_id") % 50).cast("string")),
            "doc_id", "grp", "text", p = 4)
          val prior = docs.filter(col("doc_id") % 100 =!= 3)
          val next = docs.filter(col("doc_id") % 100 =!= 9)
            .withColumn("text",
              when(col("doc_id") % 100 === 7,
                concat(col("text"), lit(" v2"))).otherwise(col("text")))
          val d = docs.select(col("doc_id"),
            when(col("doc_id") % 100 === 3, lit("added"))
              .when(col("doc_id") % 100 === 7, lit("changed"))
              .when(col("doc_id") % 100 === 9, lit("removed"))
              .otherwise(lit(null).cast("string")).as("status"))
            .filter(col("status").isNotNull)
          val pc = Barriers.stage(hllOf(prior))
          val (_, nextReg) = Incremental.maintainRegisterMax(
            pc,
            hllOf(next.filter(
              col("doc_id") % 100 === 3 || col("doc_id") % 100 === 7)),
            d,
            pc.groupBy(col("grp"), col("bucket"))
              .agg(max(col("rho")).as("register")),
            "doc_id", keyCols = Seq("grp", "bucket"))
          nextReg.count()
        })
      measure("id02_incrindex", scale)(
        // incremental capped-index maintenance under the same delta:
        // the prior sig/index build is the setup (production: table
        // reads); the fold re-signs delta docs only and re-caps only
        // touched (band, bucket) cells — the hot-cluster buckets
        // (~110 docs) sit over the cap 100 so the step exercises the
        // representative-degrade path at scale
        {
          import graft.operators.Incremental
          val prior = docs.filter(col("doc_id") % 100 =!= 3)
          val next = docs.filter(col("doc_id") % 100 =!= 9)
            .withColumn("text",
              when(col("doc_id") % 100 === 7,
                concat(col("text"), lit(" v2"))).otherwise(col("text")))
          val priorSigs = Dedup.minhashSignature(prior, "doc_id", "text",
            numHashes = 64, nGram = 3)
          val priorIndex = Dedup.minhashIndexFromSigs(priorSigs,
            numHashes = 64, bands = 16, maxBucketSize = 100)
          val d = docs.select(col("doc_id").as("id"),
            when(col("doc_id") % 100 === 3, lit("added"))
              .when(col("doc_id") % 100 === 7, lit("changed"))
              .when(col("doc_id") % 100 === 9, lit("removed"))
              .otherwise(lit(null).cast("string")).as("status"))
            .filter(col("status").isNotNull)
          val deltaSigs = Dedup.minhashSignature(
            next.filter(
              col("doc_id") % 100 === 3 || col("doc_id") % 100 === 7),
            "doc_id", "text", numHashes = 64, nGram = 3)
          val (_, nextIndex) = Incremental.maintainMinhashIndex(
            priorSigs, deltaSigs, d, priorIndex,
            numHashes = 64, bands = 16, maxBucketSize = 100)
          nextIndex.agg(count(lit(1))).head().getLong(0)
        })
      measure("hl03_incrhll", scale)(
        // incremental HLL register maintenance: the contribution-frame
        // setup is the one token pass; the fold re-maxes touched
        // buckets only (64 at p=6 — all touched under any real delta,
        // which is fine: the re-max input is bucket-fan-in-bounded)
        {
          import graft.operators.{Incremental, Sketches}
          val prior = docs.filter(col("doc_id") % 100 =!= 3)
          val next = docs.filter(col("doc_id") % 100 =!= 9)
            .withColumn("text",
              when(col("doc_id") % 100 === 7,
                concat(col("text"), lit(" v2"))).otherwise(col("text")))
          val d = docs.select(col("doc_id"),
            when(col("doc_id") % 100 === 3, lit("added"))
              .when(col("doc_id") % 100 === 7, lit("changed"))
              .when(col("doc_id") % 100 === 9, lit("removed"))
              .otherwise(lit(null).cast("string")).as("status"))
            .filter(col("status").isNotNull)
          val deltaContrib = Sketches.hllContrib(
            next.filter(
              col("doc_id") % 100 === 3 || col("doc_id") % 100 === 7),
            "doc_id", "text", p = 6)
          val (_, reg) = Incremental.maintainRegisterMax(
            Sketches.hllContrib(prior, "doc_id", "text", p = 6),
            deltaContrib, d,
            Sketches.hllRegisters(prior, "text", p = 6), "doc_id")
          reg.agg(coalesce(sum(col("register")), lit(0L)))
            .head().getLong(0)
        })
      measure("cs03_incrcm", scale)(
        // incremental Count-Min maintenance: additive cell fold —
        // departed/delta contributions alone aggregate into the d*w
        // cell domain
        {
          import graft.operators.{Incremental, Sketches}
          val prior = docs.filter(col("doc_id") % 100 =!= 3)
          val next = docs.filter(col("doc_id") % 100 =!= 9)
            .withColumn("text",
              when(col("doc_id") % 100 === 7,
                concat(col("text"), lit(" v2"))).otherwise(col("text")))
          val d = docs.select(col("doc_id"),
            when(col("doc_id") % 100 === 3, lit("added"))
              .when(col("doc_id") % 100 === 7, lit("changed"))
              .when(col("doc_id") % 100 === 9, lit("removed"))
              .otherwise(lit(null).cast("string")).as("status"))
            .filter(col("status").isNotNull)
          val deltaContrib = Sketches.countMinContrib(
            next.filter(
              col("doc_id") % 100 === 3 || col("doc_id") % 100 === 7),
            "doc_id", "text", d = 4, w = 64)
          val (_, cells) = Incremental.maintainCountMinCells(
            Sketches.countMinContrib(prior, "doc_id", "text", d = 4, w = 64),
            deltaContrib, d,
            Sketches.countMinCells(prior, "text", d = 4, w = 64), "doc_id")
          cells.agg(coalesce(sum(col("cnt")), lit(0L)))
            .head().getLong(0)
        })
      measure("mw03_mixsolve", scale)(
        // mixture solver: one group-domain token agg + a source-domain
        // collect (the output's own size) + BigInt driver solve
        Sampling.mixtureBudgets(
          docs.withColumn("graft_src", (col("doc_id") % 7).cast("string")),
          "graft_src", "text",
          (0 to 6).map(i => i.toString -> (if (i == 0) 142858L else 142857L)))
          .agg(coalesce(sum(col("token_budget")), lit(0L)))
          .head().getLong(0))
      measure("pk02_padding", scale)(
        // padding report: two-level exact ranks (slice prefix + per-
        // slice windows) — narrow (id, nt, slice) rank rows only
        Sampling.paddingReport(docs, "doc_id", "text", batchSize = 64)
          .agg(coalesce(sum(col("padded_tokens")), lit(0L)))
          .head().getLong(0))
      measure("ch02_promptdedup", scale)(
        // prompt dedup: digests scan-side; the one exchange is the
        // distinct-prompt group agg (urlDedup's profile)
        graft.operators.Conversations.promptDedup(
          docs.withColumn("graft_tr", concat(
            lit("user: prompt "), (col("doc_id") % 500).cast("string"),
            lit("\nassistant: ok"))),
          "doc_id", "graft_tr")
          .agg(coalesce(sum(col("n_copies")), lit(0L))).head().getLong(0))
      measure("cm02_calibration", scale)(
        // reliability table: nb01's candidate frames + a |classes|-
        // bounded per-doc collect + margin-bin domain aggs
        CorpusStats.naiveBayesCalibration(
          docs.withColumn("graft_lang",
            when(col("doc_id") % 3 === 0, "aa").otherwise("bb")),
          "doc_id", "text", "graft_lang", vocabCap = 256)
          .agg(coalesce(sum(col("n_docs")), lit(0L))).head().getLong(0))
      measure("lm04_pplbuckets", scale)(
        // CCNet terciles: lm01's surprisal scan + one bin-domain count
        // agg + a 2-row threshold collect — the labeling pass is a
        // projection over the materialized surprisal frame
        CorpusStats.perplexityBuckets(docs, "doc_id", "text",
          vocabCap = 1024, binWidth = 10000L).count())
      measure("zo02_pruning", scale)(
        // pruning what-if: two scans (one per layout), each feeding one
        // 16-bucket aggregation — zero corpus-sized shuffle
        graft.operators.Layout.pruningComparison(
          docs.select((col("doc_id") % 1000L).as("a"),
            length(col("text")).cast("long").as("b")),
          Seq("a", "b"), Seq((0L, 999L), (0L, 65535L)),
          "b", lo = 100L, hi = 300L, bits = 8, nBuckets = 16)
          .agg(coalesce(sum(col("rows_scanned")), lit(0L))).head().getLong(0))
      measure("lm03_backoff", scale)(
        // Stupid Backoff: same exchange profile as lm01/lm02 — the
        // (doc, bigram, occ) count agg dominates; model tables are
        // bounded broadcasts at any corpus size
        CorpusStats.stupidBackoffSurprisal(docs, "doc_id", "text",
          vocabCap = 1024).count())
      measure("zo01_zorder", scale)(
        // Z-order bucket summary: quantize/interleave is scan-local
        // arithmetic; the only exchange is the nBuckets-domain agg
        graft.operators.Layout.zorderBuckets(
          docs.select((col("doc_id") % 1000L).as("a"),
            length(col("text")).cast("long").as("b")),
          Seq("a", "b"), Seq((0L, 999L), (0L, 65535L)),
          bits = 8, nBuckets = 16)
          .agg(coalesce(sum(col("n_rows")), lit(0L))).head().getLong(0))
      measure("c402_blocklist", scale)(
        // document-level blocklist gate: row-local contains() chain —
        // zero shuffle by construction ("the" hits most docs here)
        Curation.blocklistGate(docs, "doc_id", "text",
          Seq("the", "variant marker", "zzz absent phrase"))
          .agg(coalesce(sum(col("n_hits")), lit(0L))).head().getLong(0))
      measure("cd02_diff", scale)(
        // snapshot diff: the full-outer join carries (id, md5) only —
        // text digests scan-side. New snapshot drops/revises slices of
        // the corpus, so the diff answer grows linearly with it
        Dedup.corpusDiff(
          docs,
          docs.filter(col("doc_id") % 13 =!= 0)
            .withColumn("text",
              when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
                .otherwise(col("text"))),
          "doc_id", "text").count())
      measure("xs01_xsource", scale)(
        // cross-source overlap: (gram-hash, source) distinct agg; the
        // pair explode runs over per-gram source SETS (domain-bounded)
        graft.operators.Decontaminate.crossSourceGramOverlap(
          docs.withColumn("graft_src", (col("doc_id") % 7).cast("string")),
          "graft_src", "text", nGram = 5)
          .agg(coalesce(sum(col("n_shared_grams")), lit(0L)))
          .head().getLong(0))
      measure("me01_embed", scale)(
        // portable bulk embedding: the token explode is map-local; what
        // shuffles is the (id, slot) partial-aggregated bag — ≤ dim rows
        // per doc after map-side combine, never the token stream
        graft.vector.PortableHashEmbedder
          .embed(docs, "doc_id", "text", dim = 64)
          .agg(coalesce(sum(size(col("embedding")).cast("long")), lit(0L)))
          .head().getLong(0))
      measure("pd01_keepfirst", scale)(
        // keep-first line dedup: (id, pos, 8-byte hash) tuples + the
        // duplicate-bounded owner/removal frames; text moves only through
        // the affected-docs join. The variant corpus repeats base docs'
        // lines wholesale, so the dup set is large here — worst case.
        Dedup.dedupLinesKeepFirst(docs, "doc_id", "text", minChars = 10)
          .agg(coalesce(sum(length(col("text")).cast("long")), lit(0L)))
          .head().getLong(0))
      measure("sw01_softdedup", scale)(
        // soft dedup = dd05's cluster pipeline + a size agg over the
        // id-keyed cluster frame + an id-only corpus join
        Dedup.softDedupWeights(docs, "doc_id", "text", threshold = 0.8)
          .agg(coalesce(sum(col("weight_micro")), lit(0L)))
          .head().getLong(0))
      measure("ds01_dsir", scale) {
        // DSIR selection: the TARGET is FIXED at the 1x %10 split across
        // every scale (a target domain is bounded by definition — the
        // dc02/id01 fixed-side contract); the raw side grows. The LLR
        // table is a driver literal, so the only scaling exchanges are
        // the 256-key model aggs + the docs-bounded per-doc agg.
        CorpusStats.dsirWeights(
          docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text",
          docs1x.filter(col("doc_id") % 10 === 0), "text",
          buckets = 256)
          .agg(coalesce(sum(col("llr_micro")), lit(0L))).head().getLong(0)
      }
      measure("ng01_novelty", scale)(
        // novelty: (id, 60-bit gram hash, occ) map-side-combined rows,
        // one min per hash, one hash-keyed rejoin — no text movement
        CorpusStats.novelGramRate(docs, "doc_id", "text", nGram = 3)
          .agg(coalesce(sum(col("novel_grams")), lit(0L)))
          .head().getLong(0))
      measure("cm01_confusion", scale) {
        // classifier eval: nb01's pipeline + ONE confusion-matrix pass
        // (label-domain² rows); the report itself is driver-scale
        val labeled = docs.withColumn("graft_lbl",
          (col("doc_id") % 5).cast("string"))
        val scored = CorpusStats.naiveBayesPredict(
            labeled, "doc_id", "text", "graft_lbl", vocabCap = 1024)
          .join(labeled.select(col("doc_id"), col("graft_lbl")), "doc_id")
        CorpusStats.classifierReport(scored, "graft_lbl", "pred").count()
      }
      measure("sp06_strat", scale)(
        // stratified fixed-k: two-level bucket ranking over narrow
        // (stratum, id, 8-hex hash) rows; level 2 sees ≤ 32k rows/stratum
        Sampling.stratifiedFixedSample(
          docs.withColumn("graft_strat", (col("doc_id") % 16).cast("string")),
          "doc_id", "graft_strat", k = 20, salt = "sp")
          .count())
    }

    runFamily("1x", docs1x, emb1x)
    runFamily("10x", d10, e10)
    if (x100) {
      val d100 = spark.read.parquet(s"$base/docs100x")
      println(s"docs 100x=${d100.count()}")
      runFamily("100x", d100, e10) // emb lanes rejected by the arg require
    }

    // growth table: 10x/1x ratios (sub-quadratic = shuffle ratio well
    // under 100 for a 10x input)
    def growthTable(s1: String, s2: String): Unit = {
      println(s"\n| operator | rows $s1→$s2 | wall $s1→$s2 | shuffle MiB $s1→$s2 | ratio | maxStage $s1→$s2 | skew $s1→$s2 |")
      println("|---|---|---|---|---|---|---|")
      results.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (n, rs) =>
        (rs.find(_.scale == s1), rs.find(_.scale == s2)) match {
          case (Some(a), Some(b)) =>
            val ratio = if (a.shuffleMiB > 0) b.shuffleMiB / a.shuffleMiB else 0.0
            println(f"| $n | ${a.rows}→${b.rows} | ${a.wallSec}%.1f→${b.wallSec}%.1f s " +
              f"| ${a.shuffleMiB}%.1f→${b.shuffleMiB}%.1f | ${ratio}%.1f× " +
              f"| ${a.maxStageMiB}%.1f→${b.maxStageMiB}%.1f | ${a.taskSkew}%.1f→${b.taskSkew}%.1f |")
          case _ => ()
        }
      }
    }
    growthTable("1x", "10x")
    if (x100) growthTable("10x", "100x")
    // enforce the committed ceilings: a refactor that quietly regresses a
    // lane's shuffle growth or skew fails the run, not just the reader
    val violations = checkBounds(results.toSeq)
    if (violations.isEmpty) println("\nbounds: all lanes within committed ceilings")
    else {
      println("\nBOUNDS VIOLATIONS:")
      violations.foreach(v => println(s"  FAIL $v"))
    }
    spark.stop()
    if (violations.nonEmpty) sys.exit(1)
  }
}
