package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorTextExprs.shingle_hashes
import graft.util.CacheScope

/** Deduplication operators for large-scale training-data pipelines.
  *
  * Scale design notes (the patterns, not the small-SF sizes, are the point):
  *  - exact dedup groups by a 64-bit content hash, never by the full text —
  *    the shuffle carries 8-byte keys, not documents;
  *  - near-dup detection is inverted-index shaped: explode per-doc hashed
  *    shingle keys (or LSH bands / simhash blocks), self-join on the key to
  *    get candidates, verify candidates EXACTLY via array_intersect on the
  *    per-doc shingle arrays — never an all-pairs cross join, and precision
  *    is 1 by construction;
  *  - every join key is a hash, so AQE's skew handling applies directly;
  *  - shingles come from ONE single-pass custom expression
  *    ([[graft.functions.ShingleHashes]]) — the compositional
  *    split/transform/element_at form re-split the text per element
  *    (O(words²) interpreted work per row).
  */
object Dedup {

  /** Exact dedup: keep the smallest id per identical text. Groups on
    * (xxhash64, sha256) of the text, so the shuffle key is 40 bytes instead
    * of the document itself (round 1 grouped on (hash, text) — partial
    * aggregation still carried full documents through the exchange).
    * Identity is cryptographic: a false merge needs a SHA-256 collision. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
        xxhash64(col(textCol)).as("__h"),
        sha2(col(textCol), 256).as("__sha"))
      .groupBy(col("__h"), col("__sha"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("dup_count"))
      .select(col(idCol), col("dup_count"))

  /** (id, sh: array<long> distinct shingle hashes, sz), materialized: the
    * shingle frame is consumed 3x (inverted index / candidate legs / exact
    * verify) — without the cache the O(n) shingling pass re-runs each time
    * (3x the scan cost at 100 TB; round-1 bench showed it dominating
    * q_quality_filter_dedup). MEMORY_AND_DISK so oversized corpora spill
    * instead of OOM. Materialized rather than persisted because the verify
    * joins it once per pair side: over one materialized leaf AQE builds one
    * broadcast for both sides (two scans of a persisted plan are two), and
    * the pair result's lineage keeps that broadcast alive. */
  private[operators] def shingled(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    CacheScope.materialize(
      df.select(col(idCol).as("id"), shingle_hashes(col(textCol), n).as("sh"))
        .withColumn("sz", size(col("sh")))
        // estimate signature on an independent seed so candidate-band
        // collisions do not inflate the jaccard estimate
        .withColumn("sig", graft.functions.VectorTextExprs
          .min_hash_bands(col("sh"), 64, 1, seed = 77L)))

  /** Signature width for the estimate pre-filter and the cut below the
    * threshold that still keeps borderline pairs: 3.5 standard errors at
    * k=64 (sqrt(0.25/64) ≈ 0.0625 worst case) — a pair AT tau survives with
    * p > 0.9997, pairs well below tau never ship their arrays. */
  private[operators] val EstK = 64
  private[operators] val EstMargin = 0.22

  /** Verification of candidate pairs, two-phase:
    * (1) [optional, `estimateFilter`] estimate jaccard from 64-minhash
    *     signature agreement (512 B per doc cross the join instead of the
    *     full shingle array) and discard candidates more than [[EstMargin]]
    *     below tau — this phase is PROBABILISTIC: a pair exactly at tau is
    *     dropped with p ≈ 3e-4 (3.5 standard errors at k=64);
    * (2) join the full sorted shingle arrays for the survivors only and
    *     count the intersection with one linear merge — exact.
    * The 1M-file probe shipped 2M candidate pairs x two ~2.4 KB arrays
    * through phase-2 joins before this split; survivors are ~the true pair
    * set, so the heavy join shrinks ~40x. Callers needing
    * exact-given-candidates semantics pass estimateFilter = false and pay
    * the full phase-2 join for every candidate. */
  private[operators] def verify(candidates: DataFrame, sh: DataFrame, tau: Double,
      estimateFilter: Boolean): DataFrame = {
    import graft.functions.VectorTextExprs.{array_eq_count, sorted_intersect_count}
    val survivors =
      if (!estimateFilter) candidates
      else candidates
        .join(sh.select(col("id").as("a"), col("sig").as("siga")), Seq("a"))
        .join(sh.select(col("id").as("b"), col("sig").as("sigb")), Seq("b"))
        .filter(array_eq_count(col("siga"), col("sigb")).cast("double") / EstK.toDouble
          >= tau - EstMargin)
        .select(col("a"), col("b"))
    survivors
      .join(sh.select(col("id").as("a"), col("sh").as("sha"), col("sz").as("asz")), Seq("a"))
      .join(sh.select(col("id").as("b"), col("sh").as("shb"), col("sz").as("bsz")), Seq("b"))
      .withColumn("inter", sorted_intersect_count(col("sha"), col("shb")))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("asz") + col("bsz") - col("inter")).cast("double"))
      .filter(col("jaccard") >= tau)
      .select(col("a"), col("b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Materializes the (tiny) pair result eagerly so the O(corpus) shingle
    * cache can be released deterministically: retained executor storage
    * shrinks from the whole shingled corpus to the output pair set — which
    * the caller holds anyway. The materialized frame's plan is cut
    * ([[CacheScope.materialize]]), so downstream iterative consumers
    * (connected components) never re-plan candidate generation; a lost
    * pair block recomputes from the lineage.
    *
    * Returns the pair count too: `count()` is the materializing action, so
    * the count that every downstream consumer needs anyway
    * (connected-components size gate, spec assertions) costs ZERO extra
    * jobs — round 3 ran a separate count() barrier over the
    * already-materialized frame. */
  private[operators] def materializeAndRelease(result: DataFrame, sh: DataFrame): (DataFrame, Long) = {
    val out = CacheScope.materialize(result)
    val n = out.count()
    CacheScope.release(sh)
    (out, n)
  }

  /** [[CacheScope.materialize]] filled at once by one job over its rows,
    * so the caches it was computed from can be released. */
  private[operators] def materializeNow(df: DataFrame): DataFrame = {
    val out = CacheScope.materialize(df)
    out.queryExecution.toRdd.count()
    out
  }

  /** All pairs (a < b) with n-gram Jaccard ≥ tau — prefix-filtered
    * inverted-index self-join for candidates (pairs sharing ≥1 shingle
    * within their tau-prefixes; lossless, see inline), then two-phase verification
    * (estimate pre-filter + exact intersection; see [[verify]] — with the
    * default estimateFilter a borderline pair at exactly tau is dropped with
    * p ≈ 3e-4; pass estimateFilter = false for exact-given-candidates
    * semantics). To bound worst-case candidate blowup on pathological
    * ultra-frequent shingles, shingles with document frequency > maxShingleDf
    * are excluded from CANDIDATE GENERATION only; a qualifying pair whose
    * every shared shingle is ultra-frequent would be missed — at tau >= 0.5
    * that requires a near-duplicate made entirely of boilerplate, which the
    * frequency cap itself makes cheap to special-case upstream.
    *
    * Eager: the result (pair set) is materialized and the O(corpus) shingle
    * cache released before returning. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, tau: Double = 0.7, maxShingleDf: Int = 10000,
      estimateFilter: Boolean = true): DataFrame =
    ngramJaccardPairsCounted(df, idCol, textCol, n, tau, maxShingleDf,
      estimateFilter)._1

  /** [[ngramJaccardPairs]] plus the pair count the materializing job already
    * produced (no extra job — see [[materializeAndRelease]]). */
  def ngramJaccardPairsCounted(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, tau: Double = 0.7, maxShingleDf: Int = 10000,
      estimateFilter: Boolean = true): (DataFrame, Long) = {
    val sh = shingled(df, idCol, textCol, n)
    // AllPairs/PPJoin PREFIX FILTER (Bayardo et al., WWW'07): under ANY
    // fixed global total order of shingles, a pair with jaccard >= tau
    // must share an element within the first |d| - ceil(tau*|d|) + 1
    // elements of EACH side's so-ordered shingle list — so only that
    // prefix is indexed, and recall stays EXACTLY 1 (verification
    // unchanged). +2 instead of +1 absorbs float slop in (1-tau)*|d| so
    // rounding can never shorten the prefix below the bound.
    //
    // ORDER MATTERS (the part of the paper rounds 3-5 skipped): the global
    // order is (document frequency ASC, hash ASC) — each doc's prefix is
    // its RAREST shingles. The earlier hash-ordered prefix put boilerplate
    // shingles (df in the thousands, below any sane cap) into ~1/(1-tau)
    // of all prefixes, and candidates are Σ df·(df-1)/2 over indexed keys:
    // measured on a 50k-file code corpus, hash-ordered prefixes produced
    // 1.29e9 candidate pairs (1.12e9 from keys with df > 1000; the
    // operator ran >20 min) while df-ordered prefixes collapse the same
    // corpus to ~1e5 candidates and seconds of work — a frequent shingle
    // now only occupies a prefix slot when a doc has almost nothing rarer,
    // which is precisely the near-pure-boilerplate doc whose pairs the
    // operator exists to find. Cost: the df table is one extra
    // partial-aggregated O(corpus-shingle) pass and the per-doc re-sort
    // buffers only that doc's own (df, hash) pairs (bounded by doc
    // length); the hot-key safety is unchanged — frequency comes from a
    // partial-agg'd groupBy, never a per-key window.
    val tokens = sh.select(col("id"), explode(col("sh")).as("k"))
    val dfTab = tokens.groupBy(col("k")).agg(count(lit(1)).as("df"))
    val pref = tokens.join(dfTab, Seq("k"))
      .select(col("id"), struct(col("df"), col("k")).as("dk"))
      .groupBy(col("id"))
      .agg(collect_list(col("dk")).as("dks"))
      .select(col("id"), explode(slice(array_sort(col("dks")), lit(1),
        (floor(size(col("dks")) * lit(1.0 - tau)) + lit(2)).cast("int")))
        .as("dk"))
    // df < 2 cannot produce a pair; df > maxShingleDf is the explosion
    // backstop (same contract as before — a qualifying pair whose EVERY
    // shared shingle is ultra-frequent would be missed; with df-ordered
    // prefixes the cap is a pure safety net instead of the only defense)
    // persisted: BOTH legs of the candidate self-join consume the prefix
    // index, and its build is the tokens->df->regroup chain above — 16-byte
    // rows, ~(1-tau) of the corpus' distinct shingles, trivially cacheable;
    // released with the shingle cache once the pair result materializes
    val invR = CacheScope.persist(pref
      .filter(col("dk.df").between(2L, maxShingleDf.toLong))
      .select(col("dk.k").as("k"), col("id")))
    val candidates = invR.select(col("k"), col("id").as("a"))
      .join(invR.select(col("k"), col("id").as("b")), Seq("k"))
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
    val out = materializeAndRelease(verify(candidates, sh, tau, estimateFilter), sh)
    CacheScope.release(invR)
    out
  }

  /** MinHash + LSH banding: b bands of r rows. Docs sharing any band bucket
    * become candidates; verification makes precision 1, and recall is
    * 1-(1-s^r)^b times the estimate-pre-filter survival (≈ 1 - 3e-4 for a
    * pair at exactly tau; see [[verify]], or pass estimateFilter = false).
    * Defaults r=5, b=32: band miss(s=0.8) ≈ 3e-6, miss(s=0.75) ≈ 2e-4,
    * miss(s=0.7) ≈ 2.8e-3, while collisions between UNRELATED docs scale as
    * b·s^r — at r=3 (round 1's default) shared boilerplate shingles made
    * candidate buckets grow with corpus size and the verify stage (which
    * ships both full shingle arrays per candidate) dominated the 100k-file
    * probe at 206 s; r=5 cut measured candidates ~5x at 20k docs and keeps
    * cutting as s^5 at scale. For exactness-critical thresholds run r=2
    * (band miss(s=0.7) ≤ 1e-10) and eat the larger candidate set.
    *
    * `maxBucket` is the explosion backstop (the banding twin of
    * [[ngramJaccardPairs]]'s df cap): band keys shared by more than
    * maxBucket docs are boilerplate collisions and are dropped from
    * candidate generation only — a qualifying pair loses that band but has
    * b-1 more chances; verification stays exact.
    *
    * All min-hashes + band keys come from ONE compiled per-row pass over
    * the doc's own shingle array ([[graft.functions.MinHashBands]]); the
    * only exchange before verification is the (id, band) candidate join —
    * round 1 shuffled every (doc, shingle) pair through a 72-aggregate
    * groupBy just to build signatures. */
  def minHashLshPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, tau: Double = 0.7, bands: Int = 32, rows: Int = 5,
      maxBucket: Int = 500, estimateFilter: Boolean = true): DataFrame =
    minHashLshPairsCounted(df, idCol, textCol, n, tau, bands, rows,
      maxBucket, estimateFilter)._1

  /** Probability that a pair with Jaccard `s` shares at least one of `b`
    * bands of `r` rows — the LSH S-curve 1-(1-s^r)^b. */
  def bandingRecall(s: Double, bands: Int, rows: Int): Double =
    1.0 - math.pow(1.0 - math.pow(s, rows), bands)

  /** Picks the cheapest (bands, rows) whose recall at similarity `tau`
    * meets `targetRecall`: for each r, the smallest b is forced by the
    * S-curve (b = ceil(ln(1-recall)/ln(1-tau^r))), so the search is a
    * 1-D scan over r minimizing signature size b·r — with ties broken
    * toward LARGER r, because unrelated-pair collisions (the verify-stage
    * cost that actually hurts at corpus scale, see [[minHashLshPairs]])
    * scale as b·s^r and r is the exponent. `maxSignature` caps b·r (the
    * per-doc bytes the candidate stage ships). */
  def chooseBanding(tau: Double, targetRecall: Double,
      maxSignature: Int = 512): (Int, Int) = {
    require(tau > 0 && tau < 1, s"tau must be in (0,1), got $tau")
    require(targetRecall > 0 && targetRecall < 1,
      s"targetRecall must be in (0,1), got $targetRecall")
    val options = (1 to 64).flatMap { r =>
      val miss = 1.0 - math.pow(tau, r)
      val b =
        if (miss <= 0.0) 1
        else math.ceil(math.log1p(-targetRecall) / math.log(miss)).toInt.max(1)
      if (b.toLong * r <= maxSignature) Some((b, r)) else None
    }
    require(options.nonEmpty,
      s"no banding meets recall $targetRecall at tau=$tau within $maxSignature hashes")
    options.minBy { case (b, r) => (b * r, -r) }
  }

  /** [[minHashLshPairs]] plus the pair count the materializing job already
    * produced (no extra job — see [[materializeAndRelease]]). */
  def minHashLshPairsCounted(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, tau: Double = 0.7, bands: Int = 32, rows: Int = 5,
      maxBucket: Int = 500, estimateFilter: Boolean = true): (DataFrame, Long) = {
    val sh = shingled(df, idCol, textCol, n)
    val banded = sh.select(col("id"),
      explode(graft.functions.VectorTextExprs
        .min_hash_bands(col("sh"), bands, rows)).as("band"))
    // ONE shuffle of the (id, band) rows: each band bucket's members are
    // collected (capped at maxBucket+1, so an overflowing boilerplate bucket
    // is detected and dropped exactly as the old __bc > maxBucket filter
    // did) and its candidate pairs exploded in place. Round 3 shuffled
    // `banded` TWICE more here — once through a groupBy(count) to find small
    // buckets and once through the join back — pure barrier latency at small
    // scale and 2 extra O(corpus·bands) exchanges at large. Per-group state
    // is bounded by maxBucket ids, the same explosion backstop as before.
    val ids = col("ids")
    val pairsOfBucket = flatten(transform(ids, (x, i) =>
      transform(slice(ids, i + lit(2), size(ids)), y =>
        struct(least(x, y).as("a"), greatest(x, y).as("b")))))
    val candidates = banded.groupBy(col("band"))
      .agg(graft.functions.api.collect_list_limit(col("id"), maxBucket + 1).as("ids"))
      .filter(size(ids).between(2, maxBucket))
      .select(explode(pairsOfBucket).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    materializeAndRelease(verify(candidates, sh, tau, estimateFilter), sh)
  }

  /** 64-bit SimHash signatures: ONE map-only projection through the
    * single-pass [[graft.functions.SimHash64]] expression (sign of per-bit
    * +1/-1 counts over xxhash64(word)). The round-1..3 implementation
    * exploded words and ran a 64-aggregate groupBy — a full shuffle of every
    * corpus token to compute a per-row value; signature build is now
    * exchange-free (plan-gated in PlanQualitySpec), so at any corpus size
    * the only shuffle in simhash dedup is the (id, block-key) candidate
    * join downstream. */
  def simHash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
      graft.functions.VectorTextExprs.sim_hash64(col(textCol)).as("simhash"))
      // null-text docs have no signature (parity with the round-3
      // aggregate, which dropped them) — and every such doc would otherwise
      // share identical (block, NULL) join keys downstream: struct keys
      // with equal null fields DO match in a hash join, so k null docs
      // would explode into ~k²·blocks candidate rows in simHashPairs
      .filter(col("simhash").isNotNull)

  /** SimHash near-dup pairs: block-LSH candidates verified by exact hamming
    * distance. The 64-bit signature splits into 64/blockBits blocks; by
    * pigeonhole, any pair within hamming (numBlocks-1) shares one unchanged
    * block, so recall is 1 for maxHamming <= numBlocks-1.
    *
    * blockBits sets the scale/sensitivity trade: 8-bit blocks (8 tables)
    * cover hamming <= 7 but give only 256 buckets per block — ~N/256 docs
    * per bucket is quadratic-candidate territory at 10^9 docs (round-1
    * weakness). 16-bit blocks (4 tables, 65536 buckets) are the web-scale
    * point and still cover hamming <= 3, which for word-multiset simhash is
    * a jaccard ~0.97 near-identical detector. */
  def simHashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, blockBits: Int = 16): DataFrame = {
    require(64 % blockBits == 0, s"blockBits must divide 64, got $blockBits")
    val numBlocks = 64 / blockBits
    require(maxHamming <= numBlocks - 1,
      s"$numBlocks-block LSH guarantees recall only for hamming <= ${numBlocks - 1}")
    val mask = (1L << blockBits) - 1
    // persisted: both legs of the block-key self-join consume the signature
    // frame. When signatures came from a groupBy, ReuseExchange deduplicated
    // the corpus scan for free; the (better) map-only plan has no exchange
    // to reuse, so without the persist each leg would rescan + re-hash the
    // whole corpus. 16 bytes/doc — trivially cacheable at any scale. The
    // pair result is materialized eagerly and the cache released, same
    // discipline as the minhash/ngram paths.
    val sig = CacheScope.persist(simHash(df, idCol, textCol))
    val blocked = sig.select(col("id"), col("simhash"),
      explode(array((0 until numBlocks).map(blk =>
        struct(lit(blk).as("blk"),
          shiftright(col("simhash"), blk * blockBits).bitwiseAND(mask).as("key"))): _*))
        .as("b"))
    val x = blocked.select(col("b"), col("id").as("a"), col("simhash").as("ha"))
    val y = blocked.select(col("b"), col("id").as("b2"), col("simhash").as("hb"))
    val result = x.join(y, Seq("b")).filter(col("a") < col("b2"))
      .select(col("a"), col("b2").as("b"), col("ha"), col("hb")).distinct()
      .withColumn("hamming", bit_count(col("ha").bitwiseXOR(col("hb"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("a"), col("b"), col("hamming"))
    materializeAndRelease(result, sig)._1
  }

  /** Substring-level exact dedup (Lee et al. 2021, arXiv:2107.06499 —
    * public): find every maximal span of >= `minTokens` consecutive tokens
    * that occurs at least `minDf` times across the corpus (cross- OR
    * intra-document — the paper's ExactSubstr criterion), reported as
    * inclusive 0-based token offsets `(id, start_tok, end_tok)`. Exact and
    * whole-doc dedup miss these: boilerplate headers, license blocks, and
    * templated passages embedded in otherwise-unique files are the dominant
    * residual duplication in web/code corpora (the paper's motivation).
    *
    * Spark shape instead of the paper's suffix array (a single-node
    * construct): windows of exactly `minTokens` tokens are hashed
    * POSITIONALLY in one map-only pass per row
    * ([[graft.functions.TokenWindowHashes]]); a partial-aggregated
    * groupBy(hash) finds duplicated windows (the distributed equivalent of
    * the paper's global suffix sort — global frequency needs one global
    * shuffle of 20-byte rows, and map-side combine makes it immune to a
    * boilerplate hot window) and a join marks their occurrences — see
    * [[flaggedWindows]] for the skew analysis. Flagged windows then merge
    * into maximal spans per document with one lag + running-sum window over
    * the (small) flagged set: equal-length intervals sorted by start merge
    * exactly when `pos - prev_pos <= minTokens` (overlap or
    * token-adjacency), so the gaps-and-islands trick needs no running-max.
    * A span longer than minTokens duplicated in full shows up as its chain
    * of overlapping duplicated windows and merges back into ONE maximal
    * span — same maximality the suffix-array formulation yields.
    *
    * 64-bit window hashing makes a false flag a ~2^-64 event per window
    * pair (the paper's own hash-bucketing preprocessing accepts the same);
    * verification-by-content would ship every window string through the
    * exchange for no measurable precision gain. */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
      minTokens: Int = 50, minDf: Int = 2): DataFrame =
    mergeIslands(flaggedWindows(df, idCol, textCol, minTokens, minDf,
      excludeCanonical = false), minTokens)

  /** (id, pos) of every length-`minTokens` window occurrence whose hash
    * occurs >= `minDf` times corpus-wide; with `excludeCanonical` the single
    * lexicographically-least (id, pos) occurrence of each window is kept
    * OUT of the flagged set (it is the copy [[removeDuplicateSpans]]
    * preserves).
    *
    * Skew-immune shape: the global frequency (and canonical pick) comes
    * from a partial-aggregated `groupBy(hash)` — a boilerplate window
    * duplicated 10^8 times collapses map-side to one row per partition, so
    * no task ever receives a hot hash's full occurrence list (the
    * alternative, `Window.partitionBy(hash)`, sorts every occurrence of a
    * hash in ONE task with no combine and no AQE help — the classic
    * hot-key death at 10^12 files). The duplicated-hash table that survives
    * `df >= minDf` is the MINORITY of windows by construction, so the
    * flag-marking join back to the window stream is a broadcast in the
    * common case (AQE converts it at runtime) and an AQE-skew-splittable
    * shuffle join in the worst case. Cost: the corpus is window-hashed
    * twice (two map-only scans of a per-row pure function) — the price of
    * not materializing an O(corpus tokens) stream; both scans shuffle
    * 20-byte rows at most once each. */
  private def flaggedWindows(df: DataFrame, idCol: String, textCol: String,
      minTokens: Int, minDf: Int, excludeCanonical: Boolean): DataFrame = {
    require(minDf >= 2, s"a span needs at least 2 occurrences to be a duplicate, got $minDf")
    def win = df.select(col(idCol).as("id"),
      posexplode(graft.functions.VectorTextExprs
        .token_window_hashes(col(textCol), minTokens)).as(Seq("pos", "h")))
    val dup = win.groupBy(col("h"))
      .agg(count(lit(1)).as("df"), min(struct(col("id"), col("pos"))).as("canon"))
      .filter(col("df") >= minDf)
      .select(col("h"), col("canon"))
    val joined = win.join(dup, Seq("h"))
    if (!excludeCanonical) joined.select(col("id"), col("pos"))
    else joined
      .filter(!(col("canon.id") === col("id") && col("canon.pos") === col("pos")))
      .select(col("id"), col("pos"))
  }

  /** Merge flagged equal-length window starts into maximal spans
    * (gaps-and-islands; see [[duplicateSpans]] scaladoc for why
    * `pos - prev <= minTokens` is the exact merge criterion). */
  private def mergeIslands(flagged: DataFrame, minTokens: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val islands = flagged
      .withColumn("prev", lag(col("pos"), 1).over(
        Window.partitionBy(col("id")).orderBy(col("pos"))))
      .withColumn("island", sum(
        when(col("prev").isNull || col("pos") - col("prev") > minTokens, 1)
          .otherwise(0))
        .over(Window.partitionBy(col("id")).orderBy(col("pos"))))
    islands.groupBy(col("id"), col("island"))
      .agg(min(col("pos")).as("start_tok"),
        (max(col("pos")) + lit(minTokens - 1)).as("end_tok"))
      .select(col("id"), col("start_tok"), col("end_tok").cast("int").as("end_tok"))
  }

  /** The ACTION counterpart of [[duplicateSpans]] — the paper's actual
    * dedup step (arXiv:2107.06499 §4.1 removes all but one occurrence of
    * each duplicated substring): cut every duplicated span from the corpus
    * EXCEPT its canonical copy, the occurrence with the lexicographically
    * least (id, pos) per window — deterministic, order-independent, and
    * oracle-recomputable (no "first seen" runtime dependence). A canonical
    * occurrence is never flagged for its OWN window, though (as in the
    * paper's span-removal formulation) it can still lose tokens to an
    * overlapping span flagged for a different window.
    *
    * Returns (id, text, removed_tokens): `text` is the document with all
    * non-canonical duplicated spans' tokens removed (remaining tokens
    * re-joined with single spaces — the pipeline's tokenization is
    * whitespace-normal form, so this is lossless for kept tokens), and
    * `removed_tokens` counts what was cut. Documents with nothing to cut
    * pass through BYTE-IDENTICAL (guarded by a null-span branch, not a
    * split+rejoin round trip).
    *
    * Scale shape: the flagged-set computation is [[duplicateSpans]]' single
    * skew-immune frequency pass (min(struct) is a second aggregate in the
    * same partial-agg'd groupBy(hash) — see [[flaggedWindows]]);
    * the span cut is a join of the corpus against the merged span list —
    * spans are the RARE side (duplicated text is the minority in a curated
    * corpus), so AQE broadcasts them at small scale and a hash join on id
    * handles the rest; the cut itself is codegen'd builtins (split /
    * higher-order filter on token index / array_join), no UDF. */
  def removeDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
      minTokens: Int = 50, minDf: Int = 2): DataFrame = {
    val spans = mergeIslands(flaggedWindows(df, idCol, textCol, minTokens, minDf,
        excludeCanonical = true), minTokens)
      .groupBy(col("id"))
      .agg(collect_list(struct(col("start_tok"), col("end_tok"))).as("spans"))
    df.select(col(idCol).as("id"), col(textCol).as("text"))
      .join(spans, Seq("id"), "left")
      .select(col("id"),
        when(col("spans").isNull, col("text")).otherwise(
          array_join(filter(split(col("text"), " ", -1),
            (_, i) => !exists(col("spans"),
              s => i >= s("start_tok") && i <= s("end_tok"))), " ")).as("text"),
        coalesce(aggregate(col("spans"), lit(0),
          (acc, s) => acc + s("end_tok") - s("start_tok") + lit(1)), lit(0))
          .as("removed_tokens"))
  }

  /** LINE-level corpus dedup — the C4/RefinedWeb boilerplate-removal move
    * (C4, arXiv:1910.10683 §2.2 dedups repeated spans corpus-wide at the
    * line-ish granularity; RefinedWeb/Dolma apply it per line): every line
    * occurring >= `minDf` times corpus-wide is cut from every document
    * EXCEPT its canonical occurrence — the lexicographically least
    * (id, line_no), deterministic and oracle-recomputable. Lines shorter
    * than `minLineLen` characters are exempt (an empty line is structure,
    * not boilerplate — cutting all blank lines but one corpus-wide would
    * mangle every document).
    *
    * Scale shape mirrors [[flaggedWindows]]: line frequency (+ canonical
    * pick) comes from ONE partial-agg'd groupBy over 64-bit line hashes —
    * map-side combine collapses a line duplicated 10^8 times, no hot-key
    * task, line TEXT never shuffles for counting — and the minority
    * duplicated-line table joins back (broadcast under AQE / skew-split).
    * The cut list then re-keys per doc (small), and the rebuild is a
    * left join of the corpus against that rare side: documents with
    * nothing to cut pass through BYTE-IDENTICAL via the null branch,
    * and the cut itself is codegen'd builtins (split / indexed filter /
    * array_join), no UDF.
    *
    * Returns (id, text, removed_lines). */
  def dedupLines(df: DataFrame, idCol: String, textCol: String,
      minDf: Int = 2, minLineLen: Int = 1): DataFrame = {
    require(minDf >= 2, s"a line needs at least 2 occurrences to be a duplicate, got $minDf")
    def lines = df.select(col(idCol).as("id"),
      posexplode(split(col(textCol), "\n", -1)).as(Seq("ln", "line")))
      .filter(length(col("line")) >= minLineLen)
      .select(col("id"), col("ln"), xxhash64(col("line")).as("h"))
    val dup = lines.groupBy(col("h"))
      .agg(count(lit(1)).as("c"), min(struct(col("id"), col("ln"))).as("canon"))
      .filter(col("c") >= minDf)
      .select(col("h"), col("canon"))
    val cuts = lines.join(dup, Seq("h"))
      .filter(!(col("canon.id") === col("id") && col("canon.ln") === col("ln")))
      .groupBy(col("id")).agg(collect_set(col("ln")).as("cuts"))
    df.select(col(idCol).as("id"), col(textCol).as("text"))
      .join(cuts, Seq("id"), "left")
      .select(col("id"),
        when(col("cuts").isNull, col("text")).otherwise(
          array_join(filter(split(col("text"), "\n", -1),
            (_, i) => !array_contains(col("cuts"), i)), "\n")).as("text"),
        coalesce(size(col("cuts")), lit(0)).as("removed_lines"))
  }

  /** Connected components, size-adaptive (the AQE philosophy applied to the
    * operator): min-label propagation needs O(diameter) shuffle rounds —
    * each a full scheduler barrier — which is the right shape for billions
    * of edges but pure fixed latency when the edge set is small. When the
    * (already-materialized) edge list is under `driverEdgeLimit`, run an
    * exact union-find on the driver in one pass and parallelize the labels
    * back out; both paths produce IDENTICAL output (label = min node id of
    * the component — spec-asserted), so the cutover changes cost, never
    * results. At 10^12-file dup rates the edge list exceeds any driver, and
    * the distributed path engages automatically. The default limit keeps
    * driver union-find state in the low hundreds of MB even for struct
    * node ids (~4 map entries per edge, ~100 B each). */
  def connectedComponentsAuto(edges: DataFrame,
      driverEdgeLimit: Long = 500000L, maxIter: Int = 30,
      knownEdgeCount: Option[Long] = None): DataFrame = {
    // gate on the edge count — passed in when the caller already knows it
    // (the dedup pipeline does: pair materialization counts for free), else
    // a full parallel count over the materialized frame (a
    // limit()-based probe would funnel rows through a single partition)
    val n = knownEdgeCount.getOrElse(edges.count())
    if (n > driverEdgeLimit) connectedComponents(edges, maxIter)
    else {
      val spark = edges.sparkSession
      val schema = edges.schema
      val rows = edges.select(col("a"), col("b")).collect()
      // union-find over arbitrary node values; ordering MUST match Spark's
      // (distributed min() semantics) so both paths pick identical labels
      val parent = scala.collection.mutable.HashMap[Any, Any]()
      def cmp(dt: org.apache.spark.sql.types.DataType, x: Any, y: Any): Int = dt match {
        case org.apache.spark.sql.types.LongType =>
          java.lang.Long.compare(x.asInstanceOf[Long], y.asInstanceOf[Long])
        case org.apache.spark.sql.types.IntegerType =>
          java.lang.Integer.compare(x.asInstanceOf[Int], y.asInstanceOf[Int])
        case org.apache.spark.sql.types.StringType =>
          // UTF8String BINARY order, not Java UTF-16 code-unit order: the
          // distributed path's min() compares UTF-8 bytes, and the two
          // orders diverge for supplementary characters — the driver path
          // must pick the same component labels (ADVICE r3)
          org.apache.spark.unsafe.types.UTF8String.fromString(x.asInstanceOf[String])
            .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(y.asInstanceOf[String]))
        case st: org.apache.spark.sql.types.StructType =>
          val (rx, ry) = (x.asInstanceOf[org.apache.spark.sql.Row],
            y.asInstanceOf[org.apache.spark.sql.Row])
          var i = 0
          while (i < st.fields.length) {
            val c = cmp(st.fields(i).dataType, rx.get(i), ry.get(i))
            if (c != 0) return c
            i += 1
          }
          0
        case other => throw new IllegalArgumentException(
          s"connectedComponentsAuto: unsupported node id type $other")
      }
      val idType = schema("a").dataType
      val ord: Ordering[Any] = (x: Any, y: Any) => cmp(idType, x, y)
      def find(x: Any): Any = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      rows.foreach { r =>
        val (ra, rb) = (find(r.get(0)), find(r.get(1)))
        if (ra != rb) {
          if (ord.lt(ra, rb)) parent(rb) = ra else parent(ra) = rb
        }
      }
      val ids = rows.flatMap(r => Seq(r.get(0), r.get(1))).distinct
      val out = ids.map(id => org.apache.spark.sql.Row(id, find(id)))
      spark.createDataFrame(
        spark.sparkContext.parallelize(out.toSeq, 1),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id", schema("a").dataType),
          org.apache.spark.sql.types.StructField("label", schema("a").dataType))))
    }
  }

  /** Connected components over an undirected edge list (a, b) via iterative
    * min-label propagation: each node adopts the smallest label among itself
    * and its neighbors until fixpoint — converges in O(component diameter)
    * rounds, each one shuffle. Near-dup clusters are tiny, so this runs a
    * handful of rounds regardless of corpus size. Returns (id, label) for
    * every node that appears in an edge; isolated nodes are their own
    * (implicit) component. */
  def connectedComponents(edges: DataFrame, maxIter: Int = 30): DataFrame = {
    // Iterative self-referencing plans MUST be cut each round: with plain
    // cache() the logical plan still nests every prior iteration, and
    // downstream consumers that reference the result more than once sent
    // the optimizer into exponential constraint/plan-duplication territory
    // (observed: a 2000-row flagship join going from seconds to minutes).
    // materializeNow cuts the plan and keeps the RDD lineage, so a lost
    // block of any round recomputes from the rounds before it.
    val sym = materializeNow(edges.select(col("a"), col("b"))
      .union(edges.select(col("b").as("a"), col("a").as("b")))
      .distinct())
    var labels = materializeNow(sym.select(col("a").as("id")).distinct()
      .withColumn("label", col("id")))
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      val nbrMin = sym
        .join(labels.select(col("id").as("b"), col("label").as("blabel")), Seq("b"))
        .groupBy(col("a").as("id")).agg(min(col("blabel")).as("nmin"))
      // the old label rides along, so convergence is a filter over the
      // materialized frame — no second join job per iteration
      val updated = materializeNow(labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("label").as("__old"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("label")))
      changed = updated.filter(col("label") =!= col("__old")).count()
      labels = updated.select(col("id"), col("label"))
      iter += 1
    }
    labels
  }

  /** Embedding-cosine near-dup pairs. Brute-force variant: block-nested
    * self-join (quadratic — correct baseline at any SF where it fits).
    * The scale path is [[Similarity.cosineLshPairs]]. */
  def embeddingCosinePairs(df: DataFrame, idCol: String, vecCol: String,
      tau: Double): DataFrame = {
    val n = Similarity.normalized(df, idCol, vecCol)
    val a = n.select(col("id").as("a"), col("nv").as("va"))
    val b = n.select(col("id").as("b"), col("nv").as("vb"))
    a.join(b, col("a") < col("b"))
      .withColumn("cosine", Similarity.dot(col("va"), col("vb")))
      .filter(col("cosine") >= tau)
      .select(col("a"), col("b"), round(col("cosine"), 6).as("cosine"))
  }
}
