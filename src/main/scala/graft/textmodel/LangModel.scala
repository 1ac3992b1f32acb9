package graft.textmodel

import graft.corpus.{CorpusGen, Rng}
import graft.util.LongIntMap

/** fastText-style language identification: hashed character n-gram features
  * with a linear (log-probability) head and a softmax over classes, plus an
  * interpolated Kneser-Ney char-trigram LM for perplexity scoring.
  *
  * The models are trained deterministically at first use on template-generated
  * per-language sample code (same generator templates as the corpus, fixed
  * training seed); langid is multinomial NB over hashed char trigrams — a
  * linear model in log space, exactly fastText's shape with pre-computed
  * weights. Built lazily in a singleton: every executor constructs an
  * identical model locally, so nothing is shipped with plans.
  *
  * Hot-path layout is allocation-free: the langid weights are ONE transposed
  * float array (`w[bucket*L + lang]` — one cache line per trigram instead of
  * L scattered reads), and the KN counts live in primitive open-addressing
  * maps / char-indexed arrays (boxed java.util.HashMap lookups were the
  * original bottleneck: 288 files/s → see
  * `examples/MicroBench.scala @ 9797211`).
  *
  * Capability parity: the reference funnels custom per-value computation
  * through Catalyst expressions (e.g. CheckNumberFormat.scala:28-112);
  * here the scorer is exposed through [[graft.functions.ScoreDoc]].
  */
object LangModel {

  val NumBuckets: Int = 1 << 15
  private val TrainSeed = 12345L
  private val TrainDocsPerLang = 40

  final case class Scored(lang: String, conf: Double, ppl: Double)

  val languages: Vector[String] = CorpusGen.languages
  private val L = languages.size

  /** hash a char trigram into a bucket (deterministic, platform-free). */
  @inline def bucketOf(a: Char, b: Char, c: Char): Int = bucket(a, b, c)

  /** exact trigram key, the KnLm count-table layout: a<<32 | b<<16 | c. */
  @inline def key3(a: Char, b: Char, c: Char): Long =
    (a.toLong << 32) | (b.toLong << 16) | c.toLong

  @inline private def bucket(a: Char, b: Char, c: Char): Int = {
    var h = 1125899906842597L
    h = 31 * h + a; h = 31 * h + b; h = 31 * h + c
    ((h % NumBuckets) + NumBuckets).toInt % NumBuckets
  }

  // --- langid weights: logP(bucket | lang), Laplace-smoothed, transposed ---
  lazy val weights: Array[Float] = {
    val counts = Array.fill(L)(new Array[Long](NumBuckets))
    for ((lang, li) <- languages.zipWithIndex; d <- 0 until TrainDocsPerLang) {
      val r = Rng(TrainSeed, lang.hashCode.toLong * 1000 + d)
      val doc = CorpusGen.cleanContent(lang, r, d * 977L)
      var i = 0
      while (i < doc.length - 2) {
        counts(li)(bucket(doc.charAt(i), doc.charAt(i + 1), doc.charAt(i + 2))) += 1
        i += 1
      }
    }
    val w = new Array[Float](NumBuckets * L)
    val alpha = 0.5
    for (li <- 0 until L) {
      val c = counts(li)
      val denom = math.log(c.sum.toDouble + alpha * NumBuckets)
      var b = 0
      while (b < NumBuckets) {
        w(b * L + li) = (math.log(c(b) + alpha) - denom).toFloat
        b += 1
      }
    }
    w
  }

  /** Per-class average per-trigram log-prob → softmax confidence. */
  def classify(content: String): (String, Double) = {
    val w = weights
    val scores = new Array[Double](L)
    var n = 0
    var i = 0
    val end = content.length - 2
    while (i < end) {
      val base = bucket(content.charAt(i), content.charAt(i + 1), content.charAt(i + 2)) * L
      var li = 0
      while (li < L) { scores(li) += w(base + li); li += 1 }
      n += 1
      i += 1
    }
    if (n == 0) return (languages.head, 1.0 / L)
    var best = 0
    var li = 1
    while (li < L) { if (scores(li) > scores(best)) best = li; li += 1 }
    // softmax over length-normalized scores, sharpened (avg deltas are small)
    var mx = Double.NegativeInfinity
    li = 0
    while (li < L) { val s = scores(li) / n; if (s > mx) mx = s; li += 1 }
    var sumExp = 0.0
    var bestExp = 0.0
    li = 0
    while (li < L) {
      val e = math.exp((scores(li) / n - mx) * 50.0)
      sumExp += e
      if (li == best) bestExp = e
      li += 1
    }
    (languages(best), bestExp / sumExp)
  }

  // --- Kneser-Ney char-trigram LM (interpolated, fixed discount 0.75) ---
  private val Discount = 0.75

  final class KnLm(
      triCount: LongIntMap,          // c(abc)            key: a<<32|b<<16|c
      biCount: LongIntMap,           // c(ab·)            key: a<<16|b
      biTypes: LongIntMap,           // N1+(ab·)          key: a<<16|b
      contTri: LongIntMap,           // N1+(·bc)          key: b<<16|c
      contUni: Array[Int],           // N1+(·c)           index: c
      contUniTotal: Long,            // distinct bigram types
      uniCount: Array[Int],          // c(b)              index: b
      biCtxTypes: Array[Int])        // N1+(b·)           index: b
    extends Serializable {

    /** Number of trigram TYPES the model holds — the quantity the
      * `maxTypes` prune in `TextAnalysis.trainKn` bounds. Exposed so specs
      * can pin "driver/model memory ∝ kept types" as an invariant. */
    def trigramTypes: Int = triCount.size

    @inline private def key3(a: Char, b: Char, c: Char): Long =
      (a.toLong << 32) | (b.toLong << 16) | c.toLong
    @inline private def key2(a: Char, b: Char): Long = (a.toLong << 16) | b.toLong

    // trigram→prob memo: prob() is a pure function of the (frozen) counts,
    // and code text re-uses a small trigram vocabulary, so a direct-mapped
    // per-thread cache turns the ~5 map probes per char into one array probe
    // on a hit — measured 31 → ~90 MB/s on the perplexity walk. ThreadLocal
    // because a shared table would need (key, value) pair atomicity; the
    // cached double is IDENTICAL to the computed one, so results are
    // bit-equal with or without the cache.
    private val CacheBits = 17
    private val CacheMask = (1 << CacheBits) - 1
    @transient private lazy val memo =
      ThreadLocal.withInitial[(Array[Long], Array[Double])] { () =>
        val k = new Array[Long](1 << CacheBits)
        java.util.Arrays.fill(k, -1L)
        (k, new Array[Double](1 << CacheBits))
      }

    /** Interpolated KN P(c | a b) with the memo fast path. */
    def prob(a: Char, b: Char, c: Char): Double = {
      val key = key3(a, b, c)
      val (keys, vals) = memo.get()
      val idx = ((key * 0x9e3779b97f4a7c15L) >>> (64 - CacheBits)).toInt & CacheMask
      if (keys(idx) == key) vals(idx)
      else {
        val p = probUncached(a, b, c)
        keys(idx) = key
        vals(idx) = p
        p
      }
    }

    /** Interpolated KN P(c | a b); backoff KN bigram → continuation unigram
      * (uniform-interpolated) → uniform. */
    private def probUncached(a: Char, b: Char, c: Char): Double = {
      val pUniform = 1.0 / (1 << 16)
      val pUni =
        if (contUniTotal == 0) pUniform
        else 0.9 * (contUni(c).toDouble / contUniTotal) + 0.1 * pUniform
      val bCtx = uniCount(b)
      val pBi = if (bCtx == 0) pUni else {
        val cont = contTri.get(key2(b, c), 0)
        val lambda = Discount * biCtxTypes(b) / bCtx
        math.max(cont - Discount, 0.0) / bCtx + lambda * pUni
      }
      val abTotal = biCount.get(key2(a, b), 0)
      if (abTotal == 0) pBi
      else {
        val tc = triCount.get(key3(a, b, c), 0)
        val lambda = Discount * biTypes.get(key2(a, b), 0) / abTotal
        math.max(tc - Discount, 0.0) / abTotal + lambda * pBi
      }
    }

    /** exp(-mean ln P) — char-level perplexity.
      *
      * Accumulates the probability PRODUCT with manual exponent rescaling
      * instead of summing logs: one math.log per document rather than one
      * per character (log was ~40% of the original scoring profile).
      * Deterministic: fixed left-to-right multiply order.
      */
    def perplexity(s: String): Double = {
      if (s.length < 3) return 1.0
      var product = 1.0
      var exp300 = 0L // count of 1e-300 rescales
      var i = 0
      val n = s.length - 2
      while (i < n) {
        product *= prob(s.charAt(i), s.charAt(i + 1), s.charAt(i + 2))
        if (product < 1e-300) { product *= 1e300; exp300 += 1 }
        i += 1
      }
      val logSum = math.log(product) - exp300 * 300.0 * math.log(10.0)
      math.exp(-logSum / n)
    }
  }

  lazy val knLm: KnLm = {
    val tri = new LongIntMap(1 << 16)
    val bi = new LongIntMap(1 << 14)
    val biT = new LongIntMap(1 << 14)
    val cTri = new LongIntMap(1 << 14)
    val cUni = new Array[Int](1 << 16)
    val uni = new Array[Int](1 << 16)
    val bCtxT = new Array[Int](1 << 16)
    val seenBi = new LongIntMap(1 << 14)
    var distinctBigrams = 0L
    def key3(a: Char, b: Char, c: Char): Long = (a.toLong << 32) | (b.toLong << 16) | c.toLong
    def key2(a: Char, b: Char): Long = (a.toLong << 16) | b.toLong
    for (lang <- languages; d <- 0 until TrainDocsPerLang) {
      val r = Rng(TrainSeed + 1, lang.hashCode.toLong * 1000 + d)
      val s = CorpusGen.cleanContent(lang, r, d * 977L)
      var i = 0
      while (i < s.length - 2) {
        val a = s.charAt(i); val b = s.charAt(i + 1); val c = s.charAt(i + 2)
        val prev = tri.increment(key3(a, b, c))
        bi.increment(key2(a, b))
        uni(b) += 1
        if (prev == 0) { // first occurrence of this trigram type
          biT.increment(key2(a, b))
          cTri.increment(key2(b, c))
          bCtxT(b) += 1
        }
        if (seenBi.increment(key2(b, c)) == 0) {
          cUni(c) += 1
          distinctBigrams += 1
        }
        i += 1
      }
    }
    new KnLm(tri, bi, biT, cTri, cUni, distinctBigrams, uni, bCtxT)
  }

  /** Builds a [[KnLm]] from an aggregated trigram-count table alone.
    *
    * Every KN structure is DERIVABLE from c(abc): each trigram window
    * (a,b,c) increments c(ab·), c(b) and — on first occurrence of the
    * TYPE — N1+(ab·), N1+(·bc), N1+(b·), N1+(·c) exactly once, so
    * replaying the count table reproduces the per-window loop's tables
    * for any window order. That is what makes KN training DISTRIBUTABLE
    * with a single bounded aggregation: the cluster ships only the
    * |trigram types| count rows (saturating sublinearly in corpus size —
    * real text reuses a small trigram vocabulary), never the windows.
    * Shared by `TextAnalysis.trainKn` and the fixture mirror, so the two
    * models are identical by construction. ALL occurrence counts — per-type
    * AND the summed window/unigram totals — saturate at Int.MaxValue
    * (KnLm's tables are Int-backed): without the saturating adds a
    * corpus-scale total (any common middle char passes 2^31 windows on a
    * multi-GB corpus) would wrap NEGATIVE and silently poison every
    * probability; with them the affected ratios flatten toward each other
    * gracefully while type counts (what KN smoothing actually leans on)
    * stay exact. Saturation is deterministic, so fixture parity holds. */
  def knFromTriCounts(entries: Iterator[(Long, Long)]): KnLm = {
    @inline def sat(a: Int, b: Int): Int = {
      val s = a.toLong + b.toLong
      if (s > Int.MaxValue) Int.MaxValue else s.toInt
    }
    val tri = new LongIntMap(1 << 16)
    val bi = new LongIntMap(1 << 14)
    val biT = new LongIntMap(1 << 14)
    val cTri = new LongIntMap(1 << 14)
    val cUni = new Array[Int](1 << 16)
    val uni = new Array[Int](1 << 16)
    val bCtxT = new Array[Int](1 << 16)
    val seenBi = new LongIntMap(1 << 14)
    var distinctBigrams = 0L
    entries.foreach { case (k, n0) =>
      val n = math.min(n0, Int.MaxValue.toLong).toInt
      val b = ((k >>> 16) & 0xffffL).toInt
      val c = (k & 0xffffL).toInt
      val ab = (k >>> 16).toLong         // a<<16|b
      val bc = k & 0xffffffffL           // b<<16|c
      tri.put(k, n)
      bi.put(ab, sat(bi.get(ab, 0), n))
      uni(b) = sat(uni(b), n)
      biT.increment(ab)
      cTri.increment(bc)
      bCtxT(b) += 1
      if (seenBi.increment(bc) == 0) {
        cUni(c) += 1
        distinctBigrams += 1
      }
    }
    new KnLm(tri, bi, biT, cTri, cUni, distinctBigrams, uni, bCtxT)
  }

  /** Full document score: language + confidence + perplexity. Pure and
    * deterministic — safe at any parallelism. */
  def score(content: String): Scored = {
    val (lang, conf) = classify(content)
    Scored(lang, conf, knLm.perplexity(content))
  }
}
