package graft.corpus

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.types.UTF8String

import graft.pipeline.FilterConfig

/** Oracle fixtures for the driver's DuckDB correctness gate.
  *
  * The north-rule verdicts (langid + KN perplexity + heuristics + corpus
  * dedup) are not ANSI-SQL-expressible, so the DuckDB oracle instead reads
  * EXPECTED rows materialized to parquet by the straight-line, Spark-free
  * reference implementation ([[ReferenceOracle]], plain Scala string ops) —
  * the oracle SQL is then a plain `SELECT … FROM '<fixture>' ORDER BY …`.
  * [[graft.Verify]] regenerates every fixture at the start of each run, so
  * the comparison is always reference-code-now vs pipeline-code-now.
  *
  * Paths are absolute: Verify (any cwd) and the driver's DuckDB must read
  * the same files.
  */
object Fixtures {

  /** Overridable (env GRAFT_FIXTURE_DIR / -Dgraft.fixture.dir), defaulting
    * to the checkout's own target/fixtures — resolved to an ABSOLUTE path
    * because the driver's DuckDB process embeds it in oracle SQL and runs
    * with its own cwd. Round 3 hardcoded /root/repo, silently breaking any
    * other checkout location (ADVICE r3). */
  private val baseDir: String = {
    val raw = sys.env.get("GRAFT_FIXTURE_DIR")
      .orElse(sys.props.get("graft.fixture.dir"))
      .getOrElse("target/fixtures")
    // URI-style values (file:/, hdfs://, s3a://) pass through verbatim —
    // File(...).getAbsolutePath would mangle them into <cwd>/file:/...;
    // plain relative paths absolutize so Spark and DuckDB agree on cwd
    if (raw.contains(":/")) raw else new java.io.File(raw).getAbsolutePath
  }

  /** Scale-factor scope: [[writeAll]] pins the fixture tree to an
    * sf-named subdir so SEQUENTIAL Verify runs at different SFs never
    * clobber each other's fixtures (without it, comparing sf A's oracle
    * SQL after regenerating for sf B reads 10x-sized expected frames —
    * every fixture-mirror query "fails" with rows 500 vs 5000). Unscoped
    * (specs writing individual fixtures) everything lands in baseDir,
    * exactly as before. Paths are defs: `oracleSql` renders AFTER
    * writeAll in Verify, so the embedded paths always match the scope
    * the fixtures were just written under.
    *
    * The scope is SINGLE-ASSIGNMENT per JVM (re-scoping to the same sf is
    * a no-op): the tag is process-global mutable state, so a second
    * different scope would silently re-point paths a caller captured under
    * the first — two Verify runs at different SFs in one JVM must be two
    * JVMs, and this assert turns the silent mismatch into an immediate
    * error (ADVICE r4). */
  @volatile private var sfTag: String = ""
  def scopeTo(sfDir: String): Unit = synchronized {
    val tag = "/" + new java.io.File(sfDir).getName
      .replaceAll("[^A-Za-z0-9._-]", "_")
    require(sfTag.isEmpty || sfTag == tag,
      s"Fixtures already scoped to '$sfTag' in this JVM; re-scoping to " +
        s"'$tag' would mismatch paths captured under the first scope — " +
        "run each sf scope in its own JVM")
    sfTag = tag
  }

  def dir: String = baseDir + sfTag

  def verdictsPath = s"$dir/expected_verdicts"
  def verdictsDedupPath = s"$dir/expected_verdicts_dedup"
  def simhashPath = s"$dir/expected_simhash_pairs"
  def mediaPath = s"$dir/media"
  /** Deterministic metric-result history written through the REAL
    * ParquetDqStorage — the trend-metric oracle reads the same parquet. */
  def trendStoragePath = s"$dir/trend_storage"
  def dsirPath = s"$dir/expected_dsir"
  def bpePath = s"$dir/expected_bpe"
  def pqPath = s"$dir/expected_pq"
  def ivfPqPath = s"$dir/expected_ivf_pq"
  def trainLangIdPath = s"$dir/expected_train_langid"
  def qualityHeadPath = s"$dir/expected_quality_head"
  def trainKnPath = s"$dir/expected_train_kn"
  def trainKnLangPath = s"$dir/expected_train_kn_lang"

  /** BPE operating point shared by `q_bpe_tokens` and its fixture. */
  val bpeVocabWords = 500
  val bpeNumMerges = 60

  /** 12 hourly observations, exact-binary values (quarters + integers), so
    * both engines aggregate bit-identical inputs. */
  val trendHistory: Seq[(java.time.Instant, Double)] = (0 until 12).map { i =>
    (java.time.Instant.parse("2026-08-01T00:00:00Z").plusSeconds(i * 3600L),
      100.0 + 3.0 * i + (i % 5) * 0.25)
  }

  /** Mirrors the column names/types of `QualityFilter.verdicts` output (with
    * drop_reasons joined and floats rounded, as the flagship queries emit). */
  final case class ExpectedVerdict(
      repo: String,
      path: String,
      commit: String,
      keep: Boolean,
      drop_reasons: String,
      lang_pred: String,
      lang_conf: Double,
      kn_ppl: Double,
      scrubbed_content: Option[String],
      content_sha256: String,
      partition_id: Int)

  final case class ExpectedSimhashPair(a: Long, b: Long, hamming: Int)

  final case class ExpectedDsir(doc_id: Long, rank: Int, gumbel_key: Double,
    dsir_logw: Double)

  final case class ExpectedBpe(doc_id: Long, bpe_tokens: Int)

  final case class ExpectedPq(vec_id: Long, rank: Int, adc: Double)

  final case class ExpectedIvfPq(vec_id: Long, rank: Int, adc: Double)

  final case class ExpectedLangId(lang: String, pred: String, cnt: Long)

  final case class ExpectedQualityHead(label: Boolean, pred: Boolean, cnt: Long)

  final case class ExpectedKnPpl(doc_id: Long, trained_ppl: Double)

  final case class ExpectedKnLangPpl(doc_id: Long, lang: String, lang_ppl: Option[Double])

  /** Same rounding as Spark's `round(col, 6)` on doubles (HALF_UP via
    * BigDecimal.valueOf) — both sides round bit-identical inputs, so the
    * driver's exact float compare holds. */
  private def round6(x: Double): Double = graft.util.Num.round6(x)

  /** Spark's `xxhash64(string)` (seed 42), via the engine's own public hash
    * utility — partition_id is write-layout metadata keyed on this hash. */
  private def xxhash64(s: String): Long =
    XXH64.hashUTF8String(UTF8String.fromString(s), 42L)

  private def toExpected(l: LabelRow, numPartitions: Int): ExpectedVerdict = {
    val h = xxhash64(l.repo)
    val pid = (((h % numPartitions) + numPartitions) % numPartitions).toInt
    ExpectedVerdict(l.repo, l.path, l.commit, l.keep,
      l.dropReasons.mkString(","), l.lang, round6(l.conf), round6(l.ppl),
      l.scrubbed, l.contentSha256, pid)
  }

  /** Straight-line 64-bit SimHash over space-split word occurrences —
    * independently re-implements the spark-side aggregate (sign of per-bit
    * +1/-1 counts over xxhash64(word)). */
  def simHash64(text: String): Long = {
    val counts = new Array[Int](64)
    text.split(" ", -1).foreach { w =>
      val h = xxhash64(w)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
    }
    var sig = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }

  /** Brute-force all-pairs hamming ≤ maxHamming — the banded spark query has
    * recall 1 for hamming ≤ numBlocks-1 by pigeonhole, so its result must
    * EQUAL this. Quadratic, driver-side: oracle-only, bounded SF. */
  def simhashPairs(docs: Seq[(Long, String)], maxHamming: Int): Seq[ExpectedSimhashPair] = {
    val sigs = docs.map { case (id, text) => (id, simHash64(text)) }.sortBy(_._1)
    val out = Seq.newBuilder[ExpectedSimhashPair]
    var i = 0
    while (i < sigs.length) {
      var j = i + 1
      while (j < sigs.length) {
        val d = java.lang.Long.bitCount(sigs(i)._2 ^ sigs(j)._2)
        if (d <= maxHamming)
          out += ExpectedSimhashPair(sigs(i)._1, sigs(j)._1, d)
        j += 1
      }
      i += 1
    }
    out.result()
  }

  /** Writes every fixture, overwriting stale copies. `sfDir` feeds the
    * simhash fixture (it labels the driver's `documents` table). */
  /** Straight-line DSIR top-k (mirror of `Sampling.dsirResample` defaults:
    * buckets 4096, sampleCap 10000, salt 0, target = doc_id % 10 == 0). */
  def dsirTopK(docs: Seq[(Long, String)], k: Int): Seq[ExpectedDsir] = {
    import graft.textmodel.DsirModel
    import graft.functions.GumbelNoise
    val salt = 0L
    val cap = 10000
    // Spark `xxhash64(id, lit(salt))`: seed 42, then each child chains
    def idHash(id: Long): Long = XXH64.hashLong(salt, XXH64.hashLong(id, 42L))
    def capped(rows: Seq[(Long, String)]): Seq[String] =
      rows.sortBy(r => idHash(r._1)).take(cap).map(_._2)
    val model = DsirModel.train(
      capped(docs.filter(_._1 % 10 == 0)), capped(docs), DsirModel.DefaultBuckets)
    docs.map { case (id, text) =>
      val g = model.score(text) - GumbelNoise.noise(id, salt)
      (id, g)
    }.sortBy { case (id, g) => (-g, id) }
      .take(k).zipWithIndex.map { case ((id, g), i) =>
        ExpectedDsir(id, i + 1, round6(g),
          round6(g + GumbelNoise.noise(id, salt)))
      }
  }

  /** Straight-line BPE mirror of `TextAnalysis.bpeTrain` + `bpeTokenCount`:
    * same word histogram (split \s+, count, top-`bpeVocabWords` by count
    * desc then word), same shared [[graft.textmodel.BpeModel]] train/encode. */
  def bpeTokens(docs: Seq[(Long, String)]): Seq[ExpectedBpe] = {
    val hist = docs.iterator.flatMap(_._2.split("\\s+")).filter(_.nonEmpty)
      .foldLeft(scala.collection.mutable.HashMap.empty[String, Long]) {
        (m, w) => m.update(w, m.getOrElse(w, 0L) + 1L); m
      }.toSeq.sortBy { case (w, c) => (-c, w) }.take(bpeVocabWords)
    val model = graft.textmodel.BpeModel.train(hist, bpeNumMerges)
    docs.map { case (id, t) => ExpectedBpe(id, model.countTokens(t)) }
  }

  /** Straight-line PQ ADC top-k — mirror of `Similarity.pqTrain`/`pqTopK`
    * defaults (m=8, k=16, sampleCap 10000, salt 0, iters 10; query = the
    * minimum vec_id's normalized embedding, excluded from ranking). The
    * normalize loop mirrors NormalizeVec's eval exactly; train/encode/
    * lut/adc ARE the shared PqModel code. */
  private def pqNormalize(v: Array[Float]): Array[Double] = {
    val d = new Array[Double](v.length)
    var i = 0
    while (i < v.length) { d(i) = v(i).toDouble; i += 1 }
    var acc = 0.0
    i = 0
    while (i < d.length) { acc += d(i) * d(i); i += 1 }
    val n = math.sqrt(acc)
    i = 0
    while (i < d.length) { d(i) = d(i) / n; i += 1 }
    d
  }

  /** Normalized vectors + the hash-ordered training sample + query id —
    * shared setup of the two PQ fixtures (mirrors `Similarity.pqTrain`'s
    * sampling: salt 0, cap 10000). */
  private def pqSetup(vecs: Seq[(Long, Array[Float])])
      : (Seq[(Long, Array[Double])], Seq[Array[Double]], Long) = {
    def idHash(id: Long): Long = XXH64.hashLong(0L, XXH64.hashLong(id, 42L))
    val norm = vecs.map { case (id, v) => (id, pqNormalize(v)) }
    (norm, norm.sortBy(x => idHash(x._1)).take(10000).map(_._2),
      vecs.map(_._1).min)
  }

  def pqTopK(vecs: Seq[(Long, Array[Float])], k: Int): Seq[ExpectedPq] = {
    import graft.operators.PqModel
    val (norm, sample, qid) = pqSetup(vecs)
    val model = PqModel.train(sample, m = 8, k = 16, iters = 10)
    val table = model.lut(norm.find(_._1 == qid).get._2)
    norm.filter(_._1 != qid)
      .map { case (id, v) => (id, model.adc(model.encode(v), table)) }
      .sortBy { case (id, a) => (-a, id) }
      .take(k).zipWithIndex
      .map { case ((id, a), i) => ExpectedPq(id, i + 1, round6(a)) }
  }

  /** Straight-line IVF+PQ — mirror of `Similarity.ivfPqTopK` at the
    * q_ivf_pq operating point (nLists 16, nProbe 4, fine m=8/k=16):
    * coarse routing and probing call the SAME shared code
    * (`PqModel.encode`, `Similarity.probeLists`). */
  def ivfPqTopK(vecs: Seq[(Long, Array[Float])], k: Int): Seq[ExpectedIvfPq] = {
    import graft.operators.{PqModel, Similarity}
    val (norm, sample, qid) = pqSetup(vecs)
    val coarse = PqModel.train(sample, m = 1, k = 16, iters = 10)
    val pq = PqModel.train(sample, m = 8, k = 16, iters = 10)
    val query = norm.find(_._1 == qid).get._2
    val lists = Similarity.probeLists(coarse, query, nProbe = 4).toSet
    val table = pq.lut(query)
    norm.filter(_._1 != qid)
      .filter { case (_, v) => lists.contains(coarse.encode(v)(0)) }
      .map { case (id, v) => (id, pq.adc(pq.encode(v), table)) }
      .sortBy { case (id, a) => (-a, id) }
      .take(k).zipWithIndex
      .map { case ((id, a), i) => ExpectedIvfPq(id, i + 1, round6(a)) }
  }

  /** Straight-line mirror of `TextAnalysis.trainLangId` + confusion matrix:
    * integer trigram counts (order-free) through the SAME shared
    * NbLangModel build/classify code. */
  def trainLangIdConfusion(docs: Seq[(String, String)]): Seq[ExpectedLangId] = {
    import graft.textmodel.NbLangModel
    val langs = docs.map(_._1).distinct.sorted.toVector
    val counts = scala.collection.mutable.Map.empty[String, scala.collection.mutable.Map[Int, Long]]
    docs.foreach { case (l, t) =>
      NbLangModel.bucketCounts(t,
        counts.getOrElseUpdate(l, scala.collection.mutable.Map.empty))
    }
    val model = NbLangModel.fromCounts(langs,
      counts.map { case (l, m) => l -> m.toMap }.toMap)
    docs.map { case (l, t) => (l, model.classify(t)._1) }
      .groupBy(identity).toSeq
      .map { case ((l, p), rs) => ExpectedLangId(l, p, rs.size.toLong) }
      .sortBy(e => (e.lang, e.pred))
  }

  /** Straight-line mirror of `TextAnalysis.trainQualityHead` + held-out
    * confusion: labels from the reference verdicts, a 75/25 train/eval
    * split on `pmod(xxhash64(path), 4)`, the SAME shared
    * QualityHead.accumulate/step fixed-point GD (bit-identical at any
    * parallelism — QualityHead scaladoc), predictions on the held-out
    * quarter. */
  def qualityHeadConfusion(rows: Seq[FileRow], cfg: FilterConfig)
      : Seq[ExpectedQualityHead] = {
    import graft.textmodel.QualityHead
    val labeled = rows.map(r => (ReferenceOracle.label(r, cfg).keep, r))
    def isEval(r: FileRow): Boolean = Math.floorMod(xxhash64(r.path), 4L) == 0L
    val train = labeled.collect { case (y, r) if !isEval(r) => (y, r.content) }
    val model = QualityHead.fitLocal(train,
      QualityHead.DefaultIters, QualityHead.DefaultLr)
    labeled.collect { case (y, r) if isEval(r) => (y, model.predict(r.content)) }
      .groupBy(identity).toSeq
      .map { case ((l, p), g) => ExpectedQualityHead(l, p, g.size.toLong) }
      .sortBy(e => (e.label, e.pred))
  }

  /** Straight-line mirror of `TextAnalysis.trainKn` + per-doc perplexity:
    * the SAME per-doc trigram windows into one count table (Long sums,
    * order-free), the SAME `LangModel.knFromTriCounts` derivation, the
    * SAME perplexity walk. */
  def trainKnPpl(docs: Seq[(Long, String)]): Seq[ExpectedKnPpl] = {
    import graft.textmodel.LangModel
    val counts = scala.collection.mutable.LinkedHashMap.empty[Long, Long]
    docs.foreach { case (_, t) =>
      var i = 0
      val end = t.length - 2
      while (i < end) {
        val k = LangModel.key3(t.charAt(i), t.charAt(i + 1), t.charAt(i + 2))
        counts.update(k, counts.getOrElse(k, 0L) + 1L)
        i += 1
      }
    }
    val model = LangModel.knFromTriCounts(counts.iterator)
    docs.map { case (id, t) => ExpectedKnPpl(id, round6(model.perplexity(t))) }
      .sortBy(_.doc_id)
  }

  /** Straight-line mirror of `TextAnalysis.trainKnByLang` + per-doc
    * own-language perplexity (same per-lang count tables, same
    * knFromTriCounts derivation, same walk). A null language trains its
    * own model, and a null-language doc scores null, as in
    * `pplWithByLang`. */
  def trainKnByLangPpl(docs: Seq[(Long, String, String)]): Seq[ExpectedKnLangPpl] = {
    import graft.textmodel.LangModel
    val byLang = docs.groupBy(_._2)
    val models = byLang.map { case (lang, rows) =>
      val counts = scala.collection.mutable.LinkedHashMap.empty[Long, Long]
      rows.foreach { case (_, _, t) =>
        var i = 0
        val end = t.length - 2
        while (i < end) {
          val k = LangModel.key3(t.charAt(i), t.charAt(i + 1), t.charAt(i + 2))
          counts.update(k, counts.getOrElse(k, 0L) + 1L)
          i += 1
        }
      }
      lang -> LangModel.knFromTriCounts(counts.iterator)
    }
    docs.map { case (id, lang, t) =>
      ExpectedKnLangPpl(id, lang,
        Option(lang).map(l => round6(models(l).perplexity(t))))
    }.sortBy(_.doc_id)
  }

  def writeAll(spark: SparkSession, sfDir: String): Unit = {
    scopeTo(sfDir)
    import spark.implicits._
    val cfg = FilterConfig()
    val spec = CorpusSpec(nFiles = 2000)
    val rows = (0L until spec.nFiles).map(i => CorpusGen.fileAt(spec, i))

    val perFile = rows.map(r => ReferenceOracle.label(r, cfg))
      .map(toExpected(_, cfg.numPartitions))
    spark.createDataset(perFile).coalesce(1)
      .write.mode("overwrite").parquet(verdictsPath)

    val corpusLevel = ReferenceOracle.labelCorpus(rows, cfg)
      .map(toExpected(_, cfg.numPartitions))
    spark.createDataset(corpusLevel).coalesce(1)
      .write.mode("overwrite").parquet(verdictsDedupPath)

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    spark.createDataset(simhashPairs(docs, maxHamming = 3)).coalesce(1)
      .write.mode("overwrite").parquet(simhashPath)

    graft.operators.Multimodal.syntheticMedia(spark, 500L).coalesce(1)
      .write.mode("overwrite").parquet(mediaPath)

    // DSIR resampling: straight-line mirror of Sampling.dsirResample over
    // the documents table (target = doc_id % 10 == 0, k = 50, defaults) —
    // same shared DsirModel featurization, same hash-ordered capped
    // samples, same gumbel keys, same (key + noise) log-weight recovery
    spark.createDataset(dsirTopK(docs, k = 50)).coalesce(1)
      .write.mode("overwrite").parquet(dsirPath)

    spark.createDataset(bpeTokens(docs)).coalesce(1)
      .write.mode("overwrite").parquet(bpePath)

    val ldocs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("lang", "text").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    spark.createDataset(trainLangIdConfusion(ldocs)).coalesce(1)
      .write.mode("overwrite").parquet(trainLangIdPath)

    spark.createDataset(qualityHeadConfusion(rows, cfg)).coalesce(1)
      .write.mode("overwrite").parquet(qualityHeadPath)

    spark.createDataset(trainKnPpl(docs)).coalesce(1)
      .write.mode("overwrite").parquet(trainKnPath)

    val langDocs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    spark.createDataset(trainKnByLangPpl(langDocs)).coalesce(1)
      .write.mode("overwrite").parquet(trainKnLangPath)

    val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    spark.createDataset(pqTopK(vecs, 50)).coalesce(1)
      .write.mode("overwrite").parquet(pqPath)
    spark.createDataset(ivfPqTopK(vecs, 50)).coalesce(1)
      .write.mode("overwrite").parquet(ivfPqPath)

    writeTrendStorage(spark)
  }

  /** Trend history through the real storage WRITE path (saveMetrics
    * appends, so wipe first to stay deterministic across runs). Factored
    * out of [[writeAll]] because `q_trend_metrics`'s SPARK side reads this
    * storage too — Bench (which never runs writeAll) materializes it
    * idempotently via [[ensureTrendStorage]] instead of depending on a
    * prior Verify run having left fixtures behind. */
  def writeTrendStorage(spark: SparkSession): Unit = {
    // Hadoop FS, not java.io.File: the fixture dir may be a URI
    // (GRAFT_FIXTURE_DIR=s3a://..., file:/...) which java.io.File can
    // neither test nor delete — and since saveMetrics APPENDS, a wipe
    // that silently no-ops would grow the 12-row history on every call
    // and make q_trend_metrics nondeterministic across passes
    val p = new org.apache.hadoop.fs.Path(trendStoragePath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
    val storage = new graft.storage.ParquetDqStorage(spark, trendStoragePath)
    trendHistory.foreach { case (ts, v) =>
      storage.saveMetrics("trend_job", ts,
        Seq(graft.metrics.MetricResult("m_rows", "ROW_COUNT", "src", Nil, v)))
    }
  }

  /** Write the trend storage only if absent (12 deterministic rows). */
  def ensureTrendStorage(spark: SparkSession): Unit = {
    val p = new org.apache.hadoop.fs.Path(trendStoragePath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) writeTrendStorage(spark)
  }
}
