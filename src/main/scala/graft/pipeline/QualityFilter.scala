package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.DocStatsExpr

/** Thresholds for the keep/drop decision. Shared verbatim by the Spark
  * pipeline and the straight-line reference oracle, so any disagreement
  * between them is a real computation divergence, never a config drift.
  * (Checkita-style config-driven checks: config/jobconf/Checks.scala.) */
final case class FilterConfig(
    maxLineLen: Int = 500,
    maxAvgLineLen: Double = 200.0,
    minAlnumRatio: Double = 0.30,
    maxDupLineShare: Double = 0.50,
    maxPpl: Double = 25.0,
    numPartitions: Int = 64,
    saltBuckets: Int = 16,
    /** corpus-level near-dup threshold (word-3gram Jaccard). */
    dedupTau: Double = 0.75,
    /** LSH banding operating point — more rows sharpen candidate selection
      * (collision prob b·s^r for unrelated docs) at slightly lower recall;
      * raise rows for larger or more-homogeneous corpora. */
    dedupBands: Int = 32,
    dedupRows: Int = 5)

/** The code-corpus quality filter (BASELINE.json north_rule).
  *
  * Architecture (Checkita's fused-single-pass model, SURVEY §2.3/§7, applied
  * to per-file quality metrics): ALL metrics — line-length stats, alnum
  * ratio, duplicate-line share, autogen markers, language-ID, KN perplexity,
  * PII scrub — are per-row `Column` expressions fused into ONE projection.
  * No shuffle anywhere in the scoring path; the only exchange is the explicit
  * repo-hash repartition before the partitioned write. That is what makes
  * the job embarrassingly parallel at 10^12 files.
  *
  * Determinism: every column is a pure per-row function (fixed-order float
  * arithmetic inside one row), so verdicts are identical at any parallelism —
  * the property behind the N vs 4N scaling-efficiency requirement.
  */
object QualityFilter {

  val autogenPattern = "DO NOT EDIT|@generated|Code generated by"

  /** Every reason either pipeline stage can emit — including the dedup
    * stage's "near_dup", so lineage drop_counts stay complete for
    * verdictsWithDedup output (ADVICE.md round 1). */
  val dropReasonNames: Seq[String] =
    Seq("line_len", "avg_line_len", "alnum", "dup_lines", "autogen",
      "wrong_lang", "ppl", "near_dup")

  /** partition id = hash-bucket of repo (Iceberg `bucket(N, repo)` shape). */
  def partitionId(numPartitions: Int): Column =
    pmod(xxhash64(col("repo")), lit(numPartitions.toLong)).cast("int")

  /** Adds all metric + verdict columns in one fused projection. Input must
    * have (repo, path, commit, lang, content).
    *
    * All eight text features come from ONE single-pass custom expression
    * ([[graft.functions.DocStatsExpr]]). The first, compositional version of
    * this method (split + transform + regexp_count + separate model walks)
    * was GC-bound — `regexp_count` alone allocates one string per match —
    * and showed ZERO 8→32-core scaling; the fused expression restored
    * CPU-bound linear scaling. */
  def withMetrics(input: DataFrame, cfg: FilterConfig = FilterConfig()): DataFrame = {
    input
      .withColumn("stats", DocStatsExpr(col("content")))
      .withColumn("max_line_len", col("stats.max_line_len"))
      .withColumn("avg_line_len", col("stats.avg_line_len"))
      .withColumn("alnum_ratio", col("stats.alnum_ratio"))
      .withColumn("dup_line_share", col("stats.dup_line_share"))
      .withColumn("has_autogen", col("stats.has_autogen"))
      .withColumn("lang_pred", col("stats.lang_pred"))
      .withColumn("lang_conf", col("stats.lang_conf"))
      .withColumn("kn_ppl", col("stats.kn_ppl"))
      .drop("stats")
      .withColumn("drop_reasons", array_compact(array(
        when(col("max_line_len") > cfg.maxLineLen, lit("line_len")),
        when(col("avg_line_len") > cfg.maxAvgLineLen, lit("avg_line_len")),
        when(col("alnum_ratio") < cfg.minAlnumRatio, lit("alnum")),
        when(col("dup_line_share") > cfg.maxDupLineShare, lit("dup_lines")),
        when(col("has_autogen"), lit("autogen")),
        when(col("lang_pred") =!= col("lang"), lit("wrong_lang")),
        when(col("kn_ppl") > cfg.maxPpl, lit("ppl")))))
      .withColumn("keep", size(col("drop_reasons")) === 0)
  }

  /** Final verdict frame (FIXTURES.md B.3 schema): scrub only kept rows,
    * preserve sha256(content) as the per-row invariant. */
  def verdicts(input: DataFrame, cfg: FilterConfig = FilterConfig()): DataFrame =
    withMetrics(input, cfg).select(
      col("repo"), col("path"), col("commit"),
      col("keep"), col("drop_reasons"),
      col("lang_pred"), col("lang_conf"), col("kn_ppl"),
      when(col("keep"), Scrub.scrubCol(col("content"))).as("scrubbed_content"),
      sha2(col("content"), 256).as("content_sha256"),
      partitionId(cfg.numPartitions).as("partition_id"))

  /** Verdicts with CORPUS-LEVEL near-duplicate removal on top of the
    * per-file filter: MinHash-LSH pairs (exactly verified) over the kept
    * files → connected components → every non-canonical member (anything but
    * the lexicographically-smallest (repo, path) of its cluster) is dropped
    * with reason "near_dup". This is the only stage that shuffles document
    * content — and only hashed shingles/band keys ever cross the wire;
    * clusters span repos, so this is deliberately cross-partition. */
  def verdictsWithDedup(input: DataFrame, cfg: FilterConfig = FilterConfig()): DataFrame = {
    // persisted: the fused scoring projection (langid + KN walk over every
    // file) feeds BOTH the kept-filter and the final join — without the
    // persist it runs twice. At 10^12 files this materialization is the
    // verdict table itself (CorpusStore/ResumableRun write it partition-wise
    // and resume from it); MEMORY_AND_DISK is the in-session equivalent.
    // It outlives this method, so the caller's CacheScope releases it
    // (ResumableRun.runWithDedup: after the store write).
    val m = graft.util.CacheScope.persist(withMetrics(input, cfg)
      .withColumn("key", concat_ws("|", col("repo"), col("path"))))
    val kept = m.filter(col("keep")).select(col("key"), col("content"))
    // eagerly materialized (plan cut, lineage kept) by minHashLshPairs
    // itself, which also releases its internal shingle cache; consumed 3x below
    // (hashed edges + both legs of the id union). The pair count rides
    // along from the materializing job, so the connected-components size
    // gate below costs no extra count() barrier.
    val (pairs, pairCount) = graft.operators.Dedup.minHashLshPairsCounted(
      kept, "key", "content", n = 3, tau = cfg.dedupTau,
      bands = cfg.dedupBands, rows = cfg.dedupRows)
    // label propagation on compact hashed node ids, not repo|path strings —
    // 128 bits (two independently-seeded xxhash64s): at 10^12 files a single
    // 64-bit id expects ~10^4 birthday collisions, each silently fusing two
    // unrelated clusters and dropping a canonical doc; 128 bits puts the
    // expectation at ~3e-15. Only cluster MEMBERSHIP comes from the hashes;
    // the canonical member is then chosen by the original string ordering
    // (lexicographically-smallest key, matching the reference oracle).
    def hid(c: Column): Column =
      struct(xxhash64(c).as("h1"), xxhash64(c, lit(1L)).as("h2"))
    val hashedPairs = pairs.select(hid(col("a")).as("a"), hid(col("b")).as("b"))
    // size-adaptive: driver union-find below the edge threshold (near-dup
    // edge lists are tiny until corpus scale), label propagation above —
    // identical labels either way (spec-asserted)
    val labels = graft.operators.Dedup.connectedComponentsAuto(hashedPairs,
      knownEdgeCount = Some(pairCount))
    val ids = pairs.select(col("a").as("key")).union(pairs.select(col("b").as("key")))
      .distinct().withColumn("hkey", hid(col("key")))
    val keyed = ids.join(labels.withColumnRenamed("id", "hkey"), Seq("hkey"))
    val canonical = keyed.groupBy(col("label")).agg(min(col("key")).as("ckey"))
    // NO broadcast hint: the non-canonical key set grows with the corpus dup
    // rate (10-40% of a web corpus — billions of keys at 10^12 files), so a
    // forced broadcast is a guaranteed OOM at scale; AQE picks broadcast by
    // MEASURED size when the side actually fits (PlanQualitySpec gates the
    // absence of the hint).
    val nonCanonical = keyed.join(canonical, Seq("label"))
      .filter(col("key") =!= col("ckey"))
      .select(col("key")).withColumn("is_dup", lit(true))
    m.join(nonCanonical, Seq("key"), "left")
      .withColumn("drop_reasons",
        when(col("is_dup"),
          array_union(col("drop_reasons"), array(lit("near_dup"))))
          .otherwise(col("drop_reasons")))
      .withColumn("keep", size(col("drop_reasons")) === 0)
      .select(
        col("repo"), col("path"), col("commit"),
        col("keep"), col("drop_reasons"),
        col("lang_pred"), col("lang_conf"), col("kn_ppl"),
        when(col("keep"), Scrub.scrubCol(col("content"))).as("scrubbed_content"),
        sha2(col("content"), 256).as("content_sha256"),
        partitionId(cfg.numPartitions).as("partition_id"))
  }

  /** Per-partition lineage + metric rows (FIXTURES.md B.2; mirrors the
    * reference's ResultMetricRegular/JobState model, storage/Models.scala:
    * 57-165): one bounded row per partition — driver memory is O(partitions)
    * regardless of corpus size. */
  def partitionLineage(v: DataFrame, jobId: String): DataFrame =
    v.groupBy(col("partition_id"))
      .agg(
        count(lit(1)).as("rows_in"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("rows_kept"),
        bit_xor(xxhash64(col("content_sha256"))).as("sha256_xor"),
        map_from_arrays(
          lit(dropReasonNames.toArray),
          array(dropReasonNames.map(rn =>
            sum(when(array_contains(col("drop_reasons"), rn), 1L).otherwise(0L))): _*))
          .as("drop_counts"))
      .withColumn("job_id", lit(jobId))
      .withColumn("stage", lit("verdict"))
}
