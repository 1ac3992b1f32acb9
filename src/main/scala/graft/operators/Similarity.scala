package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Baseline: exact brute-force cosine top-k (broadcast the query set, scan
  * the corpus once). Scale paths: random-hyperplane LSH bucketing (prunes
  * the candidate space to colliding buckets) — the IVF-style variant would
  * replace random planes with k-means centroids, same join shape.
  */
object Similarity {

  /** dot product — deterministic left-to-right loop via the custom
    * [[graft.functions.DotProduct]] expression (the interpreted
    * zip_with/aggregate form was ~100x slower per pair). */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorTextExprs.dot_product(a, b)

  /** Project to (id, nv) with nv L2-normalized double vector: cosine becomes
    * a plain dot product. One compiled pass ([[graft.functions.NormalizeVec]])
    * — the earlier `transform(v, x / sqrt(dot(v,v)))` form was inlined by
    * CollapseProject into every downstream reference AND re-evaluated the
    * norm per element; in the IVF posting projection that multiplied the
    * per-row work ~1000x (measured: the 2000-row IVF query dropped 9.4 s →
    * sub-second after this change). */
  def normalized(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("id"),
      graft.functions.VectorTextExprs.normalize_vec(col(vecCol)).as("nv"))

  /** Exact top-k neighbors for each query id: one broadcast of the (small)
    * query set against one scan of the corpus; ranking is a bounded-heap
    * aggregate ([[graft.functions.TopKPairs]]) with map-side partial merge —
    * only k rows per (query, partition) cross the shuffle. The round-1
    * window-function ranking shuffled every scored row
    * (|corpus| x |queries|), the classic ANN-baseline scale killer. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val c = normalized(corpus, idCol, vecCol)
    val q = normalized(queries, idCol, vecCol)
      .select(col("id").as("qid"), col("nv").as("qv"))
    val scored = c.join(broadcast(q), col("id") =!= col("qid"))
      .select(col("qid"), col("id"), dot(col("nv"), col("qv")).as("cosine"))
    scored.groupBy(col("qid"))
      .agg(graft.functions.api.top_k_pairs(col("cosine"), col("id"), k).as("tk"))
      .select(col("qid"), posexplode(col("tk")).as(Seq("r", "e")))
      .select(col("qid"), col("e.id").as("neighbor"),
        (col("r") + 1).cast("int").as("rank"),
        round(col("e.score"), 6).as("cosine"))
  }

  // Random-hyperplane signatures (deterministic hashed planes) live in
  // graft.functions.HyperplaneSigs — one compiled pass computes every
  // table's sign bits; the compositional Column form was ~20k expression
  // nodes at 48 tables and took Catalyst minutes to analyze.

  /** IVF (inverted-file) approximate top-k — the classic ANN scale path:
    * a k-means coarse quantizer (Spark ML, trained on a bounded sample)
    * buckets the corpus into `nLists` posting lists; each query scans only
    * its `nProbe` nearest lists, so scored candidates shrink by
    * ~nProbe/nLists versus the brute-force scan. Exact-regime property:
    * with nProbe = nLists every list is scanned and the result EQUALS
    * [[bruteForceTopK]] regardless of clustering quality — which is how the
    * driver-verified query pins correctness while the recall spec covers
    * the approximate regime.
    *
    * Shapes: centroid assignment is a per-row argmax over `nLists` compiled
    * dot products (no shuffle); the probe join shuffles only (list_id, qid)
    * fan-out; ranking is the bounded-heap [[graft.functions.TopKPairs]]
    * aggregate (k rows per partition cross the wire). */
  /** Coarse-quantizer training, separated from the query path so callers
    * (benchmarks, repeated query batches) train ONCE and reuse: k-means on a
    * bounded UNBIASED sample — `sample(fraction, seed)` scans once with no
    * single-partition funnel, unlike `limit(n)`, which both serialized the
    * head through one task and sampled only the corpus prefix (a biased
    * quantizer whenever the table is sorted, e.g. by repo). Random init +
    * few iterations: a quantizer does not need converged centroids — recall
    * is governed by nProbe, not centroid optimality. */
  def trainCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      nLists: Int, seed: Long = 13L, trainSample: Int = 100000): Array[Array[Double]] = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val c = normalized(corpus, idCol, vecCol)
    val total = c.count()
    val frac = if (total <= trainSample) 1.0
    else math.min(1.0, trainSample * 1.2 / total.toDouble)
    val train = c.sample(withReplacement = false, frac, seed)
      .select(array_to_vector(col("nv")).as("features"))
    new KMeans().setK(nLists).setSeed(seed).setMaxIter(5)
      .setInitMode("random").fit(train)
      .clusterCenters.map(_.toArray)
  }

  def ivfTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nLists: Int = 64, nProbe: Int = 8, seed: Long = 13L,
      trainSample: Int = 100000,
      trainedCentroids: Option[Array[Array[Double]]] = None): DataFrame = {
    val c = normalized(corpus, idCol, vecCol)
    val centroids: Array[Seq[Double]] = trainedCentroids
      .getOrElse(trainCentroids(corpus, idCol, vecCol, nLists, seed, trainSample))
      .map(_.toSeq)

    // nearest-centroid assignment: ONE compiled pass over nLists x dims
    // per row (CentroidArgMax) — the compositional
    // array_position(array(dots), array_max(...)) form duplicated the
    // whole score-array subtree per reference
    val posting = c.withColumn("list_id",
      graft.functions.VectorTextExprs.centroid_arg_max(col("nv"), centroids.toSeq))
    val q = normalized(queries, idCol, vecCol)
      .select(col("id").as("qid"), col("nv").as("qv"))
      .withColumn("__scores", array(centroids.map(ct =>
        dot(col("qv"), typedlit(ct))): _*))
      // nProbe highest-scoring lists: sort (score, idx) pairs desc, slice
      .withColumn("list_id", explode(slice(reverse(array_sort(zip_with(
        col("__scores"),
        sequence(lit(0), lit(nLists - 1)),
        (s, i) => struct(s.as("s"), i.as("i"))))), 1, math.min(nProbe, nLists))
        .getField("i")))
      .select(col("qid"), col("qv"), col("list_id"))

    val scored = posting.join(broadcast(q), Seq("list_id"))
      .filter(col("id") =!= col("qid"))
      .select(col("qid"), col("id"), dot(col("nv"), col("qv")).as("cosine"))
    scored.groupBy(col("qid"))
      .agg(graft.functions.api.top_k_pairs(col("cosine"), col("id"), k).as("tk"))
      .select(col("qid"), posexplode(col("tk")).as(Seq("r", "e")))
      .select(col("qid"), col("e.id").as("neighbor"),
        (col("r") + 1).cast("int").as("rank"),
        round(col("e.score"), 6).as("cosine"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540 — public): cluster the embedding space with a coarse
    * quantizer, compare cosine similarity only WITHIN each cluster, and
    * drop every document that has a semantic duplicate (cosine >= tau)
    * with a smaller id in its cluster — the deterministic "keep the
    * lowest-id exemplar" variant of the paper's keep-one-per-group rule.
    *
    * Scale shape (10^12 files): centroid assignment is one compiled
    * per-row argmax ([[graft.functions.CentroidArgMax]], map-only — the
    * centroid table is driver-held and ships inside the expression, the
    * broadcast-equivalent for a small dim table). The within-cluster
    * all-pairs verify joins the (cluster, id, vector) frame against itself
    * ON THE CLUSTER KEY with the upper-triangle and cosine filters applied
    * inside the join output: vectors ride the O(n·dims) cluster shuffle
    * once per side, and the O(Σ|cluster|²) candidate pairs are generated,
    * dotted, and filtered in place — they never cross an exchange. (The
    * [[cosineLshPairs]] "ids-only candidates, join vectors back" pattern is
    * right when candidates are SHUFFLED between generation and verify; here
    * it would shuffle every candidate pair three times — measured 166 s for
    * 50k vectors vs ~7 s with the fused shape.) The pairwise compute cost
    * is the algorithm's intrinsic cost, governed by `nClusters` — scale it
    * with the corpus (the paper uses ~0.1% of n) so clusters stay bounded,
    * and let AQE skew-split any hot cluster (the join key is the cluster
    * id). Output is one verdict row per input document.
    *
    * Centroids: pass `trainedCentroids` (e.g. from [[trainCentroids]],
    * trained once and memoized — same contract as [[ivfTopK]]); they are
    * re-normalized here so assignment is argmax COSINE (first index wins
    * ties) regardless of centroid scale.
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
      tau: Double, nClusters: Int = 64, seed: Long = 13L,
      trainSample: Int = 100000,
      trainedCentroids: Option[Array[Array[Double]]] = None): DataFrame = {
    val cents = trainedCentroids
      .getOrElse(trainCentroids(df, idCol, vecCol, nClusters, seed, trainSample))
    val unit: Seq[Seq[Double]] = cents.map { c =>
      val norm = math.sqrt(c.map(x => x * x).sum)
      (if (norm > 0) c.map(_ / norm) else c).toSeq
    }.toSeq
    // consumed 3x (assignment + both verify legs) — released after the
    // verdict frame is materialized
    val n = graft.util.CacheScope.persist(normalized(df, idCol, vecCol))
    val assign = n.withColumn("cluster",
      graft.functions.VectorTextExprs.centroid_arg_max(col("nv"), unit))
    // a dropped doc only looks DOWN (to smaller ids), so candidates are the
    // strict upper triangle within each cluster; both filters (triangle +
    // cosine) evaluate inside the join's output iterator, so the quadratic
    // pair stream never reaches an exchange
    val dups = assign
      .join(assign.select(col("cluster"), col("id").as("b"), col("nv").as("vb")),
        Seq("cluster"))
      .filter(col("id") > col("b") && dot(col("nv"), col("vb")) >= tau)
      .groupBy(col("id")).agg(count(lit(1)).as("n_dups"))
    // eager: the verdict frame is (id, int, long, bool)-narrow; materialize
    // it so the O(corpus x dims) normalized cache releases deterministically
    val out = Dedup.materializeNow(assign.select(col("id"), col("cluster"))
      .join(dups, Seq("id"), "left")
      .select(col("id"), col("cluster"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"),
        (coalesce(col("n_dups"), lit(0L)) === 0).as("keep")))
    graft.util.CacheScope.release(n)
    out
  }

  /** LSH-bucketed approximate near-neighbor pairs: `tables` independent
    * random-hyperplane signatures; candidates = bucket collisions (id pairs
    * only — vectors do NOT ride the candidate shuffle, they are joined back
    * once per verified candidate); verification is the exact dot product, so
    * precision is 1 and recall is 1-(1-p^planes)^tables with
    * p = 1 - arccos(s)/pi.
    *
    * Operating points: near-dup at tau >= 0.8 (p >= 0.795) wants
    * planes=12, tables=8 (recall ~0.80 at s=0.8, ~0.97 at s=0.9, buckets
    * 2^12/table keeps candidate sets tiny at 10^9 rows). Low thresholds are
    * intrinsically hard for hyperplane LSH: at s ~= 0.5 (p ~= 0.67), recall
    * 0.99 needs planes=6, tables=48 — the default here, matching the
    * oracle-checked query contract (tau=0.5); at production scale, raise tau
    * or planes before raising tables.
    *
    * With the default `estimatePreFilter = true` precision stays 1 but the
    * verify step is no longer exact at the boundary: a 252-bit signature
    * estimate drops candidates before the exact dot product, and it misses
    * a pair at exactly tau with p ≈ 3e-4 (3.5 sigma), less the further the
    * pair is above tau. Pass `estimatePreFilter = false` for recall equal
    * to the LSH bound above. */
  def cosineLshPairs(df: DataFrame, idCol: String, vecCol: String,
      dims: Int, tau: Double, planes: Int = 6, tables: Int = 48,
      estimatePreFilter: Boolean = true): DataFrame = {
    // persisted: consumed 3x (signatures + both verify legs) — released
    // below once the (tiny) pair result is materialized
    val n = graft.util.CacheScope.persist(normalized(df, idCol, vecCol))
    // Estimate pre-filter (the verify()-phase-1 pattern from the minhash
    // path): a 252-bit hyperplane signature (4x63, independent seed)
    // estimates the angle per candidate from hamming distance, and only
    // survivors ship the full vectors through the exact verify — 32 B per
    // candidate side instead of 8·dims B. The cut keeps a pair AT exactly
    // tau with p > 0.9997 (3.5 sigma of Binomial(252, acos(tau)/pi)); at
    // low tau (collision-heavy candidates, 512 B vectors at dims=64) it
    // shrinks the heavy join by the candidate false-positive rate.
    // Order matters (guide §2.3 — filter before the exchange): the
    // hamming cut runs on the RAW pair stream, BEFORE the dedup
    // `distinct()` — the per-pair verdict is a pure function of the two
    // signatures, identical for every duplicate of a pair, so filtering
    // first shrinks the one candidate exchange by the same factor as the
    // heavy verify join (r6 measured on 2000x64 vectors at tau=0.5:
    // ~1M collision pairs -> ~50k rows into distinct; 3.6 s -> 2.1 s vs
    // the round-5 filter-after-distinct shape). The signatures attach via
    // two small broadcast joins of the (id, es) table; carrying es THROUGH
    // the bucket self-join instead was measured 7x SLOWER (the wider build
    // side pushed the self-join past the broadcast threshold and every
    // collision pair copied two 32 B arrays) — guide §1.1's "ideal plan
    // loses to a gotcha" case, kept as the empirical shape.
    // estimatePreFilter defaults ON since r6: output identity vs the exact
    // path is oracle-pinned at every SF (the cut is deterministic per
    // dataset — fixed seeds, fixed data).
    // All table signatures come from one compiled pass (HyperplaneSigs) —
    // the compositional Column form was ~20k expression nodes at 48 tables.
    val sigs = n.select(col("id"),
      posexplode(graft.functions.VectorTextExprs
        .hyperplane_sigs(col("nv"), planes, tables)).as(Seq("t", "sig")))
      .select(col("id"), struct(col("t"), col("sig")).as("b"))
    val rawCandidates = sigs.select(col("b"), col("id").as("a"))
      .join(sigs.select(col("b"), col("id").as("b2")), Seq("b"))
      .filter(col("a") < col("b2"))
      .select(col("a"), col("b2").as("b"))
    val survivors =
      (if (!estimatePreFilter) rawCandidates
      else {
        val estTables = 4
        val estPlanes = 63 // sign bits pack into one long, so 63 is the max
        val bits = estTables * estPlanes
        val cut = math.round(bits * math.acos(tau) / math.Pi) + 28 // +3.5 sigma
        val est = n.select(col("id"), graft.functions.VectorTextExprs
          .hyperplane_sigs(col("nv"), estPlanes, estTables, seed = 101L).as("es"))
        val ham = (0 until estTables).map(i =>
          bit_count(element_at(col("esa"), i + 1)
            .bitwiseXOR(element_at(col("esb"), i + 1))))
          .reduce(_ + _)
        // no broadcast hint: est is O(corpus) rows — AQE broadcasts by
        // MEASURED size when it fits and falls back to a hash join on id
        // at web scale, where a forced broadcast would OOM
        rawCandidates
          .join(est.select(col("id").as("a"), col("es").as("esa")), Seq("a"))
          .join(est.select(col("id").as("b"), col("es").as("esb")), Seq("b"))
          .filter(ham <= lit(cut))
          .select(col("a"), col("b"))
      }).distinct()
    // eager: materialize the O(pairs) output so the O(corpus) normalized
    // cache can be released deterministically before returning
    val result = Dedup.materializeNow(survivors
      .join(n.select(col("id").as("a"), col("nv").as("va")), Seq("a"))
      .join(n.select(col("id").as("b"), col("nv").as("vb")), Seq("b"))
      .withColumn("cosine", dot(col("va"), col("vb")))
      .filter(col("cosine") >= tau)
      .select(col("a"), col("b"), round(col("cosine"), 6).as("cosine")))
    graft.util.CacheScope.release(n)
    result
  }

  /** Trains a [[PqModel]] on a deterministic bounded sample of NORMALIZED
    * vectors (hash-ordered `limit` → TakeOrdered, k rows per partition;
    * PQ codebooks, like IVF centroids, are fit on samples by design). */
  def pqTrain(df: DataFrame, idCol: String, vecCol: String,
      m: Int = 8, k: Int = 16, sampleCap: Int = 10000,
      salt: Long = 0L, iters: Int = 10): PqModel = {
    val sample = normalized(df, idCol, vecCol)
      .select(col("nv"), xxhash64(col("id"), lit(salt)).as("__h"))
      .orderBy(col("__h")).limit(sampleCap)
      .collect().map(_.getSeq[Double](0).toArray).toSeq
    PqModel.train(sample, m, k, iters)
  }

  /** Compressed corpus representation: (id, codes) — m ints per vector in
    * one map-only projection; at rest this is the 10^12-vector RAM story
    * (8 codes vs 64 floats per vector). */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String,
      model: PqModel): DataFrame =
    normalized(df, idCol, vecCol).select(col("id"),
      graft.functions.PqEncode(col("nv"), model).as("codes"))

  /** Deterministic coarse quantizer for IVF routing: k-means over WHOLE
    * vectors — [[PqModel.train]] with a single subspace, so the same
    * shared deterministic Lloyd drives both quantization levels (the
    * Spark-ML-based [[trainCentroids]]/[[ivfTopK]] path stays as the
    * library-integration variant; this one is fixture-mirrorable). */
  def coarseTrain(df: DataFrame, idCol: String, vecCol: String,
      nLists: Int, sampleCap: Int = 10000, salt: Long = 0L,
      iters: Int = 10): PqModel =
    pqTrain(df, idCol, vecCol, m = 1, k = nLists, sampleCap, salt, iters)

  /** Which `nProbe` posting lists a query inspects: smallest L2 distance
    * to the coarse centroids, ties to the smaller list index — driver-side
    * arithmetic over nLists centroids. */
  def probeLists(coarse: PqModel, query: Array[Double], nProbe: Int): Seq[Int] = {
    require(coarse.m == 1, "coarse quantizer must be a single-subspace PqModel")
    coarse.codebooks.head.zipWithIndex.map { case (cent, idx) =>
      var d = 0.0
      var i = 0
      while (i < cent.length) { val x = query(i) - cent(i); d += x * x; i += 1 }
      (d, idx)
    }.sortBy { case (d, idx) => (d, idx) }.take(nProbe).map(_._2)
  }

  /** The canonical web-scale ANN read path — IVF list pruning + PQ
    * compression (Jegou et al. §V combine them for exactly this reason):
    * every corpus vector routes to its nearest coarse centroid (one
    * map-only [[graft.functions.PqEncode]] with the m=1 coarse model),
    * non-probed lists are FILTERED OUT before any scoring work, and the
    * survivors ADC-score through the fine model into one bounded heap.
    * Still one scan, no join; at 10^12 vectors the list filter is the
    * difference between scanning everything and scanning
    * ~nProbe/nLists of it, and the codes are what fit in RAM. */
  def ivfPqTopK(corpus: DataFrame, idCol: String, vecCol: String,
      coarse: PqModel, pq: PqModel, query: Array[Double], k: Int,
      nProbe: Int, excludeIds: Set[Long] = Set.empty): DataFrame = {
    val lists = probeLists(coarse, query, nProbe)
    val n = normalized(corpus, idCol, vecCol)
      .filter(if (excludeIds.isEmpty) lit(true)
        else !col("id").isInCollection(excludeIds.map(java.lang.Long.valueOf)))
      .withColumn("list",
        element_at(graft.functions.PqEncode(col("nv"), coarse), 1))
      .filter(col("list").isInCollection(lists.map(Integer.valueOf)))
      .select(col("id"),
        graft.functions.PqAdc(
          graft.functions.PqEncode(col("nv"), pq), pq, query).as("adc"))
    n.agg(graft.functions.api.top_k_pairs(col("adc"), col("id"), k).as("tk"))
      .select(posexplode(col("tk")).as(Seq("r", "e")))
      .select(col("e.id").as("id"), (col("r") + 1).cast("int").as("rank"),
        col("e.score").as("adc"))
  }

  /** Approximate top-k for one query vector over PQ codes: the m×k
    * inner-product table is built once driver-side; the corpus scan is
    * encode+ADC fused map-only into a single bounded-heap aggregate —
    * k rows per partition cross the shuffle, nothing else. Returns
    * (idCol, rank, adc). `query` must be normalized to the same scale as
    * the corpus (use the raw embedding of a corpus row and normalize). */
  def pqTopK(corpus: DataFrame, idCol: String, vecCol: String,
      model: PqModel, query: Array[Double], k: Int,
      excludeIds: Set[Long] = Set.empty): DataFrame = {
    val coded = pqEncode(corpus, idCol, vecCol, model)
      .filter(col("codes").isNotNull)
      .filter(if (excludeIds.isEmpty) lit(true)
        else !col("id").isInCollection(excludeIds.map(java.lang.Long.valueOf)))
      .select(col("id"),
        graft.functions.PqAdc(col("codes"), model, query).as("adc"))
    coded
      .agg(graft.functions.api.top_k_pairs(col("adc"), col("id"), k).as("tk"))
      .select(posexplode(col("tk")).as(Seq("r", "e")))
      .select(col("e.id").as("id"), (col("r") + 1).cast("int").as("rank"),
        col("e.score").as("adc"))
  }

  /** SEMANTIC decontamination — the embedding-space leg of benchmark
    * decontamination (n-gram matching misses paraphrases; cf. the
    * contamination analyses of GPT-3 arXiv:2005.14165 App. C and
    * Llama-2 arXiv:2307.09288 A.6): a corpus document is contaminated
    * when its max cosine against ANY benchmark embedding reaches `tau`.
    * Returns (id, max_cos, contaminated) for every corpus row.
    *
    * Scale shape: the benchmark set is SMALL by definition (it is a test
    * set) — its normalized vectors ship inside one compiled
    * [[graft.functions.CentroidMaxDot]] expression, so scoring the
    * corpus is a single map-only pass: zero joins, zero exchanges
    * (plan-gated), nothing per-row but the dot-product loop. The
    * benchmark collect is bounded by |bench| × dims doubles, the same
    * driver footprint as the exact decontamination broadcast. */
  def decontaminateSemantic(corpus: DataFrame, bench: DataFrame,
      idCol: String, vecCol: String, tau: Double): DataFrame = {
    require(tau > 0.0 && tau <= 1.0, s"tau must be in (0,1], got $tau")
    val benchVecs: Seq[Seq[Double]] = normalized(bench, idCol, vecCol)
      .select(col("nv")).collect()
      .flatMap(r => Option(r.getSeq[Double](0)).map(_.toSeq)).toSeq
    require(benchVecs.nonEmpty, "benchmark embedding set is empty")
    require(benchVecs.map(_.size).distinct.size == 1,
      s"benchmark embeddings have mixed dimensions: " +
        benchVecs.map(_.size).distinct.sorted.mkString(", "))
    normalized(corpus, idCol, vecCol)
      .select(col("id"),
        graft.functions.VectorTextExprs.centroid_max_dot(col("nv"), benchVecs)
          .as("max_cos"))
      .select(col("id"), round(col("max_cos"), 6).as("max_cos"),
        (col("max_cos") >= tau).as("contaminated"))
  }
}
