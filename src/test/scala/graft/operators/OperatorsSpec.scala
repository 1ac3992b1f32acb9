package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import org.apache.spark.sql.functions._

import graft.TestSpark

class OperatorsSpec extends AnyFunSuite with Matchers {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("groupMeanGate: drops low-mean groups, exempts tiny ones, ignores null scores in the mean") {
    val rows = Seq(
      ("good", 1L, Some(0.9)), ("good", 2L, Some(0.8)), ("good", 3L, Some(0.7)),
      ("bad", 4L, Some(0.1)), ("bad", 5L, Some(0.2)), ("bad", 6L, Some(0.3)),
      // nulls count toward size but not the mean: (0.9+0.9)/2 ≥ 0.5 keeps it
      ("nully", 7L, Some(0.9)), ("nully", 8L, None), ("nully", 9L, Some(0.9)),
      // 2-row group under minCount=3: exempt despite terrible mean
      ("tiny", 10L, Some(0.0)), ("tiny", 11L, Some(0.0)),
      // all-null group of size >= minCount: undefined mean -> dropped
      ("ghost", 12L, None), ("ghost", 13L, None), ("ghost", 14L, None))
      .toDF("repo", "id", "score")
    val kept = Sampling.groupMeanGate(rows, "repo", "score",
      minMean = 0.5, minCount = 3L)
      .select("repo").distinct().collect().map(_.getString(0)).sorted
    kept shouldBe Array("good", "nully", "tiny")
  }

  test("groupMeanGate plans a broadcast semi-join — the corpus never shuffles") {
    val rows = (1 to 100).map(i => (s"r${i % 5}", i.toLong, i / 100.0))
      .toDF("repo", "id", "score")
    val plan = Sampling.groupMeanGate(rows, "repo", "score", 0.3)
      .queryExecution.executedPlan.toString
    plan should include("BroadcastHashJoin")
    plan should include("LeftSemi")
  }

  lazy val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").cache()

  test("exact dedup keeps min id per duplicate group") {
    val df = Seq((1L, "a b c"), (2L, "a b c"), (3L, "x y z"), (4L, "a b c"))
      .toDF("doc_id", "text")
    val out = Dedup.exact(df, "doc_id", "text").orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    out shouldBe Array((1L, 3L), (3L, 1L))
  }

  test("minhash LSH pairs equal exact n-gram jaccard pairs on documents") {
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.7)
      .orderBy("a", "b").collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val lsh = Dedup.minHashLshPairs(docs, "doc_id", "text", 3, 0.7)
      .orderBy("a", "b").collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    exact.length should be > 5 // planted near-dups exist
    lsh shouldBe exact
  }

  test("minhash default operating point (r=5/b=32) finds a borderline pair at s ~ 0.71") {
    // the scaladoc's miss bound at the default is (1-s^5)^32 ≈ 2.8e-3 at
    // s=0.7 — this pins a DETERMINISTIC borderline pair just above tau so a
    // banding regression (fewer effective bands, broken hashing) fails here
    // rather than silently eroding recall
    val base = (0 until 60).map(i => s"tok$i")
    // replace the last k tokens: shingle sets share a long prefix
    val variant = base.dropRight(10) ++ (0 until 10).map(i => s"alt$i")
    def shingles(ts: Seq[String]) = ts.sliding(3).map(_.mkString(" ")).toSet
    val (sa, sb) = (shingles(base), shingles(variant))
    val s = sa.intersect(sb).size.toDouble / sa.union(sb).size
    s should (be >= 0.70 and be <= 0.72) // the pair is genuinely borderline
    val df = Seq((1L, base.mkString(" ")), (2L, variant.mkString(" ")))
      .toDF("doc_id", "text")
    val found = Dedup.minHashLshPairs(df, "doc_id", "text", n = 3, tau = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    found shouldBe Array((1L, 2L))
    // the prefix-filtered exact join must also find the borderline pair
    // (its recall contract is EXACTLY 1 — no banding/estimate caveat when
    // estimateFilter is off)
    val exactFound = Dedup.ngramJaccardPairs(df, "doc_id", "text", n = 3,
      tau = 0.7, estimateFilter = false)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    exactFound shouldBe Array((1L, 2L))
  }

  test("connected components: driver union-find path equals distributed label propagation") {
    // deterministic multi-component graph with chains (diameter > 1),
    // including a component whose min id arrives "late" in the edge order
    val edges = Seq((5L, 3L), (3L, 9L), (9L, 7L), (20L, 21L), (22L, 21L),
      (40L, 41L), (2L, 9L), (100L, 100L))
      .toDF("a", "b")
    val dist = Dedup.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val drv = Dedup.connectedComponentsAuto(edges, driverEdgeLimit = 1000)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    drv shouldBe dist
    dist(7L) shouldBe 2L // min id of the {2,3,5,7,9} chain
    dist(22L) shouldBe 20L
    // ...and with 128-bit struct node ids (the pipeline's id type)
    val sEdges = edges.select(
      struct(xxhash64(col("a")).as("h1"), xxhash64(col("a"), lit(1L)).as("h2")).as("a"),
      struct(xxhash64(col("b")).as("h1"), xxhash64(col("b"), lit(1L)).as("h2")).as("b"))
    val sDist = Dedup.connectedComponents(sEdges)
      .collect().map(r => r.get(0).toString -> r.get(1).toString).toMap
    val sDrv = Dedup.connectedComponentsAuto(sEdges, driverEdgeLimit = 1000)
      .collect().map(r => r.get(0).toString -> r.get(1).toString).toMap
    sDrv shouldBe sDist
  }

  test("SimHash64 expression matches the straight-line oracle, incl. edge cases") {
    // the expression scans UTF-8 bytes; the oracle splits UTF-16 strings —
    // agreement across multi-byte text proves the byte-level tokenization is
    // the same function
    val samples = Seq(
      "the quick brown fox", "a", "", " ", "a  b", " leading", "trailing ",
      "ünïcödé wörds ß", "汉字 文本 混合 with ascii", "tab\tis not a separator",
      "repeat repeat repeat repeat")
    val viaExpr = samples.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = Dedup.simHash(viaExpr, "doc_id", "text")
      .orderBy("id").collect().map(_.getLong(1))
    val want = samples.map(graft.corpus.Fixtures.simHash64).toArray
    got shouldBe want
  }

  test("simhash drops null-text docs (no null-signature join-key blowup)") {
    // k null-text docs would share identical (block, NULL) struct keys —
    // which DO match in a hash join — exploding into ~k² candidates; the
    // signature stage must drop them like the round-3 aggregate did
    val df = Seq((1L, Some("a b c")), (2L, None), (3L, None), (4L, Some("a b c")))
      .toDF("doc_id", "text")
    Dedup.simHash(df, "doc_id", "text").collect().map(_.getLong(0)).sorted shouldBe
      Array(1L, 4L)
    val pairs = Dedup.simHashPairs(df, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    pairs shouldBe Array((1L, 4L)) // identical docs pair; null docs pair with nothing
  }

  test("simhash recall: every near-identical pair (jaccard >= 0.95) is found") {
    // SimHash sketches word-multiset cosine: expected hamming for jaccard j
    // is ~64*acos(2j/(1+j))/pi — j=0.95 ⇒ ~5 bits, j=0.8 ⇒ ~10 bits. So the
    // sketch at hamming<=7 is a near-identical detector, not a 0.8-jaccard one.
    val planted = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.95)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sim = Dedup.simHashPairs(docs, "doc_id", "text",
      maxHamming = 7, blockBits = 8)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    planted.nonEmpty shouldBe true
    (planted -- sim) shouldBe empty
  }

  test("simhash 16-bit banding recall equals brute-force hamming <= 3") {
    // banded candidates + verify must equal the all-pairs hamming filter —
    // the pigeonhole guarantee (4 blocks cover hamming <= numBlocks-1 = 3)
    val sigs = Dedup.simHash(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (a, ha) <- sigs; (b, hb) <- sigs if a < b
      if java.lang.Long.bitCount(ha ^ hb) <= 3
    } yield (a, b)).toSet
    val banded = Dedup.simHashPairs(docs, "doc_id", "text",
      maxHamming = 3, blockBits = 16)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    banded shouldBe brute
  }

  test("hash split/sample: deterministic, partition-invariant, growth-stable") {
    val full = docs
    val split = Sampling.hashSplit(full, "doc_id", 0.8, 0.1)
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // disjoint + complete by construction; fractions near nominal
    val n = split.size.toDouble
    (split.values.count(_ == "train") / n) shouldBe 0.8 +- 0.06
    (split.values.count(_ == "val") / n) shouldBe 0.1 +- 0.05
    // partition-invariant: same assignment at any parallelism
    val repart = Sampling.hashSplit(full.repartition(13), "doc_id", 0.8, 0.1)
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    repart shouldBe split
    // growth-stable: membership computed on HALF the corpus is identical —
    // adding/removing other docs never flips a doc's split (random() or
    // df.sample() splits lack exactly this)
    val half = Sampling.hashSplit(full.filter(col("doc_id") % 2 === 0), "doc_id", 0.8, 0.1)
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    half.foreach { case (id, s) => split(id) shouldBe s }
    // independent salts draw independent splits
    val salted = Sampling.hashSplit(full, "doc_id", 0.8, 0.1, salt = 7L)
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    salted should not equal split
    // hashSample(f) is the train side of a (f, 0) split
    Sampling.hashSample(full, "doc_id", 0.8).collect().map(_.getLong(0)).toSet shouldBe
      split.filter(_._2 == "train").keySet
    // map-only: no exchange anywhere in the split projection
    val plan = Sampling.hashSplit(full, "doc_id", 0.8, 0.1)
      .queryExecution.executedPlan.toString
    plan should not include "Exchange"
  }

  test("sequence packing: every doc once, bins within budget, deterministic, near-optimal") {
    import graft.operators.TextAnalysis
    val withTokens = docs.select(col("doc_id"),
      TextAnalysis.tokenCount(col("text")).as("tokens"))
    val budget = 256
    val packed = Sampling.packSequences(withTokens, "doc_id", "tokens",
      budget, numPartitions = 4).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))

    // every document packed exactly once
    packed.map(_._1).sorted shouldBe
      withTokens.collect().map(_.getLong(0)).sorted
    // every non-oversized bin within budget
    val binSums = packed.groupBy(_._3).map { case (_, ds) => ds.map(_._2).sum }
    binSums.foreach(_ should be <= budget) // all docs here are < budget
    // near-optimal: bins used within 1.5x the token-volume lower bound
    val totalTokens = packed.map(_._2.toLong).sum
    val lowerBound = math.ceil(totalTokens.toDouble / budget)
    binSums.size.toDouble should be <= lowerBound * 1.5
    // deterministic: same inputs + numPartitions -> identical bins, even
    // from a differently-partitioned input
    val again = Sampling.packSequences(withTokens.repartition(13), "doc_id",
      "tokens", budget, numPartitions = 4).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sortBy(_._1)
    again shouldBe packed.sortBy(_._1)
    // oversized docs get singleton bins
    val tiny = Sampling.packSequences(withTokens, "doc_id", "tokens",
      budget = 5, numPartitions = 2).collect()
    tiny.groupBy(_.getLong(2)).values.foreach(_.length shouldBe 1)

    // STRING ids keep their type end-to-end (a silent cast("long") would
    // null them out and funnel everything into one partition)
    val strIds = withTokens.select(
      concat(lit("repo/"), col("doc_id")).as("key"), col("tokens"))
    val sp = Sampling.packSequences(strIds, "key", "tokens", budget, numPartitions = 4)
    sp.schema("key").dataType shouldBe org.apache.spark.sql.types.StringType
    sp.collect().map(_.getString(0)).sorted shouldBe
      strIds.collect().map(_.getString(0)).sorted
  }

  test("embedding cosine pairs and brute-force top-k agree with each other") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val pairs = Dedup.embeddingCosinePairs(emb, "vec_id", "embedding", 0.5).collect()
    val topk = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5),
      "vec_id", "embedding", 3)
    topk.count() shouldBe 15 // 5 queries x 3 neighbors
    // a pair above tau must rank as the 1-NN of its endpoints among the queried
    pairs.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      if (a < 5) {
        val nn = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") === a),
          "vec_id", "embedding", 1).collect().head
        nn.getAs[Long]("neighbor") shouldBe b
      }
    }
  }

  test("cosine LSH estimate pre-filter: identical pairs, vectors stay out of the candidate join") {
    // sf0.01: the smallest SF whose embeddings contain pairs above tau
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    // r6: the pre-filter is default-ON; the exact-given-candidates leg now
    // opts OUT explicitly so this stays a filtered-vs-exact identity check
    val exact = Similarity.cosineLshPairs(emb, "vec_id", "embedding", 64, 0.5,
      estimatePreFilter = false)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    val filtered = Similarity.cosineLshPairs(emb, "vec_id", "embedding", 64, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    exact should not be empty
    // the 3.5-sigma cut keeps every qualifying pair at this SF
    filtered shouldBe exact
  }

  test("cosine LSH at exactly tau: the exact verify keeps every candidate, the estimate cut stays in its envelope") {
    // u_j = e_j and v_jk = 0.6 e_j + 0.8 e_k are unit vectors in double
    // arithmetic (0.36 + 0.64 == 1.0), so every u_j . v_jk is exactly 0.6:
    // 992 pairs on the boundary, spread over 32 x 31 pairs of directions
    val dims = 32
    val tau = 0.6
    val unit = (0 until dims).map(j => Array.tabulate(dims)(d => if (d == j) 1.0 else 0.0))
    val mixed = for (j <- 0 until dims; k <- 0 until dims if k != j)
      yield Array.tabulate(dims)(d => if (d == j) 0.6 else if (d == k) 0.8 else 0.0)
    val df = (unit ++ mixed).zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding")
    def pairs(out: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      out.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // the operator's candidates: bucket collisions of its default signatures
    val nv = Similarity.normalized(df, "vec_id", "embedding")
    val sigs = nv.select(col("id"), posexplode(graft.functions.VectorTextExprs
      .hyperplane_sigs(col("nv"), 6, 48)).as(Seq("t", "sig")))
    val candidates = sigs.withColumnRenamed("id", "a")
      .join(sigs.withColumnRenamed("id", "b"), Seq("t", "sig"))
      .filter(col("a") < col("b")).select("a", "b").distinct()
    val cosine = nv.select(col("id").as("a"), col("nv").as("va"))
      .join(nv.select(col("id").as("b"), col("nv").as("vb")), col("a") < col("b"))
      .select(col("a"), col("b"), Similarity.dot(col("va"), col("vb")).as("c"))
    val qualifying = candidates.join(cosine, Seq("a", "b")).filter(col("c") >= tau)
    val due = pairs(qualifying.select("a", "b"))
    val atTau = pairs(qualifying.filter(col("c") === tau).select("a", "b"))
    atTau.size should be > 900

    pairs(Similarity.cosineLshPairs(df, "vec_id", "embedding", dims, tau,
      estimatePreFilter = false)) shouldBe due
    val estimated = pairs(Similarity.cosineLshPairs(df, "vec_id", "embedding", dims, tau))
    estimated.subsetOf(due) shouldBe true
    // envelope: a pair at exactly tau is missed with p ~= 3e-4; slack of
    // 3 pairs over that expectation (a cut without its margin misses 740)
    (atTau -- estimated).size should be <= math.ceil(3e-4 * atTau.size).toInt + 3
  }

  test("cosine LSH finds planted near-identical vectors") {
    val base = (0 until 50).map { i =>
      val r = graft.corpus.Rng(5L, i)
      (i.toLong, Array.tabulate(16)(d => (r.double(d) * 2 - 1).toFloat))
    }
    // plant: vectors 100+i = tiny perturbation of i (cosine ~0.999)
    val planted = base.take(5).map { case (i, v) =>
      (100 + i, v.zipWithIndex.map { case (x, d) => x + (if (d == 0) 0.01f else 0f) })
    }
    val df = (base ++ planted).toDF("vec_id", "embedding")
    val found = Similarity.cosineLshPairs(df, "vec_id", "embedding",
      dims = 16, tau = 0.99, planes = 8, tables = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (0 until 5).foreach { i => found should contain((i.toLong, (100 + i).toLong)) }
  }

  test("IVF top-k: exact regime equals brute force; probing keeps recall") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 10)
    val brute = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(1)).toMap
    // nProbe = nLists scans every posting list -> identical to brute force
    val exact = Similarity.ivfTopK(emb, queries, "vec_id", "embedding", 3,
      nLists = 8, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(1)).toMap
    exact shouldBe brute
    // approximate regime: probing half the lists keeps most top-1 neighbors
    val approx = Similarity.ivfTopK(emb, queries, "vec_id", "embedding", 1,
      nLists = 8, nProbe = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val top1 = brute.collect { case ((q, 1), n) => q -> n }
    val hits = top1.count { case (q, n) => approx.get(q).contains(n) }
    hits.toDouble / top1.size should be >= 0.5
  }

  test("mixture weights: target/actual arithmetic, absent groups weight 0") {
    val counts = docs.groupBy(col("lang")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val tot = counts.values.sum.toDouble
    val targets = Map("en" -> 0.6, "de" -> 0.4) // other langs absent -> 0
    val w = Sampling.mixtureWeights(docs, "lang", targets)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    w.keySet shouldBe counts.keySet
    w.foreach { case (g, (n, actual, target, weight)) =>
      n shouldBe counts(g)
      actual shouldBe BigDecimal(n / tot).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble +- 1e-9
      target shouldBe targets.getOrElse(g, 0.0)
      weight shouldBe BigDecimal(targets.getOrElse(g, 0.0) * tot / n)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble +- 1e-9
    }
  }

  test("mixture sampling: per-group rates honored, deterministic, map-only") {
    val rates = Map("en" -> 0.5, "de" -> 1.0) // es/fr/zh absent -> dropped
    val s1 = Sampling.mixtureSample(docs, "lang", "doc_id", rates)
    val kept = s1.groupBy(col("lang")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    kept.keySet shouldBe Set("en", "de")
    val nEn = docs.filter(col("lang") === "en").count()
    kept("de") shouldBe docs.filter(col("lang") === "de").count() // rate 1.0
    // 5-sigma binomial bound on the hash-sampled group
    math.abs(kept("en").toDouble / nEn - 0.5) should be <=
      5.0 * math.sqrt(0.25 / nEn)
    // deterministic under repartitioning
    val s2 = Sampling.mixtureSample(docs.repartition(13), "lang", "doc_id", rates)
    s2.select(col("doc_id")).collect().map(_.getLong(0)).toSet shouldBe
      s1.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    // map-only: one filter over the scan, no exchange
    s1.queryExecution.executedPlan.toString should not include "Exchange"
  }

  test("unimaxQuotas: waterfilling hand-case, budget conservation, regimes") {
    // caps at 2 epochs: a=20, b=200, c=2000; budget 500:
    // a capped (20*3=60<=500), b capped (200*2=400<=480), c gets the
    // remaining level L=(500-220)/1=280 -> 0.28 epochs
    val rows = (1 to 10).map(i => ("a", i.toLong)) ++
      (1 to 100).map(i => ("b", 100L + i)) ++
      (1 to 1000).map(i => ("c", 10000L + i))
    val df = rows.toDF("lang", "id")
    val q = Sampling.unimaxQuotas(df, "lang", budget = 500.0, maxEpochs = 2.0)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    q("a") shouldBe ((10L, 20.0, 20.0, 2.0))
    q("b") shouldBe ((100L, 200.0, 200.0, 2.0))
    q("c") shouldBe ((1000L, 2000.0, 280.0, 0.28))
    // budget conservation in the mixed regime
    q.values.map(_._3).sum shouldBe 500.0 +- 1e-6
    // budget >= total capacity: everyone fully capped
    val capAll = Sampling.unimaxQuotas(df, "lang", budget = 1e9, maxEpochs = 2.0)
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    capAll shouldBe Map("a" -> 20.0, "b" -> 200.0, "c" -> 2000.0)
    // budget too small for any cap: uniform level across all groups
    val uni = Sampling.unimaxQuotas(df, "lang", budget = 30.0, maxEpochs = 2.0)
      .collect().map(_.getDouble(3)).toSet
    uni shouldBe Set(10.0)
    // epochs never exceed the cap
    Sampling.unimaxQuotas(docs, "lang", budget = 1e9, maxEpochs = 1.5)
      .collect().foreach(_.getDouble(4) should be <= 1.5)
  }

  test("unimaxSample: exact full epochs, 5-sigma fractional pass, deterministic, no corpus shuffle") {
    val rows = (1 to 40).map(i => ("a", i.toLong)) ++
      (1 to 400).map(i => ("b", 1000L + i))
    val df = rows.toDF("lang", "id")
    // caps at 3 epochs: a=120, b=1200; budget 360: a capped (120*2=240<=360),
    // b level (360-120)/1=240 -> 0.6 epochs
    val out = Sampling.unimaxSample(df, "lang", "id", budget = 360.0, maxEpochs = 3.0)
    val byLang = out.groupBy(col("lang")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    byLang("a") shouldBe 120L // exactly 3 full epochs, every doc 3 copies
    out.filter(col("lang") === "a").groupBy(col("id")).count()
      .collect().foreach(_.getLong(1) shouldBe 3L)
    // fractional group: binomial around 240 of 400 docs (0.6 rate)
    math.abs(byLang("b").toDouble / 400 - 0.6) should be <=
      5.0 * math.sqrt(0.6 * 0.4 / 400)
    // epoch column is 1-based and dense per doc
    out.filter(col("lang") === "a").groupBy(col("id"))
      .agg(min(col("epoch")).as("lo"), max(col("epoch")).as("hi"))
      .collect().foreach { r => r.getInt(1) shouldBe 1; r.getInt(2) shouldBe 3 }
    // deterministic under repartitioning
    val again = Sampling.unimaxSample(df.repartition(7), "lang", "id",
      budget = 360.0, maxEpochs = 3.0)
    again.select(col("id"), col("epoch")).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet shouldBe
      out.select(col("id"), col("epoch")).collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSet
    // the quota frame broadcasts back — the corpus side never shuffles
    val plan = out.queryExecution.executedPlan.toString
    plan should include("BroadcastHashJoin")
  }

  test("unimaxSample: null-group documents survive (null-safe quota join)") {
    val rows = (1 to 20).map(i => (Option("a"), i.toLong)) ++
      (1 to 20).map(i => (Option.empty[String], 100L + i))
    val df = rows.toDF("lang", "id")
    // budget ample: both groups (incl. the NULL group) get full epochs
    val out = Sampling.unimaxSample(df, "lang", "id",
      budget = 80.0, maxEpochs = 2.0)
    val byLang = out.groupBy(col("lang")).count()
      .collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    byLang(Some("a")) shouldBe 40L
    byLang(None) shouldBe 40L // a plain === join would have dropped these
  }

  test("quantileFilter: per-group threshold semantics, nulls dropped, broadcast plan") {
    val df = Seq(
      ("g1", 1L, Some(1.0)), ("g1", 2L, Some(2.0)), ("g1", 3L, Some(3.0)),
      ("g1", 4L, Some(4.0)), ("g1", 5L, Some(5.0)), ("g1", 6L, None),
      ("g2", 7L, Some(10.0))
    ).toDF("g", "id", "score")
    // q=0.5 on g1: exact median 3.0; keepAbove keeps {3,4,5}; null never clears
    val kept = Sampling.quantileFilter(df, "g", "score", 0.5)
    kept.filter(col("g") === "g1").select(col("id"))
      .collect().map(_.getLong(0)).toSet shouldBe Set(3L, 4L, 5L)
    // a single-row group keeps its row at any q
    kept.filter(col("g") === "g2").count() shouldBe 1
    // keepAbove = false flips the gate (score <= median)
    Sampling.quantileFilter(df, "g", "score", 0.5, keepAbove = false)
      .filter(col("g") === "g1").select(col("id"))
      .collect().map(_.getLong(0)).toSet shouldBe Set(1L, 2L, 3L)
    // interpolated threshold: q=0.1 over 5 values -> 1.4; >= keeps {2..5}
    Sampling.quantileFilter(df, "g", "score", 0.1)
      .filter(col("g") === "g1").count() shouldBe 4
    // the threshold side must broadcast — the corpus never shuffles
    kept.queryExecution.executedPlan.toString should include("BroadcastHashJoin")
  }

  test("PQ: codes reconstruct centroids, ADC tracks cosine, top-k recall vs brute force") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val model = Similarity.pqTrain(emb, "vec_id", "embedding", m = 8, k = 16)
    model.m shouldBe 8
    model.k shouldBe 16
    model.dim shouldBe 64
    // a vector assembled FROM centroids encodes exactly to those centroids
    val v = (0 until 8).flatMap(sub => model.codebooks(sub)(3 + sub % 4)).toArray
    model.encode(v).toSeq shouldBe (0 until 8).map(sub => 3 + sub % 4)
    // ADC == exact dot for that losslessly-quantized vector
    val q = Array.fill(64)(0.125)
    val exact = v.zip(q).map { case (a, b) => a * b }.sum
    model.adc(model.encode(v), model.lut(q)) shouldBe exact +- 1e-9
    // approximate ranking agrees with exact cosine ranking: ADC top-10
    // overlaps brute-force top-10 by at least half (64-dim -> 8x16 codes
    // is aggressive 32x compression; overlap is the spec, not identity)
    val qid = emb.agg(min(col("vec_id"))).collect().head.getLong(0)
    val qvec = emb.filter(col("vec_id") === qid)
      .select(graft.functions.VectorTextExprs.normalize_vec(col("embedding")))
      .collect().head.getSeq[Double](0).toArray
    val approx = Similarity.pqTopK(emb, "vec_id", "embedding", model, qvec,
        k = 10, excludeIds = Set(qid))
      .select("id").collect().map(_.getLong(0)).toSet
    val exactTop = Similarity.bruteForceTopK(emb,
        emb.filter(col("vec_id") === qid), "vec_id", "embedding", 10)
      .select("neighbor").collect().map(_.getLong(0)).toSet
    (approx intersect exactTop).size should be >= 5
    // one-scan shape: no join, single exchange into the bounded heap
    val tree = Similarity.pqTopK(emb, "vec_id", "embedding", model, qvec, 10)
      .queryExecution.executedPlan.toString
    tree should not include "Join"
    "Exchange".r.findAllIn(tree).size should be <= 2
  }

  test("trainLangId: corpus-trained head separates vocabularies, map-only classify") {
    def doc(ws: Seq[String], seed: Int): String =
      (0 until 40).map(i => ws((i * 3 + seed) % ws.length)).mkString(" ")
    val aW = Seq("alpha", "bravo", "charlie", "delta")
    val bW = Seq("uno", "dos", "tres", "quatro")
    val train = ((0 until 20).map(i => ("aa", doc(aW, i))) ++
      (0 until 20).map(i => ("bb", doc(bW, i)))).toDF("lang", "text")
    val model = TextAnalysis.trainLangId(train, "lang", "text")
    model.languages shouldBe Vector("aa", "bb")
    // held-out docs from each vocabulary classify to their language
    model.classify(doc(aW, 99))._1 shouldBe "aa"
    model.classify(doc(bW, 99))._1 shouldBe "bb"
    model.classify(doc(aW, 99))._2 should be > 0.5
    // training is partition-order independent (integer counts)
    val model2 = TextAnalysis.trainLangId(train.repartition(7), "lang", "text")
    model2.weights.toSeq shouldBe model.weights.toSeq
    // classification under the trained model is a map-only projection
    val plan = train.select(TextAnalysis.classifyWith(col("text"), model))
      .queryExecution.executedPlan.toString
    plan should not include "Exchange"
  }

  test("corpusReport: exact dup counts, order-independent mean, one aggregation") {
    val df = Seq(
      ("en", "the cat sat"), ("en", "the cat sat"), ("en", "dogs run fast"),
      ("de", "hallo welt")
    ).toDF("lang", "text")
    val r = TextAnalysis.corpusReport(df, "lang", "text")
      .collect().map(row => row.getString(0) ->
        (row.getLong(1), row.getLong(2), row.getLong(3), row.getLong(4))).toMap
    r("en") shouldBe ((3L, 35L, 9L, 1L)) // 2 identical docs -> 1 dup
    r("de") shouldBe ((1L, 10L, 2L, 0L))
    // partitioning must not change the report (micro-unit mean is order-free)
    val repartitioned = TextAnalysis.corpusReport(df.repartition(7), "lang", "text")
    repartitioned.collect().toSet shouldBe
      TextAnalysis.corpusReport(df, "lang", "text").collect().toSet
  }

  test("IVF+PQ: probed lists prune the scan, results subset full-PQ ranking") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val coarse = Similarity.coarseTrain(emb, "vec_id", "embedding", nLists = 16)
    val pq = Similarity.pqTrain(emb, "vec_id", "embedding")
    val qid = emb.agg(min(col("vec_id"))).collect().head.getLong(0)
    val qvec = emb.filter(col("vec_id") === qid)
      .select(graft.functions.VectorTextExprs.normalize_vec(col("embedding")))
      .collect().head.getSeq[Double](0).toArray
    // probing all lists == plain PQ top-k (pruning is the ONLY difference)
    val all = Similarity.ivfPqTopK(emb, "vec_id", "embedding", coarse, pq,
      qvec, k = 20, nProbe = 16, excludeIds = Set(qid)).collect().toSeq
    val plain = Similarity.pqTopK(emb, "vec_id", "embedding", pq, qvec,
      k = 20, excludeIds = Set(qid)).collect().toSeq
    all shouldBe plain
    // probing 4/16 lists returns a ranking CONSISTENT with the full one:
    // every returned id appears with the same adc score
    val probed = Similarity.ivfPqTopK(emb, "vec_id", "embedding", coarse, pq,
        qvec, k = 20, nProbe = 4, excludeIds = Set(qid))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val fullScores = all.map(r => r.getLong(0) -> r.getDouble(2)).toMap
    probed.foreach { case (id, adc) =>
      fullScores.get(id).foreach(_ shouldBe adc)
    }
    // the query's own nearest list must be probed -> top-1 usually kept;
    // at minimum the probed result is non-empty and properly ranked
    probed.size should be > 0
    // one-scan shape: no join, filter precedes scoring
    val tree = Similarity.ivfPqTopK(emb, "vec_id", "embedding", coarse, pq,
      qvec, k = 20, nProbe = 4).queryExecution.executedPlan.toString
    tree should not include "Join"
    "Exchange".r.findAllIn(tree).size should be <= 2
  }

  test("chooseBanding: cheapest (b,r) meeting the S-curve recall target") {
    // every returned point meets its recall target, and no smaller
    // signature with the same r would
    for (tau <- Seq(0.5, 0.7, 0.9); rec <- Seq(0.9, 0.99, 0.999)) {
      val (b, r) = Dedup.chooseBanding(tau, rec)
      Dedup.bandingRecall(tau, b, r) should be >= rec
      if (b > 1) Dedup.bandingRecall(tau, b - 1, r) should be < rec
    }
    // the repo default (b=32, r=5) must clear its documented operating
    // point: tau=0.7 pairs recalled >= 99% (scaladoc: miss ~ 2.8e-3)
    Dedup.bandingRecall(0.7, 32, 5) should be > 0.99
    // sharper r wins ties: recall 0.5 at tau 0.7 is met by (1,2) [0.49->no]
    // -- sanity: returned signature within cap, never degenerate
    val (b2, r2) = Dedup.chooseBanding(0.7, 0.999, maxSignature = 64)
    (b2 * r2) should be <= 64
    an[IllegalArgumentException] should be thrownBy
      Dedup.chooseBanding(0.99, 0.999999, maxSignature = 2)
  }

  test("dedupLines: canonical survives, exemptions honored, untouched docs byte-identical") {
    val df = Seq(
      (1L, "KEEP\ncommon\nunique one"),
      (2L, "common\nunique two\n\nx"),
      (3L, "all alone"),
      (4L, "dup\ndup\ndup")
    ).toDF("id", "text")
    val out = Dedup.dedupLines(df, "id", "text")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getInt(2))).toMap
    // 'common': canonical (1,1) survives, (2,0) cut; intra-doc 'dup' keeps
    // only its first occurrence; empty line exempt; untouched docs intact
    out(1L) shouldBe (("KEEP\ncommon\nunique one", 0))
    out(2L) shouldBe (("unique two\n\nx", 1))
    out(3L) shouldBe (("all alone", 0))
    out(4L) shouldBe (("dup", 2))
    // minDf = 3: a line seen twice is not boilerplate yet
    Dedup.dedupLines(df, "id", "text", minDf = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
      .apply(2L) shouldBe 0
    // minLineLen exempts short lines from dedup entirely
    Dedup.dedupLines(df, "id", "text", minLineLen = 10)
      .agg(sum("removed_lines")).collect().head.getLong(0) shouldBe 0L
    // skew-immune shape: frequency via partial-agg'd groupBy — no Window
    // operator anywhere, no cartesian
    val tree = Dedup.dedupLines(df, "id", "text")
      .queryExecution.executedPlan.toString
    tree should not include "Window"
    tree should not include "CartesianProduct"
  }

  test("BPE: training learns frequent pairs; greedy encode; counting is map-only") {
    import graft.textmodel.BpeModel
    // histogram "aaab"x10, "ab"x5: pair (a,a) weighs 20 vs (a,b) 15 ->
    // merge 1 = (a,a); after rewrite (a,b) weighs 15 -> merge 2 = (a,b)
    val model = BpeModel.train(Seq(("aaab", 10L), ("ab", 5L)), 2)
    model.merges shouldBe IndexedSeq(("a", "a"), ("a", "b"))
    model.encodeWord("aaab") shouldBe Vector("aa", "ab")
    model.encodeWord("ab") shouldBe Vector("ab")
    model.encodeWord("ba") shouldBe Vector("b", "a") // no trained pair
    model.countTokens("aaab ab  aaab") shouldBe 5
    model.countTokens("") shouldBe 0
    // zero merges degenerates to character count per word
    BpeModel.train(Seq(("abc", 1L)), 0).countTokens("abc de") shouldBe 5
    // tie-break: equal counts -> lexicographically smallest pair
    BpeModel.train(Seq(("xy", 3L), ("ab", 3L)), 1)
      .merges.head shouldBe ("a", "b")

    // corpus-trained model: counting is a map-only projection (the trained
    // merge table rides in the expression; no shuffle, no join)
    val m2 = TextAnalysis.bpeTrain(docs, "text", 200, 30)
    val counted = docs.select(col("doc_id"),
      TextAnalysis.bpeTokenCount(col("text"), m2).as("n"))
    counted.queryExecution.executedPlan.toString should not include "Exchange"
    // merges strictly compress: BPE tokens <= characters, >= whitespace words
    val row = counted.agg(sum("n")).collect().head.getLong(0)
    val words = docs.agg(sum(TextAnalysis.tokenCount(col("text"))))
      .collect().head.getLong(0)
    row should be >= words
  }

  test("dsirResample: target-like docs win, deterministic, one-scan no-join plan") {
    import graft.operators.Sampling
    // two disjoint vocabularies; the target speaks only vocab A
    val aWords = Seq("alpha", "beta", "gamma", "delta")
    val bWords = Seq("one", "two", "three", "four")
    def doc(words: Seq[String], seed: Int): String =
      (0 until 30).map(i => words((i * 7 + seed) % words.length)).mkString(" ")
    val raw = ((0L until 40L).map(i => (i, doc(aWords, i.toInt))) ++
      (40L until 80L).map(i => (i, doc(bWords, i.toInt)))).toDF("id", "text")
    val target = (1000L until 1010L).map(i => (i, doc(aWords, i.toInt)))
      .toDF("id", "text")

    val top = Sampling.dsirResample(raw, "id", "text", target, "id", "text", k = 20)
    val ids = top.select("id").collect().map(_.getLong(0)).toSet
    // importance weights must pull the selection almost entirely from the
    // vocab-A half (log-ratio of a B-doc is strongly negative)
    ids.count(_ < 40L) should be >= 18
    // ranks are 1..k, keys strictly ordered best-first
    val keys = top.orderBy(col("rank")).select("gumbel_key")
      .collect().map(_.getDouble(0))
    keys.sliding(2).foreach(w => w(0) should be >= w(1))
    // deterministic end to end
    val again = Sampling.dsirResample(raw, "id", "text", target, "id", "text", k = 20)
    again.collect().toSeq shouldBe top.collect().toSeq
    // scoring + selection is ONE scan: no join anywhere, the only exchange
    // feeds the single bounded-heap aggregate
    val tree = top.queryExecution.executedPlan.toString
    tree should not include "Join"
    "Exchange".r.findAllIn(tree).size should be <= 2
    // capped sample is the rows with the smallest id-hashes (straight-line
    // replication of the TakeOrdered semantics)
    val got3 = Sampling.sampleTexts(raw, "id", "text", 3, 0L)
    val expect3 = raw.collect().map(r => (r.getLong(0), r.getString(1)))
      .sortBy { case (id, _) =>
        org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(0L,
          org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(id, 42L))
      }.take(3).map(_._2).toSeq
    got3 shouldBe expect3
  }

  test("quantileBuckets: CCNet tercile labels, null scores null bucket, broadcast plan") {
    val df = Seq(
      ("g1", 1L, Some(1.0)), ("g1", 2L, Some(2.0)), ("g1", 3L, Some(3.0)),
      ("g1", 4L, Some(4.0)), ("g1", 5L, Some(5.0)), ("g1", 6L, Some(6.0)),
      ("g1", 7L, Some(7.0)), ("g1", 8L, None),
      ("g2", 9L, Some(10.0))
    ).toDF("g", "id", "score")
    val got = Sampling.quantileBuckets(df, "g", "score",
      Seq(1.0 / 3, 2.0 / 3), Seq("head", "middle", "tail"))
    // 7 values 1..7: terciles at 3.0 and 5.0 (R-7: rank = q*(n-1) lands
    // exactly on the 3rd/5th value) -> head {1,2,3}, middle {4,5}, tail {6,7}
    val byId = got.collect().map(r => r.getLong(1) ->
      Option(r.getString(3)).orNull).toMap
    Seq(1L, 2L, 3L).foreach(byId(_) shouldBe "head")
    Seq(4L, 5L).foreach(byId(_) shouldBe "middle")
    Seq(6L, 7L).foreach(byId(_) shouldBe "tail")
    byId(8L) shouldBe null      // null score -> null bucket
    byId(9L) shouldBe "head"    // single-row group: its value is every quantile
    // bad shapes rejected up front
    an[IllegalArgumentException] should be thrownBy
      Sampling.quantileBuckets(df, "g", "score", Seq(0.5), Seq("a"))
    an[IllegalArgumentException] should be thrownBy
      Sampling.quantileBuckets(df, "g", "score", Seq(0.7, 0.3), Seq("a", "b", "c"))
    // threshold side broadcasts — the corpus never shuffles
    got.queryExecution.executedPlan.toString should include("BroadcastHashJoin")
  }

  test("topKPerGroup equals window-rank reference; null scores excluded") {
    val df = Seq(
      ("g1", 1L, Some(0.9)), ("g1", 2L, Some(0.9)), ("g1", 3L, Some(0.5)),
      ("g1", 4L, None), ("g2", 5L, Some(0.1)), ("g2", 6L, Some(0.8))
    ).toDF("g", "id", "score")
    val got = Sampling.topKPerGroup(df, "g", "id", "score", 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    // ties break by id asc (1 before 2); null (id 4) never ranks
    got shouldBe Set(("g1", 1L, 1), ("g1", 2L, 2), ("g2", 6L, 1), ("g2", 5L, 2))
    // corpus-scale cross-check vs the window form on real data
    import org.apache.spark.sql.expressions.Window
    val scored = docs.select(col("doc_id"), col("lang"),
      TextAnalysis.qualityScore(col("text")).as("score"))
    val win = scored.filter(col("score").isNotNull)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("lang")).orderBy(col("score").desc, col("doc_id"))))
      .filter(col("rank") <= 7)
      .select(col("lang"), col("doc_id"), col("rank"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    Sampling.topKPerGroup(scored, "lang", "doc_id", "score", 7)
      .select(col("lang"), col("doc_id"), col("rank"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
      .toSet shouldBe win
  }

  test("repetition stats match hand-computed Gopher signals, incl. edge cases") {
    val df = Seq(
      (1L, "a b a b a"),        // top a: 3/5; 3-grams aba bab aba -> 1 - 2/3
      (2L, "x"),                // single token: share 1.0, no 3-grams
      (3L, ""),                 // empty: 0 tokens, both shares null
      (4L, "  spaced \t out "), // whitespace runs collapse: 2 tokens
      (5L, "w w w w w")         // all same: share 1.0, 3-grams all dup: 2/3
    ).toDF("id", "t")
    val out = df.select(col("id"),
        TextAnalysis.repetitionStats(col("t")).as("r"))
      .orderBy(col("id"))
      .select(col("r.n_tokens"), col("r.top_word_share"), col("r.dup_3gram_frac"))
      .collect()
    out(0).getInt(0) shouldBe 5
    out(0).getDouble(1) shouldBe 0.6 +- 1e-12
    out(0).getDouble(2) shouldBe (1.0 - 2.0 / 3.0) +- 1e-12
    out(1).getInt(0) shouldBe 1
    out(1).getDouble(1) shouldBe 1.0
    out(1).isNullAt(2) shouldBe true
    out(2).getInt(0) shouldBe 0
    out(2).isNullAt(1) shouldBe true
    out(2).isNullAt(2) shouldBe true
    out(3).getInt(0) shouldBe 2
    out(3).getDouble(1) shouldBe 0.5
    out(4).getDouble(1) shouldBe 1.0
    out(4).getDouble(2) shouldBe (2.0 / 3.0) +- 1e-12
    // registered in SQL too (both registries — parity spec covers the set)
    graft.functions.GraftFunctions.register(spark)
    spark.sql("SELECT repetition_stats('a a a').top_word_share AS s")
      .head().getDouble(0) shouldBe 1.0
  }

  test("semantic dedup equals the local brute-force reference") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val rows = emb.select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).sortBy(_._1)
    val cents = rows.take(4).map(_._2)
    val tau = 0.35
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.indices.map(i => a(i) * b(i)).sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    // reference: argmax-cosine assignment (first wins ties), then count
    // smaller-id within-cluster neighbors at cosine >= tau
    val assign = rows.map { case (id, v) =>
      id -> cents.zipWithIndex.maxBy { case (c, i) => (cos(v, c), -i) }._2
    }.toMap
    val byId = rows.toMap
    val expected = rows.map { case (id, v) =>
      val nd = rows.count { case (o, _) =>
        o < id && assign(o) == assign(id) && cos(v, byId(o)) >= tau
      }
      (id, assign(id), nd.toLong, nd == 0)
    }.toSet
    val got = Similarity.semanticDedup(emb, "vec_id", "embedding", tau,
        trainedCentroids = Some(cents))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getBoolean(3)))
      .toSet
    got shouldBe expected
    // production path: k-means centroids — every doc gets exactly one verdict
    val km = Similarity.semanticDedup(emb, "vec_id", "embedding", tau, nClusters = 8)
    km.count() shouldBe rows.length
    km.select(countDistinct(col("id"))).head().getLong(0) shouldBe rows.length
  }

  test("semantic decontamination: exact max-cosine semantics, map-only plan") {
    // corpus: two near-copies of bench vectors, one orthogonal doc
    val bench = Seq(
      (0L, Seq(1.0, 0.0, 0.0)), (1L, Seq(0.0, 1.0, 0.0)))
      .toDF("vec_id", "embedding")
    val corpus = Seq(
      (10L, Seq(0.99, 0.14, 0.0)),  // cos vs b0 ≈ 0.990 -> contaminated
      (11L, Seq(0.0, 0.0, 1.0)),    // orthogonal -> clean
      (12L, Seq(0.0, 2.0, 0.0)))    // scaled copy of b1 -> cos 1.0
      .toDF("vec_id", "embedding")
    val out = Similarity.decontaminateSemantic(corpus, bench,
      "vec_id", "embedding", tau = 0.95)
    val got = out.collect().map(r =>
      r.getLong(0) -> (r.getDouble(1), r.getBoolean(2))).toMap
    got(10L)._2 shouldBe true
    got(11L) shouldBe ((0.0, false))
    got(12L) shouldBe ((1.0, true))
    got(10L)._1 shouldBe (0.99 / math.sqrt(0.99 * 0.99 + 0.14 * 0.14)) +- 1e-6
    // the corpus pass is a single map-only projection: no joins, no
    // exchanges — the benchmark rides inside the compiled expression
    val plan = out.queryExecution.executedPlan.toString
    (plan should not).include("Exchange")
    (plan should not).include("Join")
    // null elements score null, not a bogus max
    val withNull = Seq((13L, Seq[java.lang.Double](1.0, null, 0.0)))
      .toDF("vec_id", "embedding")
    Similarity.decontaminateSemantic(withNull, bench,
      "vec_id", "embedding", tau = 0.95)
      .collect().head.isNullAt(1) shouldBe true
    // dimension mismatch (different encoder) fails LOUDLY — a truncated
    // dot would silently deflate max_cos and admit contaminated docs
    val wrongDims = Seq((14L, Seq(1.0, 0.0))).toDF("vec_id", "embedding")
    val err = intercept[Exception] {
      Similarity.decontaminateSemantic(wrongDims, bench,
        "vec_id", "embedding", tau = 0.95).collect()
    }
    val chain = Iterator.iterate[Throwable](err)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    chain should include("dims")
  }

  test("contamination keeps every corpus doc, incl. null text (zero totals)") {
    val corpus = Seq((1L, Some("a b c d e f g")), (2L, None),
      (3L, Some("z y x w v u t"))).toDF("doc_id", "text")
    val bench = Seq(Tuple1("a b c d e f g")).toDF("text")
    val out = TextAnalysis.contamination(corpus, "doc_id", "text", bench, "text", n = 5)
      .orderBy("id").collect()
    out.map(_.getLong(0)) shouldBe Array(1L, 2L, 3L)
    out(0).getLong(1) shouldBe 3L // all 3 of doc 1's 5-grams are benchmark grams
    out(0).getDouble(3) shouldBe 1.0
    out(1).getLong(2) shouldBe 0L // null text: present, zero totals
    out(1).isNullAt(3) shouldBe true
    out(2).getLong(1) shouldBe 0L
  }

  test("license heuristic: SPDX tag wins, then phrase precedence, else unknown") {
    val cases = Seq(
      ("// SPDX-License-Identifier: MIT\nGNU General Public License text", "mit"),
      ("/* SPDX-License-Identifier: GPL-3.0+ */", "gpl-3.0+"),
      ("Licensed under the Apache License, Version 2.0 (the \"License\")", "apache-2.0"),
      ("Permission is hereby granted, free of charge, to any person", "mit"),
      ("under the terms of the GNU General Public License as published", "gpl"),
      ("Redistribution and use in source and binary forms, with or without", "bsd"),
      // apache phrase beats later phrases when both appear
      ("Apache License, Version 2.0 ... GNU General Public License", "apache-2.0"),
      ("def foo(): Int = 1", "unknown"))
    val got = cases.map(_._1).toDF("content")
      .select(TextAnalysis.licenseHeuristic(col("content")).as("l"))
      .collect().map(_.getString(0))
    got.toSeq shouldBe cases.map(_._2)
  }

  test("path filters: vendored SEGMENT semantics and minified-name suffix") {
    val cases = Seq(
      ("vendor/a.js", true, false), // leading segment
      ("src/vendor/a.js", true, false), // nested segment
      ("src/node_modules/p/a.js", true, false),
      ("src/vendorx/a.js", false, false), // near-miss segment name
      ("src/vendor", false, false), // file NAMED vendor: no trailing slash
      ("avendor/a.js", false, false), // substring, not a segment
      ("lib/app.min.js", false, true),
      ("lib/app.min.css", false, true),
      ("lib/app.min.cssx", false, false), // near-miss extension
      ("lib/appmin.js", false, false))
    val got = cases.map(_._1).toDF("path")
      .select(col("path"), TextAnalysis.vendoredPath(col("path")).as("v"),
        TextAnalysis.minifiedName(col("path")).as("m"))
      .collect().map(r => (r.getString(0), r.getBoolean(1), r.getBoolean(2)))
    got.toSeq shouldBe cases
  }

  test("repoLicense: most-permissive member file wins; unknown-only repos stay unknown") {
    val rows = Seq(
      // mixed repo: mit beats gpl in the precedence
      ("perm", 1L, "under the terms of the GNU General Public License"),
      ("perm", 2L, "Permission is hereby granted, free of charge to use"),
      ("gplonly", 3L, "under the terms of the GNU General Public License"),
      ("dark", 4L, "just some code with no license text"),
      // SPDX tag resolves case-insensitively to a precedence label
      ("optout", 5L, "// SPDX-License-Identifier: Apache-2.0\ncode"),
      // unlisted SPDX tag (gpl-3.0 is not a precedence label) -> unknown
      ("odd", 6L, "// SPDX-License-Identifier: GPL-3.0\ncode"))
      .toDF("repo", "id", "content")
    val lic = TextAnalysis.repoLicense(rows, "repo", "content")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    lic shouldBe Map("perm" -> "mit", "gplonly" -> "gpl",
      "dark" -> "unknown", "optout" -> "apache-2.0", "odd" -> "unknown")
  }

  test("repoLicense restrictive mode: any GPL-headed file resolves the repo to gpl") {
    val rows = Seq(
      ("perm", 1L, "under the terms of the GNU General Public License"),
      ("perm", 2L, "Permission is hereby granted, free of charge to use"),
      // identified + unidentified member files: unknowns never decide
      ("mitplus", 3L, "Permission is hereby granted, free of charge to use"),
      ("mitplus", 4L, "no license text"),
      ("dark", 5L, "just some code with no license text"))
      .toDF("repo", "id", "content")
    val lic = TextAnalysis.repoLicense(rows, "repo", "content",
      restrictive = true)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    lic shouldBe Map("perm" -> "gpl", "mitplus" -> "mit", "dark" -> "unknown")
    // the compliance-gate direction: perm's MIT file no longer admits the
    // repo under a permissive-only governance filter
    val kept = TextAnalysis.governanceFilter(rows, "repo", "content",
      Set("apache-2.0", "mit"), Seq.empty[String].toDF("repo"),
      restrictive = true)
    kept.select("id").collect().map(_.getLong(0)).sorted shouldBe Array(3L, 4L)
  }

  test("governanceFilter: allowed-license repos minus opt-outs, all member files, broadcast semi") {
    val rows = Seq(
      ("perm", 1L, "under the terms of the GNU General Public License"),
      ("perm", 2L, "Permission is hereby granted, free of charge to use"),
      ("gplonly", 3L, "under the terms of the GNU General Public License"),
      ("dark", 4L, "no license text"),
      ("optout", 5L, "// SPDX-License-Identifier: Apache-2.0\ncode"))
      .toDF("repo", "id", "content")
    val optOut = Seq("optout").toDF("repo")
    val kept = TextAnalysis.governanceFilter(rows, "repo", "content",
      Set("apache-2.0", "mit"), optOut)
    // repo-level admit keeps ALL member files — including perm's
    // gpl-phrased file (the repo's resolved license is mit)
    kept.select("id").collect().map(_.getLong(0)).sorted shouldBe Array(1L, 2L)
    // the corpus side is a broadcast left-semi join — no corpus shuffle
    val plan = kept.queryExecution.executedPlan.toString
    plan should include("BroadcastHashJoin")
    plan should include("LeftSemi")
  }

  test("toxicity mask: case-insensitive, suffix-inflected, clean rows byte-identical") {
    val cases = Seq(
      ("this damn code", 1, "this <TOX> code"),
      ("DAMN and Damned twice", 2, "<TOX> and <TOX> twice"),          // case + suffix
      ("FUCKING legacy", 1, "<TOX> legacy"),                          // upper + suffix
      ("craps out", 1, "<TOX> out"),
      ("scrap metal", 0, "scrap metal"),                              // \b: no mid-word hit
      ("clean text stays put", 0, "clean text stays put"),
      ("", 0, ""))
    val got = cases.map(_._1).toDF("content")
      .select(TextAnalysis.toxicityHits(col("content")).as("n"),
        TextAnalysis.toxicityMask(col("content")).as("m"))
      .collect().map(r => (r.getInt(0), r.getString(1)))
    got.toSeq shouldBe cases.map(c => (c._2, c._3))
  }

  test("token counting and fingerprint invariants") {
    val df = Seq((1L, "Hello  world foo"), (2L, "hello world foo"), (3L, ""))
      .toDF("doc_id", "text")
    val toks = df.select(TextAnalysis.tokenCount(col("text"))).as[Int].collect()
    toks shouldBe Array(3, 3, 0)
    val fps = df.select(TextAnalysis.fingerprint(col("text"))).as[Long].collect()
    fps(0) shouldBe fps(1) // case + whitespace normalized
  }

  test("langid heuristic classifies obvious sentences") {
    val df = Seq(
      "the cat and the dog of the house is big",
      "el perro de la casa que los gatos",
      "der hund und die katze das ist gut",
      "le chat et les chiens des maisons",
      "你好世界这是中文").toDF("text")
    val preds = df.select(TextAnalysis.langIdHeuristic(col("text"))).as[String].collect()
    preds shouldBe Array("en", "es", "de", "fr", "zh")
  }

  test("multimodal feature extraction: deterministic, partition-invariant") {
    val m = Multimodal.syntheticMedia(spark, 100L)
    val f1 = Multimodal.extractFeatures(m).collect().sortBy(_.media_id)
    val f2 = Multimodal.extractFeatures(m.repartition(7)).collect().sortBy(_.media_id)
    f1.map(_.feature.toSeq) shouldBe f2.map(_.feature.toSeq)
    f1.foreach(_.feature.length shouldBe Multimodal.FeatureDim)
    f1.map(_.kind).toSet shouldBe Set("image", "audio", "video")
    // decoded dims/rate come from the PAYLOAD and must equal the generator's
    val rows = m.collect().sortBy(_.media_id)
    f1.zip(rows).foreach { case (f, r) =>
      f.kind match {
        case "image" => (f.width, f.height) shouldBe ((r.width, r.height))
        case "audio" => f.sample_rate shouldBe r.sample_rate
        case "video" => (f.width, f.height) shouldBe ((r.width, r.height))
      }
    }
  }

  test("BMP/WAV codecs: encode-decode round trips, resize, sine RMS") {
    // BMP round trip, including rows needing padding (width % 4 != 0)
    val img = Multimodal.encodeBmp(7, 5, (x, y) => (x * 37 << 16) | (y * 51 << 8) | 128)
    val dec = Multimodal.decodeBmp(img)
    (dec.width, dec.height) shouldBe ((7, 5))
    dec.pixel(3, 2) shouldBe ((3 * 37 << 16) | (2 * 51 << 8) | 128)
    // nearest-neighbor resize re-encodes real bytes
    val resized = Multimodal.decodeBmp(Multimodal.resizeBmp(img, 14, 10))
    (resized.width, resized.height) shouldBe ((14, 10))
    resized.pixel(6, 4) shouldBe dec.pixel(3, 2)
    // WAV round trip + RMS of a full-scale sine = 1/sqrt(2)
    val rate = 16000
    val sine = Array.tabulate(rate)(t =>
      (math.sin(2 * math.Pi * 440 * t / rate) * 32767).toShort)
    val wav = Multimodal.decodeWav(Multimodal.encodeWav(rate, sine))
    wav.sampleRate shouldBe rate
    wav.samples.toSeq shouldBe sine.toSeq
    Multimodal.audioFeatures(wav)(0).toDouble shouldBe (1.0 / math.sqrt(2)) +- 0.01
    // video container: frame sampling picks every 2nd frame
    val frames = (0 until 6).map(i => Multimodal.encodeBmp(4, 4, (_, _) => i))
    val sampled = Multimodal.sampleFrames(Multimodal.encodeVideo(frames), 2)
    sampled.size shouldBe 3
    Multimodal.decodeBmp(sampled(1)).pixel(0, 0) shouldBe 2
  }
}
