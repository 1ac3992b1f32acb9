package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.api.bottom_k_distinct
import graft.functions.VectorTextExprs

/** REPO-level near-duplicate detection — forks and mirrors.
  *
  * A code corpus at 10^12 files is dominated by forks: repositories whose
  * FILE SETS overlap almost completely (public corpus builds remove them
  * before file-level dedup — cf. The Stack, arXiv:2211.15533 §3: "we
  * deduplicate near-duplicate repositories"). File-level near-dup (Dedup)
  * finds similar FILES; this operator finds similar REPOS, where similarity
  * is Jaccard over the sets of distinct file-content hashes.
  *
  * Shape at scale (the whole point):
  *  - ONE partial-aggregated `groupBy(repo)` builds, per repo, BOTH the
  *    verification sketch (bottom-k distinct content hashes — exact set
  *    below k, Broder sketch above; executor memory bounded by k per group
  *    regardless of mega-repo skew) AND all MinHash lanes
  *    (`min(xxhash64(h, lane))` — plain min aggregates, map-side combined).
  *    Content itself NEVER shuffles; only 8-byte hashes do, map-side
  *    deduplicated by the partial aggregation.
  *  - Candidate generation is the banding join over |repos|·bands tiny
  *    (repo, band-key) rows with the same bucket cap as
  *    [[Dedup.minHashLshPairs]] — never all-pairs over repos.
  *  - Verification joins the candidate pairs (a small set) back to the
  *    |repos|-row profile table and compares hash ARRAYS with a compiled
  *    merge-intersect — exact Jaccard when neither side overflowed k,
  *    the bottom-k estimate (se ~ sqrt(j(1-j)/k)) when one did.
  *
  * Recall: a pair with file-set Jaccard s shares a band with probability
  * 1-(1-s^r)^b. The r=1 default makes banding a pure union of per-lane
  * collisions: miss(s=0.5, b=32) = (1-0.5)^32 ≈ 2.3e-10 — effectively
  * exact for any fork-level threshold, at the cost of more (exactly
  * verified) low-similarity candidates; raise `rowsPerBand` to sharpen
  * candidate selection on corpora with heavy cross-repo boilerplate.
  */
object RepoDedup {

  /** Per-repo profile: `(repo, n_files, hashes, lanes)` from ONE
    * partial-aggregated pass of exactly TWO aggregates — the bottom-k
    * verification sketch and all MinHash lane minima fused into one
    * buffer each ([[graft.functions.MinHashLanesAgg]]; the earlier
    * 32-separate-`min(xxhash64)`-columns form paid 32x the codegen).
    * `hashes` is the sorted bottom-`maxFiles` distinct content-hash set
    * (exact iff `n_files < maxFiles`); `n_files` counts distinct contents
    * exactly below the cap (it is `size(hashes)` — a separate
    * count-distinct would force an Expand). */
  def repoProfiles(files: DataFrame, repoCol: String, contentCol: String,
      lanes: Int = 32, maxFiles: Int = 100000): DataFrame = {
    require(lanes > 0 && lanes <= 256, s"lanes must be in 1..256, got $lanes")
    val h = xxhash64(col(contentCol))
    files.groupBy(col(repoCol).as("repo"))
      .agg(bottom_k_distinct(h, maxFiles).as("hashes"),
        graft.functions.api.min_hash_lanes(h, lanes).as("lanes"))
      .withColumn("n_files", size(col("hashes")).cast("long"))
  }

  /** Candidate repo pairs (repo_a < repo_b) from banding the lane minima:
    * band j's key is a hash of its `rowsPerBand` lanes, bucket-capped at
    * `maxBucket` members (boilerplate-collision backstop — a dropped band
    * costs one of b chances, verification stays exact). */
  def forkCandidates(profiles: DataFrame, lanes: Int, rowsPerBand: Int,
      maxBucket: Int): DataFrame = {
    require(lanes % rowsPerBand == 0,
      s"lanes ($lanes) must be a multiple of rowsPerBand ($rowsPerBand)")
    val b = lanes / rowsPerBand
    val bandKeys = (0 until b).map { j =>
      val laneCols: Seq[Column] = (0 until rowsPerBand)
        .map(o => element_at(col("lanes"), j * rowsPerBand + o + 1))
      xxhash64(lit(j) +: laneCols: _*)
    }
    val ids = col("ids")
    val pairsOfBucket = flatten(transform(ids, (x, i) =>
      transform(slice(ids, i + lit(2), size(ids)), y =>
        struct(least(x, y).as("a"), greatest(x, y).as("b")))))
    profiles
      .select(col("repo"), explode(array(bandKeys: _*)).as("band"))
      .groupBy(col("band"))
      .agg(graft.functions.api.collect_list_limit(col("repo"), maxBucket + 1).as("ids"))
      .filter(size(ids).between(2, maxBucket))
      .select(explode(pairsOfBucket).as("p"))
      .select(col("p.a").as("repo_a"), col("p.b").as("repo_b"))
      .filter(col("repo_a") =!= col("repo_b"))
      .distinct()
  }

  /** Fork-removal ACTION on top of [[forkPairs]]: connected components
    * over the (tiny) repo-pair graph, then every repo EXCEPT the
    * lexicographically-smallest of its cluster is dropped with all its
    * files — the repo-level analogue of the corpus dedup stage's
    * canonical-only rule (QualityFilter.verdictsWithDedup). The flagged
    * set is |forked repos| rows — broadcast into a map-side anti-join, so
    * the corpus itself never shuffles for the removal. */
  def dropForks(files: DataFrame, repoCol: String, contentCol: String,
      tau: Double, lanes: Int = 32, rowsPerBand: Int = 1,
      maxBucket: Int = 200, maxFiles: Int = 100000): DataFrame = {
    val pairs = forkPairs(files, repoCol, contentCol, tau, lanes,
      rowsPerBand, maxBucket, maxFiles)
    val edges = pairs.select(col("repo_a").as("a"), col("repo_b").as("b"))
    // min-label components: the label IS the canonical repo of the cluster
    val labels = Dedup.connectedComponentsAuto(edges)
    val dropped = labels.filter(col("id") =!= col("label"))
      .select(col("id").as(repoCol))
    files.join(broadcast(dropped), Seq(repoCol), "left_anti")
  }

  /** All repo pairs with file-set Jaccard ≥ tau:
    * `(repo_a, repo_b, n_files_a, n_files_b, jaccard, exact)`.
    * `jaccard` is rounded to 6 digits AFTER the ≥ tau filter on the raw
    * value; `exact` is false iff either side overflowed `maxFiles` (then
    * `jaccard` is the bottom-k estimate over the merged sketch). */
  def forkPairs(files: DataFrame, repoCol: String, contentCol: String,
      tau: Double, lanes: Int = 32, rowsPerBand: Int = 1,
      maxBucket: Int = 200, maxFiles: Int = 100000): DataFrame = {
    require(tau > 0 && tau <= 1, s"tau must be in (0,1], got $tau")
    // persisted: profiles feed candidate generation + two verify joins
    val profiles = graft.util.CacheScope.persist(
      repoProfiles(files, repoCol, contentCol, lanes, maxFiles))
    val cand = forkCandidates(profiles, lanes, rowsPerBand, maxBucket)
    val slim = profiles.select(col("repo"), col("n_files"), col("hashes"),
      (col("n_files") >= maxFiles).as("overflow"))
    def side(s: String) = slim.select(
      col("repo").as(s"repo_$s"), col("n_files").as(s"n_files_$s"),
      col("hashes").as(s"h_$s"), col("overflow").as(s"of_$s"))
    val inter = VectorTextExprs.sorted_intersect_count(col("h_a"), col("h_b"))
      .cast("double")
    val exactJ = inter / (col("n_files_a") + col("n_files_b") - inter)
    // bottom-k estimate: survivors of A∩B among the k smallest of A∪B
    val k = least(lit(maxFiles.toLong), greatest(col("n_files_a"), col("n_files_b")))
    val mergedBottomK = slice(array_sort(array_union(col("h_a"), col("h_b"))),
      lit(1), k.cast("int"))
    val estJ = size(array_intersect(mergedBottomK,
      array_intersect(col("h_a"), col("h_b")))).cast("double") / k
    val isExact = !col("of_a") && !col("of_b")
    val j = when(isExact, exactJ).otherwise(estJ)
    val out = cand
      .join(side("a"), "repo_a")
      .join(side("b"), "repo_b")
      .withColumn("jaccard", j)
      .filter(col("jaccard") >= tau)
      .select(col("repo_a"), col("repo_b"),
        col("n_files_a"), col("n_files_b"),
        round(col("jaccard"), 6).as("jaccard"), isExact.as("exact"))
    val materialized = Dedup.materializeNow(out)
    graft.util.CacheScope.release(profiles)
    materialized
  }
}
