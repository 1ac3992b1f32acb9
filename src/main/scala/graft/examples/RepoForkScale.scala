package graft.examples

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale probe for repo-level fork detection (RepoDedup): 1.2M files in
  * 10k repos — 200 planted fork pairs (90% file overlap), one 200k-file
  * mega-repo (the skew case BottomKDistinct's bounded buffer exists for) —
  * measured at local[32]. Backs the BASELINE.md numbers.
  *
  * Deterministic: content ids are pure functions of (repo, slot). */
object RepoForkScale {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val nRepos = 10000
    val filesPerRepo = 100
    val nForks = 200
    val megaFiles = 200000L

    val base = spark.range(nRepos.toLong * filesPerRepo).select(
      concat(lit("r"), (col("id") / filesPerRepo).cast("long")).as("repo"),
      concat(lit("c-"), (col("id") / filesPerRepo).cast("long"), lit("-"),
        pmod(col("id"), lit(filesPerRepo.toLong))).as("content"))
    // fork f mirrors repo f, keeping slots 0..89 of 100: a strict subset,
    // so intersection = 90, union = 100 -> jaccard 0.9
    val forks = spark.range(nForks.toLong * filesPerRepo)
      .filter(pmod(col("id"), lit(filesPerRepo.toLong)) < 90)
      .select(
        concat(lit("f"), (col("id") / filesPerRepo).cast("long")).as("repo"),
        concat(lit("c-"), (col("id") / filesPerRepo).cast("long"), lit("-"),
          pmod(col("id"), lit(filesPerRepo.toLong))).as("content"))
    val mega = spark.range(megaFiles).select(
      lit("org/mega").as("repo"),
      concat(lit("m-"), col("id")).as("content"))
    // generation cost out of the measurement: the count fills the cache
    val corpus = graft.util.CacheScope.materialize(
      base.unionByName(forks).unionByName(mega))
    val nFiles = corpus.count()

    val t0 = System.nanoTime()
    val pairs = graft.operators.RepoDedup
      .forkPairs(corpus, "repo", "content", tau = 0.7, maxFiles = 100000)
    val n = pairs.count()
    val dt = (System.nanoTime() - t0) / 1e9
    val exact = pairs.filter(col("exact")).count()
    println(f"REPOFORK files=$nFiles repos=${nRepos + nForks + 1} " +
      f"pairs=$n exact=$exact wall=$dt%.2f s " +
      f"files_per_sec=${nFiles / dt}%.0f")
    // every planted fork found, nothing else; mega-repo overflow handled
    assert(n == nForks, s"expected $nForks fork pairs, got $n")
    println(f"REPOFORK mega_overflow=" +
      (megaFiles > 100000) + " (sketched, bounded buffer)")
    spark.stop()
  }
}
