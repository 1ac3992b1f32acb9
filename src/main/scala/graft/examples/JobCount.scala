package graft.examples

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

import graft.corpus.{CorpusGen, CorpusSpec}
import graft.pipeline.{FilterConfig, QualityFilter}

/** Micro-job count of the corpus-dedup stage — each Spark job is a full
  * scheduler barrier, pure fixed latency at small corpus sizes (BASELINE.md
  * "dedup stage" sections). Round 3 measured ~12 sequential micro-jobs;
  * round 4 folded the band-bucket-cap count + candidate join into one
  * capped collect (2 fewer exchanges) and made pair materialization return
  * its own count (1 fewer job), with identical output (oracled).
  *
  * Usage: runMain graft.examples.JobCount [nFiles]
  */
object JobCount {
  def main(args: Array[String]): Unit = {
    val nFiles = args.headOption.map(_.toLong).getOrElse(2000L)
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // input materialized OUTSIDE the counted window
    val corpus = graft.util.CacheScope.materialize(
      CorpusGen.corpus(spark, CorpusSpec(nFiles = nFiles)).toDF)
    corpus.count()
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(jobStart: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    val n = QualityFilter.verdictsWithDedup(corpus, FilterConfig()).count()
    val sec = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.removeSparkListener(listener)
    println(f"[jobcount] files=$nFiles rows=$n jobs=${jobs.get} wall=$sec%.2f s")
    spark.stop()
  }
}
