package graftbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.corpus.CorpusGen

/** JVM side of the benchmark. `run.py` builds the program, writes the
  * inputs (the corpus through mode `gen-corpus`) and starts one fresh JVM
  * per run (mode `run`), which writes its figures as JSON to `--out`. Mode
  * `selftest` shows that each correctness check fails on a corrupted output.
  *
  * {{{
  * graftbench.Main run --workload dedup|dq --input DIR --work DIR --size N
  *   --seed S --seconds T --trace 0|1 --out FILE [--dq-conf FILE]
  * }}}
  */
object Main {

  final case class Args(kv: Map[String, String]) {
    def apply(k: String): String = kv.getOrElse(k, sys.error(s"missing --$k"))
    def long(k: String): Long = apply(k).toLong
  }

  def parse(a: Seq[String]): Args =
    Args(a.grouped(2).collect { case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap)

  def main(argv: Array[String]): Unit = {
    val mode = argv.head
    val args = parse(argv.toSeq.tail)
    if (mode == "gen-corpus") return genCorpus(args)
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = session(cores, args("work"))
    try mode match {
      case "run" => run(spark, args)
      case "selftest" => selftest(spark, args)
      case other => sys.error(s"unknown mode $other")
    } finally spark.stop()
  }

  /** local[nproc] with shuffle partitions to match, as `graft.Bench` builds
    * its session otherwise; every temporary path stays inside the work dir. */
  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def deleteTree(path: String): Unit = {
    val f = new File(path)
    if (f.exists()) {
      Files.walk(f.toPath).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
    }
  }

  // ---------------------------------------------------------------- inputs

  /** Writes the `CorpusGen` corpus for (seed, size) as JSON lines; the
    * `run.py` turns it into parquet. No Spark session is started. */
  def genCorpus(a: Args): Unit = {
    val spec = Workloads.corpusSpec(a.long("seed"), a.long("size"))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val out = Files.newBufferedWriter(Paths.get(a("out")))
    try (0L until spec.nFiles).foreach { i =>
      val r = CorpusGen.fileAt(spec, i)
      val m = new java.util.LinkedHashMap[String, String]()
      m.put("repo", r.repo); m.put("path", r.path); m.put("commit", r.commit)
      m.put("lang", r.lang); m.put("content", r.content)
      out.write(mapper.writeValueAsString(m)); out.write('\n')
    } finally out.close()
  }

  // ------------------------------------------------------------------ runs

  def workload(spark: SparkSession, a: Args): Workload = a("workload") match {
    case "dedup" => new DedupWorkload(spark, a("input"), a.long("seed"), a.long("size"))
    case "dq" => new DqWorkload(spark, a("input"), a("dq-conf"), a.long("size"))
  }

  final case class PassStat(wallS: Double, cpuS: Double)

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  def run(spark: SparkSession, a: Args): Unit = {
    val work = a("work")
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val w = workload(spark, a)
    var passNo = 0
    def freshDir(): String = { passNo += 1; s"$work/out/p$passNo" }
    def timed(dir: String): PassStat = {
      val c0 = Probe.processCpuNs
      val t0 = System.nanoTime()
      w.pass(dir)
      PassStat((System.nanoTime() - t0) / 1e9, (Probe.processCpuNs - c0) / 1e9)
    }
    def throwaway(): PassStat = { val d = freshDir(); System.gc(); try timed(d) finally deleteTree(d) }

    // cold pass: ends set-up (JVM start, session, lazy models, cold codegen/JIT)
    val coldDir = freshDir()
    val c0 = System.nanoTime()
    w.coldPass(coldDir)
    val coldS = (System.nanoTime() - c0) / 1e9
    val setupEndMs = System.currentTimeMillis()

    // untimed warm-up: two passes (the first timed pass of a fresh JVM is
    // then within ~15% of later ones; the fastest timed pass is reported)
    val warm = Seq.fill(2)(throwaway())

    // timed passes, tracing off unless --trace 1 (then the Spark listener runs)
    val listener = new PassListener
    if (traced) spark.sparkContext.addSparkListener(listener)
    Probe.installGcWatch()
    val passes = ArrayBuffer.empty[PassStat]
    val counters = ArrayBuffer.empty[PassCounters]
    val driverS = ArrayBuffer.empty[Double]
    val steal0 = Probe.stealSeconds
    val timedT0 = System.nanoTime()
    var lastDir = ""
    while (passes.size < 3 || (System.nanoTime() - timedT0) / 1e9 < seconds) {
      if (lastDir.nonEmpty) deleteTree(lastDir)
      lastDir = freshDir()
      System.gc()
      listener.rotate()
      Probe.armed = true
      val p0 = System.currentTimeMillis()
      val st = timed(lastDir)
      val p1 = System.currentTimeMillis()
      Probe.armed = false
      passes += st
      if (traced) {
        listener.drain()
        val c = listener.rotate()
        counters += c
        val inJobs = Probe.unionNs(c.jobIntervals.map { case (s, e) =>
          (math.max(s, p0), math.min(e, p1)) }.filter { case (s, e) => e > s }.toSeq)
        driverS += math.max(0.0, (p1 - p0 - inJobs) / 1e3)
      }
    }
    val steal = Probe.stealSeconds - steal0
    val peakHeapMb = Probe.peakHeapAfterGcBytes / 1048576.0

    val k0 = System.nanoTime()
    val outcomes = w.check(coldDir, lastDir)
    val checkS = (System.nanoTime() - k0) / 1e9

    val perLayer = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    var tracerJson = "[]"
    if (traced) {
      def med(f: PassCounters => Double) = median(counters.map(f).toSeq)
      perLayer ++= Seq(
        "spark.jobs" -> med(_.jobs.toDouble),
        "spark.stages" -> med(_.stages.toDouble),
        "spark.tasks" -> med(_.tasks.toDouble),
        "spark.executor_cpu_s" -> med(_.executorCpuNs / 1e9),
        "spark.gc_s" -> med(_.gcMs / 1e3),
        "spark.shuffle_write_mb" -> med(_.shuffleWriteBytes / 1048576.0),
        "spark.shuffle_read_mb" -> med(_.shuffleReadBytes / 1048576.0),
        "spark.spill_mb" -> med(_.spillBytes / 1048576.0),
        "spark.peak_exec_mem_mb" -> med(_.peakExecMem / 1048576.0),
        "spark.task_max_over_p50" -> med(_.taskMaxOverP50),
        "spark.task_wait_s" -> med(_.taskWaitMs / 1e3),
        "spark.driver_s" -> median(driverS.toSeq),
        "host.steal_s" -> steal)
      spark.sparkContext.removeSparkListener(listener)
      val tr = new Tracer(runId = s"${a("workload")}-${a("seed")}-${ProcessHandle.current().pid()}")
      val extra = tr.span("bench.traced_pass")(w.traced(tr, () => freshDir()))
      val spanMetrics = Seq(
        "sources.scan_s" -> "sources.scan", "pipeline.score_s" -> "pipeline.score",
        "pipeline.store_write_s" -> "pipeline.store_write", "pipeline.lineage_s" -> "pipeline.lineage",
        "pipeline.run_s" -> "pipeline.run", "pipeline.with_metrics_s" -> "pipeline.with_metrics",
        "operators.lsh_pairs_s" -> "operators.lsh_pairs", "operators.cc_s" -> "operators.cc",
        "pipeline.dedup_run_s" -> "pipeline.dedup_run", "config.parse_s" -> "config.parse",
        "metrics.fused_pass_s" -> "metrics.fused_pass", "metrics.grouping_s" -> "metrics.grouping",
        "storage.save_s" -> "storage.save", "jobs.run_s" -> "jobs.run")
      spanMetrics.foreach { case (k, span) => perLayer(k) = tr.seconds(span) }
      perLayer ++= extra
      tracerJson = tr.toJson
    }

    val json = new StringBuilder
    json ++= "{"
    json ++= s""""workload":${jstr(a("workload"))},"items":${w.items},"""
    json ++= s""""setup_end_ms":$setupEndMs,"cold_s":${num(coldS)},"check_s":${num(checkS)},"""
    json ++= s""""warm_s":${warm.map(p => num(p.wallS)).mkString("[", ",", "]")},"""
    json ++= s""""pass_s":${passes.map(p => num(p.wallS)).mkString("[", ",", "]")},"""
    json ++= s""""cpu_s":${passes.map(p => num(p.cpuS)).mkString("[", ",", "]")},"""
    json ++= s""""peak_heap_mb":${num(peakHeapMb)},"steal_s":${num(steal)},"last_out":${jstr(lastDir)},"""
    json ++= s""""checks":${outcomes.map(o => s"""{"name":${jstr(o.name)},"failures":${o.failures.size},"first":${o.failures.take(5).map(jstr).mkString("[", ",", "]")}}""").mkString("[", ",", "]")},"""
    json ++= s""""per_layer":${perLayer.map { case (k, v) => s"${jstr(k)}:${num(v)}" }.mkString("{", ",", "}")},"""
    json ++= s""""spans":$tracerJson}"""
    Files.writeString(Paths.get(a("out")), json.toString)
  }

  // -------------------------------------------------------------- selftest

  /** Runs one pass, checks the genuine output, then checks corrupted copies
    * of it; writes {case: [names of failed checks]} to `--out`. */
  def selftest(spark: SparkSession, a: Args): Unit = {
    import spark.implicits._
    val work = a("work")
    val w = workload(spark, a)
    val dir = s"$work/selftest/genuine"
    deleteTree(s"$work/selftest")
    w.coldPass(dir)
    val cases = ArrayBuffer.empty[(String, Seq[String])]
    def failed(d: String) = w.check(dir, d).filterNot(_.ok).map(_.name)
    cases += "genuine" -> failed(dir)

    def corrupt(name: String)(f: DataFrame => DataFrame): Unit = {
      val d = s"$work/selftest/$name"
      f(spark.read.parquet(s"$dir/verdicts")).write.parquet(s"$d/verdicts")
      spark.read.parquet(s"$dir/lineage").write.parquet(s"$d/lineage")
      cases += name -> failed(d)
    }
    a("workload") match {
      case "dedup" =>
        val v = spark.read.parquet(s"$dir/verdicts")
        val target = v.filter(col("keep")).select("path").orderBy("path").as[String].head()
        corrupt("flipped_keep")(_.withColumn("keep",
          when(col("path") === target, !col("keep")).otherwise(col("keep"))))
        corrupt("dropped_row")(_.filter(col("path") =!= target))
        val input = spark.read.parquet(a("input"))
        val docs = input.join(v, Seq("repo", "path"))
          .filter(col("keep") || array_contains(col("drop_reasons"), "near_dup"))
          .select(concat_ws("|", col("repo"), col("path")).as("key"), col("content"),
            array_contains(col("drop_reasons"), "near_dup").as("dup"))
          .as[(String, String, Boolean)].collect()
        val sh = docs.map(d => d._1 -> Checks.shingles(d._2)).toMap
        val dup = docs.filter(_._3).map(_._1).min
        val canonical = docs.filter(d => !d._3 &&
          Checks.jaccard(sh(d._1), sh(dup)) >= w.asInstanceOf[DedupWorkload].cfg.dedupTau).map(_._1).min
        val isC = concat_ws("|", col("repo"), col("path")) === canonical
        corrupt("canonical_marked_near_dup")(_
          .withColumn("drop_reasons", when(isC, array_union(col("drop_reasons"), array(lit("near_dup"))))
            .otherwise(col("drop_reasons")))
          .withColumn("scrubbed_content", when(isC, lit(null).cast("string")).otherwise(col("scrubbed_content")))
          .withColumn("keep", when(isC, lit(false)).otherwise(col("keep"))))
      case "dq" => // metric values are corrupted and checked by test_checks.py
    }
    Files.writeString(Paths.get(a("out")), cases.map { case (n, f) =>
      s"${jstr(n)}:${f.map(jstr).mkString("[", ",", "]")}" }.mkString("{", ",", "}"))
  }
}
