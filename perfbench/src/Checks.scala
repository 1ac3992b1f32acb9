package graftbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import scala.collection.mutable
import scala.collection.parallel.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.corpus.{CorpusGen, CorpusSpec, FileKind, FileRow, ReferenceOracle}
import graft.pipeline.FilterConfig

/** Correctness checks on what a pass wrote, each against a computation made
  * apart from the program or against a property the method must have. The
  * written tables are read back once and judged in plain Scala. */
object Checks {

  final case class Outcome(name: String, failures: Seq[String]) {
    def ok: Boolean = failures.isEmpty
  }

  private def sha256Hex(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString

  private val plantedPii = Seq(
    "email" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.example\\.com".r,
    "aws_key" -> "AKIA[A-Z2-7]{16}".r,
    "jwt" -> "eyJhbGciOiJIUzI1NiJ9\\.".r)

  private def keyOf(repo: String, path: String) = s"$repo|$path"

  /** Every check of a quality-filter store: per-file verdicts, lineage,
    * generator ground truth and near-dup clusters. */
  def corpusStore(spark: SparkSession, inputDir: String, storeDir: String,
      spec: CorpusSpec, cfg: FilterConfig, sampleEvery: Int, keptSample: Int): Seq[Outcome] = {
    import spark.implicits._
    val input = spark.read.parquet(inputDir).as[FileRow].collect()
    val verdicts = spark.read.parquet(s"$storeDir/verdicts")
      .select("repo", "path", "keep", "drop_reasons", "scrubbed_content", "content_sha256")
      .as[VerdictRow].collect()
    val lin = spark.read.parquet(s"$storeDir/lineage").agg(sum("rows_in"), sum("rows_kept")).head()
    val rowsIn = if (lin.isNullAt(0)) -1L else lin.getLong(0)
    val rowsKept = if (lin.isNullAt(1)) -1L else lin.getLong(1)
    val n = spec.nFiles
    val byKey = verdicts.groupBy(v => keyOf(v.repo, v.path))
    val out = Seq.newBuilder[Outcome]

    // 1. exactly one verdict row per input (repo, path)
    val missing = input.count(r => !byKey.contains(keyOf(r.repo, r.path)))
    val repeated = byKey.count(_._2.length > 1)
    out += Outcome("one_row_per_input", Seq(
      Option.when(input.length != n)(s"input holds ${input.length} files, want $n"),
      Option.when(verdicts.length != n)(s"verdict rows ${verdicts.length} != input $n"),
      Option.when(repeated != 0)(s"$repeated (repo, path) keys have more than one verdict"),
      Option.when(missing != 0)(s"$missing input files have no verdict")).flatten)

    // 2. lineage totals agree with the input and with the re-read verdicts
    val keptOnDisk = verdicts.count(_.keep)
    out += Outcome("lineage_totals", Seq(
      Option.when(rowsIn != n)(s"lineage rows_in $rowsIn != input $n"),
      Option.when(rowsIn != verdicts.length)(s"lineage rows_in $rowsIn != verdict rows ${verdicts.length}"),
      Option.when(rowsKept != keptOnDisk)(s"lineage rows_kept $rowsKept != keep rows on disk $keptOnDisk"))
      .flatten)

    // 3. seed-chosen sample against the straight-line reference labels and a
    // JDK SHA-256; near_dup is the corpus-level stage, judged further down
    val sample = input.filter(r =>
      math.floorMod(scala.util.hashing.MurmurHash3.stringHash(r.path, spec.seed.toInt), sampleEvery) == 0)
    val sampleFailures = sample.toSeq.par.flatMap { r =>
      val key = keyOf(r.repo, r.path)
      byKey.get(key).map(_.head).toSeq.flatMap { v =>
        val ref = ReferenceOracle.label(r, cfg)
        val nearDup = v.drop_reasons.contains("near_dup")
        val reasons = v.drop_reasons.filterNot(_ == "near_dup")
        Seq(
          Option.when(reasons != ref.dropReasons)(
            s"$key drop_reasons ${reasons.mkString(",")} != reference ${ref.dropReasons.mkString(",")}"),
          Option.when(v.keep != (ref.keep && !nearDup))(s"$key keep ${v.keep} != reference ${ref.keep}"),
          Option.when(v.keep && Option(v.scrubbed_content) != ref.scrubbed)(s"$key scrubbed_content differs"),
          Option.when(!v.keep && v.scrubbed_content != null)(s"$key dropped but has scrubbed_content"),
          Option.when(v.content_sha256 != sha256Hex(r.content))(s"$key content_sha256 differs")).flatten
      }
    }.seq
    out += Outcome("reference_sample", sampleFailures ++
      Option.when(sample.length < math.min(2000L, n / sampleEvery / 2))(s"sample too small: ${sample.length} rows"))

    // 4-5. generator ground truth: Autogen/Binary dropped, kept Pii scrubbed
    val kinds = (0L until n).par.map { i =>
      val row = CorpusGen.fileAt(spec, i)
      (keyOf(row.repo, row.path), CorpusGen.kindAt(spec, i))
    }.seq
    val judged = kinds.flatMap { case (k, kind) => byKey.get(k).map(vs => (k, kind, vs.head)) }
    val mustDrop = judged.collect {
      case (k, kind, v) if (kind == FileKind.Autogen || kind == FileKind.Binary) && v.keep =>
        s"$k is $kind but kept"
    }
    val keptPii = judged.collect { case (k, FileKind.Pii, v) if v.keep => (k, v) }
    val leaks = keptPii.flatMap { case (k, v) =>
      plantedPii.collect { case (what, re) if re.findFirstIn(v.scrubbed_content).nonEmpty =>
        s"$k kept with its planted $what" }
    }
    out += Outcome("autogen_binary_dropped", mustDrop ++
      Option.when(!kinds.exists(k => k._2 == FileKind.Autogen || k._2 == FileKind.Binary))(
        "no Autogen/Binary file in the corpus"))
    out += Outcome("pii_scrubbed", leaks ++ Option.when(keptPii.isEmpty)("no kept Pii file to check"))

    out ++= nearDups(input, byKey, cfg.dedupTau, spec.seed, keptSample)
    out.result()
  }

  /** Word-3gram set, the tokenization the dedup threshold is defined on. */
  def shingles(content: String): Set[String] = {
    val words = content.split(" ", -1)
    (0 until math.max(words.length - 2, 1))
      .map(i => words.slice(i, math.min(i + 3, words.length)).mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = if (a.size < b.size) a.count(b) else b.count(a)
    inter.toDouble / (a.size + b.size - inter)
  }

  /** Near-dup properties, recomputed with plain Scala sets over the files
    * the per-file filter kept (kept + near_dup):
    *  - near-dup clusters are the connected components of pairs with
    *    Jaccard >= tau; every cluster holding a near_dup drop holds exactly
    *    one kept file, and it is the cluster's smallest key;
    *  - no file of a seed-chosen sample of kept files reaches tau with any
    *    other kept file.
    * (A near_dup drop need not reach tau with its kept canonical directly:
    * clusters are transitive, so it may hang on a chain of dropped files.) */
  private def nearDups(input: Array[FileRow], byKey: Map[String, Array[VerdictRow]],
      tau: Double, seed: Long, keptSample: Int): Seq[Outcome] = {
    val docs = input.flatMap { r =>
      val k = keyOf(r.repo, r.path)
      byKey.get(k).map(_.head).filter(v => v.keep || v.drop_reasons.contains("near_dup"))
        .map(v => (k, r.content, v.keep))
    }.sortBy(_._1)
    val keys = docs.map(_._1)
    val isKept = docs.map(_._3)
    val sh = docs.toSeq.par.map(d => shingles(d._2)).seq.toIndexedSeq
    val index = mutable.HashMap.empty[String, mutable.ArrayBuffer[Int]]
    docs.indices.foreach(i => sh(i).foreach(g => index.getOrElseUpdate(g, mutable.ArrayBuffer.empty) += i))

    /** files that reach tau with doc `q` (a shared-shingle count below
      * tau * max(|A|, |B|) cannot reach it). */
    def neighbours(q: Int): Seq[(Int, Double)] = {
      val overlap = mutable.HashMap.empty[Int, Int].withDefaultValue(0)
      sh(q).foreach(g => index(g).foreach(j => if (j != q) overlap(j) += 1))
      overlap.iterator.collect {
        case (j, c) if c >= tau * math.max(sh(q).size, sh(j).size) => (j, jaccard(sh(q), sh(j)))
      }.filter(_._2 >= tau).toSeq
    }

    val dropped = docs.indices.filterNot(isKept)
    val seen = mutable.HashSet.empty[Int]
    /** breadth-first walk of the tau-graph from `start`. */
    def clusterOf(start: Int): Seq[Int] = {
      val cluster = mutable.ArrayBuffer(start)
      seen += start
      var k = 0
      while (k < cluster.size) {
        neighbours(cluster(k)).foreach { case (j, _) => if (seen.add(j)) cluster += j }
        k += 1
      }
      cluster.toSeq
    }
    val clusterFailures = dropped.flatMap { start =>
      if (seen(start)) None
      else {
        val cluster = clusterOf(start)
        val keptHere = cluster.filter(isKept)
        val smallest = cluster.minBy(keys(_))
        Option.when(keptHere != Seq(smallest))(s"cluster of ${keys(start)} (${cluster.size} files) keeps " +
          s"${keptHere.map(keys(_)).sorted.mkString("[", ", ", "]")}, want only ${keys(smallest)}")
      }
    }
    val probe = new scala.util.Random(seed).shuffle(docs.indices.filter(isKept).toVector).take(keptSample)
    val keptPairs = probe.par.flatMap(q => neighbours(q).collect { case (j, s) if isKept(j) =>
      f"kept ${keys(q)} and ${keys(j)} have jaccard $s%.3f >= $tau" }).seq
    Seq(
      Outcome("near_dup_clusters_keep_smallest", clusterFailures ++
        Option.when(dropped.isEmpty)("no near_dup drop to check")),
      Outcome("kept_sample_not_near_dup", keptPairs))
  }
}

final case class VerdictRow(repo: String, path: String, keep: Boolean, drop_reasons: Seq[String],
    scrubbed_content: String, content_sha256: String)
