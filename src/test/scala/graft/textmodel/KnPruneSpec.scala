package graft.textmodel

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import org.apache.spark.sql.functions.col

import graft.TestSpark
import graft.operators.TextAnalysis

/** Bounded-driver KN training (TextAnalysis.trainKn / trainKnByLang with
  * `minCount` / `maxTypes`): the one driver-memory failure mode the round-4
  * verdict flagged. Pins the contract the scaladoc promises:
  *   - defaults are bit-identical to the unbounded fit at test scale;
  *   - model memory is ∝ kept types (trigramTypes ≤ maxTypes, exactly);
  *   - pruning the singleton tail moves in-domain perplexity ≤ 1%;
  *   - the kept set is a deterministic function of counts, independent of
  *     partitioning. */
class KnPruneSpec extends AnyFunSuite with Matchers {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Corpus with a fat head (common sentences repeated) and a singleton
    * tail (unique junk strings that each contribute trigrams seen once). */
  private val commonDocs: Seq[String] = Seq.tabulate(40) { i =>
    if (i % 2 == 0) "the quick brown fox jumps over the lazy dog"
    else "pack my box with five dozen liquor jugs"
  }
  private val tailDocs: Seq[String] = Seq(
    "zq7#x@!kv", "w%9~qzj^p", "`|zz]qx[k", "q-z=x+z*j", "~!@#$%^&*")
  private val docs = (commonDocs ++ tailDocs).zipWithIndex
    .map { case (t, i) => (i.toLong, t) }

  private def df(parts: Int) =
    spark.sparkContext.parallelize(docs, parts).toDF("doc_id", "text")

  test("defaults reproduce the unbounded fit bit-identically") {
    val full = TextAnalysis.trainKn(df(3), "text",
      minCount = 1L, maxTypes = Int.MaxValue)
    val dflt = TextAnalysis.trainKn(df(3), "text")
    dflt.trigramTypes shouldBe full.trigramTypes
    docs.foreach { case (_, t) =>
      dflt.perplexity(t) shouldBe full.perplexity(t) // exact doubles
    }
  }

  test("maxTypes bounds the model exactly: trigramTypes ≤ maxTypes") {
    val full = TextAnalysis.trainKn(df(3), "text")
    val total = full.trigramTypes
    total should be > 32 // corpus is big enough for the prune to bite
    val k = total / 2
    val pruned = TextAnalysis.trainKn(df(3), "text", maxTypes = k)
    pruned.trigramTypes shouldBe k
    // memory ∝ kept types: the model holds NOTHING beyond the kept table's
    // derived structures — a harder prune shrinks it further
    val harder = TextAnalysis.trainKn(df(3), "text", maxTypes = k / 2)
    harder.trigramTypes shouldBe (k / 2)
  }

  test("minCount singleton prune moves in-domain ppl ≤ 1%") {
    val full = TextAnalysis.trainKn(df(3), "text")
    val pruned = TextAnalysis.trainKn(df(3), "text", minCount = 2L)
    pruned.trigramTypes should be < full.trigramTypes // the tail was real
    commonDocs.distinct.foreach { t =>
      val a = full.perplexity(t); val b = pruned.perplexity(t)
      math.abs(b - a) / a should be <= 0.01
    }
  }

  test("kept set is deterministic: same model at any partitioning") {
    val full = TextAnalysis.trainKn(df(1), "text")
    val k = full.trigramTypes / 2
    val a = TextAnalysis.trainKn(df(1), "text", maxTypes = k)
    val b = TextAnalysis.trainKn(df(7), "text", maxTypes = k)
    a.trigramTypes shouldBe b.trigramTypes
    docs.foreach { case (_, t) =>
      a.perplexity(t) shouldBe b.perplexity(t) // exact doubles
    }
  }

  test("trainKnByLang: per-language bound holds, defaults bit-identical") {
    val langDocs = docs.map { case (id, t) =>
      (id, if (id % 2 == 0) "en" else "xx", t) }
    val ldf = spark.sparkContext.parallelize(langDocs, 3)
      .toDF("doc_id", "lang", "text")
    val full = TextAnalysis.trainKnByLang(ldf, "lang", "text")
    val dflt = TextAnalysis.trainKnByLang(ldf, "lang", "text",
      minCount = 1L, maxTypesPerLang = Int.MaxValue)
    full.keySet shouldBe dflt.keySet
    full.foreach { case (lang, m) =>
      m.trigramTypes shouldBe dflt(lang).trigramTypes
      docs.foreach { case (_, t) =>
        m.perplexity(t) shouldBe dflt(lang).perplexity(t) }
    }
    val cap = full.values.map(_.trigramTypes).min / 2
    cap should be > 0
    val pruned = TextAnalysis.trainKnByLang(ldf, "lang", "text",
      maxTypesPerLang = cap)
    pruned.foreach { case (_, m) => m.trigramTypes should be <= cap }
  }

  test("trainKnByLang: pruned kept set is independent of partitioning") {
    // the bounded-heap top-K (r6 de-skew of the row_number window) merges
    // per-partition heap partials in nondeterministic order — the SELECTED
    // set must still be the deterministic (count desc, key asc) top-K,
    // identical at any parallelism
    val langDocs = docs.map { case (id, t) =>
      (id, if (id % 2 == 0) "en" else "xx", t) }
    def ldf(parts: Int) = spark.sparkContext.parallelize(langDocs, parts)
      .toDF("doc_id", "lang", "text")
    val full = TextAnalysis.trainKnByLang(ldf(1), "lang", "text")
    val cap = full.values.map(_.trigramTypes).min / 2
    cap should be > 0
    val a = TextAnalysis.trainKnByLang(ldf(1), "lang", "text",
      maxTypesPerLang = cap)
    val b = TextAnalysis.trainKnByLang(ldf(7), "lang", "text",
      maxTypesPerLang = cap)
    a.keySet shouldBe b.keySet
    a.foreach { case (lang, m) =>
      m.trigramTypes shouldBe b(lang).trigramTypes
      docs.foreach { case (_, t) =>
        m.perplexity(t) shouldBe b(lang).perplexity(t) // exact doubles
      }
    }
  }

  test("trainKnByLang: a null language survives another language's cap") {
    val rows = docs.map { case (id, t) => (id, "en", t) } :+
      ((999L, null: String, "a null language row"))
    val ldf = spark.sparkContext.parallelize(rows, 3)
      .toDF("doc_id", "lang", "text")
    val full = TextAnalysis.trainKnByLang(ldf, "lang", "text",
      maxTypesPerLang = Int.MaxValue)
    full.keySet shouldBe Set("en", null)
    val cap = full(null).trigramTypes
    full("en").trigramTypes should be > cap
    // "en" over the cap, null at it: the null group takes the unranked leg
    val pruned = TextAnalysis.trainKnByLang(ldf, "lang", "text",
      maxTypesPerLang = cap)
    pruned.keySet shouldBe Set("en", null)
    pruned(null).trigramTypes shouldBe cap
    pruned("en").trigramTypes should be <= cap
    // null over the cap too: it takes the ranked leg
    val tight = TextAnalysis.trainKnByLang(ldf, "lang", "text",
      maxTypesPerLang = cap - 1)
    tight.keySet shouldBe Set("en", null)
    tight(null).trigramTypes should (be > 0 and be <= cap - 1)
    // the oracle mirror agrees at the default cap, null scoring null
    val models = TextAnalysis.trainKnByLang(ldf, "lang", "text")
    val spark6 = ldf.select(col("doc_id"), org.apache.spark.sql.functions.round(
        TextAnalysis.pplWithByLang(col("lang"), col("text"), models), 6))
      .collect().map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Double]))
      .toMap
    graft.corpus.Fixtures.trainKnByLangPpl(rows)
      .map(e => e.doc_id -> e.lang_ppl).toMap shouldBe spark6
    spark6(999L) shouldBe None
  }
}
