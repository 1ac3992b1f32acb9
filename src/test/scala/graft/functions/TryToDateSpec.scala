package graft.functions

import java.time.{LocalDate, ZoneId}

import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry, ResolveTimeZone}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, Expression, Literal, RuntimeReplaceable, UnsafeProjection}
import org.apache.spark.sql.types.{DateType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.TestSpark

/** [[TryToDate]] against the Spark expression it replaces,
  * `cast(try_to_timestamp(s, fmt) AS DATE)`, string by string, in generated
  * code and in interpreted evaluation, failures included. */
class TryToDateSpec extends AnyFunSuite with Matchers {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val modes = Seq(
    "generated" -> Map("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"),
    "interpreted" -> Map("spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))

  private def withConf[T](kv: Map[String, String])(body: => T): T = {
    val before = kv.keys.map(k => k -> spark.conf.getOption(k)).toMap
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** What the optimizer leaves of `e`: every runtime-replaceable node
    * replaced, as `ReplaceExpressions` does. */
  private def lower(e: Expression): Expression = e match {
    case r: RuntimeReplaceable => lower(r.replacement)
    case other => other.mapChildren(lower)
  }

  /** Each string's outcome under `e` over column 0: the date, "null", or
    * the class of what it threw (Spark's parse overflows on long years). */
  private def outcomes(e: Expression, strings: Seq[String]): Seq[String] = {
    val proj = UnsafeProjection.create(Seq(lower(e)))
    strings.map { s =>
      try {
        val r = proj(InternalRow(UTF8String.fromString(s)))
        if (r.isNullAt(0)) "null" else LocalDate.ofEpochDay(r.getInt(0)).toString
      } catch { case t: Throwable => t.getClass.getSimpleName }
    }
  }

  /** `string: kernel vs Spark` for every string whose outcomes differ, in
    * generated and in interpreted evaluation. The Spark side is the
    * registered `try_to_timestamp` cast to date. */
  private def mismatches(strings: Seq[String], fmt: String): Seq[String] =
    modes.flatMap { case (mode, conf) =>
      withConf(conf) {
        strings.zip(outcomes(TryToDate(str0, fmt), strings))
          .zip(outcomes(sparkParse(fmt), strings)).collect {
            case ((str, got), want) if got != want => s"$mode $fmt '$str': $got vs $want"
          }
      }
    }

  private val str0 = BoundReference(0, StringType, nullable = true)

  private def sparkParse(fmt: String): Expression =
    ResolveTimeZone.resolveTimeZones(Cast(FunctionRegistry.builtin
      .lookupFunction(FunctionIdentifier("try_to_timestamp"), Seq(str0, Literal(fmt))), DateType))

  private def grid(years: Seq[Int], render: (Int, Int, Int) => String): Seq[String] =
    for (y <- years; m <- 0 to 99; d <- 0 to 99) yield render(y, m, d)

  private val years = Seq(0, 1, 1582, 1900, 1999, 2000, 2024, 9999)

  test("every month and day slot of eight years, yyyy-MM-dd") {
    mismatches(grid(years, "%04d-%02d-%02d".format(_, _, _)), "yyyy-MM-dd") shouldBe empty
  }

  test("the slash, compact and day-first layouts") {
    val few = Seq(0, 1900, 2000, 2023)
    mismatches(grid(few, "%04d/%02d/%02d".format(_, _, _)), "yyyy/MM/dd") shouldBe empty
    mismatches(grid(few, "%04d%02d%02d".format(_, _, _)), "yyyyMMdd") shouldBe empty
    mismatches(grid(few, (y, m, d) => "%02d.%02d.%04d".format(d, m, y)), "dd.MM.yyyy") shouldBe
      empty
  }

  private val adversarial = Seq(
    null, "", " ", "1995-01-01", "+1995-01-01", "-1995-01-01", "1995-01-01 ",
    " 1995-01-01", "\t1995-01-01", "1995-1-01", "1995-01-1", "995-01-01",
    "01995-01-01", "1995-01-010", "19950101", "1995/01/01", "1995-01-01T00:00:00",
    "1995-01-01 00:00:00", "1995-01-01 00:00:0", "1995-0a-01", "1995--1-01",
    "1995-+1-01", "1995- 1-01", "1995-01- 1", "0000-01-01", "0001-01-01",
    "9999-12-31", "1582-10-10", "1995-02-29", "1996-02-29", "1900-02-29",
    "2000-02-29", "1995-13-45", "1995-00-10", "1995-04-31",
    "１９９５-01-01", "199５-01-01",
    "١٩٩٥-٠١-٠١", "1995‐01‐01",
    "1995-01-0١", "1995-01-01\u0000", "abcdefghij", "1995_01_01",
    "é995-01-01", "19950-1-01", "1995-1-1", "20240229", "20230229", "00000101",
    "99991231", "+9950101", "1995011", "199501010", "1995/1/01", "01.01.1995")

  test("adversarial strings on every fast layout") {
    for (fmt <- Seq("yyyy-MM-dd", "yyyy/MM/dd", "yyyyMMdd", "dd.MM.yyyy"))
      mismatches(adversarial, fmt) shouldBe empty
  }

  test("random strings over digits and separators") {
    val rnd = new scala.util.Random(20261020L)
    val alphabet = "0123456789012345678901234567890123456789-/ +."
    val strings = Seq.fill(20000) {
      val n = 7 + rnd.nextInt(6)
      Seq.fill(n)(alphabet(rnd.nextInt(alphabet.length))).mkString
    }
    for (fmt <- Seq("yyyy-MM-dd", "yyyyMMdd")) mismatches(strings, fmt) shouldBe empty
  }

  test("other patterns and a LEGACY session get the plain Spark parse") {
    def kernelIn(fmt: String): Boolean =
      Seq("1995-01-01").toDF("s").repartition(2).select(TryToDate($"s", fmt))
        .queryExecution.executedPlan.toString.contains("date_kernel")
    kernelIn("yyyy-MM-dd") shouldBe true
    for (fmt <- Seq("yyyy-MM-dd HH:mm:ss", "yyyy-MM-dd'T'", "yy-MM-dd", "yyyy-M-d",
        "yyyy-MM-dd-dd", "yyyy1MM1dd", "yyyy-MMM-dd", "[yyyy-MM-dd]")) {
      DateLayout.fits(fmt) shouldBe false
      kernelIn(fmt) shouldBe false
      mismatches(adversarial, fmt) shouldBe empty
    }
    withConf(Map("spark.sql.legacy.timeParserPolicy" -> "LEGACY")) {
      kernelIn("yyyy-MM-dd") shouldBe false
      mismatches(adversarial, "yyyy-MM-dd") shouldBe empty
    }
  }

  test("a day the session time zone skips is left to the Spark parse") {
    val apia = ZoneId.of("Pacific/Apia")
    DateLayout.skippedDays(apia) should contain(LocalDate.of(2011, 12, 30).toEpochDay.toInt)
    DateLayout.skippedDays(ZoneId.of("UTC")) shouldBe empty
    withConf(Map("spark.sql.session.timeZone" -> "Pacific/Apia")) {
      outcomes(sparkParse("yyyy-MM-dd"), Seq("2011-12-30")) shouldBe Seq("2011-12-31")
      mismatches(Seq("2011-12-29", "2011-12-30", "2011-12-31", "2012-01-01"),
        "yyyy-MM-dd") shouldBe empty
    }
  }

  test("the arithmetic epoch day is LocalDate's") {
    for (y <- Seq(1, 4, 100, 400, 1582, 1900, 1969, 1970, 2000, 2024, 9999);
         m <- 1 to 12; d <- Seq(1, 15, 28)) {
      DateLayout.epochDay(y, m, d) shouldBe LocalDate.of(y, m, d).toEpochDay
    }
  }
}
