package graft.functions

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase.spark
import graft.functions.Fns.replaceFirst

/** Golden tests lifted from the reference's parametrized tables
  * (reference tests/test_clinical.py; SURVEY §2.7) — the null/first-
  * occurrence/rounding semantics that differ from Spark defaults.
  */
class FnsSpec extends AnyFunSuite {
  import spark.implicits._

  private def one(c: org.apache.spark.sql.Column): Row =
    spark.range(1).select(c).head()

  test("F1 replace_first removes only the first literal occurrence") {
    // reference tests/test_clinical.py:170-181: repeated suffix keeps later hits
    val df = Seq(
      ("liver_cancer_type", "_cancer_type"),
      ("clinical_response_response", "_response"),
      ("no_suffix_here", "_cancer_type"),
      ("a_b_a_b", "_b")
    ).toDF("v", "suf")
    val got = df.select(replaceFirst($"v", $"suf", lit("")).as("r")).as[String].collect()
    assert(got.toSeq == Seq("liver", "clinical_response", "no_suffix_here", "a_a_b"))
  }

  test("F1 replace_first is literal, not regex") {
    val r = one(replaceFirst(lit("a.c_abc"), lit("a.c"), lit("X"))).getString(0)
    assert(r == "X_abc") // a regex '.' would have matched the later "abc" too
  }

  test("F1 replace_first propagates null input") {
    val r = one(replaceFirst(lit(null).cast(StringType), lit("x"), lit("")))
    assert(r.isNullAt(0))
  }

  test("F1 replace_first: a null find or repl gives null, an empty find changes nothing") {
    val nul = lit(null).cast(StringType)
    assert(one(replaceFirst(lit("abc"), nul, lit("X"))).isNullAt(0))
    assert(one(replaceFirst(lit("abc"), lit("b"), nul)).isNullAt(0))
    assert(one(replaceFirst(lit("abc"), lit("z"), nul)).isNullAt(0)) // even without a hit
    assert(one(replaceFirst(lit("abc"), lit(""), lit("X"))).getString(0) == "abc")
    // positions are characters, not bytes
    assert(one(replaceFirst(lit("é漢é漢"), lit("漢"), lit("-"))).getString(0) == "é-é漢")
  }

  test("F1 stripSuffixesFromStringColumns: per-column suffix + AMADEUS special case") {
    val df = Seq(("liver_cancer_type", "study1_amadeus", 3L))
      .toDF("CANCER_TYPE", "AMADEUS_STUDY", "n")
    val out = Fns.stripSuffixesFromStringColumns(df).head()
    assert(out.getString(0) == "liver")
    assert(out.getString(1) == "study1") // strips "_amadeus", not "_amadeus_study"
    assert(out.getLong(2) == 3L)         // non-string column untouched
  }

  test("F1 stripSuffixesFromStringColumns adds one Project for any number of columns") {
    import org.apache.spark.sql.catalyst.plans.logical.Project
    val df = spark.range(1).select((0 until 30).map(i => lit(s"v_c$i").as(s"c$i")): _*)
    def projects(d: org.apache.spark.sql.DataFrame): Int =
      d.queryExecution.analyzed.collect { case p: Project => p }.size
    val out = Fns.stripSuffixesFromStringColumns(df)
    assert(projects(out) == projects(df) + 1)
    assert(out.head().getString(29) == "v")
  }

  test("F1 strip preserves NA count (reference V17)") {
    val df = Seq(Some("liver_cancer_type"), None, Some("x")).toDF("CANCER_TYPE")
    val before = df.filter($"CANCER_TYPE".isNull).count()
    val after = Fns.stripSuffixesFromStringColumns(df)
      .filter($"CANCER_TYPE".isNull).count()
    assert(before == after)
  }

  test("F2/F3 case normalization: CAPS and Title Case after underscore→space") {
    // reference tests/test_clinical.py:206-214
    val r = one(Fns.capsCase(lit("not_hispanic_or_latino"))).getString(0)
    assert(r == "NOT HISPANIC OR LATINO")
    val t = one(Fns.titleCase(lit("not_hispanic_or_latino"))).getString(0)
    assert(t == "Not Hispanic Or Latino")
  }

  test("F3 exact Python str.title(): word starts after digits/punctuation, not just spaces") {
    import graft.functions.PyTitleCase.pyTitle
    // goldens are CPython outputs; every case here diverges from initcap
    val goldens = Seq(
      "they're ok"  -> "They'Re Ok",   // apostrophe starts a word
      "3g spark"    -> "3G Spark",     // letter after digit
      "2-in-1 usb"  -> "2-In-1 Usb",   // hyphens start words
      "x2y z"       -> "X2Y Z",        // mid-token digit resets
      "o'NEILL 42'kit" -> "O'Neill 42'Kit",
      ""            -> "",
      "  a"         -> "  A")
    goldens.foreach { case (in, want) =>
      val got = one(pyTitle(lit(in))).getString(0)
      assert(got == want, s"title($in)")
    }
    // uncased letters (Lo) do NOT continue a word, unlike Character.isLetter
    assert(one(pyTitle(lit("あb"))).getString(0) == "あB")
    // null propagates (null-intolerant expression)
    val n = Seq(Option.empty[String]).toDF("s")
      .select(pyTitle($"s")).collect().head
    assert(n.isNullAt(0))
    // SQL surface (GraftExtensions)
    assert(spark.sql("SELECT py_title('3g spark')").head.getString(0) == "3G Spark")
  }

  test("F4 remapId: paper id where present, fallback to original") {
    // reference tests/test_clinical.py:229-293
    val df = Seq((Some("paper1"), "orig1"), (None, "orig2"))
      .toDF("study_sample_name", "sample_name")
    val got = df.select(Fns.remapId($"study_sample_name", $"sample_name")).as[String].collect()
    assert(got.toSeq == Seq("paper1", "orig2"))
  }

  test("F5 recode: mapped values recoded, unmapped pass through, null stays null") {
    // reference tests/test_clinical.py:581-613
    val df = Seq(Some(0), Some(1), Some(2), None).toDF("OS_STATUS")
    val got = df.select(
      Fns.recode($"OS_STATUS", Map("0" -> "0:LIVING", "1" -> "1:DECEASED")).as("r"))
      .collect().map(r => if (r.isNullAt(0)) null else r.getString(0))
    assert(got.toSeq == Seq("0:LIVING", "1:DECEASED", "2", null))
  }

  test("F6 daysToMonths matches pandas round(x/30.44, 2) goldens") {
    // reference tests/test_clinical.py:21-43: 231 days → 7.59 months
    val df = Seq(231.0, 706.208, 0.0).toDF("d")
    val got = df.select(Fns.daysToMonths($"d")).as[Double].collect()
    assert(got.toSeq == Seq(7.59, 23.2, 0.0))
  }

  test("P1 rlikeNaFalse: null text counts as non-match (na=False)") {
    // reference tests/test_clinical.py:120-128
    val df = Seq(Some("x-nd-y"), Some("clean"), None).toDF("SAMPLE_ID")
    val kept = df.filter(!Fns.rlikeNaFalse($"SAMPLE_ID", "-(?:nd|ad|nr)-"))
      .collect().map(r => Option(r.getString(0)))
    assert(kept.toSeq == Seq(Some("clean"), None)) // null row KEPT
  }

  test("P2 neqKeepNulls: null survives !=") {
    val df = Seq(Some("chrM"), Some("chr1"), None).toDF("Chromosome")
    val kept = df.filter(Fns.neqKeepNulls($"Chromosome", lit("chrM")))
      .collect().map(r => Option(r.getString(0)))
    assert(kept.toSeq == Seq(Some("chr1"), None))
  }

  test("F8 sanitizeCancerType") {
    // reference clinical.py:699-705
    val raw = Seq(Some("Head and Neck"), Some("a,b/c"), Some(""), Some("NA"), None)
    val out = raw.toDF("t").select(Fns.sanitizeCancerType($"t")).collect().map(_.getString(0))
    assert(out.toSeq == Seq("Head_and_Neck", "ab_c", "no_oncotree_code", "no_oncotree_code",
      "no_oncotree_code"))
  }

  test("SQL registration: replace_first and format_12g usable from spark.sql") {
    val r = spark.sql("SELECT replace_first('a_b_b', '_b', '') AS x, format_12g(0.1d) AS y").head()
    assert(r.getString(0) == "a_b")
    assert(r.getString(1) == "0.1")
  }
}
