package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase.spark

/** SQL registration of the custom expressions through the
  * `GraftExtensions` injector, which every `LocalSession` installs.
  */
class GraftExtensionsSpec extends AnyFunSuite {

  test("registered SQL functions evaluate correctly") {
    val row = spark.sql(
      """SELECT
        |  replace_first('a_x_b_x', '_x', '') AS rf,
        |  vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS dot,
        |  simhash60(array('a', 'b'), 99) AS sh,
        |  minhash_sigs(array('a', 'b'), 3) AS mh,
        |  format_12g(1.0D/3.0D) AS f,
        |  ws_token_count(' a  b c ') AS wt,
        |  ascii_class_count('ab1!', 0) AS alpha,
        |  ascii_class_count('ab1!', 1) AS punct,
        |  size(winnow_fingerprints('abcdefgh')) AS nfp,
        |  word_set_count('The cat saw the dog', 'the', 'dog') AS wsc,
        |  py_title('3g spark') AS title
        |""".stripMargin).head()
    assert(row.getAs[String]("rf") == "a_b_x") // first occurrence only
    assert(row.getAs[Double]("dot") == 11.0)
    // simhash of the same inputs equals the Column-API expression
    import org.apache.spark.sql.functions._
    val viaColumn = spark.range(1)
      .select(graft.functions.SketchExprs.simhash60(array(lit("a"), lit("b")), 99))
      .head().getLong(0)
    assert(row.getAs[Long]("sh") == viaColumn)
    assert(row.getSeq[Long](row.fieldIndex("mh")).length == 3)
    assert(row.getAs[String]("f") == "0.333333333333")
    assert(row.getAs[Int]("wt") == 3)
    assert(row.getAs[Int]("alpha") == 2)
    assert(row.getAs[Int]("punct") == 1)
    assert(row.getAs[Int]("nfp") >= 1)
    assert(row.getAs[Int]("wsc") == 3)
    assert(row.getAs[String]("title") == "3G Spark")
  }

  test("GraftExtensions injects without error (cluster-wide path)") {
    // Sessions with spark.sql.extensions=graft.GraftExtensions get these
    // at build time; here we exercise the injector directly.
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
  }
}
