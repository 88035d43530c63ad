package graft.functions

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase.spark

/** Z-order interleave invariants: exact round-trip, the cell-extent bound
  * that makes Z-layouts prune on every interleaved dimension, reference
  * agreement between the compiled expression (codegen AND interpreted
  * paths) and a bit-by-bit naive Scala model, and input type checking.
  */
class ZOrderSpec extends AnyFunSuite {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).map(i => g.pureApply(Gen.Parameters.default, Seed(i.toLong)))

  /** Naive bit-by-bit model, independent of the magic-mask spread. */
  private def naive(x: Long, y: Long): Long =
    (0 until 16).foldLeft(0L) { (z, i) =>
      z | (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
    }

  /** Inverse of [[ZOrderUtil.spread16]]: collect bits at even positions. */
  private def compact16(v: Long): Long = {
    var x = v & 0x55555555L
    x = (x | (x >> 1)) & 0x33333333L
    x = (x | (x >> 2)) & 0x0F0F0F0FL
    x = (x | (x >> 4)) & 0x00FF00FFL
    x = (x | (x >> 8)) & 0x0000FFFFL
    x
  }

  /** (x, y) back from a 32-bit Z-value: the round-trip oracle. */
  private def deinterleave16(z: Long): (Long, Long) =
    (compact16(z), compact16(z >> 1))

  private val anyLong: Gen[Long] = Gen.frequency(
    5 -> Gen.chooseNum(0L, 65535L),
    2 -> Gen.chooseNum(Long.MinValue, Long.MaxValue),
    1 -> Gen.oneOf(0L, 1L, 65535L, 65536L, -1L, Long.MaxValue, Long.MinValue))

  test("spread/interleave match the naive bit model and round-trip exactly") {
    samples(Gen.zip(anyLong, anyLong), 500).foreach { case (x, y) =>
      val z = ZOrderUtil.interleave16(x, y)
      assert(z == naive(x & 0xFFFFL, y & 0xFFFFL), s"($x, $y)")
      assert(deinterleave16(z) == ((x & 0xFFFFL, y & 0xFFFFL)), s"z=$z")
      assert((z >> 32) == 0L, "32-bit z-value")
    }
  }

  test("cell extents: every z>>12 cell is a 64x64 rectangle in key space") {
    // The layout claim behind p10_zorder: a Z-cell bounds BOTH dims.
    samples(Gen.zip(Gen.chooseNum(0L, 65535L), Gen.chooseNum(0L, 65535L)), 2000)
      .groupBy { case (x, y) => ZOrderUtil.interleave16(x, y) >> 12 }
      .foreach { case (cell, pts) =>
        val xs = pts.map(_._1); val ys = pts.map(_._2)
        assert(xs.max - xs.min <= 63, s"cell $cell x-extent")
        assert(ys.max - ys.min <= 63, s"cell $cell y-extent")
      }
  }

  test("expression agrees with the model on codegen and interpreted paths") {
    val rows = samples(Gen.zip(Gen.chooseNum(0L, 70000L), Gen.chooseNum(0L, 70000L)), 200)
    // RDD-backed frame: a LocalRelation would be constant-folded by
    // ConvertToLocalRelation (interpreted eval at OPTIMIZE time), so
    // neither branch below would exercise the expression's runtime path.
    // Rebuild the frame AFTER each conf flip — QueryExecution caches its
    // executedPlan, so re-collecting one Dataset never re-plans.
    def run(): Map[(Long, Long), Long] =
      spark.createDataFrame(
          spark.sparkContext.parallelize(rows.map { case (x, y) => org.apache.spark.sql.Row(x, y) }, 2),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("x", org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("y", org.apache.spark.sql.types.LongType))))
        .select(col("x"), col("y"), ZInterleave16.zinterleave16(col("x"), col("y")).as("z"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val got = run() // codegen path (wholeStage on)
    rows.foreach { case (x, y) =>
      assert(got((x, y)) == ZOrderUtil.interleave16(x, y))
    }
    // wholeStage=false alone still codegens via UnsafeProjection;
    // NO_CODEGEN forces InterpretedUnsafeProjection -> nullSafeEval
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try assert(run() == got) // interpreted path, freshly planned
    finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("type check rejects non-bigint inputs") {
    val err = intercept[Exception] {
      Seq((1, 2)).toDF("x", "y")
        .select(ZInterleave16.zinterleave16(col("x"), col("y")))
        .collect()
    }
    assert(err.getMessage.toLowerCase.contains("bigint")
      || err.getMessage.contains("zinterleave16"))
  }
}
