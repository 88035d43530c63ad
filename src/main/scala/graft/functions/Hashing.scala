package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Engine-portable deterministic hashing. Spark's `hash`/`xxhash64` and
  * DuckDB's `hash` are different algorithms, so every hash that feeds a
  * cross-checked result (MinHash signatures, SimHash bits, fingerprints,
  * LSH buckets) derives from MD5 — identical in any engine — parsed to a
  * 60-bit non-negative long (15 hex chars < 2^60, no sign issues).
  *
  * DuckDB equivalent: `('0x' || substr(md5(s), 1, 15))::BIGINT`.
  */
object Hashing {

  /** First 15 hex chars of md5(c), base-16-parsed to long (0 .. 2^60).
    *
    * Evaluated as the ONE compiled kernel call
    * ([[SketchExprs.md5Long60Raw]], optimization r14): bit-identical to
    * the builtin `conv(substring(md5(c), 1, 15), 16, 10)` chain — same
    * digest, same top-60-bit parse, spec-locked in SketchExprsSpec —
    * without allocating the 32-char hex rendering, the substring copy,
    * and the base-16 parse on every row. This hash sits in the hot
    * projection of every fingerprint/gram/sketch pipeline (dd_* exact
    * fps, a2/a15 HLL streams, ta_* fingerprints), so the per-row savings
    * multiply across the library.
    */
  def md5Long(c: Column): Column = SketchExprs.md5Long60Raw(c)

  /** Seeded variant: hash of "seed:value" — a family of independent hash
    * functions for MinHash signatures.
    */
  def md5LongSeeded(seed: Int, c: Column): Column =
    md5Long(concat_ws(":", lit(seed.toString), c))

  /** DuckDB SQL fragment computing the identical seeded hash. */
  def duckMd5Long(seed: Int, sqlExpr: String): String =
    s"('0x' || substr(md5('$seed' || ':' || ($sqlExpr)), 1, 15))::BIGINT"
}
