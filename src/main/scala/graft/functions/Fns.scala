package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Composable column functions reproducing the reference's scalar-function
  * semantics (SURVEY §2.7). All are built-in compositions — codegen'd by
  * Catalyst — except `titleCase`, which calls the custom
  * [[PyTitleCase]] expression.
  */
object Fns {

  /** Column reference by LITERAL name. `col(name)` parses dots as struct
    * access, so any dynamic-schema code (`df.columns` loops) breaks on
    * names like the reference's `MHCflurry_2.1.1_affinity_nm`
    * (`validate.py:14-133`) — backtick-quote to keep the name literal.
    */
  def qcol(name: String): Column = col(s"`$name`")

  /** F1 — replace the FIRST occurrence of the literal `find` in `c` with
    * `repl`: pandas `str.replace(pat, repl, n=1, regex=False)`, the
    * reference's suffix-strip operator (`clinical.py:98-133`). Spark's
    * `regexp_replace`/`replace` substitute ALL occurrences, so this is a
    * splice of built-ins: `overlay` at the first `position`. Any null
    * input gives null; an empty `find` leaves `c` as it is.
    */
  def replaceFirst(c: Column, find: Column, repl: Column): Column = {
    val at = position(find, c)
    when(find.isNull || repl.isNull, lit(null))
      .when(at > 0 && length(find) > 0, overlay(c, repl, at, length(find)))
      .otherwise(c)
  }

  /** F1 — strip the first occurrence of the literal `"_" + columnName
    * .toLowerCase` from every value of each string column (reference
    * `clinical.py:98-133`: `str.replace(suffix, "", n=1, regex=False)`),
    * with the reference's special case: column `AMADEUS_STUDY` strips
    * `"_amadeus"` (`clinical.py:109-115`).
    */
  def stripSuffixesFromStringColumns(df: DataFrame): DataFrame = {
    val stripped = df.schema.fields
      .filter(_.dataType == org.apache.spark.sql.types.StringType).map(_.name)
      .map { name =>
        val suffix = if (name == "AMADEUS_STUDY") "_amadeus" else "_" + name.toLowerCase
        name -> replaceFirst(qcol(name), lit(suffix), lit(""))
      }
    df.withColumns(stripped.toMap)
  }

  /** F2 — `str.replace("_"," ").str.upper()` (`clinical.py:136-167`). */
  def capsCase(c: Column): Column = upper(translate(c, "_", " "))

  /** F3 — `str.replace("_"," ").str.title()` (`clinical.py:160-163`),
    * with EXACT Python semantics via [[PyTitleCase]]: a cased letter
    * after any non-cased character (digit, apostrophe, punctuation)
    * starts a word — where `initcap` (whitespace-only word starts)
    * diverges.
    */
  def titleCase(c: Column): Column = PyTitleCase.pyTitle(translate(c, "_", " "))

  /** F4 — conditional id remap: paper id where present, else original
    * (`clinical.py:170-196`).
    */
  def remapId(paperId: Column, originalId: Column): Column =
    coalesce(paperId, originalId)

  /** F5 — dict recode with pass-through of unmapped values as strings
    * (`clinical.py:403-422`; unmapped / null values survive untouched).
    */
  def recode(c: Column, mapping: Map[String, String]): Column = {
    val base: Column = c.cast("string")
    mapping.foldLeft(base) { case (acc, (from, to)) =>
      when(c.cast("string") === from, lit(to)).otherwise(acc)
    }
  }

  /** F5 specialization — survival status recode (`clinical.py:408-413`). */
  def recodeSurvivalStatus(c: Column, living: String, deceased: String): Column =
    recode(c, Map("0" -> living, "1" -> deceased))

  /** F6 — days → months: `round(col / 30.44, 2)` (`clinical.py:515-535`).
    * pandas rounds HALF_EVEN on doubles → Spark `bround`.
    */
  def daysToMonths(c: Column): Column = bround(c / lit(30.44), 2)

  /** P1 — pandas `str.contains(pat, na=False)`: null input counts as
    * NON-matching (`clinical.py:74-95`). Plain `rlike` yields null for
    * null input; wrap in coalesce(false).
    */
  def rlikeNaFalse(c: Column, pattern: String): Column =
    coalesce(c.rlike(pattern), lit(false))

  /** P2 — pandas `col != value` keeps NaN rows (`maf.py:181-195`).
    * Null-safe-equal negated, not `=!=`.
    */
  def neqKeepNulls(c: Column, value: Column): Column = !(c <=> value)

  /** F8 — cancer-type sanitize for case-list file names
    * (`clinical.py:699-705`): spaces→`_`, drop `,`, `/`→`_`,
    * null/empty/`NA`→`no_oncotree_code`. A column, so that the case lists
    * group and sort by the sanitized name inside Spark.
    */
  def sanitizeCancerType(raw: Column): Column = {
    val s = translate(coalesce(raw.cast("string"), lit("")), " /,", "__")
    when(s === "" || s === "NA", lit("no_oncotree_code")).otherwise(s)
  }
}
