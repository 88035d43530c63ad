package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source sweep for code that no entry point reaches. The entry points
  * are the registered queries, the four CLIs, `StudyRunner` and the
  * `Bench`, `Verify` and `PlanDump` mains; a definition that only a spec
  * calls is kept only with a reason in the allow-list below.
  *
  * The sweep is lexical: with comments stripped, every non-`override`
  * `def` in `src/main` must be named somewhere else in `src/main`, and
  * every object with a `main` must be a listed entry point. Both
  * allow-lists must stay needed. It prints what it finds, so it can be
  * re-run alone: `sbt "testOnly graft.UnreachedCodeSpec"`.
  */
class UnreachedCodeSpec extends AnyFunSuite {

  /** `<file stem>.<def>` → why the definition stays without a caller. */
  private val allowedDefs: Map[String, String] = Map(
    "DedupQueries.ddEmbedNeardup" ->
      "exact reference that DedupQueriesSpec checks dd_embed_neardup_lsh against",
    "SpaceSavingAgg.spaceSaving" ->
      "per-token reference that SpaceSavingAggSpec checks spaceSavingText against",
    "Format12g.format12g" ->
      "Column face of the format_12g function GraftExtensions registers by name",
    "MafPipeline.validationReport" ->
      "V8 to V11: pending the decision to run them in the export or delete them (ROADMAP)",
    "ClinicalPipeline.updateAttributeMetadata" ->
      "A7/U2: pending the decision to run it before the header blocks or delete it (ROADMAP)")

  private val entryMains: Set[String] =
    Set("Bench", "Verify", "PlanDump", "ClinicalCli", "MafCli", "ValidateCli", "LoadCli")

  /** Objects with a `main` that are not entry points → why they stay. */
  private val allowedMains: Map[String, String] = Map(
    "QProfile" -> "goes once Bench writes the per-query ledger (ROADMAP)")

  private val mainRoot: Path = Paths.get(sys.props("user.dir"), "src", "main", "scala")

  /** Source with every comment blanked; string and char literals kept. */
  private def stripComments(s: String): String = {
    val out = new StringBuilder(s.length)
    var i = 0
    def at(j: Int): Char = if (j < s.length) s.charAt(j) else '\u0000'
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '/' && at(i + 1) == '/') {
        while (i < s.length && s.charAt(i) != '\n') i += 1
      } else if (c == '/' && at(i + 1) == '*') {
        var depth = 1 // Scala block comments nest
        i += 2
        while (i < s.length && depth > 0) {
          if (s.charAt(i) == '/' && at(i + 1) == '*') { depth += 1; i += 2 }
          else if (s.charAt(i) == '*' && at(i + 1) == '/') { depth -= 1; i += 2 }
          else { if (s.charAt(i) == '\n') out += '\n'; i += 1 }
        }
        out += ' '
      } else if (s.startsWith("\"\"\"", i)) {
        val end = s.indexOf("\"\"\"", i + 3)
        val stop = if (end < 0) s.length else end + 3
        out ++= s.substring(i, stop); i = stop
      } else if (c == '"') {
        var j = i + 1
        while (j < s.length && s.charAt(j) != '"' && s.charAt(j) != '\n')
          j += (if (s.charAt(j) == '\\') 2 else 1)
        val stop = math.min(j + 1, s.length)
        out ++= s.substring(i, stop); i = stop
      } else if (c == '\'' && at(i + 2) == '\'') {
        out ++= s.substring(i, i + 3); i += 3
      } else if (c == '\'' && at(i + 1) == '\\') {
        val end = s.indexOf('\'', i + 3)
        val stop = if (end < 0) s.length else end + 1
        out ++= s.substring(i, stop); i = stop
      } else { out += c; i += 1 }
    }
    out.toString
  }

  /** (file stem, comment-free source) of every main Scala file. */
  private lazy val sources: Seq[(String, String)] = {
    val files = Files.walk(mainRoot).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
    files.map(f => f.getFileName.toString.stripSuffix(".scala") ->
      stripComments(Files.readString(f)))
  }

  private val Ident = "[A-Za-z_][A-Za-z0-9_]*".r
  private val Def = "(?m)^([^\\n]*?)\\bdef\\s+([A-Za-z_][A-Za-z0-9_]*)".r
  private val ObjectDecl = "(?m)^[ \\t]*(?:private(?:\\[\\w+\\])?\\s+)?object\\s+([A-Za-z_][A-Za-z0-9_]*)".r

  /** `<stem>.<def>` of every non-override def whose name occurs once. */
  private lazy val unreferencedDefs: Seq[String] = {
    val uses = sources.flatMap { case (_, s) => Ident.findAllIn(s) }
      .groupMapReduce(identity)(_ => 1)(_ + _)
    sources.flatMap { case (stem, s) =>
      Def.findAllMatchIn(s).collect {
        case m if !m.group(1).contains("override") && uses(m.group(2)) == 1 =>
          s"$stem.${m.group(2)}"
      }
    }.distinct
  }

  /** Every object that declares a `main`. */
  private lazy val mainObjects: Seq[String] =
    sources.flatMap { case (_, s) =>
      "\\bdef\\s+main\\s*\\(".r.findAllMatchIn(s).flatMap { m =>
        ObjectDecl.findAllMatchIn(s.substring(0, m.start)).toSeq.lastOption.map(_.group(1))
      }
    }.distinct

  test("every src/main def is named elsewhere in src/main or allow-listed") {
    assert(sources.nonEmpty, s"no Scala sources under $mainRoot")
    unreferencedDefs.foreach { d =>
      println(s"[unreached] $d: ${allowedDefs.getOrElse(d, "NOT ALLOWED")}")
    }
    val offenders = unreferencedDefs.filterNot(allowedDefs.contains)
    assert(offenders.isEmpty,
      s"defs that only specs reach (delete them, or allow-list with a reason):\n  " +
        offenders.mkString("\n  "))
    val stale = allowedDefs.keySet -- unreferencedDefs
    assert(stale.isEmpty, s"allow-list entries now reached from src/main (remove them): $stale")
  }

  test("every src/main main is an entry point or allow-listed") {
    mainObjects.foreach { m =>
      val status = if (entryMains(m)) "entry point" else allowedMains.getOrElse(m, "NOT ALLOWED")
      println(s"[main] $m: $status")
    }
    val offenders = mainObjects.filterNot(m => entryMains(m) || allowedMains.contains(m))
    assert(offenders.isEmpty,
      s"mains that are not entry points (delete them, or allow-list with a reason): $offenders")
    val missing = (entryMains ++ allowedMains.keySet) -- mainObjects
    assert(missing.isEmpty, s"listed mains that no longer exist: $missing")
  }
}
