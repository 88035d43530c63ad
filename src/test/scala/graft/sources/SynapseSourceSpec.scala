package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase.spark

/** The mock Synapse entity store + `synapse` read format: versioned
  * store (S1 `syn.get` / K6 `syn.store` surface), deterministic entity
  * ids, folder children listing, and version-pinned reads that delegate
  * to the cbio scanner.
  */
class SynapseSourceSpec extends AnyFunSuite {
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("syn-store").toString

  private val df1 = Seq(("s1", 1.5), ("s2", 2.5)).toDF("SAMPLE_ID", "SCORE")
  private val df2 = Seq(("s1", 9.0), ("s2", 2.5), ("s3", 3.5)).toDF("SAMPLE_ID", "SCORE")

  test("store: same (parent, name) bumps the version; ids are deterministic") {
    val root = freshRoot()
    val id1 = SynapseStore.store(df1, root, "data.txt", "synFolder", "first")
    val id2 = SynapseStore.store(df2, root, "data.txt", "synFolder", "second")
    assert(id1 == id2, "re-store must hit the same entity")
    assert(id1 == SynapseStore.entityId("synFolder", "data.txt"))
    assert(SynapseStore.latestVersion(root, id1).contains(2L))
    // a different name or parent is a different entity
    assert(SynapseStore.store(df1, root, "other.txt", "synFolder") != id1)
    assert(SynapseStore.store(df1, root, "data.txt", "synOther") != id1)
  }

  test("get: resolves latest by default, any version by number, errors out of range") {
    val root = freshRoot()
    val id = SynapseStore.store(df1, root, "data.txt", "synFolder", "first")
    SynapseStore.store(df2, root, "data.txt", "synFolder", "second")
    val latest = spark.read.format("cbio").load(SynapseStore.get(root, id))
    assert(latest.count() == 3)
    val pinned = spark.read.format("cbio").load(SynapseStore.get(root, id, Some(1L)))
    assert(pinned.count() == 2)
    intercept[IllegalArgumentException](SynapseStore.get(root, id, Some(3L)))
    intercept[IllegalArgumentException](SynapseStore.get(root, "syn000000000000"))
  }

  test("version comments ride the cbio sidecar per version") {
    val root = freshRoot()
    val id = SynapseStore.store(df1, root, "data.txt", "synFolder", "first upload")
    SynapseStore.store(df2, root, "data.txt", "synFolder", "fixed scores")
    assert(SynapseStore.versionComment(root, id, 1L).contains("first upload"))
    assert(SynapseStore.versionComment(root, id, 2L).contains("fixed scores"))
  }

  test("names, folder ids and version comments round-trip the JSON sidecars verbatim") {
    val root = freshRoot()
    val odd = "q\"b\\t\tn\nc\u0001 é–漢"
    val folder = s"synFolder $odd"
    val id = SynapseStore.store(df1, root, s"data $odd.txt", folder, s"comment $odd")
    val local = Files.createTempFile("syn-file", ".txt")
    Files.write(local, "x\n".getBytes("UTF-8"))
    val fid = SynapseStore.storeFile(root, local.toString, s"file $odd.txt", folder, s"file comment $odd")
    assert(SynapseStore.getChildren(root, folder) ==
      Seq(id -> s"data $odd.txt", fid -> s"file $odd.txt"))
    assert(SynapseStore.versionComment(root, id, 1L).contains(s"comment $odd"))
    assert(SynapseStore.versionComment(root, fid, 1L).contains(s"file comment $odd"))
    // a folder id that only prefixes or escapes differently lists nothing
    assert(SynapseStore.getChildren(root, "synFolder").isEmpty)
  }

  test("getChildren lists a folder's entities by name (the maf.py:23 surface)") {
    val root = freshRoot()
    val a = SynapseStore.store(df1, root, "a.maf", "synMafs")
    val b = SynapseStore.store(df1, root, "b.maf", "synMafs")
    SynapseStore.store(df1, root, "clin.txt", "synClinical")
    assert(SynapseStore.getChildren(root, "synMafs") == Seq(a -> "a.maf", b -> "b.maf"))
    assert(SynapseStore.getChildren(root, "synClinical").map(_._2) == Seq("clin.txt"))
    assert(SynapseStore.getChildren(root, "synEmpty").isEmpty)
  }

  test("format(\"synapse\"): version option pins, default reads latest, schema is cbio-typed") {
    val root = freshRoot()
    val id = SynapseStore.store(df1, root, "data.txt", "synFolder", "first")
    SynapseStore.store(df2, root, "data.txt", "synFolder", "second")
    val latest = spark.read.format("synapse").option("store", root).load(id)
    assert(latest.schema("SCORE").dataType == DoubleType)
    assert(latest.count() == 3)
    assert(latest.filter(col("SAMPLE_ID") === "s1").head().getDouble(1) == 9.0)
    val pinned = spark.read.format("synapse").option("store", root)
      .option("version", "1").load(id)
    assert(pinned.count() == 2)
    assert(pinned.filter(col("SAMPLE_ID") === "s1").head().getDouble(1) == 1.5)
  }

  test("format(\"synapse\") pushes column pruning into the delegated cbio reader") {
    val root = freshRoot()
    val id = SynapseStore.store(df1, root, "data.txt", "synFolder")
    val df = spark.read.format("synapse").option("store", root).load(id)
      .select("SAMPLE_ID")
    val scan = df.queryExecution.executedPlan.collectLeaves().head
    assert(scan.output.map(_.name) == Seq("SAMPLE_ID"))
    assert(df.as[String].collect().sorted.toSeq == Seq("s1", "s2"))
  }

  test("concurrent stores to one entity claim distinct versions, both survive") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val root = freshRoot()
    // a barrier maximizes the interleaving window: both writers compute
    // their version hint from the same pre-store state
    val gate = new java.util.concurrent.CyclicBarrier(2)
    def racer(df: org.apache.spark.sql.DataFrame, comment: String) = Future {
      gate.await()
      SynapseStore.store(df, root, "raced.txt", "synRace", comment)
    }
    val (idA, idB) = (racer(df1, "from A"), racer(df2, "from B"))
    val (a, b) = (Await.result(idA, Duration.Inf), Await.result(idB, Duration.Inf))
    assert(a == b, "same (parent, name) -> same entity")
    // both writes must land as DISTINCT versions — the claim file makes
    // version assignment atomic, no lost update
    assert(SynapseStore.latestVersion(root, a).contains(2L))
    val comments = Seq(1L, 2L)
      .flatMap(v => SynapseStore.versionComment(root, a, v))
    assert(comments.toSet == Set("from A", "from B"), comments.toString)
    // both version directories are complete, readable datasets
    Seq(1L, 2L).foreach { v =>
      val back = spark.read.format("synapse").option("store", root)
        .option("version", v.toString).load(a)
      assert(back.count() >= 2, s"v$v must be a complete dataset")
    }
  }

  test("interrupted store (claim without committed dir) never blocks the next version") {
    val root = freshRoot()
    val id = SynapseStore.store(df1, root, "data.txt", "synF", "v1")
    // simulate a writer that claimed v2 and died before the rename commit
    val claim = java.nio.file.Paths.get(root, id, "v2.claim")
    java.nio.file.Files.createFile(claim)
    val id2 = SynapseStore.store(df2, root, "data.txt", "synF", "after crash")
    assert(id2 == id)
    // the dead claim's number is skipped, never reused (monotonic versions)
    assert(SynapseStore.latestVersion(root, id).contains(3L))
    assert(SynapseStore.versionComment(root, id, 3L).contains("after crash"))
  }
}
