package graft.sources

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The build-once root owner: one build per ident, a safe race between
  * concurrent builders, and a root that lost files since it was built
  * is rebuilt instead of served.
  */
class DurableIndexSpec extends AnyFunSuite {

  /** A fresh family under the temp dir, deleted after `body`. */
  private def withFamily(body: String => Unit): Unit = {
    val family = s"durable-index-spec-${java.util.UUID.randomUUID()}"
    try body(family)
    finally Tsv.deleteRecursively(Paths.get(System.getProperty("java.io.tmpdir"), family))
  }

  private def entries(p: Path): Set[String] = {
    val s = Files.list(p)
    try s.iterator().asScala.map(_.getFileName.toString).toSet finally s.close()
  }

  private def writeTwo(dir: Path): Unit = {
    Files.write(dir.resolve("a.txt"), "a".getBytes("UTF-8"))
    Files.write(dir.resolve("b.txt"), "b".getBytes("UTF-8")); ()
  }

  test("one build per ident; another ident builds its own root") {
    withFamily { family =>
      val builds = new AtomicInteger()
      def open(ident: String) = DurableIndex.once(family, ident) { d => builds.incrementAndGet(); writeTwo(d) }
      val r1 = open("ident-1")
      assert(open("ident-1") == r1)
      assert(builds.get == 1)
      assert(entries(r1) == Set("a.txt", "b.txt", DurableIndex.Marker))
      val r2 = open("ident-2")
      assert(r2 != r1 && builds.get == 2)
    }
  }

  test("two concurrent builders leave one root and no build-* directory") {
    withFamily { family =>
      // both builds are in flight before either moves into place
      val bothBuilding = new CountDownLatch(2)
      def builder() = Future(DurableIndex.once(family, "raced") { d =>
        bothBuilding.countDown()
        assert(bothBuilding.await(30, TimeUnit.SECONDS))
        writeTwo(d)
      })
      val roots = Await.result(Future.sequence(Seq(builder(), builder())), 60.seconds)
      assert(roots.distinct.size == 1)
      assert(entries(roots.head.getParent) == Set(roots.head.getFileName.toString))
      assert(entries(roots.head) == Set("a.txt", "b.txt", DurableIndex.Marker))
    }
  }

  test("a root that lost its marker and a data file is rebuilt, not served") {
    withFamily { family =>
      val builds = new AtomicInteger()
      def open() = DurableIndex.once(family, "cleaned") { d => builds.incrementAndGet(); writeTwo(d) }
      val root = open()
      // what a /tmp cleaner that got part way through leaves behind
      Files.delete(root.resolve(DurableIndex.Marker))
      Files.delete(root.resolve("a.txt"))
      assert(open() == root)
      assert(builds.get == 2)
      assert(entries(root) == Set("a.txt", "b.txt", DurableIndex.Marker))
      assert(entries(root.getParent) == Set(root.getFileName.toString))
    }
  }
}
