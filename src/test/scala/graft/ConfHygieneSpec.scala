package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import scala.jdk.CollectionConverters._

/** No `src/main` code sets or unsets conf on a session it is handed: a
  * runner that needs its own conf runs on a clone
  * (`GraftBridge.cloneSession`), never on the caller's session.
  */
class ConfHygieneSpec extends AnyFunSuite with Matchers {
  test("src/main/scala has no .conf.set( or .conf.unset( call") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"missing $root")
    val walk = Files.walk(root)
    val sources =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      finally walk.close()
    sources should not be empty
    val hits = for {
      f <- sources
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if line.contains(".conf.set(") || line.contains(".conf.unset(")
    } yield s"$f:${i + 1}: ${line.trim}"
    hits shouldBe empty
  }
}
