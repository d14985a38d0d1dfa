package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import scala.jdk.CollectionConverters._

/** Source patterns `src/main` may not contain, each outside the files
  * that own it:
  *  - no code sets or unsets conf on a session it is handed: a runner
  *    that needs its own conf runs on a clone (`GraftBridge.cloneSession`),
  *    never on the caller's session;
  *  - frames are pinned and released only through `graft.core.Pin`, so
  *    every release frees what its pin took and no caller-owned cache is
  *    evicted;
  *  - files are published (hard-linked or renamed into place) only
  *    through `FsOps`, so a fault-injecting `FsOps` reaches every
  *    publication;
  *  - directories are swapped (backup, install, restore) only by
  *    `AtomicWriter.install`, the one routine with a single commit point.
  */
class ConfHygieneSpec extends AnyFunSuite with Matchers {
  private val rules = Seq(
    ("src/main/scala has no .conf.set( or .conf.unset( call",
      Seq(".conf.set(", ".conf.unset("), Set.empty[String]),
    ("src/main/scala pins and releases frames only in core/Pin.scala",
      Seq(".persist(", "unpersist(", ".cache()", "localCheckpoint(",
        "LogicalRDD"),
      Set("graft/core/Pin.scala")),
    ("src/main/scala links and renames files only in fsops/FsOps.scala",
      Seq("createLink(", ".rename("), Set("graft/fsops/FsOps.scala")),
    ("src/main/scala moves directories only in io/AtomicWriter.scala",
      Seq(".move("), Set("graft/io/AtomicWriter.scala")))

  private lazy val sources: Seq[Path] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"missing $root")
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    finally walk.close()
  }

  rules.foreach { case (name, patterns, owners) =>
    test(name) {
      sources should not be empty
      val hits = for {
        f <- sources if !owners.exists(o => f.endsWith(o))
        (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
        if patterns.exists(line.contains)
      } yield s"$f:${i + 1}: ${line.trim}"
      hits shouldBe empty
    }
  }
}
