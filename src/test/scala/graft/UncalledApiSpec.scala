package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source scans of `src/main`, run from the repository root:
  * `tools/uncalled_api.py` fails on a public def that nothing in
  * `src/main` calls and on a stale entry in its allowlist; the checkpoint
  * scan fails on a pin taken around `graft.util.Checkpoints`.
  */
class UncalledApiSpec extends AnyFunSuite {

  test("tools/uncalled_api.py: every public def is reached or allowed, and no allowlist entry is stale") {
    val root = new java.io.File(sys.props("user.dir"))
    val out = new StringBuilder
    val log = scala.sys.process.ProcessLogger(l => out.append(l).append('\n'))
    val exit = scala.sys.process.Process(Seq("python3", "tools/uncalled_api.py"), root).!(log)
    assert(exit == 0, s"uncalled_api.py exited $exit:\n$out")
  }

  test("localCheckpoint( occurs under src/main/scala/graft only in util/Checkpoints.scala") {
    val root = java.nio.file.Paths.get(sys.props("user.dir"), "src", "main", "scala", "graft")
    val allowed = Set(root.resolve("util").resolve("Checkpoints.scala"))
    val offenders = scala.util.Using.resource(java.nio.file.Files.walk(root)) { paths =>
      paths.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") && !allowed(p))
        .filter(p => new String(java.nio.file.Files.readAllBytes(p), "UTF-8").contains("localCheckpoint("))
        .map(root.relativize(_).toString)
        .toList.sorted
    }
    assert(offenders.isEmpty, s"pin through graft.util.Checkpoints.pin or a Checkpoints.scoped block: $offenders")
  }
}
