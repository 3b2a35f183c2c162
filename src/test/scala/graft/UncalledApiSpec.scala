package graft

import org.scalatest.funsuite.AnyFunSuite

/** Runs `tools/uncalled_api.py` from the repository root, so the test
  * suite fails on a public `src/main` def that nothing in `src/main`
  * calls, and on a stale entry in the script's allowlist.
  */
class UncalledApiSpec extends AnyFunSuite {

  test("tools/uncalled_api.py: every public def is reached or allowed, and no allowlist entry is stale") {
    val root = new java.io.File(sys.props("user.dir"))
    val out = new StringBuilder
    val log = scala.sys.process.ProcessLogger(l => out.append(l).append('\n'))
    val exit = scala.sys.process.Process(Seq("python3", "tools/uncalled_api.py"), root).!(log)
    assert(exit == 0, s"uncalled_api.py exited $exit:\n$out")
  }
}
