package graft

import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Paths}

import scala.sys.process.{Process, ProcessLogger}

import org.scalatest.funsuite.AnyFunSuite

/** QUERIES.md is generated from the query modules' scaladocs and line
  * numbers, so an edit above a query makes it stale. It must equal what
  * `python3 scripts/gen_queries_md.py` prints, byte for byte; a
  * generator that cannot run fails the spec. */
class QueriesMdSpec extends AnyFunSuite {
  test("QUERIES.md is what scripts/gen_queries_md.py generates") {
    val root = Paths.get(sys.props("user.dir"))
    val out = new ByteArrayOutputStream()
    val err = new StringBuilder
    val code = (Process(Seq("python3", "scripts/gen_queries_md.py"), root.toFile) #> out)
      .!(ProcessLogger(_ => (), e => { err.append(e).append('\n'); () }))
    assert(code == 0, s"gen_queries_md.py exited $code: $err")
    val checkedIn = Files.readAllBytes(root.resolve("QUERIES.md"))
    val want = new String(out.toByteArray, "UTF-8")
    val have = new String(checkedIn, "UTF-8")
    val firstDiff = want.linesIterator.zipAll(have.linesIterator, "<none>", "<none>")
      .zipWithIndex.find { case ((w, h), _) => w != h }
    assert(java.util.Arrays.equals(out.toByteArray, checkedIn), "QUERIES.md is stale; regenerate with " +
      "`python3 scripts/gen_queries_md.py > QUERIES.md`. First differing line: " +
      firstDiff.map { case ((w, h), i) => s"${i + 1}: generated '$w', checked in '$h'" }
        .getOrElse("(line endings)"))
  }
}
