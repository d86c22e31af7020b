package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Zarr layout guard: `graft.imaging.ZarrStore` is the one module that
  * knows the store's key layout. A string literal in `src/main` code
  * (comments excluded) that spells a chunk key or a metadata document
  * name anywhere else is a second copy of the layout, which is how the
  * job's writer and the DSv2 sink drifted apart before.
  */
class ZarrLayoutGuardSpec extends AnyFunSuite {
  private val Owner = "ZarrStore.scala"
  private val Fragments = Seq("/c/0/0", "/0/0/", ".zarray", "zarr.json",
    ".zgroup", ".zattrs")

  /** The string literals of Scala source `src`, comments skipped. */
  private def literals(src: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var i = 0
    val n = src.length
    while (i < n) {
      if (src.startsWith("//", i)) {
        while (i < n && src.charAt(i) != '\n') i += 1
      } else if (src.startsWith("/*", i)) {
        val end = src.indexOf("*/", i + 2)
        i = if (end < 0) n else end + 2
      } else if (src.startsWith("\"\"\"", i)) {
        val end = src.indexOf("\"\"\"", i + 3)
        val stop = if (end < 0) n else end
        out += src.substring(i + 3, stop)
        i = stop + 3
      } else if (src.charAt(i) == '"') {
        val sb = new StringBuilder
        i += 1
        while (i < n && src.charAt(i) != '"' && src.charAt(i) != '\n') {
          if (src.charAt(i) == '\\' && i + 1 < n) { sb.append(src.charAt(i + 1)); i += 2 }
          else { sb.append(src.charAt(i)); i += 1 }
        }
        out += sb.toString
        i += 1
      } else if (src.charAt(i) == '\'' && i + 2 < n && src.charAt(i + 2) == '\'') {
        i += 3 // a char literal such as '"'
      } else i += 1
    }
    out.result()
  }

  test("only ZarrStore spells zarr key-layout literals in src/main") {
    val root = Paths.get(sys.props("user.dir"), "src", "main")
    val files = {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    assert(files.nonEmpty, s"no sources under $root")
    val hits: Map[Path, Seq[String]] = files.map { f =>
      f -> literals(Files.readString(f)).filter(l => Fragments.exists(l.contains))
    }.toMap
    val stray = hits.collect {
      case (f, ls) if ls.nonEmpty && f.getFileName.toString != Owner => s"$f: ${ls.mkString(", ")}"
    }
    assert(stray.isEmpty, "zarr layout literals outside ZarrStore:\n" + stray.mkString("\n"))
    // the guard is live: the owner itself spells every fragment
    val owned = hits.collect { case (f, ls) if f.getFileName.toString == Owner => ls }.flatten
    Fragments.foreach(fr => assert(owned.exists(_.contains(fr)), s"$Owner lacks $fr"))
  }

  test("the literal scanner skips comments and reads escaped literals") {
    val src = "// \"a.zarray\"\n/* \"b/c/0/0\" */ val x = \"k\\\"zarr.json\" + '\"'\n"
    assert(literals(src) == Seq("k\"zarr.json"))
  }
}
