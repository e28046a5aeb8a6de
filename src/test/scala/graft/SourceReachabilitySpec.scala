package graft

import java.io.File

import scala.io.Source

import org.scalatest.funsuite.AnyFunSuite

/** No type under `src/main/scala` that only tests reach: every
  * `object`, `class` and `trait` declared there must be named, as a
  * whole word, on some line of `src/main/scala` or `perfbench/scala`
  * other than its own declaration line. Test sources do not count.
  * Types only; defs are not checked. */
class SourceReachabilitySpec extends AnyFunSuite {

  private val root = new File(System.getProperty("user.dir")).getAbsoluteFile

  /** A declaration line: modifiers, then the keyword and the name.
    * Scaladoc and comment lines start with `*` or `/`, so prose that
    * says "case class" never matches. */
  private val Decl = ("""^\s*(?:(?:private|protected)(?:\[\w+\])?\s+|""" +
    """(?:final|sealed|abstract|implicit|case|lazy)\s+)*""" +
    """(?:object|class|trait)\s+(\w+)""").r
  private val Word = """\w+""".r

  private case class Line(path: String, no: Int, text: String)

  private def lines(dir: String): Seq[Line] = {
    val base = new File(root, dir)
    assert(base.isDirectory, s"$base is not a directory")
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    walk(base).flatMap { f =>
      val src = Source.fromFile(f, "UTF-8")
      try {
        val rel = root.toPath.relativize(f.toPath).toString
        src.getLines().zipWithIndex.map { case (t, i) => Line(rel, i + 1, t) }
          .toList
      } finally src.close()
    }
  }

  test("every src/main type is named outside its own declaration line") {
    val main = lines("src/main/scala")
    val all = main ++ lines("perfbench/scala")
    val uses: Map[String, Int] = all
      .flatMap(l => Word.findAllIn(l.text)).groupBy(identity).view
      .mapValues(_.size).toMap
    val decls = main.flatMap(l =>
      Decl.findPrefixMatchOf(l.text).map(m => (m.group(1), l)))
    assert(decls.map(_._1).toSet.contains("TxTable"),
      "the declaration scan found no TxTable; it reads the wrong tree")
    val unreached = decls.collect {
      case (name, l) if uses(name) == Word.findAllIn(l.text).count(_ == name) =>
        s"$name (${l.path}:${l.no})"
    }
    if (unreached.nonEmpty)
      fail("types named only at their own declaration: " +
        unreached.mkString(", "))
  }
}
