package graft

import java.io.File

import scala.io.Source

import org.scalatest.funsuite.AnyFunSuite

/** No code under `src/main/scala` that only tests reach. Every
  * `object`, `class` and `trait` declared there, and every member-level
  * `def`, must be named, as a whole word, in `src/main/scala` or
  * `perfbench/scala` other than at its own declaration, and every
  * `object` def must be called there, so a def that shares its name
  * with another is still checked. Test sources do not count. Unused
  * private and local code is the compiler's part (`-Wunused` in
  * `build.sbt`); this spec covers what it cannot see. */
class SourceReachabilitySpec extends AnyFunSuite {

  private val root = new File(System.getProperty("user.dir")).getAbsoluteFile

  /** A declaration line: modifiers, then the keyword and the name.
    * Scaladoc and comment lines start with `*` or `/`, so prose that
    * says "case class" never matches. */
  private val Decl = ("""^\s*(?:(?:private|protected)(?:\[\w+\])?\s+|""" +
    """(?:final|sealed|abstract|implicit|case|lazy)\s+)*""" +
    """(?:object|class|trait)\s+(\w+)""").r
  private val Word = """\w+""".r

  /** (path from the repository root, text) of each `.scala` file
    * under `dir`. */
  private def scalaFiles(dir: String): Seq[(String, String)] = {
    val base = new File(root, dir)
    assert(base.isDirectory, s"$base is not a directory")
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    walk(base).map { f =>
      val src = Source.fromFile(f, "UTF-8")
      try (root.toPath.relativize(f.toPath).toString, src.mkString)
      finally src.close()
    }
  }

  private case class Line(path: String, no: Int, text: String)

  private def lines(dir: String): Seq[Line] =
    scalaFiles(dir).flatMap { case (path, text) =>
      text.split("\n", -1).toSeq.zipWithIndex.map { case (t, i) =>
        Line(path, i + 1, t) }
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

  /** Defs kept although no `src/main` or perfbench code calls them. */
  private val allowedDefs: Map[String, String] = {
    val apiRead = "operator read surface: to be put under the oracle or deleted"
    Map(
      "TxTable.commitConflicts" ->
        "the conflict-path diagnostic the concurrency specs read",
      "TxTable.upsertEvolving" ->
        "the one-line unguarded public API over upsertEvolvingIf",
      "TxTable.applyChanges" ->
        "the one-line unguarded public API over applyChangesIf",
      "DeltaDv.encodeBase85" ->
        "the encoder the inline-DV decode tests compare against",
      "AnalyticsQueries.listItems" -> apiRead,
      "AnalyticsQueries.dashboardStats" -> apiRead,
      "AnalyticsQueries.recentItems" -> apiRead,
      "AnalyticsQueries.alerts" -> apiRead,
      "AnalyticsQueries.searchItems" -> apiRead,
      "AnalyticsQueries.displayItems" -> apiRead,
      "AnalyticsQueries.vectorStats" -> apiRead,
      "AnalyticsQueries.vectorDocuments" -> apiRead,
      "Lineage.descendants" -> apiRead,
      "Lineage.ancestors" -> apiRead)
  }

  /** Defs a caller never names: overrides, entry points, extractors. */
  private val implicitlyCalled = Set("main", "apply", "unapply")

  /** `text` with comments blanked (`code`) and, in `shape`, string
    * and char literal bodies blanked as well. Both keep every
    * newline, so line numbers survive. Block comments nest, as in
    * Scala; a `${...}` inside an interpolated string stays code. */
  private def lex(text: String): (String, String) = {
    val n = text.length
    val code = text.toCharArray
    val shape = text.toCharArray
    def blank(a: Array[Char], from: Int, until: Int): Unit =
      for (i <- from until math.min(until, n) if a(i) != '\n') a(i) = ' '
    def comment(from: Int, until: Int): Int = {
      blank(code, from, until); blank(shape, from, until); until
    }
    def blockEnd(from: Int): Int = {
      var i = from + 2
      var depth = 1
      while (i < n && depth > 0) {
        if (text.startsWith("/*", i)) { depth += 1; i += 2 }
        else if (text.startsWith("*/", i)) { depth -= 1; i += 2 }
        else i += 1
      }
      i
    }
    // code from `from`; inside an interpolation it returns after the
    // `}` that closes the `${`
    def codeFrom(from: Int, interpolation: Boolean): Int = {
      var i = from
      var braces = 0
      while (i < n) {
        if (text.startsWith("//", i)) {
          val eol = text.indexOf('\n', i)
          i = comment(i, if (eol < 0) n else eol)
        } else if (text.startsWith("/*", i)) i = comment(i, blockEnd(i))
        else if (text(i) == '"') i = stringFrom(i)
        else if (text(i) == '\'' && i + 2 < n && text(i + 1) != '\\' &&
            text(i + 2) == '\'') { blank(shape, i + 1, i + 2); i += 3 }
        else if (text(i) == '\'' && i + 1 < n && text(i + 1) == '\\') {
          val end = text.indexOf('\'', i + 2)
          blank(shape, i + 1, end); i = end + 1
        } else {
          if (text(i) == '{') braces += 1
          else if (text(i) == '}') {
            if (braces == 0 && interpolation) return i + 1
            braces -= 1
          }
          i += 1
        }
      }
      i
    }
    def stringFrom(from: Int): Int = {
      val triple = text.startsWith("\"\"\"", from)
      val interpolated = from > 0 &&
        (text(from - 1).isLetterOrDigit || text(from - 1) == '_')
      var i = from + (if (triple) 3 else 1)
      while (i < n) {
        if (triple && text.startsWith("\"\"\"", i)) {
          var end = i + 3
          while (end < n && text(end) == '"') end += 1
          blank(shape, i, end - 3)
          return end
        } else if (!triple && text(i) == '"') return i + 1
        else if (!triple && text(i) == '\\') { blank(shape, i, i + 2); i += 2 }
        else if (interpolated && text.startsWith("$$", i)) {
          blank(shape, i, i + 2); i += 2
        } else if (interpolated && text.startsWith("${", i))
          i = codeFrom(i + 2, interpolation = true)
        else { blank(shape, i, i + 1); i += 1 }
      }
      i
    }
    codeFrom(0, interpolation = false)
    (new String(code), new String(shape))
  }

  private case class SrcFile(path: String, code: String, shape: String)

  private def sources(dir: String): Seq[SrcFile] =
    scalaFiles(dir).map { case (path, text) =>
      val (code, shape) = lex(text)
      SrcFile(path, code, shape)
    }

  /** The class, object, trait or anonymous class (`kind` "new") whose
    * body declares a def; `extending` when it has an `extends` clause. */
  private case class Owner(name: String, kind: String, extending: Boolean)

  private case class DefDecl(owner: Owner, name: String, path: String,
      line: Int, overrides: Boolean) {
    def id: String = s"${owner.name}.$name"
  }

  private val Token = """\w+|=>|[{}()\[\];=\n]""".r
  private val Override = """\boverride\b""".r

  /** The defs declared directly in a class, object, trait or
    * anonymous-class body. A `{` opens such a body when `class`,
    * `object`, `trait` or `new` came after the last `def`, `val`,
    * `var`, `=` or `=>` outside parentheses; any other `{` opens a
    * block, whose defs are local. */
  private def memberDefs(s: SrcFile): Seq[DefDecl] = {
    val lines = s.shape.split("\n", -1)
    val out = Seq.newBuilder[DefDecl]
    var scopes = List.empty[(Option[Owner], Int)] // (body owner, parens)
    var pending: Option[Owner] = None
    var parens = 0
    var line = 1
    var prev = ""
    for (t <- Token.findAllIn(s.shape)) {
      t match {
        case "\n" => line += 1
        case "{" =>
          scopes = (pending, parens) :: scopes
          pending = None; parens = 0
        case "}" =>
          parens = scopes.headOption.fold(0)(_._2)
          scopes = scopes.drop(1); pending = None
        case "(" | "[" => parens += 1
        case ")" | "]" => parens -= 1
        case ";" => pending = None
        case "=" | "=>" | "def" | "val" | "var" if parens == 0 =>
          pending = None
        case name if Set("class", "object", "trait", "new")(prev) =>
          pending = Some(Owner(name, prev, extending = false))
        case "extends" => pending = pending.map(_.copy(extending = true))
        case name if prev == "def" => scopes.headOption.flatMap(_._1)
          .foreach { owner =>
            val l = lines(line - 1)
            out += DefDecl(owner, name, s.path, line, Override
              .findFirstIn(l.take(l.indexOf(s"def $name"))).nonEmpty)
          }
        case _ =>
      }
      if (t != "\n") prev = t
    }
    out.result()
  }

  test("every src/main member def is named outside its own declaration") {
    val main = sources("src/main/scala")
    val all = main ++ sources("perfbench/scala")
    val uses: Map[String, Int] = all
      .flatMap(s => Word.findAllIn(s.code)).groupBy(identity).view
      .mapValues(_.size).toMap
    val defs = main.flatMap(memberDefs)
    assert(defs.exists(_.id == "TxTable.read"),
      "the def scan found no TxTable.read; it reads the wrong tree")
    // the declaration itself is the one use an unreached def has
    val unreached = defs.filter(d => uses(d.name) == 1)
    val reported = unreached.filterNot(d => d.overrides ||
      implicitlyCalled(d.name) || allowedDefs.contains(d.id))
    if (reported.nonEmpty)
      fail("defs named only at their own declaration: " + reported
        .map(d => s"${d.id} (${d.path}:${d.line})")
        .mkString(", "))
    val stale = allowedDefs.keySet -- unreached.map(_.id)
    assert(stale.isEmpty, s"allow-listed defs that are gone or now called: $stale")
  }

  /** Object defs kept although no `src/main` or perfbench code calls
    * them, where another def or API shares the name. */
  private val allowedObjectDefs: Map[String, String] = {
    val specOnly = "operator surface only its spec calls: " +
      "to be put on a catalog query or deleted"
    val testOnlyUnit = "entry point of a unit only tests drive: " +
      "to be put on an operator path or deleted with it"
    val recall = "the recall measure the ANN specs assert with"
    Map(
      "Graph.summary" -> specOnly,
      "IvfIndex.buildPersisted" -> specOnly,
      "IvfIndex.persistedTopK" -> specOnly,
      "IvfIndex.annTopK" -> specOnly,
      "DistinctSketch.estimate" -> specOnly,
      "RangeJoin.overlapPairs" -> specOnly,
      "Pq.recallAtK" -> recall,
      "Similarity.recallAtK" -> recall,
      "MvCatalog.clear" -> "resets the process-wide view registry between specs",
      "SparkEntry.entry" -> "the external driver's t1 smoke entry point",
      "Replication.sync" -> testOnlyUnit,
      "StreamingScan.start" -> testOnlyUnit,
      "StreamingMerge.start" -> testOnlyUnit,
      "StreamingView.start" -> testOnlyUnit)
  }

  /** Selections (`a.b`, whitespace allowed around the dot) and bare
    * words of one file's code, string bodies left out. */
  private case class Names(selections: Seq[(String, String)],
      bare: Map[String, Int])

  private val NameToken = """\w+|\.""".r

  private def names(s: SrcFile): Names = {
    val sel = Seq.newBuilder[(String, String)]
    val bare = scala.collection.mutable.Map.empty[String, Int]
    var last = ""   // the previous word
    var dot = false // a `.` came after it
    for (t <- NameToken.findAllIn(s.shape)) {
      if (t == ".") dot = true
      else {
        if (dot) sel += last -> t
        else bare(t) = bare.getOrElse(t, 0) + 1
        last = t; dot = false
      }
    }
    Names(sel.result(), bare.toMap)
  }

  test("every src/main object def is called from src/main or perfbench") {
    val main = sources("src/main/scala")
    val all = main ++ sources("perfbench/scala")
    val shapes = all.map(s => s.path -> s.shape).toMap
    val byFile = all.map(s => s.path -> names(s)).toMap
    val qualified = byFile.values.flatMap(_.selections).toSet
    val selected = qualified.map(_._2)
    // files that import an object's members (`Owner._`, `Owner.{...}`)
    val importers: Map[String, Seq[String]] = all.flatMap { s =>
      """import\s+[\w.]*?\b(\w+)\s*\.\s*[_{]""".r.findAllMatchIn(s.shape)
        .map(_.group(1) -> s.path)
    }.groupMap(_._1)(_._2)
    def declarations(path: String, name: String): Int =
      ("""\bdef\s+""" + name + """\b""").r
        .findAllIn(shapes(path)).size
    // an object def is called when code selects it on the object
    // (`Owner.name`), names it bare in its own file beyond its
    // declarations or in a file importing the object's members, or,
    // for an object that extends a parent, selects the name on anything
    def called(d: DefDecl): Boolean =
      qualified((d.owner.name, d.name)) ||
        byFile(d.path).bare.getOrElse(d.name, 0) > declarations(d.path, d.name) ||
        importers.getOrElse(d.owner.name, Nil)
          .exists(p => p != d.path && byFile(p).bare.contains(d.name)) ||
        (d.owner.extending && selected(d.name))
    val defs = main.flatMap(memberDefs).filter(_.owner.kind == "object")
    assert(defs.exists(_.id == "Sessions.local"),
      "the def scan found no Sessions.local; it reads the wrong tree")
    val uncalled = defs.filterNot(d => d.overrides ||
      implicitlyCalled(d.name) || called(d))
    val reported = uncalled.filterNot(d =>
      allowedDefs.contains(d.id) || allowedObjectDefs.contains(d.id))
    if (reported.nonEmpty)
      fail("object defs no src/main or perfbench code calls: " + reported
        .map(d => s"${d.id} (${d.path}:${d.line})").mkString(", "))
    val stale = allowedObjectDefs.keySet -- uncalled.map(_.id)
    assert(stale.isEmpty, s"allow-listed object defs that are gone or now called: $stale")
  }
}
