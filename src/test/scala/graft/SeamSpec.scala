package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Main code holds no member that only specs reach. The compiler's
  * unused lint cannot see a `private[graft]` member that a spec calls,
  * so this spec scans the sources: every `private[graft]` member
  * declared in `src/main` must be referenced, outside comments, from
  * `src/main` beyond its own declaration. The seams kept on purpose
  * are listed below with their reasons. */
class SeamSpec extends AnyFunSuite {

  /** `private[graft]` members that only specs call, each with the
    * reason it stays in main code. */
  private val kept = Map(
    "sharedPending" ->
      "ReuseSpec's probe of Core.shared's registry of unreleased caches",
    "annRecallMean" ->
      "the LSH recall measurement, pointed by specs at clustered corpora",
    "ivfRerankRecallMean" ->
      "the IVF-rerank recall measurement, pointed by specs at clustered data",
    "realPhashSketch" ->
      "the decoded-image pHash sketch, reached only through realPhashPairs",
    "realPhashPairs" ->
      "real image decode feeding the contract's banded pHash dedup plan",
    "simhashSketches" ->
      "the 31-bit sketches the banded-SimHash specs pair by brute force",
    "sketchFromTokHashLegacy" ->
      "TokSketchSpec's relational reference for the TokSketch SimHash fold",
    "minhashSigLegacyOf" ->
      "TokSketchSpec's relational reference for the TokSketch MinHash fold")

  /** `src` without its comments (line, block and scaladoc); string and
    * character literals stay whole, so a `//` inside one survives. */
  private def code(src: String): String = {
    val out = new StringBuilder
    var i = 0
    def at(p: String) = src.startsWith(p, i)
    while (i < src.length) {
      if (at("//")) {
        while (i < src.length && src(i) != '\n') i += 1
      } else if (at("/*")) {
        var depth = 0
        while ({
          if (at("/*")) { depth += 1; i += 2 }
          else if (at("*/")) { depth -= 1; i += 2 }
          else i += 1
          depth > 0 && i < src.length
        }) ()
        out += ' '
      } else {
        val end =
          if (at("\"\"\"")) {
            val e = src.indexOf("\"\"\"", i + 3)
            if (e < 0) src.length else e + 3
          } else if (src(i) == '"') {
            var j = i + 1
            while (j < src.length && src(j) != '"' && src(j) != '\n')
              j += (if (src(j) == '\\') 2 else 1)
            math.min(j + 1, src.length)
          } else if (at("'\\")) {
            val e = src.indexOf('\'', i + 3)
            if (e < 0) src.length else e + 1
          } else if (i + 2 < src.length && src(i) == '\'' && src(i + 2) == '\'')
            i + 3
          else i + 1
        out ++= src.substring(i, end)
        i = end
      }
    }
    out.toString
  }

  private def sources(root: String): Seq[String] = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
    try s.iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map(p => code(java.nio.file.Files.readString(p))).toSeq
    finally s.close()
  }

  private val declaration = ("""private\[graft\]\s+(?:(?:override|final|""" +
    """implicit|lazy|case)\s+)*(?:def|val|var|object|class|trait)\s+""" +
    """([A-Za-z_][A-Za-z0-9_]*)""").r

  private def references(name: String, in: Seq[String]): Int = {
    val word = ("\\b" + java.util.regex.Pattern.quote(name) + "\\b").r
    in.map(word.findAllMatchIn(_).size).sum
  }

  test("every private[graft] member of main code has a main-code caller, " +
    "except the listed seams") {
    val main = sources("src/main/scala")
    val test = sources("src/test/scala")
    val declared = main.flatMap(declaration.findAllMatchIn(_).map(_.group(1)))
    assert(declared.size > 50, s"the scan found only ${declared.size}")
    val decls = declared.groupBy(identity).view.mapValues(_.size).toMap
    val unexpected = decls.toSeq.sortBy(_._1).collect {
      case (name, n) if references(name, main) <= n && !kept.contains(name) =>
        s"$name (${references(name, test)} spec references)"
    }
    assert(unexpected.isEmpty,
      s"private[graft] members no main code calls: ${unexpected.mkString(", ")}")
    val stale = kept.keySet -- decls.keySet
    assert(stale.isEmpty, s"kept seams no longer declared: $stale")
  }

  test("the comment scan keeps literals and drops comments") {
    val src = "val a = \"x // y\" // gone\n/* gone /* nested */ gone */ " +
      "val c = '\"' /** gone */ val d = '\\''"
    assert(code(src) == "val a = \"x // y\" \n  val c = '\"'   val d = '\\''")
  }
}
