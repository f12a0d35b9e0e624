package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Public-surface ratchet for the graph tier: each algorithm has ONE public
  * form, and no public def survives only because its own tests call it.
  * Every public def in operators/Graph.scala must either be reached from
  * main code outside Graph.scala and the fluent facade (syntax.scala), or
  * be one of the input builders listed below. A second public path to an
  * algorithm (an edge-frame twin of a layout form) has no main caller, so
  * adding one fails here. Pure source scan — no Spark session. */
class GraphSurfaceSpec extends AnyFunSuite {

  private val Root = Paths.get("src/main/scala/graft")
  private val GraphFile = Root.resolve("operators/Graph.scala")

  /** Builders of the kept forms' inputs: tests and callers that start from
    * an edge frame reach every algorithm through one of these. They may
    * have no main caller (the registry derives its LPA layouts and the
    * weighted undirected frame as projections of the PageRank layouts). */
  private val InputBuilders = Set(
    "pagerankLayout", "hitsLayout", "undirectedLayout",
    "pagerankWeightedLayout", "lpaLayout", "lpaWeightedLayout",
    "weightedUndirected")

  /** Source text with comments and string literals blanked, so a name that
    * only appears in a scaladoc or an SQL/message string is not a caller. */
  private def codeOnly(src: String): String = {
    val out = new StringBuilder(src.length)
    var i = 0
    def at(s: String) = src.startsWith(s, i)
    while (i < src.length) {
      if (at("//")) {
        while (i < src.length && src(i) != '\n') i += 1
      } else if (at("/*")) {
        val end = src.indexOf("*/", i + 2)
        i = if (end < 0) src.length else end + 2
        out += ' '
      } else if (at("\"\"\"")) {
        val end = src.indexOf("\"\"\"", i + 3)
        i = if (end < 0) src.length else end + 3
        out ++= "\"\""
      } else if (src(i) == '"') {
        i += 1
        while (i < src.length && src(i) != '"' && src(i) != '\n') {
          if (src(i) == '\\') i += 1
          i += 1
        }
        i += 1
        out ++= "\"\""
      } else if (at("'\"'")) { // the one char literal that would open a string
        i += 3
        out ++= "' '"
      } else {
        out += src(i)
        i += 1
      }
    }
    out.result()
  }

  test("every public Graph def has a main-code caller outside Graph.scala " +
      "and syntax.scala, or is a listed input builder") {
    val graphSrc = Files.readString(GraphFile)
    val publicDefs = "(?m)^  def (\\w+)".r.findAllMatchIn(graphSrc)
      .map(_.group(1)).toSeq.distinct
    assert(publicDefs.nonEmpty, s"no public defs parsed from $GraphFile")
    val stale = InputBuilders.filterNot(publicDefs.contains)
    assert(stale.isEmpty,
      s"InputBuilders names defs Graph.scala no longer has: ${stale.toSeq.sorted}")

    val callerCode = Files.walk(Root).iterator().asScala.toSeq
      .filter(p => p.toString.endsWith(".scala"))
      .filterNot(p => p.endsWith(Paths.get("operators/Graph.scala")) ||
        p.endsWith(Paths.get("syntax.scala")))
      .sortBy(_.toString)
      .map((p: Path) => codeOnly(Files.readString(p)))
      .mkString("\n")
    val uncalled = publicDefs.filterNot(InputBuilders.contains)
      .filterNot(d => s"\\b$d\\b".r.findFirstIn(callerCode).isDefined)
    assert(uncalled.isEmpty,
      s"public Graph defs with no main-code caller (a second public form " +
        s"of an algorithm, or code only its tests reach): " +
        uncalled.sorted.mkString(", "))
  }
}
