package graft.tools

import graft.SparkEntry
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Generates docs/REGISTRY.md — the machine-built per-tier query index
  * (query name → operator → def site → oracle kind) so readers stop
  * hand-counting a 300+ query registry. A def site is `file#method`, not
  * file:line, so edits that only move code leave the index unchanged.
  *
  * Ground truth is the COMPILED registry (`SparkEntry.queries` /
  * `SparkEntry.oracleSql`); the operator attribution is parsed from the
  * SparkEntry source (first graft-operator call in each registration,
  * following one level of private-helper indirection for the memoized
  * shared pipelines), and each operator's `def` site is located in its
  * declaring file. The main fails loud if any registered query cannot be
  * attributed — a silently unattributed row would defeat the index.
  *
  * Usage: sbt "runMain graft.tools.Registry"  (no Spark session needed). */
object Registry {
  private val SrcRoot = "src/main/scala/graft"

  private def read(p: String): String =
    new String(Files.readAllBytes(Paths.get(p)), "UTF-8")

  private def sourceFiles(): Seq[String] =
    Files.walk(Paths.get(SrcRoot)).iterator().asScala
      .map(_.toString).filter(_.endsWith(".scala")).toSeq.sorted

  /** Builds the full REGISTRY.md text from the compiled registry + source
    * parse. Pure of side effects so RegistrySpec can diff it against the
    * committed file — `sbt test` fails when the registry drifts (a query
    * added without regenerating the index). */
  def render(): String = {
    val files = sourceFiles()
    // object name -> (file, source text) — OPERATOR objects only (the
    // tiers); Tables/SparkEntry/tools are loaders and wiring, not the
    // operator a query should be attributed to
    val opDirs = Seq("/operators/", "/streaming/", "/sources/",
      "/expressions/")
    val objFile: Map[String, (String, String)] = files
      .filter(f => opDirs.exists(f.contains))
      .flatMap { f =>
        val src = read(f)
        "(?m)^object (\\w+)".r.findAllMatchIn(src).map(m =>
          m.group(1) -> ((f, src))).toSeq
      }.toMap
    val entrySrc = read(s"$SrcRoot/SparkEntry.scala")
    val entryLines = entrySrc.split("\n", -1)

    // registration snippets: from each `"q..." -> ` to the next one
    val reg = "\"(q[a-z0-9_]*)\" *-> *\\(\\(s, dir\\)".r
    val hits = reg.findAllMatchIn(entrySrc).toSeq
    // Scala Map literals silently collapse duplicate keys (last wins) —
    // a duplicated registration or oracle would shadow an existing query
    // without any compiler diagnostic. Every query name must appear in
    // SparkEntry source EXACTLY twice: one registration, one oracle.
    val mentions = "\"(q[a-z0-9_]+)\"\\s*->".r
      .findAllMatchIn(entrySrc).toSeq.groupBy(_.group(1))
    val badArity = mentions.filter(_._2.size != 2).keys.toSeq.sorted
    require(badArity.isEmpty,
      s"Registry: queries not registered exactly once with exactly one " +
        s"oracle (a duplicate key silently shadows its twin): " +
        badArity.mkString(", "))
    val snippets: Map[String, String] = hits.zipWithIndex.map {
      case (m, i) =>
        val end = if (i + 1 < hits.size) hits(i + 1).start else entrySrc.length
        m.group(1) -> entrySrc.substring(m.start, end)
    }.toMap

    val opCall = ("(" + objFile.keys.mkString("|") + ")\\.(\\w+)").r
    val helperCall = "=> *(\\w+)\\(s, dir\\)".r
    val aliasRe = "val (\\w+) = (?:graft\\.[\\w.]*?)?\\b(\\w+)\\s".r

    def firstOp(snippet: String): Option[(String, String)] = {
      // resolve local object aliases (val sm = graft.streaming.StateMachines)
      val expanded = aliasRe.findAllMatchIn(snippet).foldLeft(snippet) {
        (s, m) =>
          if (objFile.contains(m.group(2)))
            s.replace(m.group(1) + ".", m.group(2) + ".")
          else s
      }
      opCall.findFirstMatchIn(expanded).map(m => (m.group(1), m.group(2)))
    }

    def attribution(name: String): (String, String) = {
      val snip = snippets.getOrElse(name,
        sys.error(s"Registry: no source registration found for '$name' — " +
          "the parser's registration pattern no longer matches SparkEntry"))
      firstOp(snip).orElse {
        // one level of indirection: a private helper like lpaShared
        helperCall.findFirstMatchIn(snip).flatMap { h =>
          val helper = h.group(1)
          val defRe = ("(?s)def " + helper + "\\b.*").r
          defRe.findFirstIn(entrySrc).flatMap(body =>
            firstOp(body.take(2000)))
        }
      }.getOrElse(("SparkEntry", "inline"))
    }

    def defSite(obj: String, method: String): String =
      if (obj == "SparkEntry") "SparkEntry.scala"
      else {
        val (f, src) = objFile(obj)
        val short = f.stripPrefix(SrcRoot + "/")
        if (s"def $method[\\[(: ]".r.findFirstIn(src).isDefined)
          s"$short#$method"
        else short
      }

    def oracleKind(name: String): String =
      SparkEntry.oracleSql.get(name) match {
        case None => "none (streaming-only / parity-tested)"
        case Some(sql) if sql.contains("WITH RECURSIVE") => "recursive CTE"
        case Some(sql) if sql.contains("MATERIALIZED") => "unrolled CTE"
        case Some(_) => "plain SQL"
      }

    val rows = SparkEntry.queries.keys.toSeq.sorted.map { name =>
      val (obj, method) = attribution(name)
      val tier = if (obj == "SparkEntry") "SparkEntry (composed)"
        else objFile(obj)._1.stripPrefix(SrcRoot + "/")
      (tier, name, s"$obj.$method", defSite(obj, method), oracleKind(name))
    }
    require(rows.size == SparkEntry.queries.size,
      s"Registry: built ${rows.size} rows for ${SparkEntry.queries.size} " +
        "registered queries")
    val orphanOracles = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    require(orphanOracles.isEmpty,
      s"Registry: oracleSql entries without a query: $orphanOracles")

    val sb = new StringBuilder
    sb ++= "# Query registry (GENERATED — do not edit)\n\n"
    sb ++= s"Regenerate with `sbt \"runMain graft.tools.Registry\"`. " +
      s"**${rows.size} registered queries** " +
      s"(${SparkEntry.oracleSql.size} with DuckDB oracles); the count is " +
      "asserted against `SparkEntry.queries.size` at generation time.\n"
    rows.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (tier, rs) =>
      sb ++= s"\n## $tier (${rs.size})\n\n"
      sb ++= "| query | operator | def site | oracle |\n"
      sb ++= "|---|---|---|---|\n"
      rs.sortBy(_._2).foreach { case (_, n, op, site, ok) =>
        sb ++= s"| $n | $op | $site | $ok |\n"
      }
    }
    sb.toString
  }

  def main(args: Array[String]): Unit = {
    val text = render()
    Files.createDirectories(Paths.get("docs"))
    Files.writeString(Paths.get("docs/REGISTRY.md"), text)
    println(s"docs/REGISTRY.md: ${SparkEntry.queries.size} queries")
  }
}
