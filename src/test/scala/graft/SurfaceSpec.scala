package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Public-surface ratchet for the operator library: no def survives only
  * because its own tests call it. For each member def of a top-level
  * `object` in `operators/`, `streaming/`, `sources/` and `expressions/`:
  *   - a def with no access modifier must be referenced by code outside
  *     its owner's body, in src/main or perfbench/src (perfbench compiles
  *     the main sources and calls them directly);
  *   - a `private[...]` def must be referenced somewhere in src/main, its
  *     owner's body included — so narrowing a test-only def cannot dodge
  *     the first rule;
  *   - unless the def is on `Allowlist`, each entry with its reason.
  * A reference counts only when it resolves to the def's owner object:
  * `Owner.name`, also through a local alias (`val sm = a.b.Owner`); a
  * bare `name` in a file that imports `Owner._` or `Owner.name` (also
  * inside `{...}`, under its new name if renamed); or a bare `name` inside
  * the owner's own body. A same-named identifier on another object, a
  * parameter elsewhere or a member selection (`x.name`) is no caller.
  * Comments and string literals are blanked first. Instance methods of
  * classes are reached through their instances and are not scanned. Pure
  * source scan — no Spark session. */
class SurfaceSpec extends AnyFunSuite {

  private val MainRoot = Paths.get("src/main/scala/graft")
  private val PerfbenchRoot = Paths.get("perfbench/src")
  private val Packages = Seq("operators", "streaming", "sources", "expressions")

  /** "Owner.def" (top-level object) -> why the def may have no main caller. */
  private val Allowlist: Map[String, String] = {
    val graphBuilder = "Graph input builder: tests and callers that start " +
      "from an edge frame reach every algorithm's one public form through it"
    val parityOracle = "Column-form parity oracle: the interpreted form a " +
      "spec checks its native or fused twin against, bit for bit"
    val ioPort = "the reference's own I/O port (files, Kafka), kept as the " +
      "engine's ingest/egress surface; Kafka paths are connector-gated"
    val codegenEntry = "called by name from its expression's generated Java " +
      "code, which needs the public static forwarder a narrowed def loses"
    Seq("pagerankLayout", "hitsLayout", "undirectedLayout",
        "pagerankWeightedLayout", "lpaLayout", "lpaWeightedLayout",
        "weightedUndirected").map(d => s"Graph.$d" -> graphBuilder).toMap ++
      Seq("Unigram.viterbiColumnAlgebra", "Md5Expressions.md5Words", "Dedup.jaccard",
        "Dedup.shingleHashesColumnForm", "Dedup.tokenHashesColumnForm",
        "Dedup.minhashFromHashesColumnForm",
        "Dedup.simhashFromHashesColumnForm", "Dedup.containmentColumnForm",
        "Similarity.dotColumnForm", "Similarity.hyperplaneSigColumnForm",
        "Similarity.sqEncode", "Similarity.sqDequant",
        "TextOps.ngramsColumnForm", "TextOps.repetitionProfileColumnForm",
        "TextOps.bpeReplayWindowForm", "CountMinExpressions.cmsMinColumnForm")
        .map(_ -> parityOracle).toMap ++
      Seq("KafkaIO.source", "KafkaIO.sink", "KafkaIO.sourceOptions",
        "KafkaIO.sinkOptions", "KafkaIO.connectorAvailable",
        "ReferenceData.auditFiles", "ReferenceData.browserFiles",
        "ReferenceData.parseAuditLines", "ReferenceData.parseBrowserLines",
        "ReferenceData.auditFileStream", "Generators.writeAuditFiles",
        "Generators.writeBrowserFiles", "Generators.auditKafkaValues",
        "StreamSinks.csv").map(_ -> ioPort).toMap ++
      Seq("Md5Hash.first60", "Md5Hash.words4", "HashKernels.winnow")
        .map(_ -> codegenEntry).toMap +
      ("StreamOps.keyedRunningTotal" -> ("E2, the reference's keyed " +
        "running total in its streaming form; StreamingParitySpec pins it")) +
      ("StreamSinks.split" -> ("E3, the reference's side-output split in " +
        "its streaming form; StreamingParitySpec pins it"))
  }

  /** A top-level object: its name and its body (`code[start, end)`, up to
    * the next top-level declaration), with the bare identifiers the body
    * uses. */
  private final case class Owner(name: String, code: String, start: Int,
                                 end: Int) {
    lazy val body: String = code.substring(start, end)
    lazy val bareIds: Set[String] = bareIdentifiers(body)
  }

  /** One source file: whether it is main code (as opposed to perfbench),
    * and its text with comments/strings blanked. */
  private final case class Source(path: String, main: Boolean, code: String) {
    lazy val objects: Seq[Owner] = {
      val decls = TopLevel.findAllMatchIn(code).toSeq
      decls.zip(decls.drop(1).map(_.start) :+ code.length).collect {
        case (m, end) if m.group(1) == "object" =>
          Owner(m.group(2), code, m.start, end)
      }
    }
    /** Every `Owner.name` selection, chains included (`a.B.c` yields
      * both (a, B) and (B, c)). */
    lazy val qualified: Set[(String, String)] =
      "(?=(?<![\\w$])(\\w+)\\s*\\.\\s*(\\w+))".r.findAllMatchIn(code)
        .map(m => (m.group(1), m.group(2))).toSet
    /** (owner, selector) of each `import …Owner.<selector>`. */
    lazy val imports: Seq[(String, String)] =
      ImportRe.findAllMatchIn(code).map(m => (m.group(1), m.group(2))).toSeq
    lazy val bareIds: Set[String] = bareIdentifiers(code)
    /** (alias, owner) of each `val alias = a.b.Owner`. */
    lazy val aliases: Seq[(String, String)] =
      AliasRe.findAllMatchIn(code).map(m => (m.group(1), m.group(2))).toSeq

    /** Whether code in this file refers to `owner.d` by selection (through
      * a local alias too) or through an import of the owner's members. */
    def refersTo(owner: String, d: String): Boolean =
      qualified((owner, d)) ||
        aliases.exists { case (a, o) => o == owner && qualified((a, d)) } ||
        imports.exists { case (o, sel) =>
          o == owner && importedAs(sel, d).exists(bareIds)
        }
  }

  /** A top-level declaration: modifiers, kind, name. */
  private val TopLevel =
    ("(?m)^(?:(?:private(?:\\[\\w+\\])?|final|sealed|abstract|case|implicit)" +
      "\\s+)*(object|class|trait)\\s+(\\w+)").r

  /** `import a.b.Owner.<selector>`: group 1 the owner, group 2 `_`, one
    * name or a `{...}` selector list. */
  private val ImportRe =
    "(?<![\\w$])import\\s+(?:\\w+\\s*\\.\\s*)*(\\w+)\\s*\\.\\s*(\\{[^}]*\\}|\\w+)".r

  /** `val alias = a.b.Owner` (the whole right-hand side is the path). */
  private val AliasRe =
    ("(?<![\\w$])(?:lazy\\s+)?val\\s+(\\w+)\\s*=\\s*" +
      "(?:\\w+[ \\t]*\\.[ \\t]*)*(\\w+)[ \\t]*(?=;|}|\\n(?![ \\t]*\\.))").r

  /** The identifier under which `sel` brings the owner's `d` into scope. */
  private def importedAs(sel: String, d: String): Option[String] =
    if (sel == "_" || sel == d) Some(d)
    else if (!sel.startsWith("{")) None
    else sel.stripPrefix("{").stripSuffix("}").split(",")
      .map(_.split("=>").map(_.trim)).collectFirst {
        case Array("_") | Array(`d`) => d
        case Array(`d`, as) => as
      }.filter(_ != "_")

  /** Identifiers used bare: not selected off a value (`x.name`), not the
    * name a `def` declares, and not inside an import statement. */
  private def bareIdentifiers(code: String): Set[String] = {
    val text = ImportRe.replaceAllIn(code, m => " " * m.matched.length)
    "(?<![\\w$])[A-Za-z_]\\w*".r.findAllMatchIn(text).filter { m =>
      var i = m.start - 1
      while (i >= 0 && text(i).isWhitespace) i -= 1
      val selected = i >= 0 && text(i) == '.'
      val declared = i >= 2 && text.startsWith("def", i - 2) &&
        (i < 3 || !(text(i - 3).isLetterOrDigit || text(i - 3) == '_'))
      !selected && !declared
    }.map(_.matched).toSet
  }

  /** Source text with comments and string literals blanked, so a name that
    * only appears in a scaladoc or an SQL/message string is not a caller.
    * An interpolated string keeps the code of its `${...}` splices and
    * `$name` references: oracle SQL built in s-strings calls operators. */
  private def codeOnly(src: String): String = {
    val out = new StringBuilder(src.length)
    var i = 0
    def at(s: String) = src.startsWith(s, i)
    def identChar(c: Char) = c.isLetterOrDigit || c == '_'
    // code up to the brace that closes a splice (or to the end)
    def code(inSplice: Boolean): Unit = {
      var depth = 0
      while (i < src.length && !(inSplice && depth == 0 && src(i) == '}')) {
        if (at("//")) {
          while (i < src.length && src(i) != '\n') i += 1
        } else if (at("/*")) {
          val end = src.indexOf("*/", i + 2)
          i = if (end < 0) src.length else end + 2
          out += ' '
        } else if (at("'\"'")) { // the one char literal that would open a string
          i += 3
          out ++= "' '"
        } else if (src(i) == '"') {
          string()
        } else {
          if (src(i) == '{') depth += 1 else if (src(i) == '}') depth -= 1
          out += src(i)
          i += 1
        }
      }
    }
    def string(): Unit = {
      val interpolated = i > 0 && identChar(src(i - 1))
      val triple = at("\"\"\"")
      i += (if (triple) 3 else 1)
      out ++= "\"\""
      def closed = if (triple) at("\"\"\"") else src(i) == '"' || src(i) == '\n'
      while (i < src.length && !closed) {
        if (interpolated && at("$$")) i += 2
        else if (interpolated && at("${")) {
          i += 2
          out += ' '
          code(inSplice = true)
          i += 1
          out += ' '
        } else if (interpolated && src(i) == '$' && i + 1 < src.length &&
            (src(i + 1).isLetter || src(i + 1) == '_')) {
          i += 1
          out += ' '
          while (i < src.length && identChar(src(i))) { out += src(i); i += 1 }
          out += ' '
        } else if (!triple && src(i) == '\\') i += 2
        else i += 1
      }
      i += (if (triple) 3 else 1)
    }
    code(inSplice = false)
    out.result()
  }

  private def publicDefs(o: Owner): Seq[String] =
    "(?m)^  def (\\w+)".r.findAllMatchIn(o.body).map(_.group(1)).toSeq.distinct

  private def qualifiedPrivateDefs(o: Owner): Seq[String] =
    "(?m)^  private\\[\\w+\\] def (\\w+)".r.findAllMatchIn(o.body)
      .map(_.group(1)).toSeq.distinct

  /** "Owner.def" keys the rule rejects among `scoped`'s defs. */
  private def rejected(scoped: Seq[Source], all: Seq[Source],
                       allow: Set[String]): Seq[String] = {
    val main = all.filter(_.main)
    scoped.flatMap { f =>
      f.objects.flatMap { o =>
        // the file with the owner's body blanked: its other objects and
        // classes are callers like any other file
        val rest = f.copy(code = f.code.patch(o.start,
          " " * (o.end - o.start), o.end - o.start))
        val others = rest +: all.filterNot(_.path == f.path)
        val uncalled = publicDefs(o)
          .filterNot(d => others.exists(_.refersTo(o.name, d)))
        val unreached = qualifiedPrivateDefs(o)
          .filterNot(d => o.bareIds(d) || main.exists(_.refersTo(o.name, d)))
        (uncalled ++ unreached).map(d => s"${o.name}.$d")
      }
    }.filterNot(allow.contains).sorted
  }

  private def read(root: Path, main: Boolean): Seq[Source] =
    Files.walk(root).iterator().asScala.toSeq
      .filter(_.toString.endsWith(".scala"))
      .sortBy(_.toString)
      .map(p => Source(p.toString, main, codeOnly(Files.readString(p))))

  private lazy val all: Seq[Source] =
    read(MainRoot, main = true) ++ read(PerfbenchRoot, main = false)

  private def inPackage(pkg: String): Seq[Source] =
    all.filter(_.path.startsWith(MainRoot.resolve(pkg).toString + "/"))

  private lazy val scoped: Seq[Source] = Packages.flatMap(inPackage)

  test("every def in operators/, streaming/, sources/ and expressions/ has " +
      "a main-code reference under its access level, or an allowlisted " +
      "reason") {
    val bad = rejected(scoped, all, Allowlist.keySet)
    assert(bad.isEmpty,
      s"defs reached only by tests (delete them, narrow them, or give an " +
        s"allowlist reason): ${bad.mkString(", ")}")
  }

  test("each package parses a non-empty def set, perfbench is scanned, and " +
      "every allowlist entry names a def that still exists") {
    Packages.foreach { pkg =>
      assert(inPackage(pkg).flatMap(_.objects).flatMap(publicDefs).nonEmpty,
        s"no public defs parsed under $pkg/")
    }
    assert(all.exists(!_.main), s"no sources read under $PerfbenchRoot")
    val objectless = scoped.filter(_.objects.isEmpty).map(_.path)
    assert(objectless.isEmpty, s"no top-level object parsed in $objectless")
    val defined = scoped.flatMap(_.objects).flatMap(o =>
      (publicDefs(o) ++ qualifiedPrivateDefs(o)).map(d => s"${o.name}.$d")).toSet
    val stale = Allowlist.keySet.filterNot(defined.contains)
    assert(stale.isEmpty,
      s"Allowlist names defs that no longer exist: ${stale.toSeq.sorted}")
    assert(Allowlist.values.forall(_.trim.nonEmpty))
  }

  // A test-only public def and a narrowed def with no main reference are
  // rejected (perfbench does not count for the narrowed one, a same-named
  // identifier elsewhere counts for neither); each is accepted once main
  // code reaches it through its owner.
  test("synthetic case: only a reference that resolves to the def's owner " +
      "object counts") {
    def src(path: String, main: Boolean, code: String) =
      Source(path, main, codeOnly(code))
    // two objects in one file: the owner is the object, not the file
    def toy(kernel: String) = src("src/main/scala/graft/operators/Toy.scala",
      main = true, s"""object Toy {
        |  def used(x: Int): Int = x
        |  def orphan(x: Int): Int = x
        |  /** orphan(1) in a doc is no caller */
        |  private[graft] def narrowed(x: Int): Int = x
        |  private[graft] def helper(x: Int): Int = x
        |  def viaHelper(x: Int): Int = helper(x)
        |}
        |object ToyKernels {
        |  def kernel(x: Int): Int = $kernel
        |}
        |""".stripMargin)
    val lib = toy("narrowed(x) + orphan(x)")
    val caller = src("src/main/scala/graft/Caller.scala", main = true,
      "object Caller { Toy.used(1); val q = s\"SELECT ${Toy.viaHelper(2)}\"" +
        "; ToyKernels.kernel(3) }")
    val namesakes = src("src/main/scala/graft/Other.scala", main = true,
      """object Other {
        |  def orphan(x: Int): Int = x
        |  private[graft] def narrowed(orphan: Int): Int = orphan
        |  def f(t: Thing): Int = orphan(1) + narrowed(2) + t.orphan(3) +
        |    t.narrowed(4) + Toys.orphan(5)
        |}
        |""".stripMargin)
    val bench = src("perfbench/src/main/scala/perfbench/Run.scala",
      main = false, "object Run { Toy.orphan(6); Toy.narrowed(7) }")
    val qualified = src("src/main/scala/graft/More.scala", main = true,
      "object More { graft.operators.Toy.orphan(8); Toy\n  .narrowed(9) }")
    val wildcard = src("src/main/scala/graft/Wild.scala", main = true,
      "import graft.operators.Toy._\nobject Wild { orphan(10); narrowed(11) }")
    val renamed = src("src/main/scala/graft/Renamed.scala", main = true,
      "import graft.operators.Toy.{orphan => o, narrowed}\n" +
        "object Renamed { o(12); narrowed(13) }")
    val aliased = src("src/main/scala/graft/Aliased.scala", main = true,
      "object Aliased { val t = graft.operators.Toy\n t.orphan(14); " +
        "t.narrowed(15) }")
    val importOnly = src("src/main/scala/graft/Unused.scala", main = true,
      "import graft.operators.Toy.{orphan, narrowed}\nobject Unused")
    val base = Seq(lib, caller)
    val both = Seq("Toy.narrowed", "Toy.orphan")
    assert(rejected(Seq(lib), base, Set.empty) == both)
    assert(rejected(Seq(lib), base :+ namesakes, Set.empty) == both)
    assert(rejected(Seq(lib), base :+ importOnly, Set.empty) == both)
    assert(rejected(Seq(lib), base :+ bench, Set.empty) == Seq("Toy.narrowed"))
    Seq(qualified, wildcard, renamed, aliased).foreach { s =>
      assert(rejected(Seq(lib), base :+ s, Set.empty).isEmpty, s.path)
    }
    val sibling = toy("Toy.narrowed(x) + Toy.orphan(x)")
    assert(rejected(Seq(sibling), Seq(sibling, caller), Set.empty).isEmpty)
    assert(rejected(Seq(lib), base, both.toSet).isEmpty)
    assert(rejected(Seq(lib), Seq(lib), both.toSet) ==
      Seq("Toy.used", "Toy.viaHelper", "ToyKernels.kernel"))
  }
}
