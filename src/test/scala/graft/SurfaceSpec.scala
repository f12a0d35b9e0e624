package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Public-surface ratchet for the operator library: no def survives only
  * because its own tests call it. In `operators/`, `streaming/`,
  * `sources/` and `expressions/`:
  *   - a def with no access modifier must be referenced by code outside
  *     its own file and the fluent facade (syntax.scala), in src/main or
  *     perfbench/src (perfbench compiles the main sources and calls them
  *     directly);
  *   - a `private[...]` def must be referenced somewhere in src/main
  *     outside syntax.scala, its own file included — so narrowing a
  *     test-only def cannot dodge the first rule;
  *   - unless the def is on `Allowlist`, each entry with its reason.
  * References are whole-word matches in source with comments and string
  * literals blanked. Pure source scan — no Spark session. */
class SurfaceSpec extends AnyFunSuite {

  private val MainRoot = Paths.get("src/main/scala/graft")
  private val PerfbenchRoot = Paths.get("perfbench/src")
  private val Packages = Seq("operators", "streaming", "sources", "expressions")

  /** "File.def" (file base name) -> why the def may have no main caller. */
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
      Seq("Unigram.viterbiColumnAlgebra", "Md5Hash.md5Words", "Dedup.jaccard",
        "Dedup.shingleHashesColumnForm", "Dedup.tokenHashesColumnForm",
        "Dedup.minhashFromHashesColumnForm",
        "Dedup.simhashFromHashesColumnForm", "Dedup.containmentColumnForm",
        "Similarity.dotColumnForm", "Similarity.hyperplaneSigColumnForm",
        "Similarity.sqEncode", "Similarity.sqDequant",
        "TextOps.ngramsColumnForm", "TextOps.repetitionProfileColumnForm",
        "TextOps.bpeReplayWindowForm", "CountMin.cmsMinColumnForm")
        .map(_ -> parityOracle).toMap ++
      Seq("KafkaIO.source", "KafkaIO.sink", "KafkaIO.sourceOptions",
        "KafkaIO.sinkOptions", "KafkaIO.connectorAvailable",
        "ReferenceData.auditFiles", "ReferenceData.browserFiles",
        "ReferenceData.parseAuditLines", "ReferenceData.parseBrowserLines",
        "ReferenceData.auditFileStream", "Generators.writeAuditFiles",
        "Generators.writeBrowserFiles", "Generators.auditKafkaValues")
        .map(_ -> ioPort).toMap ++
      Seq("Md5Hash.first60", "Md5Hash.words4", "HashKernels.winnow")
        .map(_ -> codegenEntry).toMap +
      ("StreamOps.keyedRunningTotal" -> ("E2, the reference's keyed " +
        "running total in its streaming form; StreamingParitySpec pins it"))
  }

  /** One source file: its key (base name), whether it is main code (as
    * opposed to perfbench), and its text with comments/strings blanked. */
  private final case class Source(path: String, main: Boolean, code: String) {
    def key: String = Paths.get(path).getFileName.toString.stripSuffix(".scala")
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

  private def publicDefs(s: Source): Seq[String] =
    "(?m)^  def (\\w+)".r.findAllMatchIn(s.code).map(_.group(1)).toSeq.distinct

  private def qualifiedPrivateDefs(s: Source): Seq[String] =
    "(?m)^  private\\[\\w+\\] def (\\w+)".r.findAllMatchIn(s.code)
      .map(_.group(1)).toSeq.distinct

  /** "File.def" keys the rule rejects among `scoped`'s defs. */
  private def rejected(scoped: Seq[Source], all: Seq[Source],
                       allow: Set[String]): Seq[String] = {
    def facade(s: Source) = s.path.endsWith("/syntax.scala")
    val mainCode = all.filter(s => s.main && !facade(s))
      .map(_.code).mkString("\n")
    scoped.flatMap { f =>
      val callers = all.filterNot(s => s.path == f.path || facade(s))
        .map(_.code).mkString("\n")
      val uncalled = publicDefs(f)
        .filterNot(d => s"\\b$d\\b".r.findFirstIn(callers).isDefined)
      val unreached = qualifiedPrivateDefs(f)
        .filterNot(d => s"(?<!def )\\b$d\\b".r.findFirstIn(mainCode).isDefined)
      (uncalled ++ unreached).map(d => s"${f.key}.$d")
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
      assert(inPackage(pkg).flatMap(publicDefs).nonEmpty,
        s"no public defs parsed under $pkg/")
    }
    assert(all.exists(!_.main), s"no sources read under $PerfbenchRoot")
    val defined = scoped.flatMap(f =>
      (publicDefs(f) ++ qualifiedPrivateDefs(f)).map(d => s"${f.key}.$d")).toSet
    val stale = Allowlist.keySet.filterNot(defined.contains)
    assert(stale.isEmpty,
      s"Allowlist names defs that no longer exist: ${stale.toSeq.sorted}")
    assert(Allowlist.values.forall(_.trim.nonEmpty))
  }

  test("the rule rejects a test-only public def and a narrowed def with no " +
      "main reference (the facade and perfbench do not count for the " +
      "narrowed one), and accepts each once main code reaches it") {
    val lib = Source("src/main/scala/graft/operators/Toy.scala", main = true,
      codeOnly(
        """object Toy {
          |  def used(x: Int): Int = x
          |  def orphan(x: Int): Int = x
          |  /** orphan(1) in a doc is no caller */
          |  private[graft] def narrowed(x: Int): Int = x
          |  private[graft] def helper(x: Int): Int = x
          |  def viaHelper(x: Int): Int = helper(x)
          |}
          |""".stripMargin))
    def src(path: String, main: Boolean, code: String) =
      Source(path, main, codeOnly(code))
    val caller = src("src/main/scala/graft/Caller.scala", main = true,
      "object Caller { Toy.used(1); val q = s\"SELECT ${Toy.viaHelper(2)}\" }")
    val facade = src("src/main/scala/graft/syntax.scala", main = true,
      "object syntax { Toy.orphan(3); Toy.narrowed(4) }")
    val bench = src("perfbench/src/main/scala/perfbench/Run.scala",
      main = false, "object Run { Toy.orphan(5); Toy.narrowed(6) }")
    val more = src("src/main/scala/graft/More.scala", main = true,
      "object More { Toy.orphan(7); Toy.narrowed(8) }")
    val base = Seq(lib, caller, facade)
    assert(rejected(Seq(lib), base, Set.empty) ==
      Seq("Toy.narrowed", "Toy.orphan"))
    assert(rejected(Seq(lib), base :+ bench, Set.empty) == Seq("Toy.narrowed"))
    assert(rejected(Seq(lib), base :+ more, Set.empty).isEmpty)
    assert(rejected(Seq(lib), base, Set("Toy.narrowed", "Toy.orphan")).isEmpty)
  }
}
