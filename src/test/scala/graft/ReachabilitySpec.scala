package graft

import org.scalatest.funsuite.AnyFunSuite

import scala.collection.mutable

/** `src/main` holds only what runs: every public member of a top-level
  * `src/main` object is reached from a main, a registered op or a
  * reasoned allowlist entry, and no allowlist entry outlives its reason.
  *
  * The scan is textual, in the source-scan style of
  * [[SessionsSpec.mainSources]]:
  *  - nodes are the member definitions (`def`, `val`, `var`, nested
  *    `object`) of top-level objects, keyed `Object.member`; overloads
  *    share a key;
  *  - edges are the identifiers in each member's text, with comments
  *    stripped (string literals are kept: SQL text interpolates Scala
  *    members);
  *  - roots are every `main`, every `ops` val (the registered keys),
  *    every `override` and `implicit` member, `apply`/`unapply`/`update`
  *    (called through their object's name), and all text outside the
  *    object members: class, trait and case class bodies (Spark and
  *    encoders reach types by reflection) and object initializers.
  *    Import lines are not references.
  *
  * A reference reaches every node of that simple name, so a name
  * collision only adds reachability: the guard can miss dead code but
  * never flags live code. `private` members are never reported (the
  * compiler's `-Wunused:privates` guards them); they still carry edges.
  */
class ReachabilitySpec extends AnyFunSuite {
  import ReachabilitySpec._

  private lazy val scan = Scan(SessionsSpec.mainSources().map(_._2))

  test("every public member of a src/main object is reached from a main, an op or the allowlist") {
    val dead = scan.unreached(Allowed.keySet)
    assert(dead.isEmpty,
      s"unreached from every main and registered op: ${dead.mkString(", ")}; " +
        "delete them, or allowlist each in ReachabilitySpec.Allowed with its reason")
  }

  test("every allowlist entry names an existing member that nothing in src/main reaches") {
    val stale = scan.stale(Allowed.keySet)
    assert(stale.isEmpty,
      s"allowlist entries that are now reached or no longer exist: ${stale.mkString(", ")}")
    assert(Allowed.values.forall(_.trim.nonEmpty), "an allowlist entry without a reason")
  }

  test("the scan: comments never reference, string text does, privates are not reported") {
    val src = "package p\n" +
      "object A {\n" +
      "  def main(args: Array[String]): Unit = b() // c()\n" +
      "  def b(): Unit = println(s\"${d} }\")\n" +
      "  /* e() */ def c(): Unit = ()\n" +
      "  val d = 1\n" +
      "  private def e(): Unit = ()\n" +
      "  override def toString = \"{\"\n" +
      "  lazy val f: Int = g\n" +
      "}\n" +
      "class K { def k = B.g }\n" +
      "object B { def g = 1; def h = '}'; object I { def x = h } }\n"
    val s = Scan(Seq(src))
    assert(s.unreached(Set.empty) == Seq("A.c", "A.f", "B.I", "B.h"))
    assert(s.unreached(Set("B.I")) == Seq("A.c", "A.f"))
    assert(s.stale(Set("B.I", "B.g", "B.gone")) == Seq("B.g", "B.gone"))
  }
}

object ReachabilitySpec {

  /** Members nothing in `src/main` reaches that stay, each with its
    * reason. What an entry reaches needs no entry of its own. */
  val Allowed: Map[String, String] = {
    val reference = "reference formulation the specs compare the native expression against"
    val stream = "streaming twin of a registered batch key; StreamingSpec checks their parity"
    Map(
      "Similarity.dotE" -> reference,
      "Similarity.normE" -> reference,
      "Similarity.srpHofE" -> reference,
      "TextOps.shinglesE" -> reference,
      "TextOps.minhashE" -> reference,
      "TextOps.simhashHofE" -> reference,
      "TextOps.textStatsHof" -> reference,
      "TextOps.winnowReference" -> reference,
      "Multimodal.phashOverHof" -> reference,
      "DataGen.transactions" -> "retail generator, the twin of the reference's generate_data.py",
      "DataGen.transactionItems" -> "retail generator, the twin of the reference's generate_data.py",
      "DataGen.withTotals" -> "retail generator, the twin of the reference's generate_data.py",
      "Housekeeping.loadConfig" -> "twin of the reference's config loader (env over file over defaults)",
      "Housekeeping.withLock" -> "twin of the reference's lock-file guard for the daily run",
      "Scheduler.runDaily" -> "twin of the reference's daily scheduler",
      "Scd2.applyUpdates" -> "twin of the reference's SCD2 dimension update",
      "Streams.hourlyCountsStream" -> stream,
      "Streams.sessionizeStream" -> stream,
      "Streams.clickPurchaseJoinStream" -> stream,
      "Streams.dedupDocsStream" -> stream,
      "Streams.phashDedupDocsStream" -> stream,
      "Streams.annIngestStream" -> stream,
      "Streams.decontaminationStream" -> stream,
      "Streams.winnowDecontaminationStream" -> stream,
      "Pq.searchOver" -> "spec surface: PQ search over any vector frame, bypassing the store",
      "Graph.trianglesOfEdges" -> "spec surface: the census over any edge list, for the DOULION contract sweep",
      "Relevance.bm25SearchOver" -> "spec surface: the served scorer over in-memory index tables",
      "Extensions.approxMonthlyTransactionsRaw" -> "spec surface: the sketch over raw rows, bypassing the store",
      "SparkEntry.entry" -> "entry point for callers outside src/main (the flagship query)",
      "GraftExtensions.register" -> "entry point: registers the native functions on a running session",
      "Sessions.clusterDefaults" -> "entry point: the cluster session profile for spark-submit callers",
      "Sources.compactParquet" -> "entry point: the small-file compaction maintenance job")
  }

  private val Def = ("""(?<![\w.])((?:@\w+(?:\([^)]*\))?\s+|(?:private|protected)(?:\[\w+\])?\s+|""" +
    """(?:final|override|implicit|lazy|case|sealed|abstract)\s+)*)""" +
    """(def|val|var|object|class|trait|type)\s+([A-Za-z_]\w*)""").r
  private val Ident = """[A-Za-z_]\w*""".r
  private val CharLit = """'(\\u[0-9a-fA-F]{4}|\\.|[^\\'\n])'""".r
  private val ImportLine = """(?m)^\s*(import|package)\b.*$""".r
  private val ImplicitRoots = Set("main", "ops", "apply", "unapply", "unapplySeq", "update")

  private final case class Node(id: String, name: String, refs: Set[String],
                                root: Boolean, reported: Boolean)

  /** `s` with comments blanked, and with comments and the text of
    * string and character literals blanked; both keep every offset
    * and newline. */
  private def lex(s: String): (String, String) = {
    val (refs, shape) = (s.toCharArray, s.toCharArray)
    def blank(a: Array[Char], from: Int, to: Int): Unit =
      (from until math.min(to, s.length)).foreach(k => if (a(k) != '\n') a(k) = ' ')
    val n = s.length
    var i = 0
    while (i < n) {
      if (s.startsWith("//", i)) {
        val j = { val e = s.indexOf('\n', i); if (e < 0) n else e }
        blank(refs, i, j); blank(shape, i, j); i = j
      } else if (s.startsWith("/*", i)) { // Scala block comments nest
        var (depth, j) = (0, i)
        while (j < n && !(depth == 0 && j > i)) {
          if (s.startsWith("/*", j)) { depth += 1; j += 2 }
          else if (s.startsWith("*/", j)) { depth -= 1; j += 2 }
          else j += 1
        }
        blank(refs, i, j); blank(shape, i, j); i = j
      } else if (s.startsWith("\"\"\"", i)) {
        var j = s.indexOf("\"\"\"", i + 3)
        if (j < 0) j = n
        while (j + 3 < n && s(j + 3) == '"') j += 1
        blank(shape, i + 3, j); i = j + 3
      } else if (s(i) == '"') {
        var j = i + 1
        while (j < n && s(j) != '"' && s(j) != '\n') j += (if (s(j) == '\\') 2 else 1)
        blank(shape, i + 1, j); i = j + 1
      } else if (s(i) == '\'') {
        CharLit.findPrefixMatchOf(s.subSequence(i, n)) match {
          case Some(m) => blank(shape, i + 1, i + m.end - 1); i += m.end
          case None => i += 1
        }
      } else i += 1
    }
    (new String(refs), new String(shape))
  }

  /** The member graph of a set of source texts. */
  final case class Scan(sources: Seq[String]) {
    private val (nodes, rootRefs) = {
      val nodes = mutable.LinkedHashMap.empty[String, Node]
      val rootRefs = mutable.Set.empty[String]
      sources.foreach { src =>
        val (refs0, shape) = lex(src)
        val refs = ImportLine.replaceAllIn(refs0, m => " " * m.matched.length)
        // brace and paren depth before each offset
        val (braces, parens) = (new Array[Int](shape.length + 1), new Array[Int](shape.length + 1))
        shape.indices.foreach { k =>
          val c = shape(k)
          braces(k + 1) = braces(k) + (if (c == '{') 1 else if (c == '}') -1 else 0)
          parens(k + 1) = parens(k) + (if (c == '(' || c == '[') 1 else if (c == ')' || c == ']') -1 else 0)
        }
        val defs = Def.findAllMatchIn(shape).toSeq
        val members = mutable.ArrayBuffer.empty[(Int, Int)] // spans of node text
        defs.filter(m => m.group(2) == "object" && braces(m.start(2)) == 0).foreach { obj =>
          val open = shape.indexOf('{', obj.end)
          if (open >= 0 && !defs.exists(d => d.start > obj.end && d.start < open)) {
            var close = open + 1
            while (close < shape.length && braces(close + 1) > 0) close += 1
            val inner = defs.filter(d => d.start > open && d.start < close &&
              braces(d.start(2)) == 1 && parens(d.start(2)) == parens(open))
            inner.zipWithIndex.foreach { case (d, k) =>
              val end = if (k + 1 < inner.size) inner(k + 1).start else close
              val (mods, kw, name) = (d.group(1), d.group(2), d.group(3))
              if (!Set("class", "trait", "type")(kw)) {
                members += ((d.start, end))
                val id = s"${obj.group(3)}.$name"
                val priv = """\bprivate(?!\[)|\bprivate\[this\]""".r.findFirstIn(mods).isDefined
                val root = ImplicitRoots(name) || mods.contains("override") || mods.contains("implicit")
                val ids = Ident.findAllIn(refs.substring(d.end(3), end)).toSet
                val prev = nodes.get(id)
                nodes(id) = Node(id, name, ids ++ prev.map(_.refs).getOrElse(Set.empty),
                  root || prev.exists(_.root), !priv || prev.exists(_.reported))
              }
            }
          }
        }
        val outside = refs.toCharArray
        members.foreach { case (a, b) => (a until b).foreach(k => outside(k) = ' ') }
        rootRefs ++= Ident.findAllIn(new String(outside))
      }
      (nodes.toMap, rootRefs.toSet)
    }

    private val byName: Map[String, Iterable[String]] =
      nodes.values.groupBy(_.name).map { case (k, ns) => k -> ns.map(_.id) }

    private def reached(extra: Set[String]): Set[String] = {
      val seen = mutable.Set.empty[String]
      val todo = mutable.Stack.empty[String]
      todo.pushAll(nodes.values.filter(_.root).map(_.id))
      rootRefs.foreach(r => byName.get(r).foreach(todo.pushAll))
      todo.pushAll(extra.filter(nodes.contains))
      while (todo.nonEmpty) {
        val id = todo.pop()
        if (seen.add(id)) nodes(id).refs.foreach(r => byName.get(r).foreach(todo.pushAll))
      }
      seen.toSet
    }

    /** Reported members reached neither from the roots nor from `allowed`. */
    def unreached(allowed: Set[String]): Seq[String] = {
      val live = reached(allowed)
      nodes.values.filter(n => n.reported && !live(n.id) && !allowed(n.id)).map(_.id).toSeq.sorted
    }

    /** Entries of `allowed` that the roots reach or that name no member. */
    def stale(allowed: Set[String]): Seq[String] = {
      val live = reached(Set.empty)
      allowed.filter(a => !nodes.contains(a) || live(a)).toSeq.sorted
    }
  }
}
