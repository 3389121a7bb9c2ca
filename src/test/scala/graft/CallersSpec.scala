package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source laws: every public def of the library objects under `ops/`,
  * `ml/`, `app/`, `streaming/` and `conf/` has a caller in
  * `src/main/scala` or `perfbench/src`, and every default-valued
  * parameter of one is passed by some such call, so code and options
  * that only specs reach do not pile up.
  *
  * The sources are scanned with comments and literal text blanked. A
  * call site is `Object.name` anywhere, `name` unqualified in its own
  * file (beyond its declaration), or `name` in a file importing
  * `Object._` or `Object.{... name ...}`. A call passes a parameter when
  * the argument group `(…)` it sits in holds more positional arguments
  * than its index, or a named argument `param = …`. A def is public
  * when it sits at the object's top level (two-space indent) with no
  * access modifier; a `main` is called by the JVM. Limits: a local or a
  * named argument spelled like the def counts as a call in its own
  * file, overloads share their call sites, and a def reached only
  * through a renaming import is not seen. */
class CallersSpec extends AnyFunSuite {

  /** Kept without a main caller; each reason names who needs the def.
    * Their parameters are exempt from the parameter law too. */
  private val allowlist = Map(
    "Pairs.skipGramPairs" ->
      "PairsSpec and PairsLawsSpec compare the array form against it",
    "Pairs.positions" ->
      "PairsSpec pins orderedBaskets bit-identical to it",
    "Text.fingerprintsHof" ->
      "TextSpec compares the native winnowing kernel against it",
    "Text.simhash" ->
      "SimHash60Spec compares the SimHash60 kernel against it",
    "Portable.composedSeededHash" ->
      "Hash60Spec compares the native Hash60 expression against it",
    "Ann.recallAgainstExact" ->
      "AnnSpec and IvfIndexSpec score recall with it",
    "Pipeline.run" ->
      "PipelineSpec runs the DAG; perfbench's docs equate prod2vec_train to it")

  /** Default-valued parameters kept though no main call passes them. */
  private val paramAllowlist = Map(
    "Er.resolveEntities.maxCandidatePairs" ->
      "the candidate-mass refusal is safety code; ErSpec trips it",
    "Dedup.jaccardPairsExact.maxCandidatePairs" ->
      "the candidate-mass refusal is safety code; DedupSpec trips it")

  private val packages = Seq("ops", "ml", "app", "streaming", "conf")
  private val objectDecl = raw"(?m)^object\s+(\w+)".r
  private val publicDef =
    raw"(?m)^  (?:(?:final|override|implicit)\s+)*def\s+(\w+)".r

  private lazy val sources =
    (SourceScan.sources("src/main/scala") ++ SourceScan.sources("perfbench/src"))
      .map { case (p, src) => p -> SourceScan.blankLiterals(src) }

  /** (file, object, def, end of the def's name) for every public def of
    * a library object. */
  private lazy val declared: Seq[(String, String, String, Int)] =
    sources.toSeq.sortBy(_._1).flatMap { case (path, src) =>
      if (!packages.exists(p => path.startsWith(s"src/main/scala/graft/$p/")))
        Nil
      else objectDecl.findAllMatchIn(src).toSeq.flatMap { m =>
        val end = src.indexOf("\n}", m.end) match {
          case -1 => src.length
          case e => e
        }
        publicDef.findAllMatchIn(src.substring(m.end, end))
          .map(d => (path, m.group(1), d.group(1), m.end + d.end(1)))
          .filter(_._3 != "main")
      }
    }

  /** (source, end of the name) of every call site of `obj.name`. */
  private def callSites(path: String, obj: String,
                        name: String): Seq[(String, Int)] = {
    val q = java.util.regex.Pattern.quote _
    val qualified = raw"\b${q(obj)}\s*\.\s*${q(name)}\b".r
    val bare = raw"(?<![.\w])(?<!\bdef\s{1,9})${q(name)}\b".r
    val imports =
      raw"import\s+[\w.]*\b${q(obj)}\s*\.\s*(?:_|\{[^}]*\b${q(name)}\b)".r
    def ends(r: scala.util.matching.Regex, src: String) =
      r.findAllMatchIn(src).map(m => (src, m.end)).toSeq
    sources.values.toSeq.flatMap(ends(qualified, _)) ++
      ends(bare, sources(path)) ++
      sources.toSeq.flatMap { case (p, src) =>
        if (p != path && imports.findFirstIn(src).isDefined) ends(bare, src)
        else Nil
      }
  }

  /** Index of the bracket closing the one at `i`, or the source end. */
  private def closing(src: String, i: Int): Int = {
    var depth = 0
    var j = i
    while (j < src.length) {
      val c = src.charAt(j)
      if ("([{".indexOf(c) >= 0) depth += 1
      else if (")]}".indexOf(c) >= 0) {
        depth -= 1
        if (depth == 0) return j
      }
      j += 1
    }
    src.length
  }

  /** The `(…)` or `{…}` groups that follow `at` on its line, after an
    * optional `[…]`, each split at its top-level commas. */
  private def groups(src: String, at: Int): Seq[Seq[String]] = {
    def skip(i: Int) = {
      var j = i
      while (j < src.length && (src.charAt(j) == ' ' || src.charAt(j) == '\t'))
        j += 1
      j
    }
    var i = skip(at)
    if (i < src.length && src.charAt(i) == '[') i = skip(closing(src, i) + 1)
    val out = Seq.newBuilder[Seq[String]]
    while (i < src.length && (src.charAt(i) == '(' || src.charAt(i) == '{')) {
      val e = closing(src, i)
      out += splitTop(src.substring(i + 1, math.min(e, src.length)))
      i = skip(e + 1)
    }
    out.result()
  }

  /** `body` split at its top-level commas; no parts when blank. */
  private def splitTop(body: String): Seq[String] = {
    val parts = Seq.newBuilder[String]
    var depth = 0
    var from = 0
    for (k <- body.indices) body.charAt(k) match {
      case '(' | '[' | '{' => depth += 1
      case ')' | ']' | '}' => depth -= 1
      case ',' if depth == 0 => parts += body.substring(from, k); from = k + 1
      case _ =>
    }
    if (body.trim.isEmpty) Nil else (parts += body.substring(from)).result()
  }

  private val named = raw"^\s*(\w+)\s*=(?![=>])".r
  private val paramName = raw"^\s*(?:implicit\s+)?(\w+)".r

  /** `obj.name.param` for every default-valued parameter of a public
    * def that no call site passes. */
  private lazy val unpassed: Set[String] = declared.flatMap {
    case (_, obj, name, _) if allowlist.contains(s"$obj.$name") => Nil
    case (path, obj, name, at) =>
      val sites = callSites(path, obj, name).map((groups _).tupled)
      groups(sources(path), at).zipWithIndex.flatMap { case (params, g) =>
        params.zipWithIndex.collect {
          case (p, i) if hasDefault(p) =>
            val param = paramName.findFirstMatchIn(p).get.group(1)
            val passed = sites.exists(_.lift(g).exists { args =>
              args.takeWhile(named.findFirstIn(_).isEmpty).size > i ||
                args.exists(named.findFirstMatchIn(_).exists(_.group(1) == param))
            })
            if (passed) None else Some(s"$obj.$name.$param")
        }.flatten
      }
  }.toSet

  /** A parameter declaration with a top-level `= default`. */
  private def hasDefault(p: String): Boolean = {
    var depth = 0
    p.indices.exists { k =>
      val c = p.charAt(k)
      if ("([{".indexOf(c) >= 0) depth += 1
      else if (")]}".indexOf(c) >= 0) depth -= 1
      c == '=' && depth == 0 &&
        !(k + 1 < p.length && "=>".indexOf(p.charAt(k + 1)) >= 0) &&
        !(k > 0 && "=<>!".indexOf(p.charAt(k - 1)) >= 0)
    }
  }

  private lazy val uncalled: Set[String] = declared.collect {
    case (path, obj, name, _) if callSites(path, obj, name).isEmpty =>
      s"$obj.$name"
  }.toSet

  test("the comment blanker skips string literals and nested comments") {
    val src = "val a = \"http://x /* y\" // tail\n" +
      "/* outer /* inner */ still */ val b = '\"' + \"\"\"a//b\"\"\""
    val out = SourceScan.stripComments(src)
    assert(out.contains("\"http://x /* y\"") && !out.contains("tail"))
    assert(!out.contains("inner") && !out.contains("still"))
    assert(out.contains("val b = '\"' + \"\"\"a//b\"\"\""))
    // literal text is blanked, interpolated code is kept, nested
    // literals included
    val msg = "require(ok, s\"see f(x) at ${g(\"h(1)\", y)} and $z$$w\") // c\n" +
      "val t = s\"\"\"a ${k(\"\"\" \"\"\")} b\"\"\"; val c = '('"
    assert(SourceScan.blankLiterals(msg) ==
      "require(ok, s\"            ${g(\"    \", y)}     $z   \")  \n" +
        "val t = s\"\"\"  ${k(\"\"\" \"\"\")}  \"\"\"; val c = ' '")
  }

  test("every public def of ops/, ml/, app/, streaming/ and conf/ has a caller " +
      "in src/main or perfbench/src, or an allowlisted reason") {
    assert(declared.size > 100, s"scan found only ${declared.size} defs")
    val dead = (uncalled -- allowlist.keySet).toSeq.sorted
    assert(dead.isEmpty,
      s"public defs with no caller in src/main or perfbench/src: " +
        dead.mkString(", "))
  }

  test("every default-valued parameter of those defs is passed by a call " +
      "in src/main or perfbench/src, or has an allowlisted reason") {
    assert(hasDefault("x: Int => Int = identity") && !hasDefault("f: A => B"))
    assert(groups("f[T](a, g(b, c))(d = 1) { e }", 1) ==
      Seq(Seq("a", " g(b, c)"), Seq("d = 1"), Seq(" e ")))
    val unset = (unpassed -- paramAllowlist.keySet).toSeq.sorted
    assert(unset.isEmpty,
      s"default-valued parameters no call in src/main or perfbench/src " +
        s"passes: ${unset.mkString(", ")}")
    val stale = (paramAllowlist.keySet -- unpassed).toSeq.sorted
    assert(stale.isEmpty,
      s"allowlisted parameters no longer declared, or now passed: $stale")
  }

  test("every allowlisted def is still declared and still has no caller") {
    val names = declared.map { case (_, o, n, _) => s"$o.$n" }.toSet
    val gone = (allowlist.keySet -- names).toSeq.sorted
    assert(gone.isEmpty, s"allowlisted defs no longer declared: $gone")
    val reached = (allowlist.keySet -- uncalled).toSeq.sorted
    assert(reached.isEmpty, s"allowlisted defs that now have a caller: $reached")
  }
}
