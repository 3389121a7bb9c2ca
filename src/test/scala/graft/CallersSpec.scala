package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source law: every public def of the library objects under `ops/`,
  * `ml/`, `app/` and `streaming/` has a caller in `src/main/scala` or
  * `perfbench/src`, so code that only specs reach does not pile up.
  *
  * A def counts as called when the comment-blanked sources hold
  * `Object.name` anywhere, `name` unqualified in its own file (beyond
  * its declaration), or `name` in a file importing `Object._` or
  * `Object.{... name ...}`. A def is public when it sits at the
  * object's top level (two-space indent) with no access modifier; a
  * `main` is called by the JVM. Limits: a local or a named argument
  * spelled like the def counts as a caller in its own file, and a def
  * reached only through a renaming import is not seen. */
class CallersSpec extends AnyFunSuite {

  /** Kept without a main caller; each reason names who needs the def. */
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

  private val packages = Seq("ops", "ml", "app", "streaming")
  private val objectDecl = raw"(?m)^object\s+(\w+)".r
  private val publicDef =
    raw"(?m)^  (?:(?:final|override|implicit)\s+)*def\s+(\w+)".r

  private lazy val sources =
    SourceScan.sources("src/main/scala") ++ SourceScan.sources("perfbench/src")

  /** (file, object, def) for every public def of a library object. */
  private lazy val declared: Seq[(String, String, String)] =
    sources.toSeq.sortBy(_._1).flatMap { case (path, src) =>
      if (!packages.exists(p => path.startsWith(s"src/main/scala/graft/$p/")))
        Nil
      else objectDecl.findAllMatchIn(src).toSeq.flatMap { m =>
        val end = src.indexOf("\n}", m.end) match {
          case -1 => src.length
          case e => e
        }
        publicDef.findAllMatchIn(src.substring(m.end, end))
          .map(d => (path, m.group(1), d.group(1)))
          .filter(_._3 != "main")
      }
    }

  private def called(path: String, obj: String, name: String): Boolean = {
    val q = java.util.regex.Pattern.quote _
    val qualified = raw"\b${q(obj)}\s*\.\s*${q(name)}\b".r
    val bare = raw"(?<![.\w])${q(name)}\b".r
    val decl = raw"\bdef\s+${q(name)}\b".r
    val imports =
      raw"import\s+[\w.]*\b${q(obj)}\s*\.\s*(?:_|\{[^}]*\b${q(name)}\b)".r
    sources.values.exists(qualified.findFirstIn(_).isDefined) ||
      bare.findAllIn(sources(path)).size >
        decl.findAllIn(sources(path)).size ||
      sources.exists { case (p, src) =>
        p != path && imports.findFirstIn(src).isDefined &&
          bare.findFirstIn(src).isDefined }
  }

  private lazy val uncalled: Set[String] = declared.collect {
    case (path, obj, name) if !called(path, obj, name) => s"$obj.$name"
  }.toSet

  test("the comment blanker skips string literals and nested comments") {
    val src = "val a = \"http://x /* y\" // tail\n" +
      "/* outer /* inner */ still */ val b = '\"' + \"\"\"a//b\"\"\""
    val out = SourceScan.stripComments(src)
    assert(out.contains("\"http://x /* y\"") && !out.contains("tail"))
    assert(!out.contains("inner") && !out.contains("still"))
    assert(out.contains("val b = '\"' + \"\"\"a//b\"\"\""))
  }

  test("every public def of ops/, ml/, app/ and streaming/ has a caller " +
      "in src/main or perfbench/src, or an allowlisted reason") {
    assert(declared.size > 100, s"scan found only ${declared.size} defs")
    val dead = (uncalled -- allowlist.keySet).toSeq.sorted
    assert(dead.isEmpty,
      s"public defs with no caller in src/main or perfbench/src: " +
        dead.mkString(", "))
  }

  test("every allowlisted def is still declared and still has no caller") {
    val names = declared.map { case (_, o, n) => s"$o.$n" }.toSet
    val gone = (allowlist.keySet -- names).toSeq.sorted
    assert(gone.isEmpty, s"allowlisted defs no longer declared: $gone")
    val reached = (allowlist.keySet -- uncalled).toSeq.sorted
    assert(reached.isEmpty, s"allowlisted defs that now have a caller: $reached")
  }
}
