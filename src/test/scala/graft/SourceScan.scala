package graft

import scala.util.matching.Regex

// Source laws over `src/main/scala` (and `perfbench/src`): which files
// contain a code pattern. Comments are blanked first, so a scaladoc that
// names the pattern does not count; string literals are kept and skipped
// over, so a `//` or `/*` inside one starts no comment. Limit: a string
// nested inside an interpolation's `${...}` ends the outer literal early.
// Run from the repository root.
object SourceScan {
  def stripComments(src: String): String = {
    val out = new java.lang.StringBuilder(src.length)
    val n = src.length
    var i = 0
    // end (exclusive) of the string or char literal opening at `i`
    def literalEnd(i: Int): Int =
      if (src.startsWith("\"\"\"", i)) {
        val close = src.indexOf("\"\"\"", i + 3)
        var j = if (close < 0) n else close + 3
        while (j < n && src.charAt(j) == '"') j += 1
        j
      } else if (src.charAt(i) == '"') {
        var j = i + 1
        while (j < n && src.charAt(j) != '"' && src.charAt(j) != '\n')
          j += (if (src.charAt(j) == '\\') 2 else 1)
        math.min(j + 1, n)
      } else if (i + 2 < n && src.charAt(i + 2) == '\'') i + 3 // 'x'
      else if (i + 1 < n && src.charAt(i + 1) == '\\') {       // '\n'
        val close = src.indexOf('\'', i + 2)
        if (close < 0 || close > i + 8) i + 1 else close + 1
      } else i + 1                                            // a lone '
    while (i < n) {
      val c = src.charAt(i)
      if (c == '"' || c == '\'') {
        val j = literalEnd(i)
        out.append(src, i, j)
        i = j
      } else if (src.startsWith("//", i)) {
        val nl = src.indexOf('\n', i)
        out.append(' ')
        i = if (nl < 0) n else nl
      } else if (src.startsWith("/*", i)) {
        var depth = 1
        var j = i + 2
        while (j < n && depth > 0) {
          if (src.startsWith("/*", j)) { depth += 1; j += 2 }
          else if (src.startsWith("*/", j)) { depth -= 1; j += 2 }
          else j += 1
        }
        out.append(' ')
        i = j
      } else {
        out.append(c)
        i += 1
      }
    }
    out.toString
  }

  /** Comment-blanked sources of the `.scala` files under `root`, keyed
    * by their path relative to the repository root (`/`-separated). */
  def sources(root: String): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Paths.get(root)
    require(java.nio.file.Files.isDirectory(dir),
      s"run from the repository root: ${dir.toAbsolutePath} is missing")
    val walk = java.nio.file.Files.walk(dir)
    try walk.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p.toString.replace('\\', '/') ->
        stripComments(java.nio.file.Files.readString(p)))
      .toMap
    finally walk.close()
  }

  /** Main files (relative to `src/main/scala`, `/`-separated) whose
    * comment-blanked source matches `pattern`. */
  def mainFilesMatching(pattern: Regex): Set[String] =
    sources("src/main/scala").collect {
      case (p, src) if pattern.findFirstIn(src).isDefined =>
        p.stripPrefix("src/main/scala/")
    }.toSet
}
