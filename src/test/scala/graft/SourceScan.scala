package graft

import scala.util.matching.Regex

// Source laws over `src/main/scala` (and `perfbench/src`): which files
// contain a code pattern. Comments are blanked first, so a scaladoc that
// names the pattern does not count; string literals are skipped over, so
// a `//` or `/*` inside one starts no comment, and an interpolation's
// `${...}` body is scanned as code, nested literals included.
// Run from the repository root.
object SourceScan {
  def stripComments(src: String): String = scan(src, blankLiterals = false)

  /** [[stripComments]], and the text of every string and char literal
    * replaced by spaces (newlines kept): a name spelled in a message is
    * not a call. Quotes and the code of `$name` and `${...}`
    * interpolations stay. */
  def blankLiterals(src: String): String = scan(src, blankLiterals = true)

  private def scan(src: String, blankLiterals: Boolean): String = {
    val out = new java.lang.StringBuilder(src.length)
    val n = src.length
    def text(from: Int, to: Int): Unit =
      if (!blankLiterals) out.append(src, from, to)
      else for (k <- from until to)
        out.append(if (src.charAt(k) == '\n') '\n' else ' ')
    // end (exclusive) of the char literal or lone quote opening at `i`
    def charEnd(i: Int): Int =
      if (i + 2 < n && src.charAt(i + 2) == '\'') i + 3      // 'x'
      else if (i + 1 < n && src.charAt(i + 1) == '\\') {    // '\n'
        val close = src.indexOf('\'', i + 2)
        if (close < 0 || close > i + 8) i + 1 else close + 1
      } else i + 1                                            // a lone '
    def ident(c: Char) = c.isLetterOrDigit || c == '_'
    // the string literal opening at `i`; returns its end (exclusive)
    def string(i: Int): Int = {
      val interpolated = i > 0 && ident(src.charAt(i - 1))
      val triple = src.startsWith("\"\"\"", i)
      val quote = if (triple) 3 else 1
      out.append(src, i, i + quote)
      var j = i + quote
      while (j < n) {
        val c = src.charAt(j)
        if (triple && src.startsWith("\"\"\"", j)) {
          var e = j + 3
          while (e < n && src.charAt(e) == '"') e += 1
          text(j, e - 3)
          out.append("\"\"\"")
          return e
        } else if (!triple && c == '"') { out.append(c); return j + 1 }
        else if (!triple && c == '\n') return j
        else if (interpolated && src.startsWith("${", j)) {
          out.append("${")
          j = code(j + 2, nested = true)
          if (j < n) out.append('}')
          j += 1
        } else if (interpolated && c == '$' && j + 1 < n &&
            ident(src.charAt(j + 1))) {
          var e = j + 1
          while (e < n && ident(src.charAt(e))) e += 1
          out.append(src, j, e)
          j = e
        } else {
          val step =
            if (!triple && c == '\\' || interpolated && c == '$') 2 else 1
          val e = math.min(j + step, n)
          text(j, e)
          j = e
        }
      }
      n
    }
    // code from `start`; when `nested`, up to the `}` that closes an
    // interpolation's `${` (returned), else to the end of `src`
    def code(start: Int, nested: Boolean): Int = {
      var i = start
      var depth = 0
      while (i < n) {
        val c = src.charAt(i)
        if (c == '"') i = string(i)
        else if (c == '\'') {
          val j = charEnd(i)
          if (j - i < 3) out.append(src, i, j)
          else { out.append(c); text(i + 1, j - 1); out.append(c) }
          i = j
        } else if (src.startsWith("//", i)) {
          val nl = src.indexOf('\n', i)
          out.append(' ')
          i = if (nl < 0) n else nl
        } else if (src.startsWith("/*", i)) {
          var d = 1
          var j = i + 2
          while (j < n && d > 0) {
            if (src.startsWith("/*", j)) { d += 1; j += 2 }
            else if (src.startsWith("*/", j)) { d -= 1; j += 2 }
            else j += 1
          }
          out.append(' ')
          i = j
        } else if (nested && c == '}' && depth == 0) return i
        else {
          if (c == '{') depth += 1
          if (c == '}') depth -= 1
          out.append(c)
          i += 1
        }
      }
      n
    }
    code(0, nested = false)
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
