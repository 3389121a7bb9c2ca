package graft

import scala.util.matching.Regex

// Source laws over `src/main/scala`: which main files contain a code
// pattern. Comments are blanked first, so a scaladoc that names the
// pattern does not count. Limit: a `//` or `/*` inside a string
// literal is read as a comment start. Run from the repository root.
object SourceScan {
  private val comment = raw"(?s)/\*.*?\*/|//[^\n]*".r

  def stripComments(src: String): String = comment.replaceAllIn(src, " ")

  /** Main files (relative to `src/main/scala`, `/`-separated) whose
    * comment-blanked source matches `pattern`. */
  def mainFilesMatching(pattern: Regex): Set[String] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    require(java.nio.file.Files.isDirectory(root),
      s"run from the repository root: ${root.toAbsolutePath} is missing")
    val walk = java.nio.file.Files.walk(root)
    try walk.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => pattern.findFirstIn(
        stripComments(java.nio.file.Files.readString(p))).isDefined)
      .map(p => root.relativize(p).toString.replace('\\', '/'))
      .toSet
    finally walk.close()
  }
}
