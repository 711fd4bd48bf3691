package graft

/** The `src/main` source walk behind the source-lint specs
  * ([[BoundedCollectSpec]], [[SharedSessionSpec]], [[StorePublishSpec]]):
  * every line of every `.scala` file that contains one of `patterns` (or
  * a match of a regex), as (file name, "path:line: text"). Specs run from
  * the repo root.
  */
object SourceLint {

  val root = new java.io.File("src/main/scala")

  def hits(patterns: Seq[String]): Seq[(String, String)] =
    hitsWhere(line => patterns.exists(line.contains))

  /** [[hits]] for the lines `pattern` finds a match in. */
  def hits(pattern: scala.util.matching.Regex): Seq[(String, String)] =
    hitsWhere(pattern.findFirstIn(_).isDefined)

  private def hitsWhere(matches: String => Boolean): Seq[(String, String)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(root).filter(_.getName.endsWith(".scala")).flatMap { f =>
      new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8)
        .linesIterator.zipWithIndex.collect {
        case (line, i) if matches(line) =>
          (f.getName, s"${f.getPath}:${i + 1}: $line")
      }.toSeq
    }
  }

  /** [[hits]] without comment lines (a `//`, block or scaladoc opener
    * first). */
  def codeHits(patterns: Seq[String]): Seq[(String, String)] =
    code(hits(patterns))

  def codeHits(pattern: scala.util.matching.Regex): Seq[(String, String)] =
    code(hits(pattern))

  private def code(hits: Seq[(String, String)]): Seq[(String, String)] =
    hits.filterNot { case (_, h) =>
      val text = h.split(": ", 2)(1).trim
      text.startsWith("//") || text.startsWith("/*") || text.startsWith("*")
    }
}
