package graft

/** Line-based scans of `src/main/scala` for the source-scan specs
  * (`PersistInventorySpec`, `HarnessSpec`): per-file counts of a needle
  * on comment-stripped lines. */
private[graft] object SourceScan {

  private val root = new java.io.File("src/main/scala")

  // Comments stripped before counting: a scaladoc line that merely
  // MENTIONS .persist( is not a persist site, and commented-out code
  // is not a live one. Deliberately LINE-based, never a dotall regex:
  // block-comment OPENERS occur inside glob STRING literals in this
  // repo ("$dir/*.tfrecord*" in Export.scala, "$dir/*.warc" in
  // SparkEntry.scala), and a multi-line block-comment regex would
  // swallow every line of real code from there to the next closer —
  // a silent false-PASS, the exact failure these specs exist to stop.
  // Rules: a line whose trimmed form starts with a line comment, a
  // block opener, or '*' (this codebase's scaladoc continuation
  // style) is a comment line; otherwise a trailing line comment
  // truncates only when preceded by an EVEN number of quotes (so
  // "http://..." survives). An inline same-line block comment is
  // left in — over-counting a mention fails LOUD (count mismatch a
  // human reads), which is the safe direction.
  private def stripComments(src: String): String =
    src.linesIterator.flatMap { l =>
      val t = l.trim
      if (t.startsWith("//") || t.startsWith("/*") || t.startsWith("*")) None
      else {
        var i = l.indexOf("//")
        while (i >= 0 && l.substring(0, i).count(_ == '"') % 2 == 1)
          i = l.indexOf("//", i + 1)
        Some(if (i >= 0) l.substring(0, i) else l)
      }
    }.mkString("\n")

  private def countIn(f: java.io.File, needle: String): Int = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    val text = try src.mkString finally src.close()
    stripComments(text).linesIterator.count(_.contains(needle))
  }

  /** Per-file counts (path from the repo root) of the comment-stripped
    * lines that contain `needle`, files with none left out. */
  def sites(needle: String): Map[String, Int] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    walk(root)
      .map(f => f.getPath.replace('\\', '/') -> countIn(f, needle))
      .filter(_._2 > 0).toMap
  }
}
