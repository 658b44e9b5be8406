package graft

/** Shared helpers of the source-guard specs ([[WindowGuardSpec]],
  * [[MemoGuardSpec]], [[NativeCallGuardSpec]]), which scan the main sources
  * for a construct and fail on any site not on their allowlist. */
object SourceScan {

  def scalaFiles(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(scalaFiles)
    else if (f.getName.endsWith(".scala")) Seq(f) else Nil

  /** Every main `.scala` file under `root` (relative to the repo root), as
    * (path relative to `root`, raw source). */
  def files(root: String): Seq[(String, String)] = {
    val dir = new java.io.File(root)
    assert(dir.isDirectory, s"guard must run from the repo root: $dir missing")
    scalaFiles(dir).map { f =>
      dir.toPath.relativize(f.toPath).toString ->
        new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    }
  }

  /** [[files]] with comments stripped. */
  def sources(root: String): Seq[(String, String)] =
    files(root).map { case (rel, src) => rel -> stripComments(src) }

  /** The string literals of `src` outside comments, as (1-based line,
    * content, the source line's text before the literal). Scanning left to
    * right, whichever of a triple-quoted string, a block comment, a line
    * comment or a single-line string starts first wins, so a quote inside a
    * comment opens no literal and a `//` inside a literal starts no comment.
    * Same heuristic limits as [[stripComments]]. */
  def stringLiterals(src: String): Seq[(Int, String, String)] = {
    val newlines = src.indices.filter(src(_) == '\n').toArray
    "(?s)\"\"\"(.*?)\"\"\"|/\\*.*?\\*/|//[^\\n]*|\"((?:\\\\.|[^\"\\\\\\n])*)\"".r
      .findAllMatchIn(src).flatMap { m =>
        // a literal starts at a quote, never at a newline: the search
        // misses and returns -(newlines before the start) - 1
        val line = -java.util.Arrays.binarySearch(newlines, m.start)
        val lineStart = if (line == 1) 0 else newlines(line - 2) + 1
        Option(m.group(1)).orElse(Option(m.group(2)))
          .map((line, _, src.substring(lineStart, m.start)))
      }.toSeq
  }

  /** Strip block and line comments so doc-text mentions of a guarded
    * construct don't count as sites. String LITERALS are masked FIRST
    * (triple-quoted, then single-line with escape handling): a `//` inside a
    * string (a URL, a path pattern) must not truncate the rest of the source
    * line, or a real site appearing after it on the same line would be
    * silently invisible to the guard (round-12 ADVICE).
    *
    * Known heuristic limit (accepted, with bounded damage): an UNBALANCED
    * double quote inside a comment can mask code up to the next quote on
    * the SAME line only (the single-line literal pattern excludes
    * newlines, so it cannot swallow multi-line code). */
  def stripComments(src: String): String = {
    val noStrings = src
      .replaceAll("(?s)\"\"\".*?\"\"\"", "\"S\"")
      .replaceAll("\"(?:\\\\.|[^\"\\\\\\n])*\"", "\"S\"")
    noStrings.replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("(?m)//.*$", "")
  }
}
