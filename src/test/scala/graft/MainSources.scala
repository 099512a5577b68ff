package graft

/** The program's sources under src/main/scala, read as text for the
  * specs' source guards. Paths are relative to that directory; specs run
  * from the project root. */
object MainSources {
  private val root = new java.io.File("src/main/scala")

  /** Files other than `allowed` whose text matches `pattern` (comments
    * included, as grep reads them). */
  def offenders(pattern: String, allowed: Set[String]): Seq[String] = {
    require(root.isDirectory, s"run from the project root: ${root.getAbsolutePath}")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Seq.empty
    val re = pattern.r
    walk(root).map(f => root.toPath.relativize(f.toPath).toString.replace('\\', '/'))
      .filter(rel => !allowed(rel) && re.findFirstIn(text(rel)).isDefined)
  }

  /** Text of `rel` under src/main/scala. */
  def text(rel: String): String = {
    val src = scala.io.Source.fromFile(new java.io.File(root, rel), "UTF-8")
    try src.mkString finally src.close()
  }
}
