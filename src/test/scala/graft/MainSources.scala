package graft

import java.io.File

import scala.util.matching.Regex

/** The main sources as code text, comments stripped — for guard specs that
  * pin which files may contain some kind of call. */
object MainSources {
  private val root = new File("src/main/scala")
  private val comment = """(?s)/\*.*?\*/|//[^\n]*""".r

  /** `path: match` for every match of `call` in a file whose path under
    * `src/main/scala` is not in `allowed`, sorted. */
  def offenders(call: Regex, allowed: Set[String]): Seq[String] = {
    require(root.isDirectory, s"no $root under ${new File(".").getAbsolutePath}")
    def files(d: File): Seq[File] =
      d.listFiles.toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    files(root).filter(_.getName.endsWith(".scala")).flatMap { f =>
      val path = root.toPath.relativize(f.toPath).toString
      if (allowed(path)) Nil
      else {
        val src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        call.findAllIn(comment.replaceAllIn(src, "")).map(m => s"$path: $m").toSeq
      }
    }.sorted
  }
}
