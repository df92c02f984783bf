package graft

import org.scalatest.Assertions._

/** The `src/main/scala` sources the guard specs scan: every `.scala`
  * file under it as (file name, text), in path order.
  */
object SourceScan {
  def mainSources: Seq[(String, String)] = {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"no sources at ${root.getAbsolutePath}")
    def scalaFiles(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles.toSeq.sortBy(_.getName).flatMap(scalaFiles)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    scalaFiles(root).map { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try f.getName -> src.mkString finally src.close()
    }
  }

  /** Every match of `re` in `sources`, as "File.scala:line". */
  def sites(sources: Seq[(String, String)],
      re: scala.util.matching.Regex): Seq[String] =
    sources.flatMap { case (name, text) =>
      re.findAllMatchIn(text).map { m =>
        s"$name:${text.substring(0, m.start).count(_ == '\n') + 1}"
      }
    }
}
