package graft

import org.scalatest.Assertions._

/** The `src/main/scala` sources as (file name, content), in one walk
  * order — shared by the specs that pin a design rule by scanning the
  * code. Run from the repo root. */
object MainSources {
  def apply(): Seq[(String, String)] = {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repo root (no ${root.getPath})")
    def files(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten.flatMap(f =>
        if (f.isDirectory) files(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil)
    files(root).map(f => f.getName ->
      new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
  }
}
