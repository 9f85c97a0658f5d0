package graft

/** File helpers shared by the specs and test-scope tools. */
object TestFiles {
  /** Every file under `dir`, recursively, except those whose name starts
    * with `_` or `.` (commit markers, checksums, manifests). */
  def dataFiles(dir: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
      else Seq(f)
    walk(new java.io.File(dir)).filter(f =>
      !f.getName.startsWith("_") && !f.getName.startsWith("."))
  }
}
