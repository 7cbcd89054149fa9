package graft

/** The source scan the guard specs share: (path relative to
  * src/main/scala, source text) of every main file. Specs run from the
  * repo root.
  */
object MainSources {
  lazy val all: Seq[(String, String)] = {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repo root: $root")
    val out = Seq.newBuilder[(String, String)]
    val it = java.nio.file.Files.walk(root).iterator()
    while (it.hasNext) {
      val p = it.next()
      if (p.toString.endsWith(".scala"))
        out += root.relativize(p).toString ->
          new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
    }
    out.result()
  }
}
