package graft

import java.nio.file.{Files, Path}

/** Content-aware guards for derived /tmp fixtures (staged stream
  * slices, partitioned rewrites, CSV round-trip inputs, persisted
  * layouts). A marker keyed only on the source *path* would let a
  * fixture staged from an earlier testdata generation survive and feed
  * stale rows to the oracle, so every marker records a fingerprint of
  * the source file(s) — size + mtime — and a fixture is only reused
  * while the fingerprint matches; otherwise its directory is cleared
  * and rebuilt.
  */
object Fixtures {

  /** size+mtime fingerprint of the given source files, one line each. */
  def fingerprint(srcs: Seq[String]): String =
    srcs.map { p =>
      val f = java.nio.file.Paths.get(p)
      val size = if (Files.exists(f)) Files.size(f) else -1L
      val mtime =
        if (Files.exists(f)) Files.getLastModifiedTime(f).toMillis else -1L
      s"$p\t$size\t$mtime"
    }.mkString("\n")

  /** Marker exists and matches the current fingerprint of `srcs`. */
  private def markerCurrent(marker: Path, srcs: String*): Boolean =
    Files.exists(marker) &&
      new String(Files.readAllBytes(marker),
        java.nio.charset.StandardCharsets.UTF_8) == fingerprint(srcs)

  /** Write (or overwrite) the marker with the current fingerprint. */
  private def writeMarker(marker: Path, srcs: String*): Unit = {
    Files.createDirectories(marker.getParent)
    Files.write(marker, fingerprint(srcs)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Build the fixture in `dir` unless its `_STAGED` marker matches the
    * current fingerprint of `srcs`: clear `dir`, run `build`, then write
    * the marker, so a build that dies midway is redone in full. Returns
    * `dir`.
    */
  def staged(dir: Path, srcs: String*)(build: => Unit): Path = {
    val marker = dir.resolve("_STAGED")
    if (!markerCurrent(marker, srcs: _*)) {
      clearDir(dir)
      build
      writeMarker(marker, srcs: _*)
    }
    dir
  }

  /** Recursively delete the contents of `dir` (and the dir itself) so a
    * rebuild starts clean — stale part-files must not survive next to a
    * fresh write.
    */
  def clearDir(dir: Path): Unit = {
    if (Files.exists(dir)) {
      import scala.jdk.CollectionConverters._
      Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(p => Files.deleteIfExists(p))
    }
  }
}
