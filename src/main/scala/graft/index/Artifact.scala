package graft.index

/** The one error a stamped index raises when an artifact that every
  * current build writes before its stamp is absent. No reader keeps a
  * fallback for a layout without it: the state is a damaged layout, and
  * the recovery is to rebuild the index. */
private[graft] object Artifact {
  def missing(path: String): IllegalStateException =
    new IllegalStateException(s"$path is missing — rebuild the index")

  /** `read` of the artifact at `path`, or [[missing]] when it is absent. */
  def required[T](path: String)(read: => T): T =
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(path))) read
    else throw missing(path)
}
