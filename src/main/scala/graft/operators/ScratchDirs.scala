package graft.operators

/** Names of the per-source scratch directories the operators keep under
  * the build's own `target/` (fixtures, memoized artifacts, per-run state).
  * A directory name joins a kind with [[tag]] of the source directory, so
  * two scale factors never share state, and the names stay stable across
  * runs: memo stamps and re-run hygiene depend on them.
  */
object ScratchDirs {

  /** `name` (a source directory, a parameter list) as a file-name token:
    * every run of characters other than letters, digits and `.` becomes
    * one `_`.
    */
  def tag(name: String): String = name.replaceAll("[^A-Za-z0-9.]+", "_")

  /** Absolute local path of `target/parity/<name>`. */
  def parity(name: String): String =
    new java.io.File(s"target/parity/$name").getAbsoluteFile.toString
}
