package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

/** A derived artifact on local disk (a fixture split, a trained model, a
  * persisted index) memoized across runs and JVMs behind a stamp: a marker
  * file inside the artifact's directory records the stamp of the inputs it
  * was built from. The marker is written only after `build` returns, so a
  * crash mid-build never leaves a valid marker on a partial artifact, and
  * a changed stamp (regenerated source data, a bumped version tag)
  * rebuilds it.
  */
object StampedArtifact {

  /** Run `build` unless `dir/marker` already holds exactly `stamp`, then
    * record `stamp`. Returns true when the artifact was already valid
    * (nothing was built).
    */
  def getOrBuild(dir: String, marker: String, stamp: String)(
      build: => Unit): Boolean = {
    val m = new java.io.File(dir, marker).toPath
    val valid = Files.isRegularFile(m) &&
      new String(Files.readAllBytes(m), UTF_8) == stamp
    if (!valid) {
      build
      Files.write(m, stamp.getBytes(UTF_8))
    }
    valid
  }
}
