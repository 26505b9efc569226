package graft

import java.nio.file.Paths

/** The reference validator's fixtures, rebuilt under
  * `src/test/resources/reference/` (see the README there). */
object ReferenceFixtures {

  /** Filesystem path of `rel` under the fixture root. */
  def path(rel: String): String =
    Paths.get(getClass.getResource(s"/reference/$rel").toURI).toString
}
