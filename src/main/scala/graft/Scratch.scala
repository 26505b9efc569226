package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame

/** One gate run's temp space: a `graft-<gate>*` directory under
  * `java.io.tmpdir`, opened by [[Scratch.within]]. This is the only code
  * in the program that creates or deletes a temp directory; staged
  * layouts, persisted artifacts, streaming checkpoints and sink output
  * all live inside a scope, so a run leaves nothing behind however it
  * ends. */
final class Scratch private (root: Path) {

  /** When the scope opened: file-stream helpers date the files they
    * plant from it, so their listing order is the scope's own. */
  val opened: Long = System.currentTimeMillis()

  /** A fresh empty directory inside the scope. */
  def dir(role: String): Path = Files.createTempDirectory(root, role)
}

object Scratch {

  /** Run `body` in a fresh scope and delete the scope in `finally`.
    * Each gate's result stands on its own: the caller may use it after
    * the scope is gone. So when the body's frame still reads a file
    * under the scope, it is cut off it here, with one `localCheckpoint`.
    * A frame that reads nothing there (memory-sink rows, a frame that
    * is already checkpointed, a plain read of the input tables) is
    * returned as it is, with no extra job. */
  def within(gate: String)(body: Scratch => DataFrame): DataFrame = {
    val root = Files.createTempDirectory(s"graft-$gate")
    try {
      val df = body(new Scratch(root))
      val under = root.toAbsolutePath.toString + java.io.File.separator
      val readsScope = df.inputFiles.exists(f =>
        new org.apache.hadoop.fs.Path(f).toUri.getPath.startsWith(under))
      // the scope's one cut: the result must outlive the files it reads
      if (readsScope) df.localCheckpoint() else df
    } finally deltree(root)
  }

  /** Best-effort recursive delete (checkpoint trees are directories of
    * directories; a failed delete must not fail the gate). */
  private def deltree(root: Path): Unit =
    try {
      val walk = Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.deleteIfExists(p))
      finally walk.close()
    } catch {
      case _: java.io.IOException | _: java.io.UncheckedIOException => ()
    }
}
