package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites — one JVM-wide SparkSession, built by
  * the same factory as the entry points — and the suites' one scratch
  * root. */
object SparkSpec {

  /** One scratch root per test JVM under `java.io.tmpdir`, deleted with
    * all it holds when the JVM exits. The hook runs after Spark's own
    * shutdown hooks (lower priority in the same Hadoop hook manager), so
    * no stopping writer or stream still holds a file in it. */
  private lazy val scratch: Path = {
    val root = Files.createTempDirectory("graft-test")
    org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
      () => org.apache.commons.io.FileUtils.deleteQuietly(root.toFile), 0)
    root
  }

  /** A fresh directory `prefix*` under the scratch root: every test temp
    * dir is made here, so a test run leaves nothing in `java.io.tmpdir`. */
  def tempDir(prefix: String): Path = Files.createTempDirectory(scratch, prefix)

  /** The entries of `java.io.tmpdir` named `prefix*`: diffed before and
    * after a run, they show what the run left behind, whatever was
    * there already. */
  def tmpEntries(prefix: String): Set[String] =
    Option(new java.io.File(System.getProperty("java.io.tmpdir")).list())
      .getOrElse(Array.empty[String])
      .filter(_.startsWith(prefix)).toSet

  lazy val spark: SparkSession = Session.create("graft-test",
    // keep catalog tables (bucketing tests) out of the repo tree
    "spark.sql.warehouse.dir" -> tempDir("graft-warehouse").toString)
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
}
