package graft.io

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.GraftParquet
import org.apache.spark.sql.types.StructType

/** Row counts and schemas from parquet FOOTER metadata — the
  * audit-count primitive for the artifact-RMW gates (optimization guide §1.2:
  * don't compute what a cheaper action answers): a count identity over
  * files the op just wrote needs the files' own committed row counts,
  * and a parquet footer carries exactly that. Reading footers is
  * driver-side O(files) metadata I/O — no Spark job, no data pages —
  * and the pin is as strong as `spark.read.parquet(p).count()`: the
  * footer is written on commit, so a torn or truncated file fails the
  * read loudly rather than under-counting. */
object ParquetMeta {

  private def footerRows(p: Path): Long = {
    val in = HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(p.toUri), new Configuration())
    val r = ParquetFileReader.open(in)
    try r.getRecordCount finally r.close()
  }

  /** The Spark schema of `path` when it is one parquet file, read from
    * its footer on the driver with Spark's own conversion — what
    * `spark.read.parquet(path)` infers, without the inference job
    * (`mergeSchemasInParallel` runs one even for a single file). None
    * for a directory or a glob, whose schema inference must list and
    * merge. */
  def fileSchema(spark: SparkSession, path: String): Option[StructType] =
    if (!Files.isRegularFile(Paths.get(path))) None
    else GraftParquet.fileSchema(spark, path)

  /** Total committed rows across the parquet data files under each of
    * `dirs` (a bare file path also works). Only `part-*` data files
    * count, and none under a `_`- or `.`-prefixed directory — a
    * leftover `_temporary` attempt of an aborted task included —
    * matching what a Spark scan of the directory reads. Local
    * filesystem paths only. */
  def rowCount(dirs: String*): Long = dirs.iterator.map { d =>
    val root = Paths.get(d)
    if (Files.isRegularFile(root)) footerRows(root)
    else {
      def hiddenDir(p: Path): Boolean =
        root.relativize(p.getParent).iterator().asScala.exists { c =>
          val n = c.toString
          n.startsWith("_") || n.startsWith(".")
        }
      val s = Files.walk(root)
      try s.iterator().asScala
        .filter(p => Files.isRegularFile(p) &&
          p.getFileName.toString.startsWith("part-") &&
          p.getFileName.toString.endsWith(".parquet") && !hiddenDir(p))
        .map(footerRows).sum
      finally s.close()
    }
  }.sum
}
