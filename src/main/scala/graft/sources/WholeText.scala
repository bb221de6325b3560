package graft.sources

import java.net.URI
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Whole-file text input shared by the KML and HTML-table sources: one
  * (path, value) row per file, for small-file corpora that a map-side
  * parser explodes into rows.
  *
  * `paths` are files or globs over files (comma-free). The driver
  * expands them with Hadoop's `globStatus` — the expansion
  * `spark.read.text` applies too, hidden `_`/`.` files skipped — and the
  * files are read whole in about `defaultParallelism` partitions. No
  * Spark job lists them: `spark.read.text` would list more than
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32) root
  * paths with a job of one task per file.
  */
object WholeText {

  def read(spark: SparkSession, paths: Seq[String]): DataFrame = {
    import spark.implicits._
    val sc = spark.sparkContext
    sc.wholeTextFiles(paths.mkString(","), sc.defaultParallelism)
      .map { case (file, text) => (inputFileName(file), text) }
      .toDF("path", "value")
  }

  /** The string `input_file_name()` gives for a Hadoop path: URL-encoded,
    * and `file:///…` rather than `file:/…` for local files.
    */
  private def inputFileName(file: String): String = {
    val u = new Path(file).toUri
    new URI(u.getScheme, Option(u.getAuthority).getOrElse(""), u.getPath,
      null, null).toString
  }
}
