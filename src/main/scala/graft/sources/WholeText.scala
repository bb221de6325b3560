package graft.sources

import java.io.FileNotFoundException
import java.net.URI
import org.apache.hadoop.fs.{FileStatus, Path, PathFilter}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Whole-file text input shared by the KML and HTML-table sources: one
  * (path, value) row per file, for small-file corpora that a map-side
  * parser explodes into rows.
  *
  * `paths` are files or globs over files (comma-free). [[files]] expands
  * them on the driver with Hadoop's `globStatus` — the expansion
  * `spark.read.text` applies too, hidden `_`/`.` files skipped — and
  * [[readFiles]] reads exactly that list, whole, in about
  * `defaultParallelism` partitions. A caller that keys a result on the
  * input files expands once and reads the same list, so a file added in
  * between is neither read nor keyed. No Spark job lists the files:
  * `spark.read.text` would list more than
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32) root
  * paths with a job of one task per file.
  */
object WholeText {

  def read(spark: SparkSession, paths: Seq[String]): DataFrame =
    readFiles(spark, files(spark, paths))

  /** The files `paths` name: each glob's non-hidden matches, a
    * matched directory's non-hidden files. A path that matches nothing
    * fails, as a Hadoop input path does.
    */
  def files(spark: SparkSession, paths: Seq[String]): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val visible: PathFilter = p => !p.getName.startsWith("_") &&
      !p.getName.startsWith(".")
    paths.flatMap { p =>
      val glob = new Path(p)
      val matched = Option(glob.getFileSystem(conf).globStatus(glob, visible))
        .getOrElse(Array.empty[FileStatus])
      if (matched.isEmpty)
        throw new FileNotFoundException(s"Input path $p matches 0 files")
      matched.toSeq.flatMap { st =>
        if (st.isFile) Seq(st)
        else st.getPath.getFileSystem(conf).listStatus(st.getPath, visible)
          .toSeq.filter(_.isFile)
      }.map(_.getPath.toString)
    }
  }

  /** Reads files as [[files]] lists them: each path is taken literally. */
  def readFiles(spark: SparkSession, files: Seq[String]): DataFrame = {
    import spark.implicits._
    val sc = spark.sparkContext
    // the input format globs each path again: escape the glob
    // metacharacters so a listed file names only itself
    val literal = files.map(_.replaceAll("""([\\*?\[\]{}])""", """\\$1"""))
    sc.wholeTextFiles(literal.mkString(","), sc.defaultParallelism)
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
