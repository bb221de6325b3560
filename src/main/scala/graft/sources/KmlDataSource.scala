package graft.sources

import java.util
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Formal DataSourceV2 KML source: `spark.read.format("kml").load(path)`
  * (SURVEY S4/§7.1 module 4 — "Implement KmlRelation (DataSourceV2)").
  *
  * One InputPartition per KML file; each partition's reader StAX-parses
  * its file into (path, name, description, geometry WKB) rows. File
  * listing happens at planning time on the driver, as in [[Kml.read]],
  * which has the same schema but packs the files into about
  * `defaultParallelism` partitions instead of one per file.
  */
class KmlDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "kml"

  override def inferSchema(
      options: CaseInsensitiveStringMap): StructType =
    KmlDataSource.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new KmlTable(properties.asScala.getOrElse("path",
      throw new IllegalArgumentException("kml source requires a path")))
}

object KmlDataSource {
  val schema: StructType = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("name", StringType, nullable = true),
    StructField("description", StringType, nullable = true),
    StructField("geometry", BinaryType, nullable = true)))

  /** Resolve a path spec to KML files. Globs are supported in the FINAL
    * segment only (a trailing "star.kml" pattern); a glob in a directory
    * component is rejected loudly rather than silently matching nothing.
    * Directory streams are closed (repeated driver-side scans must not
    * leak fds).
    */
  def listFiles(pathSpec: String): Seq[String] = {
    def listDir(dir: java.nio.file.Path,
        keep: java.nio.file.Path => Boolean): Seq[String] = {
      val s = java.nio.file.Files.list(dir)
      try s.iterator().asScala.filter(keep).map(_.toString).toSeq.sorted
      finally s.close()
    }
    val p = java.nio.file.Paths.get(pathSpec)
    if (java.nio.file.Files.isDirectory(p))
      listDir(p, _.toString.toLowerCase.endsWith(".kml"))
    else if (pathSpec.contains("*")) {
      val fileName = p.getFileName.toString
      val dir = Option(p.getParent)
        .getOrElse(java.nio.file.Paths.get("."))
      require(!dir.toString.contains("*"),
        s"glob only supported in the final path segment: $pathSpec")
      val matcher = java.nio.file.FileSystems.getDefault
        .getPathMatcher(s"glob:$fileName")
      listDir(dir, f => matcher.matches(f.getFileName))
    } else Seq(pathSpec)
  }
}

class KmlTable(path: String) extends Table with SupportsRead {
  override def name(): String = s"kml:$path"
  override def schema(): StructType = KmlDataSource.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    () => new KmlScan(path)
}

class KmlScan(path: String) extends Scan with Batch {
  override def readSchema(): StructType = KmlDataSource.schema
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    KmlDataSource.listFiles(path).map(KmlInputPartition(_): InputPartition)
      .toArray
  override def createReaderFactory(): PartitionReaderFactory =
    new KmlReaderFactory
}

case class KmlInputPartition(file: String) extends InputPartition

class KmlReaderFactory extends PartitionReaderFactory {
  override def createReader(
      partition: InputPartition): PartitionReader[InternalRow] = {
    val file = partition.asInstanceOf[KmlInputPartition].file
    new PartitionReader[InternalRow] {
      private val features = Kml.parseFeatures(
        new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(file)), "UTF-8")).iterator
      override def next(): Boolean = features.hasNext
      override def get(): InternalRow = {
        val f = features.next()
        InternalRow(
          UTF8String.fromString(file),
          if (f.name == null) null else UTF8String.fromString(f.name),
          if (f.description == null) null
          else UTF8String.fromString(f.description),
          f.geometry)
      }
      override def close(): Unit = ()
    }
  }
}
