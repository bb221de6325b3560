package graft.sources

import java.io.StringReader
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.locationtech.jts.geom.{Coordinate, Geometry, LinearRing, Polygon}
import graft.geo.Geo

/** KML geometry source (reference S4: `st_read(x.kml)`,
  * R/functions.R:177,460) — no KML reader exists in Spark, so this is a
  * custom source (SURVEY §7.1 module 4).
  *
  * Architecture: the driver expands the paths and the files are read
  * whole in about `defaultParallelism` partitions ([[WholeText]]: no
  * listing job, unlike Spark's `text` source past 32 paths), then a
  * StAX pull parser explodes `<Placemark>` elements into (file, name,
  * description, WKB geometry) rows map-side. Z/M ordinates are dropped
  * on ingest (reference comment R/functions.R:429).
  */
object Kml {

  case class Feature(name: String, description: String,
      geometry: Array[Byte])

  /** Documents [[parseFeatures]] has parsed in this JVM — observable for
    * tests in local mode, like `StageCache.computeCount`.
    */
  val parsedDocuments = new java.util.concurrent.atomic.AtomicLong

  /** Read one or many KML files into (path, name, description, geometry).
    * `paths` are files or globs over files; `path` holds the file's URI
    * in `input_file_name()`'s form.
    */
  def read(spark: SparkSession, paths: String*): DataFrame =
    features(WholeText.read(spark, paths))

  /** [[read]] over the files [[WholeText.files]] listed, each read as is. */
  def readFiles(spark: SparkSession, files: Seq[String]): DataFrame =
    features(WholeText.readFiles(spark, files))

  private def features(docs: DataFrame): DataFrame = {
    val parse = udf { (xml: String) => parseFeatures(xml) }
    docs
      .select(col("path"), explode(parse(col("value"))).as("f"))
      .select(col("path"), col("f.name").as("name"),
        col("f.description").as("description"),
        col("f.geometry").as("geometry"))
  }

  /** StAX parse of a KML document → placemark features. Handles Polygon
    * (outer + inner rings), MultiGeometry fan-out (multi-Placemark certs
    * 725/726 pattern), Point, LineString; coordinates parsed as
    * "lon,lat[,z]" whitespace-separated tuples with Z dropped.
    */
  def parseFeatures(xml: String): Seq[Feature] = {
    parsedDocuments.incrementAndGet()
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    val r = f.createXMLStreamReader(new StringReader(xml))
    val out = scala.collection.mutable.ArrayBuffer[Feature]()

    var inPlacemark = false
    var name: String = null
    var description: String = null
    var geoms = scala.collection.mutable.ArrayBuffer[Geometry]()
    // polygon assembly state
    var outerRing: LinearRing = null
    var innerRings = scala.collection.mutable.ArrayBuffer[LinearRing]()
    var inOuter = false
    var inInner = false
    var geomKind: String = null // Point | LineString | Polygon
    var textTarget: String = null
    val text = new StringBuilder

    def coordsOf(s: String): Array[Coordinate] =
      s.trim.split("\\s+").filter(_.nonEmpty).map { tup =>
        val parts = tup.split(",")
        new Coordinate(parts(0).toDouble, parts(1).toDouble)
      }

    def finishGeom(kind: String, coordText: String): Unit = kind match {
      case "Point" =>
        val c = coordsOf(coordText)
        if (c.nonEmpty) geoms += Geo.factory.createPoint(c.head)
      case "LineString" =>
        geoms += Geo.factory.createLineString(coordsOf(coordText))
      case "ring" =>
        val ring = Geo.factory.createLinearRing(coordsOf(coordText))
        if (inOuter) outerRing = ring
        else if (inInner) innerRings += ring
      case _ =>
    }

    while (r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          r.getLocalName match {
            case "Placemark" =>
              inPlacemark = true; name = null; description = null
              geoms.clear()
            case "name" if inPlacemark =>
              textTarget = "name"; text.clear()
            case "description" if inPlacemark =>
              textTarget = "description"; text.clear()
            case "Point" => geomKind = "Point"
            case "LineString" => geomKind = "LineString"
            case "Polygon" =>
              geomKind = "Polygon"; outerRing = null; innerRings.clear()
            case "outerBoundaryIs" => inOuter = true
            case "innerBoundaryIs" => inInner = true
            case "coordinates" => textTarget = "coordinates"; text.clear()
            case _ =>
          }
        case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA =>
          if (textTarget != null) text.append(r.getText)
        case XMLStreamConstants.END_ELEMENT =>
          r.getLocalName match {
            case "name" if textTarget == "name" =>
              name = text.toString.trim; textTarget = null
            case "description" if textTarget == "description" =>
              description = text.toString.trim; textTarget = null
            case "coordinates" =>
              finishGeom(if (geomKind == "Polygon") "ring" else geomKind,
                text.toString)
              textTarget = null
            case "outerBoundaryIs" => inOuter = false
            case "innerBoundaryIs" => inInner = false
            case "Polygon" =>
              if (outerRing != null)
                geoms += Geo.factory.createPolygon(outerRing,
                  innerRings.toArray)
              geomKind = null
            case "Point" | "LineString" => geomKind = null
            case "Placemark" =>
              inPlacemark = false
              if (geoms.nonEmpty) {
                // one feature per Placemark; MultiGeometry children are
                // collected (not dissolved — reference st_combine shape)
                val g = if (geoms.length == 1) geoms.head
                        else Geo.collect(geoms.toSeq)
                out += Feature(name, description, Geo.toWkb(g))
              }
            case _ =>
          }
        case _ =>
      }
    }
    r.close()
    out.toSeq
  }
}
