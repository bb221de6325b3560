package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.GeoFunctions
import graft.functions.GeoFunctions._
import graft.geo.Geo
import graft.sources.GeoJson

/** FULL-SCALE golden replay (SURVEY §5 golden end-to-end): rebuild the
  * reference's cleaned 108-feature layer from its raw 130-feature layer
  * + the real scraped CSV + the real pipeline config (_targets.R
  * operator/inactive/merge lists — configuration data, re-keyed here),
  * running entirely through engine operators. PLSS-patch geometries
  * (an ArcGIS fetch in the reference) come from the golden layer as
  * fixtures, standing in for the isolated network source.
  *
  * Geometry equality vs the golden output uses symmetric-difference
  * area (the reference's unions ran through sf's s2 spherical engine,
  * which snap-rounds vertices to S2 cells; topology must still agree).
  */
class FullReplaySpec extends SparkSpec {

  private val rawPath = "/root/reference/service-areas-raw.geojson"
  private val goldenPath = "/root/reference/service-areas.geojson"
  private def available: Boolean =
    java.nio.file.Files.isReadable(java.nio.file.Paths.get(rawPath))

  private lazy val replayed: DataFrame = {
    GeoFunctions.registerAll(spark)
    graft.pipeline.AlaskaReplay.cleanedLayer(spark)
  }

  test("replayed cleaned layer has exactly the golden certificate set") {
    assume(available)
    val got = replayed.select("certificate_number")
      .collect().map(_.getDouble(0).toInt).toSet
    val expected = GeoJson.read(spark, goldenPath)
      .select("certificate_number").collect().map(_.getLong(0).toInt).toSet
    assert(got === expected)
    assert(got.size === 108)
  }

  test("every replayed geometry topologically matches the golden layer") {
    assume(available)
    val golden = GeoJson.read(spark, goldenPath)
      .select(col("certificate_number").cast("double"), col("geometry"))
      .collect()
      .map(r => r.getDouble(0).toInt -> r.getAs[Array[Byte]]("geometry"))
      .toMap
    val rows = replayed.select("certificate_number", "geometry").collect()
    var checked = 0
    rows.foreach { r =>
      val cert = r.getDouble(0).toInt
      val mine = Geo.fromWkb(r.getAs[Array[Byte]]("geometry"))
      val gold = Geo.fromWkb(golden(cert))
      val denom = math.max(gold.getArea, 1e-12)
      val sym = mine.symDifference(gold).getArea / denom
      assert(sym < 1e-6,
        s"cert $cert geometry mismatch: relative symdiff area $sym")
      checked += 1
    }
    assert(checked === 108)
  }

  test("GDAL-style sink reproduces the golden file byte-for-byte " +
      "(the two union-derived certs excepted)") {
    assume(available)
    import scala.jdk.CollectionConverters._
    val goldenLines = java.nio.file.Files
      .readAllLines(java.nio.file.Paths.get(goldenPath)).asScala.toSeq
    val featLines = goldenLines
      .filter(_.startsWith("{ \"type\": \"Feature\""))
      .map(_.stripSuffix(","))
    // feature order + per-feature cert, straight from the file
    val certRe = """"certificate_number": (\d+)""".r
    val certOrder = featLines.map(l =>
      certRe.findFirstMatchIn(l).get.group(1).toLong)
    assert(certOrder.length === 108)

    // golden PROPERTIES are fixtures (they derive from chronology pages
    // the reference does not commit); geometry + serialization are ours
    import spark.implicits._
    val propOrder = Seq("certificate_number", "entity",
      "certificate_name", "certificate_url", "certificate_granted_year",
      "certificate_last_update_date", "certificate_last_update_order",
      "certificate_last_update_type", "geometry_last_update",
      "geometry_is_current", "geometry_cert_sync_status")
    val props = spark.read.json(featLines.toDS())
      .select(propOrder.map(p => col(s"properties.$p").as(p)): _*)
    val orderIdx = certOrder.zipWithIndex
      .map { case (c, i) => (c, i) }.toDF("certificate_number", "ord")
    val geoms = replayed.select(
      col("certificate_number").cast("long").as("certificate_number"),
      col("geometry"))
    val out = props.join(geoms, "certificate_number")
      .join(orderIdx, "certificate_number")
      .orderBy("ord").drop("ord")
    val tmp = java.nio.file.Files.createTempDirectory("golden-diff")
    val outPath = s"$tmp/service-areas.geojson"
    GeoJson.writeGdal(out, "geometry", outPath, "service-areas")

    val mine = java.nio.file.Files
      .readAllLines(java.nio.file.Paths.get(outPath)).asScala.toSeq
    assert(mine.length === goldenLines.length, "line counts must match")
    // certs 8 and 169 are the only true multi-geometry unions. The
    // reference unioned them via sf's s2 path (spherical boolean ops
    // with S2-cell snap rounding — golden vertices sit ~3-5e-8° off the
    // raw inputs and the vertex sets differ from any planar noding), so
    // byte parity is unreachable without reimplementing S2; topological
    // equality is asserted separately above. Known difference — see
    // README "byte-for-byte" note; this skip list is the complete
    // enumeration.
    val unionCerts = Set(8L, 169L)
    var byteSame = 0; var skipped = 0
    mine.zip(goldenLines).zipWithIndex.foreach { case ((m, g), i) =>
      val cert = certRe.findFirstMatchIn(g).map(_.group(1).toLong)
      if (cert.exists(unionCerts)) { skipped += 1 }
      else { assert(m === g, s"line ${i + 1} differs"); byteSame += 1 }
    }
    assert(skipped === 2)
    assert(byteSame === goldenLines.length - 2)
  }

  test("merged AVEC (169) geometry strictly grew vs its raw geometry") {
    assume(available)
    val raw169 = Geo.fromWkb(GeoJson.read(spark, rawPath)
      .filter(col("certificate_number") === 169)
      .select("geometry").head().getAs[Array[Byte]](0))
    val merged169 = Geo.fromWkb(replayed
      .filter(col("certificate_number") === 169.0)
      .select("geometry").head().getAs[Array[Byte]](0))
    assert(merged169.getArea > raw169.getArea,
      "acquisitions must add area to AVEC")
  }

  test("without the reference inputs g06 fails naming the missing path") {
    assume(!graft.pipeline.AlaskaReplay.available)
    val e = intercept[Exception](
      graft.queries.GeoOps.g06AlaskaReplay(spark, sf).collect())
    val refDir = new java.io.File(graft.pipeline.AlaskaReplay.RawPath)
      .getParent + "/"
    assert(e.getMessage.contains(refDir), e.getMessage)
  }
}
