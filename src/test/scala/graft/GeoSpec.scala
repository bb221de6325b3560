package graft

import org.apache.spark.sql.functions._
import graft.functions.GeoFunctions
import graft.functions.GeoFunctions._
import graft.geo.Geo
import graft.sources.{GeoJson, Kml}

/** Geometry kernel, Catalyst expression, and source/sink tests
  * (SURVEY §5 engine test plan: make_valid on self-intersecting ring,
  * collect vs union semantics, contains with holes, KML quirks).
  */
class GeoSpec extends SparkSpec {

  private lazy val _ = GeoFunctions.registerAll(spark)

  // --- kernel ---

  test("wkb/wkt round trip") {
    val g = Geo.fromWkt("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))")
    assert(Geo.fromWkb(Geo.toWkb(g)).equalsTopo(g))
  }

  test("makeValid repairs a self-intersecting bowtie") {
    val bowtie = Geo.fromWkt("POLYGON ((0 0, 10 10, 10 0, 0 10, 0 0))")
    assert(!bowtie.isValid)
    val fixed = Geo.makeValid(bowtie)
    assert(fixed.isValid)
    assert(math.abs(fixed.getArea - 50.0) < 1e-9) // two 25-unit triangles
  }

  test("collect keeps parts, union dissolves (reference st_combine vs st_union)") {
    val a = Geo.fromWkt("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))")
    val b = Geo.fromWkt("POLYGON ((2 2, 6 2, 6 6, 2 6, 2 2))") // overlaps a
    val collected = Geo.collect(Seq(a, b))
    val dissolved = Geo.unionAll(Seq(a, b))
    assert(collected.getNumGeometries === 2)
    assert(collected.getGeometryType === "MultiPolygon")
    assert(dissolved.getNumGeometries === 1)
    // overlap counted twice in collect, once in union
    assert(math.abs(collected.getArea - 32.0) < 1e-9)
    assert(math.abs(dissolved.getArea - 28.0) < 1e-9)
  }

  test("contains excludes boundary; polygon hole excluded") {
    val holed = Geo.fromWkt(
      "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (4 4, 6 4, 6 6, 4 6, 4 4))")
    assert(holed.contains(Geo.point(2, 2)))
    assert(!holed.contains(Geo.point(5, 5)))   // in the hole
    assert(!holed.contains(Geo.point(0, 5)))   // on boundary
  }

  test("geojson round trip incl. multipolygon and holes") {
    val wkts = Seq(
      "POINT (1.5 -2.5)",
      "LINESTRING (0 0, 1 1, 2 0)",
      "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (4 4, 6 4, 6 6, 4 6, 4 4))",
      "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), ((5 5, 6 5, 6 6, 5 6, 5 5)))")
    wkts.foreach { w =>
      val g = Geo.fromWkt(w)
      val back = Geo.fromGeoJson(Geo.toGeoJson(g))
      assert(back.equalsTopo(g), s"round trip failed for $w")
    }
  }

  test("spherical area: 1-degree square at the equator ≈ 12364 km²") {
    val eq = Geo.fromWkt("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")
    val areaEq = Geo.sphericalAreaKm2(eq)
    assert(math.abs(areaEq - 12364.0) < 10.0, s"got $areaEq")
    // same square at 60°N covers ~half the area (cos 60 ≈ 0.5 shrink)
    val hi = Geo.fromWkt("POLYGON ((0 60, 1 60, 1 61, 0 61, 0 60))")
    val areaHi = Geo.sphericalAreaKm2(hi)
    assert(areaHi < areaEq * 0.55 && areaHi > areaEq * 0.4, s"got $areaHi")
    // holes subtract
    val holed = Geo.fromWkt(
      "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0), (0.5 0.5, 1.5 0.5, 1.5 1.5, 0.5 1.5, 0.5 0.5))")
    assert(math.abs(Geo.sphericalAreaKm2(holed) -
      (Geo.sphericalAreaKm2(Geo.fromWkt(
        "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))")) -
        Geo.sphericalAreaKm2(Geo.fromWkt(
          "POLYGON ((0.5 0.5, 1.5 0.5, 1.5 1.5, 0.5 1.5, 0.5 0.5))"))))
      < 1.0)
  }

  test("spherical area property: for SMALL generated polygons the " +
      "spherical-excess result agrees with JTS planar area scaled by " +
      "cos(centroid latitude), within a latitude-dependent bound — " +
      "an independent second leg for the g08 golden (VERDICT r17 " +
      "item 6)") {
    // Planar CRS84 area (deg²) converted at the centroid latitude:
    //   km² ≈ deg² · (πR/180)² · cos(φ_c)
    // For a polygon of latitude span Δφ the conversion's leading
    // error term is the variation of cos φ across the span,
    // |tan φ| · Δφ_rad relative, plus O(Δφ²) curvature terms — so
    // the two implementations must agree within that bound and the
    // agreement must TIGHTEN as the polygon shrinks. A bug in either
    // leg (wrong radius, degrees/radians slip, shoelace sign, hole
    // handling) breaks the match at every size.
    val R = Geo.EarthAuthalicRadiusKm
    val degKm = math.Pi * R / 180.0
    // deterministic pseudo-random vertices: a jittered n-gon around
    // (lon0, lat0) with radius r degrees — seeds fixed, no RNG state
    def ngon(lon0: Double, lat0: Double, r: Double, n: Int,
        seed: Int): org.locationtech.jts.geom.Geometry = {
      val pts = (0 until n).map { i =>
        val jitter = 0.6 + 0.4 * math.abs(
          math.sin(seed * 12.9898 + i * 78.233))
        val a = 2 * math.Pi * i / n
        (lon0 + r * jitter * math.cos(a),
          lat0 + r * jitter * math.sin(a))
      }
      val ring = (pts :+ pts.head)
        .map { case (x, y) => s"$x $y" }.mkString(", ")
      Geo.fromWkt(s"POLYGON (($ring))")
    }
    val lats = Seq(-70.0, -45.0, 0.0, 30.0, 60.0, 70.0)
    val sizes = Seq(0.5, 0.1, 0.02)
    for (lat <- lats; (r, si) <- sizes.zipWithIndex; n <- Seq(3, 5, 8)) {
      val g = ngon(11.3, lat, r, n, seed = n * 7 + si)
      val planarKm2 = g.getArea * degKm * degKm *
        math.cos(math.toRadians(g.getCentroid.getY))
      val spherical = Geo.sphericalAreaKm2(g)
      val span = 2 * r * math.toRadians(1.0)
      val tol = math.max(1e-3,
        2.0 * math.abs(math.tan(math.toRadians(lat))) * span + 4 * span)
      val rel = math.abs(spherical - planarKm2) / planarKm2
      assert(rel < tol,
        s"lat=$lat r=$r n=$n: spherical=$spherical planar=$planarKm2 " +
          s"rel=$rel tol=$tol")
    }
    // the agreement tightens with size: at 0.02° the legs must agree
    // to 0.5% even at 70° latitude
    val tiny = ngon(11.3, 70.0, 0.02, 8, seed = 3)
    val planarTiny = tiny.getArea * degKm * degKm *
      math.cos(math.toRadians(tiny.getCentroid.getY))
    assert(math.abs(Geo.sphericalAreaKm2(tiny) - planarTiny) /
      planarTiny < 0.005)
    // hole handling cross-checked through the same second leg
    val outer = "POLYGON ((10 59.8, 10.4 59.8, 10.4 60.2, 10 60.2, 10 59.8)"
    val holed = Geo.fromWkt(outer +
      ", (10.1 59.9, 10.3 59.9, 10.3 60.1, 10.1 60.1, 10.1 59.9))")
    val planarHoled = holed.getArea * degKm * degKm *
      math.cos(math.toRadians(60.0))
    assert(math.abs(Geo.sphericalAreaKm2(holed) - planarHoled) /
      planarHoled < 0.02)
  }

  // --- Catalyst expressions ---

  test("st_ expressions evaluate through SQL and Column API") {
    GeoFunctions.registerAll(spark)
    val row = spark.sql(
      """SELECT st_area(st_geomfromtext('POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))'))
        |  AS a,
        |  st_contains(st_geomfromtext('POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))'),
        |              st_point(2.0, 2.0)) AS c,
        |  st_astext(st_point(3.0, 4.0)) AS t""".stripMargin).head()
    assert(row.getAs[Double]("a") === 16.0)
    assert(row.getAs[Boolean]("c"))
    assert(row.getAs[String]("t") === "POINT (3 4)")
  }

  test("st_makevalid expression fixes invalid geometry in a DataFrame") {
    GeoFunctions.registerAll(spark)
    import spark.implicits._
    val df = Seq("POLYGON ((0 0, 10 10, 10 0, 0 10, 0 0))").toDF("wkt")
      .select(st_makeValid(st_geomFromText(col("wkt"))).as("g"))
      .select(st_isValid(col("g")).as("valid"), st_area(col("g")).as("area"))
    val r = df.head()
    assert(r.getAs[Boolean]("valid"))
    assert(math.abs(r.getAs[Double]("area") - 50.0) < 1e-9)
  }

  test("st_collect_agg vs st_union_agg grouped semantics") {
    GeoFunctions.registerAll(spark)
    import spark.implicits._
    val df = Seq(
      (1, "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"),
      (1, "POLYGON ((2 2, 6 2, 6 6, 2 6, 2 2))"),
      (2, "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))"))
      .toDF("k", "wkt")
      .select(col("k"), st_geomFromText(col("wkt")).as("g"))
    val agg = df.groupBy("k").agg(
      st_numGeometries(st_collect_agg(col("g"))).as("n_collect"),
      st_area(st_union_agg(col("g"))).as("union_area"))
      .orderBy("k").collect()
    assert(agg(0).getAs[Int]("n_collect") === 2)
    assert(math.abs(agg(0).getAs[Double]("union_area") - 28.0) < 1e-9)
    assert(agg(1).getAs[Int]("n_collect") === 1)
  }

  test("native GeoUnionAgg: partial-merge compaction correct across partitions") {
    GeoFunctions.registerAll(spark)
    import spark.implicits._
    // 100 overlapping unit squares along a strip, scattered over many
    // partitions: forces update-compaction AND cross-partition merges.
    val squares = (0 until 100).map { i =>
      val x = i * 0.5
      (1, f"POLYGON (($x%.1f 0, ${x + 1}%.1f 0, ${x + 1}%.1f 1, " +
        f"$x%.1f 1, $x%.1f 0))")
    }
    val df = squares.toDF("k", "wkt").repartition(16)
      .select(col("k"), st_geomFromText(col("wkt")).as("g"))
    val native = df.groupBy("k").agg(st_union_agg(col("g")).as("u"))
      .select(st_area(col("u"))).head().getDouble(0)
    // strip from 0 to 50.5 wide, height 1 → area 50.5
    assert(math.abs(native - 50.5) < 1e-9, s"got $native")
    // agrees with the collect-based form
    val collected = df.groupBy("k")
      .agg(call_function("st_union_array",
        collect_list(col("g"))).as("u"))
      .select(st_area(col("u"))).head().getDouble(0)
    assert(math.abs(native - collected) < 1e-9)
  }

  // --- KML source ---

  private val kmlDoc =
    """<?xml version="1.0" encoding="UTF-8"?>
      |<kml xmlns="http://www.opengis.net/kml/2.2"><Document>
      |<Placemark>
      |  <name>Certificate No. 99 Test Utility</name>
      |  <description>Granted to: TEST UTILITY (Electric)</description>
      |  <Polygon><outerBoundaryIs><LinearRing><coordinates>
      |    -150.0,61.0,0 -149.0,61.0,0 -149.0,62.0,0 -150.0,62.0,0 -150.0,61.0,0
      |  </coordinates></LinearRing></outerBoundaryIs>
      |  <innerBoundaryIs><LinearRing><coordinates>
      |    -149.7,61.3 -149.3,61.3 -149.3,61.7 -149.7,61.7 -149.7,61.3
      |  </coordinates></LinearRing></innerBoundaryIs></Polygon>
      |</Placemark>
      |<Placemark>
      |  <name>Certificate No. 100</name>
      |  <MultiGeometry>
      |    <Polygon><outerBoundaryIs><LinearRing><coordinates>
      |      0,0 1,0 1,1 0,1 0,0
      |    </coordinates></LinearRing></outerBoundaryIs></Polygon>
      |    <Polygon><outerBoundaryIs><LinearRing><coordinates>
      |      5,5 6,5 6,6 5,6 5,5
      |    </coordinates></LinearRing></outerBoundaryIs></Polygon>
      |  </MultiGeometry>
      |</Placemark>
      |<Placemark><name>A Point</name>
      |  <Point><coordinates>-147.7,64.8,120</coordinates></Point>
      |</Placemark>
      |</Document></kml>""".stripMargin

  test("kml parser: polygon+hole, multigeometry, Z dropped, names kept") {
    val feats = Kml.parseFeatures(kmlDoc)
    assert(feats.length === 3)
    val poly = Geo.fromWkb(feats(0).geometry)
    assert(poly.getGeometryType === "Polygon")
    assert(feats(0).name === "Certificate No. 99 Test Utility")
    assert(feats(0).description.contains("Granted to"))
    // hole is excluded from area: 1.0 - 0.16 = 0.84 deg²
    assert(math.abs(poly.getArea - 0.84) < 1e-9)
    val multi = Geo.fromWkb(feats(1).geometry)
    assert(multi.getNumGeometries === 2)
    val pt = Geo.fromWkb(feats(2).geometry)
    assert(pt.getGeometryType === "Point")
    assert(pt.getCoordinate.getZ.isNaN) // Z dropped
  }

  test("kml glob read through WholeText") {
    val dir = java.nio.file.Files.createTempDirectory("kmltest")
    java.nio.file.Files.writeString(dir.resolve("a.kml"), kmlDoc)
    val df = Kml.read(spark, dir.toString + "/*.kml")
    assert(df.count() === 3)
    assert(df.columns.toSeq ===
      Seq("path", "name", "description", "geometry"))
  }

  test("Kml.read glob matches top-level files only, paths as " +
      "input_file_name() gives them") {
    val dir = java.nio.file.Files.createTempDirectory("kmlglob")
    for (f <- Seq("a.kml", "b.txt", "sub/c.kml", "k=1/e.kml")) {
      java.nio.file.Files.createDirectories(dir.resolve(f).getParent)
      java.nio.file.Files.writeString(dir.resolve(f), kmlDoc)
    }
    val glob = dir.toString + "/*.kml"
    val paths = Kml.read(spark, glob).select("path").collect()
      .map(_.getString(0))
    assert(paths.length === 3)
    val textPaths = spark.read.option("wholetext", "true").text(glob)
      .select(input_file_name()).collect().map(_.getString(0))
    assert(textPaths.length === 1 && textPaths.head.endsWith("/a.kml"))
    assert(paths.distinct.toSeq === textPaths.toSeq)
  }

  test("WholeText.files lists a glob once and readFiles reads a listed " +
      "name with glob metacharacters as itself") {
    val dir = java.nio.file.Files.createTempDirectory("kmlnames")
    for (f <- Seq("a[1].kml", "a1.kml", "_hidden.kml", ".dot.kml"))
      java.nio.file.Files.writeString(dir.resolve(f), f)
    val files = graft.sources.WholeText.files(spark, Seq(s"$dir/*.kml"))
    assert(files.map(f => new org.apache.hadoop.fs.Path(f).getName).sorted
      === Seq("a1.kml", "a[1].kml"))
    val bracketed = files.filter(_.contains("["))
    val read = graft.sources.WholeText.readFiles(spark, bracketed)
      .select("value").collect().map(_.getString(0))
    assert(read.toSeq === Seq("a[1].kml"))
    intercept[java.io.FileNotFoundException](
      graft.sources.WholeText.files(spark, Seq(s"$dir/*.none")))
  }

  test("DataSourceV2: spark.read.format(kml) matches Kml.read") {
    val dir = java.nio.file.Files.createTempDirectory("kmlv2")
    java.nio.file.Files.writeString(dir.resolve("a.kml"), kmlDoc)
    val v2 = spark.read.format("kml").load(dir.toString)
    assert(v2.schema.fieldNames.toSeq ===
      Seq("path", "name", "description", "geometry"))
    assert(v2.count() === 3)
    val wholetext = Kml.read(spark, dir.toString + "/*.kml")
    assert(v2.select("name").collect().map(_.getString(0)).sorted
      .sameElements(
        wholetext.select("name").collect().map(_.getString(0)).sorted))
    // one partition per file
    assert(v2.rdd.getNumPartitions === 1)
  }

  // --- GeoJSON sink/source ---

  test("partitioned NDJSON geojson sink round trips") {
    GeoFunctions.registerAll(spark)
    import spark.implicits._
    val df = (1 to 40).map(i =>
      (i, s"POLYGON (($i 0, ${i + 1} 0, ${i + 1} 1, $i 1, $i 0))"))
      .toDF("id", "wkt")
      .select(col("id"), st_geomFromText(col("wkt")).as("geometry"))
      .repartition(4)
    val dir = java.nio.file.Files.createTempDirectory("ndgeo").toString +
      "/layer"
    GeoJson.writePartitioned(df, "geometry", dir)
    val back = GeoJson.readFeatureLines(spark, dir)
    assert(back.count() === 40)
    val ids = back.select(
      get_json_object(col("properties_json"), "$.id").cast("int"))
      .collect().map(_.getInt(0)).sorted
    assert(ids.sameElements(1 to 40))
    val totalArea = back.select(st_area(col("geometry")).as("a"))
      .agg(org.apache.spark.sql.functions.sum("a")).head().getDouble(0)
    assert(math.abs(totalArea - 40.0) < 1e-9)
  }

  test("readFields reads our own sink's compact single-file output") {
    GeoFunctions.registerAll(spark)
    import spark.implicits._
    val df = Seq((7, "POINT (1 2)"), (8, "POINT (3 4)"))
      .toDF("id", "wkt")
      .select(col("id"), st_geomFromText(col("wkt")).as("geometry"))
    val path = java.nio.file.Files.createTempDirectory("gjcompact")
      .resolve("layer.geojson").toString
    GeoJson.write(df, "geometry", path, "compact")
    val back = GeoJson.readFields(spark, path, Seq("id"))
    assert(back.count() === 2)
    assert(back.select(col("id").cast("int")).collect()
      .map(_.getInt(0)).sorted.sameElements(Array(7, 8)))
  }

  test("parseFeatureLine: one-pass parse matches get_json_object " +
      "semantics on edge cases") {
    def parse(line: String, props: String*) =
      GeoJson.parseFeatureLine(line, props.toIndexedSeq)
    // GDAL spaced style + trailing comma + escapes + extra members
    val gdal = """{ "type": "Feature", "properties": { "name": """ +
      """"A \"quoted\" utility", "certificate_number": 123.0, """ +
      """"active": true, "note": null }, "bbox": [0, 0, 2, 2], """ +
      """"geometry": { "type": "Point", "coordinates": [ 1.0, 2.0 ] } },"""
    val Some((wkb, vals)) =
      parse(gdal, "certificate_number", "name", "active", "note",
        "missing")
    assert(vals.toSeq === Seq("123.0", "A \"quoted\" utility", "true",
      null, null))
    assert(graft.geo.Geo.fromWkb(wkb).toText === "POINT (1 2)")
    // compact style, null geometry
    val Some((nullGeom, v2)) = parse(
      """{"type":"Feature","properties":{"id":7},"geometry":null}""",
      "id")
    assert(nullGeom === null && v2.toSeq === Seq("7"))
    // envelope lines are not features
    assert(parse("""{""").isEmpty)
    assert(parse(""""features": [""").isEmpty)
    assert(parse("""{ "type": "FeatureCollection", "features": [] }""")
      .isEmpty)
  }

  test("geojson write + read round trip with properties") {
    GeoFunctions.registerAll(spark)
    import spark.implicits._
    val df = Seq(
      (1, "one", "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))"),
      (2, "two", "POLYGON ((5 5, 7 5, 7 7, 5 7, 5 5))"))
      .toDF("id", "label", "wkt")
      .select(col("id"), col("label"),
        st_geomFromText(col("wkt")).as("geometry"))
    val path = java.nio.file.Files.createTempDirectory("geojson")
      .resolve("layer.geojson").toString
    GeoJson.write(df, "geometry", path, "test-layer")
    val txt = java.nio.file.Files.readString(java.nio.file.Paths.get(path))
    assert(txt.contains("\"FeatureCollection\""))
    assert(txt.contains("CRS84"))
    val back = GeoJson.read(spark, path)
    assert(back.count() === 2)
    val areas = back.select(st_area(col("geometry")).as("a"))
      .collect().map(_.getAs[Double]("a")).sorted
    assert(areas.sameElements(Array(4.0, 4.0)))
    // overwrite semantics: write again, still 2 features
    GeoJson.write(df, "geometry", path, "test-layer")
    assert(GeoJson.read(spark, path).count() === 2)
  }

  test("single-file geojson sinks fail fast past the row guard and " +
      "point at the partitioned sink") {
    GeoFunctions.registerAll(spark)
    import spark.implicits._
    val df = (1 to 12).map(i =>
        (i, s"POINT ($i $i)")).toDF("id", "wkt")
      .select(col("id"), st_geomFromText(col("wkt")).as("geometry"))
    val path = java.nio.file.Files.createTempDirectory("geojson-guard")
      .resolve("big.geojson").toString
    val e1 = intercept[IllegalArgumentException] {
      GeoJson.write(df, "geometry", path, "big", maxRows = 10)
    }
    assert(e1.getMessage.contains("writePartitioned"))
    val e2 = intercept[IllegalArgumentException] {
      GeoJson.writeGdal(df, "geometry", path, "big", maxRows = 10)
    }
    assert(e2.getMessage.contains("writePartitioned"))
    // nothing was written on the failing path
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(path)))
    // at the guard boundary the write still succeeds
    GeoJson.write(df.limit(10), "geometry", path, "big", maxRows = 10)
    assert(GeoJson.read(spark, path).count() === 10)
  }

  test("overlay/measure surface: intersection, difference, symdifference, " +
      "buffer, simplify, length, type, isempty") {
    GeoFunctions.registerAll(spark)
    import spark.implicits._
    // two unit-offset 2x2 squares: overlap is the middle 1x1 square
    val df = Seq((
      Geo.toWkb(Geo.fromWkt("POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))")),
      Geo.toWkb(Geo.fromWkt("POLYGON ((1 1, 3 1, 3 3, 1 3, 1 1))"))))
      .toDF("a", "b")
    val r = df.select(
      st_area(st_intersection(col("a"), col("b"))).as("i"),
      st_area(st_difference(col("a"), col("b"))).as("d"),
      st_area(st_symDifference(col("a"), col("b"))).as("s"),
      st_area(st_buffer(col("a"), lit(1.0))).as("buf"),
      st_length(col("a")).as("len"),
      st_geometryType(col("a")).as("t"),
      st_isEmpty(st_intersection(col("a"),
        st_geomFromText(lit("POLYGON ((10 10, 11 10, 11 11, 10 11, 10 10))"))))
        .as("empty")).head()
    assert(r.getAs[Double]("i") === 1.0)
    assert(r.getAs[Double]("d") === 3.0)   // 4 - 1
    assert(r.getAs[Double]("s") === 6.0)   // 3 + 3
    // buffer(1) of a 2x2 square: area 4 + perimeter 8 x 1 + pi r^2 corners
    assert(math.abs(r.getAs[Double]("buf") - (4 + 8 + math.Pi)) < 0.05)
    assert(r.getAs[Double]("len") === 8.0)
    assert(r.getAs[String]("t") === "Polygon")
    assert(r.getAs[Boolean]("empty"), "disjoint intersection must be empty")
    // simplify: a redundant collinear vertex disappears at any tolerance
    val simp = Seq(Geo.toWkb(Geo.fromWkt(
      "POLYGON ((0 0, 1 0, 2 0, 2 2, 0 2, 0 0))")))
      .toDF("g")
      .select(st_simplify(col("g"), lit(0.01)).as("s")).head()
    val g = Geo.fromWkb(simp.getAs[Array[Byte]](0))
    assert(g.getCoordinates.length === 5, "collinear vertex must drop")
    assert(g.getArea === 4.0)
  }

  test("st_dump generator explodes multi-part geometries row-per-part") {
    GeoFunctions.registerAll(spark)
    import spark.implicits._
    val df = Seq(
      (1, "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), " +
        "((5 5, 6 5, 6 6, 5 6, 5 5)))"),
      (2, "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))"))
      .toDF("id", "wkt")
      .select(col("id"), st_geomFromText(col("wkt")).as("geometry"))
    df.createOrReplaceTempView("dump_in")
    val parts = spark.sql(
      "SELECT id, st_dump(geometry) AS (part_idx, part) FROM dump_in")
      .collect()
    assert(parts.length === 3, "2 multi parts + 1 single part")
    val byId = parts.groupBy(_.getInt(0))
    assert(byId(1).map(_.getInt(1)).sorted.sameElements(Array(0, 1)))
    assert(byId(2).map(_.getInt(1)).sameElements(Array(0)))
    // each dumped part is a valid polygon of the expected area
    val areas = parts.map(r => graft.geo.Geo
      .fromWkb(r.getAs[Array[Byte]](2)).getArea).sorted
    assert(areas.sameElements(Array(1.0, 1.0, 4.0)))
  }

  test("g09 gridCols: density-derived width doubles the grid on the " +
      "exact 2n = 32k² boundaries and k=12 reproduces the historical " +
      "30° cells") {
    import graft.queries.GeoOps.gridCols
    assert(gridCols(1500L) === 12)   // sf0.01 stays on the 30° grid
    assert(gridCols(2304L) === 12)   // boundary: 2n = 32·144 exactly
    assert(gridCols(2305L) === 24)
    assert(gridCols(9216L) === 24)   // 2n = 32·576
    assert(gridCols(15000L) === 48)  // sf0.1 refines twice
    assert(gridCols(36864L) === 48)  // 2n = 32·2304
    assert(gridCols(36865L) === 96)
    // mean per-cell population is bounded by the target from above
    // and by target/4 from below (each doubling quadruples cells)
    Seq(100L, 5000L, 123456L, 9999999L).foreach { n =>
      val k = gridCols(n)
      val cells = k.toLong * k / 2
      assert(n <= 32L * cells, s"n=$n k=$k over target")
      assert(k == 12 || 4L * n > 32L * cells,
        s"n=$n k=$k grid refined more than one doubling early")
    }
  }
}
