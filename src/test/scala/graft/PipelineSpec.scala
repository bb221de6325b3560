package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{DateFunctions, GeoFunctions}
import graft.functions.GeoFunctions._
import graft.geo.Geo
import graft.pipeline.{ServiceAreas, StageCache}
import graft.sources.{GeoJson, Kml}

/** End-to-end reference-parity pipeline test (SURVEY §3 E2, §5 golden
  * plan): fixtures cover every KML quirk the reference hand-patches —
  * invalid ring, multi-Placemark cert, HTML-entity description,
  * two-digit year, blank chronology date, merge patch with version gate,
  * operator/inactive exclusion.
  */
class PipelineSpec extends SparkSpec {

  private val res = "src/test/resources/alaska"
  private val cfg = ServiceAreas.Config(
    operatorIds = Seq(785.0),
    inactiveExtraIds = Seq(121.0),
    mergePatches = Seq(ServiceAreas.MergePatch(169.0, 61.0)),
    expectedKmlDates = Map(61.0 -> "3/15/2010"))

  /** One publish into a fresh directory: (directory, published frame). */
  private def publish(session: SparkSession,
      kmlGlob: String = s"$res/kml/*.kml",
      certsCsv: String = s"$res/certificates.csv",
      chronCsv: String = s"$res/chronology.csv",
      cacheDir: String = Files.createTempDirectory("stage-cache").toString,
      config: ServiceAreas.Config = cfg)
      : (String, DataFrame) = {
    val dir = Files.createTempDirectory("svc-areas").toString
    DateFunctions.registerAll(session)
    GeoFunctions.registerAll(session)
    (dir, ServiceAreas.run(session, certsCsv, chronCsv,
      kmlGlob, config, dir, cacheDir))
  }

  /** A copy of the fixture inputs a test may rewrite: (dir, certificates
    * CSV, chronology CSV, KML glob).
    */
  private def inputCopy(): (java.nio.file.Path, String, String, String) = {
    val dir = Files.createTempDirectory("publish-inputs")
    Files.createDirectory(dir.resolve("kml"))
    for (f <- new java.io.File(s"$res/kml").list())
      Files.copy(Paths.get(s"$res/kml/$f"), dir.resolve(s"kml/$f"))
    for (f <- Seq("certificates.csv", "chronology.csv"))
      Files.copy(Paths.get(s"$res/$f"), dir.resolve(f))
    (dir, dir.resolve("certificates.csv").toString,
      dir.resolve("chronology.csv").toString, s"$dir/kml/*.kml")
  }
  private val layerFiles =
    Seq("service-areas.geojson", "service-areas-raw.geojson")
  private lazy val (outDir, published) = publish(spark)

  /** `f`'s result and the starts of the Spark jobs it ran. The listener
    * bus delivers in order, so once a later sentinel job has ended,
    * every job of `f` has been recorded.
    */
  private def withJobs[T](f: => T): (T, Seq[SparkListenerJobStart]) = {
    val jobs = new ConcurrentLinkedQueue[SparkListenerJobStart]()
    val drained = new CountDownLatch(1)
    def group(props: java.util.Properties) =
      Option(props).map(_.getProperty("spark.jobGroup.id")).orNull
    val listener = new SparkListener {
      private var sentinel = -1
      override def onJobStart(e: SparkListenerJobStart): Unit =
        group(e.properties) match {
          case "probe" => jobs.add(e)
          case "sentinel" => sentinel = e.jobId
          case _ =>
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == sentinel) drained.countDown()
    }
    val sc = spark.sparkContext
    def inGroup[A](g: String)(a: => A): A = {
      sc.setJobGroup(g, g)
      try a finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try {
      val out = inGroup("probe")(f)
      inGroup("sentinel")(sc.parallelize(Seq(1), 1).count())
      assert(drained.await(60, TimeUnit.SECONDS))
      (out, jobs.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  private def md5(dir: String, f: String) = java.security.MessageDigest
    .getInstance("MD5").digest(Files.readAllBytes(Paths.get(dir, f)))
    .map("%02x".format(_)).mkString

  test("cleaned layer: expected certificate set after filters + merge") {
    val certs = published.select("certificate_number")
      .collect().map(_.getInt(0)).sorted
    // 61 merged into 169; 785 operator-excluded; 121 inactive-extra;
    // 18.1 Inactive; 50 has no KML; blank row dropped.
    assert(certs.sameElements(Array(10, 99, 100, 169)))
  }

  test("certificate_number downcast to int (A5 conditional cast)") {
    assert(published.schema("certificate_number").dataType.typeName
      === "integer")
  }

  test("invalid bowtie geometry is made valid") {
    val g10 = Geo.fromWkb(published
      .filter(col("certificate_number") === 10)
      .select("geometry").head().getAs[Array[Byte]](0))
    assert(g10.isValid)
    assert(g10.getArea > 0)
  }

  test("multi-placemark cert collects both parts without dissolving") {
    val g100 = Geo.fromWkb(published
      .filter(col("certificate_number") === 100)
      .select("geometry").head().getAs[Array[Byte]](0))
    assert(g100.getNumGeometries === 2)
    assert(math.abs(g100.getArea - 2.0) < 1e-9)
  }

  test("merge patch unions acquired cert 61 into 169 (version-gated)") {
    val g169 = Geo.fromWkb(published
      .filter(col("certificate_number") === 169)
      .select("geometry").head().getAs[Array[Byte]](0))
    // two disjoint 1-deg² squares → dissolved union keeps both, area 2
    assert(math.abs(g169.getArea - 2.0) < 1e-9)
    assert(!published.select("certificate_number").collect()
      .exists(_.getInt(0) == 61), "acquired cert must disappear")
  }

  test("sync status: up_to_date / outdated / unknown all exercised") {
    val status = published
      .select("certificate_number", "geometry_cert_sync_status")
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(status(99) === "up_to_date")  // KML 5/20/15 == last change
    assert(status(100) === "outdated")   // KML 6/01/2012 < 7/4/2020 change
    assert(status(10) === "unknown")     // no date in KML description
  }

  test("sync_warning surfaces the reference's impossible-state warn " +
      "branches (R/functions.R:287-304)") {
    import spark.implicits._
    def d(s: String): java.sql.Date = java.sql.Date.valueOf(s)
    // (cert, last ANY event, last AREA event, kml date) per state
    val enriched = Seq(
      // consistent, current: chronology newer than KML, no area change after
      (1.0, Option(d("2020-01-01")), Option(d("2019-01-01")), "E1"),
      // consistent, outdated: area change after the KML date
      (2.0, Option(d("2021-06-01")), Option(d("2021-06-01")), "E2"),
      // WARN chronology_missing_entry: KML newer than the whole chronology
      (3.0, Option(d("2015-01-01")), Option(d("2015-01-01")), "E3"),
      // WARN no_chronology_entries: KML date but zero chronology rows
      (4.0, None, None, "E4"),
      // consistent: chronology has NO area-changing entries → TRUE (the
      // reference's nrow(newer)==0 path), not unknown
      (5.0, Option(d("2020-01-01")), None, "E5"))
      .toDF("certificate_number", "certificate_last_update_date",
        "last_area_change_date", "entity")
      .withColumn("certificate_name", col("entity"))
      .withColumn("cpcn_url", lit("u"))
      .withColumn("certificate_granted_year", lit(2000))
      .withColumn("certificate_last_update_order", lit("o"))
      .withColumn("certificate_last_update_type", lit("t"))
    val geo = Seq(
      (1.0, Option(d("2019-06-01"))), (2.0, Option(d("2020-01-01"))),
      (3.0, Option(d("2016-01-01"))), (4.0, Option(d("2016-01-01"))),
      (5.0, Option(d("2019-01-01"))))
      .toDF("certificate_number", "geometry_last_update")
      .withColumn("geometry", lit("g"))
    val out = ServiceAreas.publishLayer(enriched, geo)
      .select("certificate_number", "geometry_cert_sync_status",
        "sync_warning")
      .collect()
      .map(r => r.getDouble(0) -> (r.getString(1), Option(r.getString(2))))
      .toMap
    assert(out(1.0) === ("up_to_date", None))
    assert(out(2.0) === ("outdated", None))
    assert(out(3.0) === ("unknown", Some("chronology_missing_entry")))
    assert(out(4.0) === ("unknown", Some("no_chronology_entries")))
    assert(out(5.0) === ("up_to_date", None))
  }

  test("deregulated events excluded from area-change currency check") {
    // cert 100's latest event is Deregulated 8/1/2021 but last *area
    // change* is 7/4/2020; last_update_type surfaces the raw latest.
    val r = published.filter(col("certificate_number") === 100).head()
    assert(r.getAs[String]("certificate_last_update_type") === "Deregulated")
  }

  test("two-digit years pivot around 63 and blank date hits sentinel") {
    val r169 = published.filter(col("certificate_number") === 169).head()
    assert(r169.getAs[Int]("certificate_granted_year") === 1976)
    val r10 = published.filter(col("certificate_number") === 10).head()
    assert(r10.getAs[Int]("certificate_granted_year") === 1900) // sentinel
    val r10last = r10.getAs[java.sql.Date]("certificate_last_update_date")
    assert(r10last.toString === "1999-06-30") // 6/30/99 → 1999
  }

  test("KML description strict 3-field split + alt-name rule " +
      "(incl. HTML-wrapped variant)") {
    val certsDf = spark.read.option("header", "true")
      .option("inferSchema", "true").csv(s"$res/certificates.csv")
    val cleaned = ServiceAreas.cleanCertificates(certsDf, cfg)
    val withKml = ServiceAreas.splitKmlDescription(
      cleaned.join(
        ServiceAreas.kmlDescriptions(spark, s"$res/kml/*.kml"),
        Seq("certificate_number"), "left"))
    val rows = withKml.select("certificate_number", "alt_name",
      "kml_utility_type", "kml_most_recent_update_included",
      "kml_most_recent_update_date").collect()
      .map(r => r.getDouble(0) -> r).toMap

    // name matches certificate_name → alt_name suppressed
    assert(rows(10.0).isNullAt(1))
    assert(rows(10.0).getString(2) === "Electric")
    assert(rows(10.0).isNullAt(4), "no date in chronology text")
    // differing KML-granted name surfaces as alt_name
    assert(rows(100.0).getString(1) === "TEST UTILITY HUNDRED, INC.")
    assert(rows(100.0).getAs[java.sql.Date](4).toString === "2012-06-01")
    // HTML-wrapped description: windowed + unescaped, then split;
    // 2-digit year pivots
    assert(rows(99.0).isNullAt(1))
    assert(rows(99.0).getString(3).contains("Service Area Change"))
    assert(rows(99.0).getAs[java.sql.Date](4).toString === "2015-05-20")
    // no KML at all → all fields null, no error
    assert(rows(50.0).isNullAt(1) && rows(50.0).isNullAt(4))
  }

  test("1-digit day in chronology text yields no date (reference NA " +
      "parity, R/functions.R:364)") {
    import spark.implicits._
    val desc = "Granted to: X CO<br><br>Utility Type: Electric" +
      "<br><br>CHRONOLOGY: U-12-045(3) Amended 6/1/2012<br>"
    val row = ServiceAreas.splitKmlDescription(
      Seq((1.0, "X CO", desc))
        .toDF("certificate_number", "certificate_name", "kml_desc_field"))
      .select("kml_most_recent_update_included",
        "kml_most_recent_update_date")
      .head()
    assert(row.getString(0).contains("6/1/2012"))
    assert(row.isNullAt(1), "1-digit day must not parse (reference NA)")
  }

  test("strict split raises on a non-matching description") {
    import spark.implicits._
    val bad = Seq((1.0, "SOME NAME", "Totally unexpected text"))
      .toDF("certificate_number", "certificate_name", "kml_desc_field")
    val e = intercept[Exception] {
      ServiceAreas.splitKmlDescription(bad).collect()
    }
    assert((e.getMessage + e.toString).contains("Granted-to pattern") ||
      Option(e.getCause).exists(_.getMessage.contains("Granted-to")))
  }

  test("published geojson files exist and parse back") {
    published.count() // force run
    val cleaned = GeoJson.read(spark, s"$outDir/service-areas.geojson")
    assert(cleaned.count() === 4)
    val raw = GeoJson.read(spark, s"$outDir/service-areas-raw.geojson")
    // raw keeps operator 785 + unmerged 61 (6 KML certs inner-join CSV)
    assert(raw.count() === 6)
  }

  test("published layers are in certificate order at any shuffle " +
      "partition count") {
    def text(dir: String, f: String) =
      new String(Files.readAllBytes(Paths.get(dir, f)), "UTF-8")
    val dirs = Seq("1", "7").map { n =>
      val s = spark.newSession()
      s.conf.set("spark.sql.shuffle.partitions", n)
      publish(s)._1
    } :+ outDir
    for (f <- Seq("service-areas.geojson", "service-areas-raw.geojson")) {
      dirs.tail.foreach(d => assert(md5(d, f) === md5(dirs.head, f), f))
      val certs = "\"certificate_number\":([0-9.]+)".r
        .findAllMatchIn(text(dirs.head, f)).map(_.group(1).toDouble).toSeq
      assert(certs.nonEmpty && certs === certs.sorted, f)
    }
  }

  test("a publish lists the KMLs on the driver and parses each once") {
    // more files than parallelPartitionDiscovery.threshold (32) and than
    // the session's cores: copies of the utility fixtures under new
    // numbers (the operator's description fails the strict split)
    val dir = Files.createTempDirectory("kml-copies")
    val fixtures = new java.io.File(s"$res/kml").list().toSeq.sorted
    val utilities = fixtures.filterNot(_.startsWith("785-"))
    val csvLines = Files.readAllLines(Paths.get(s"$res/certificates.csv"))
      .asScala.toSeq
    val copies = (0 until 40).map { i =>
      val from = utilities(i % utilities.size)
      val cert = 1000 + i
      Files.copy(Paths.get(s"$res/kml/$from"),
        dir.resolve(s"$cert-servicearea.kml"))
      val src = from.stripSuffix("-servicearea.kml")
      csvLines.filter(_.startsWith(s"$src,"))
        .map(l => s"$cert${l.drop(src.length)}")
    }
    fixtures.foreach(f => Files.copy(Paths.get(s"$res/kml/$f"), dir.resolve(f)))
    val files = fixtures.size + copies.size
    assert(files > 32 && files > spark.sparkContext.defaultParallelism)
    val certsCsv = dir.resolve("certificates.csv")
    Files.write(certsCsv, (csvLines ++ copies.flatten).asJava)

    val parsed0 = Kml.parsedDocuments.get
    val ((out, _), jobs) =
      withJobs(publish(spark, s"$dir/*.kml", certsCsv.toString))
    assert(Kml.parsedDocuments.get - parsed0 === files,
      "every KML parsed exactly once per publish")
    assert(jobs.nonEmpty)
    // tasks per publish job (every stage the job lists, run or skipped)
    val widest = jobs.map(_.stageInfos.map(_.numTasks).sum).max
    assert(widest < files, s"a publish job ran $widest tasks for $files files")
    assert(GeoJson.read(spark, s"$out/service-areas-raw.geojson").count()
      === files)
  }

  test("an all-hit republish reads no CSV and no checkpoint schema; a " +
      "chronology swap rebuilds two stages") {
    val inputs = Files.createTempDirectory("publish-inputs")
    for (f <- Seq("certificates.csv", "chronology.csv"))
      Files.copy(Paths.get(s"$res/$f"), inputs.resolve(f))
    val certsCsv = inputs.resolve("certificates.csv").toString
    val chronCsv = inputs.resolve("chronology.csv")
    val cacheDir = Files.createTempDirectory("republish-cache").toString
    def stages = new java.io.File(cacheDir).list().toSet
    def republish =
      withJobs(publish(spark, certsCsv = certsCsv,
        chronCsv = chronCsv.toString, cacheDir = cacheDir)._1)
    val unwanted = Seq("csv at ServiceAreas", "parquet at StageCache")
    // a stage is named after the short call site of the job creating it
    def sites(jobs: Seq[SparkListenerJobStart]) =
      jobs.flatMap(_.stageInfos.map(_.name))
        .filter(site => unwanted.exists(site.startsWith))

    val (cold, coldJobs) = republish
    assert(sites(coldJobs).nonEmpty, "the cold publish reads and infers")
    val built = stages
    assert(built.size === 3)
    val (warm, warmJobs) = republish
    assert(sites(warmJobs).isEmpty)
    assert(stages === built)
    for (f <- Seq("service-areas.geojson", "service-areas-raw.geojson"))
      assert(md5(warm, f) === md5(cold, f), f)

    Files.write(chronCsv, "100,U-22-07,11,9/9/2022,Amendment,\n".getBytes,
      java.nio.file.StandardOpenOption.APPEND)
    republish
    assert((stages -- built).map(_.takeWhile(_ != '-')) ===
      Set("chronology", "enriched"))
  }

  test("an all-hit full republish reads no CSV and no checkpoint schema") {
    // a touched KML with the same bytes defeats the publish memo but no
    // stage: the whole plan recomputes over three stage hits
    val (inputs, certsCsv, chronCsv, kmlGlob) = inputCopy()
    val cacheDir = Files.createTempDirectory("touch-cache").toString
    def stages = new java.io.File(cacheDir).list().toSet
    def republish = withJobs(publish(spark, kmlGlob, certsCsv, chronCsv,
      cacheDir)._1)
    val (cold, _) = republish
    val built = stages
    assert(built.size === 3)
    val kml = inputs.resolve("kml/10-servicearea.kml")
    Files.setLastModifiedTime(kml, java.nio.file.attribute.FileTime
      .fromMillis(Files.getLastModifiedTime(kml).toMillis - 60000))
    val parsed0 = Kml.parsedDocuments.get
    val (warm, warmJobs) = republish
    assert(Kml.parsedDocuments.get - parsed0 === 6, "a full recompute")
    assert(warmJobs.nonEmpty)
    val unwanted = Seq("csv at ServiceAreas", "parquet at StageCache")
    assert(!warmJobs.flatMap(_.stageInfos.map(_.name))
      .exists(site => unwanted.exists(site.startsWith)))
    assert(stages === built)
    for (f <- layerFiles) assert(md5(warm, f) === md5(cold, f), f)
  }

  test("an unchanged republish runs no Spark job and returns the full " +
      "run's frame") {
    val cacheDir = Files.createTempDirectory("memo-cache").toString
    val (full, fullFrame) = publish(spark, cacheDir = cacheDir)
    val parsed0 = Kml.parsedDocuments.get
    val ((skipped, frame), jobs) = withJobs(publish(spark, cacheDir = cacheDir))
    assert(jobs.isEmpty, s"an up-to-date publish ran ${jobs.size} jobs")
    assert(Kml.parsedDocuments.get === parsed0)
    for (f <- layerFiles) assert(md5(skipped, f) === md5(full, f), f)
    assert(frame.schema === fullFrame.schema)
    assert(frame.schema("certificate_number").dataType.typeName === "integer")
    def rows(df: DataFrame) = df.orderBy("certificate_number").collect().toSeq
    assert(frame.columns.contains("sync_warning"))
    assert(rows(frame) === rows(fullFrame))
  }

  test("a changed KML, KML set, chronology or config defeats the skip") {
    val (inputs, certsCsv, chronCsv, kmlGlob) = inputCopy()
    val cacheDir = Files.createTempDirectory("memo-inputs").toString
    var config = cfg
    /** Jobs of a publish of the current inputs, then of a second. */
    def twice = Seq.fill(2)(withJobs(publish(spark, kmlGlob, certsCsv,
      chronCsv, cacheDir, config))._2.size)
    val kml = inputs.resolve("kml/10-servicearea.kml")
    val added = inputs.resolve("kml/1000-servicearea.kml")
    val changes = Seq[(String, () => Unit)](
      "no change" -> (() => ()),
      "one KML byte" -> (() => Files.writeString(kml,
        Files.readString(kml).replaceFirst("UTF-8", "utf-8"))),
      "a KML added" -> (() => Files.copy(kml, added)),
      "a KML removed" -> (() => Files.delete(added)),
      "a chronology line" -> (() => Files.write(Paths.get(chronCsv),
        "100,U-22-07,11,9/9/2022,Amendment,\n".getBytes,
        java.nio.file.StandardOpenOption.APPEND)),
      "a config change" -> (() =>
        config = cfg.copy(inactiveExtraIds = Seq(121.0, 99.0))))
    for ((what, change) <- changes) {
      change()
      val Seq(first, second) = twice
      assert(first > 0, s"$what: the first publish must run")
      assert(second === 0, s"$what: the second publish must skip")
    }
  }

  test("a publish memo without _SUCCESS is ignored and rebuilt") {
    val cacheDir = Files.createTempDirectory("memo-partial").toString
    def jobs = withJobs(publish(spark, cacheDir = cacheDir))._2.size
    val (full, _) = publish(spark, cacheDir = cacheDir)
    val success = Files.list(Paths.get(cacheDir)).iterator().asScala
      .map(_.resolve("_publish/_SUCCESS")).filter(Files.exists(_)).toSeq
    assert(success.size === 1)
    Files.delete(success.head)
    assert(jobs > 0)
    assert(Files.exists(success.head))
    val (skipped, _) = publish(spark, cacheDir = cacheDir)
    for (f <- layerFiles) assert(md5(skipped, f) === md5(full, f), f)
    assert(jobs === 0)
  }

  test("an unpartitioned miss records the schema a parquet read infers") {
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .putString("comment", "kept").build()
    val rows = spark.range(4).select(
      col("id"),
      struct(col("id").as("a"), array(col("id")).as("b")).as("s"),
      array(struct(col("id").as("x"))).as("arr"),
      map(col("id"), struct(lit("v").as("y"))).as("m"),
      (col("id") / 3).cast("decimal(12,4)").as("dec"),
      lit(java.sql.Date.valueOf("2020-01-01")).as("day"),
      to_timestamp(lit("2020-01-01 10:00:00")).as("ts"),
      to_timestamp_ntz(lit("2020-01-01 10:00:00")).as("ntz"),
      col("id").cast("string").cast("binary").as("bin"),
      col("id").as("tagged", meta))
    assert(rows.schema.exists(!_.nullable))
    val cacheDir = Files.createTempDirectory("sidecar-types")
    val cache = new StageCache(spark, cacheDir.toString)
    val (miss, jobs) = withJobs(cache.stage("types", "v1", Nil)(rows))
    val path = Files.list(cacheDir).iterator().asScala.toSeq.head
    val recorded = org.apache.spark.sql.types.DataType.fromJson(
      Files.readString(path.resolve(StageCache.SchemaFile)))
    val inferred = spark.read.parquet(path.toString).schema
    assert(recorded === inferred)
    assert(recorded.json === inferred.json)
    assert(miss.schema === inferred)
    assert(jobs.size === 1, "the write alone: no footer read-back")
    assert(miss.orderBy("id").collect().toSeq ===
      spark.read.parquet(path.toString).orderBy("id").collect().toSeq)
  }

  test("stage cache memoizes: second run recomputes nothing cached") {
    val cacheDir = Files.createTempDirectory("cache2").toString
    val cache = new StageCache(spark, cacheDir)
    def one = cache.stage("s1", "v1", Seq(s"$res/certificates.csv")) {
      spark.read.option("header", "true").csv(s"$res/certificates.csv")
    }
    one.count()
    assert(cache.computeCount === 1)
    one.count()
    assert(cache.computeCount === 1, "second call must hit the checkpoint")
    // changing code version invalidates
    cache.stage("s1", "v2", Seq(s"$res/certificates.csv")) {
      spark.read.option("header", "true").csv(s"$res/certificates.csv")
    }.count()
    assert(cache.computeCount === 2)
  }

  test("a stage cache hit runs no job and equals an inferred read") {
    // a digit-string partition column comes back typed int by inference
    val rows = spark.range(12).select(col("id"),
      (col("id") % 3).cast("string").as("cell"),
      concat(lit("r"), col("id")).as("name"),
      date_add(lit(java.sql.Date.valueOf("2020-01-01")), col("id").cast("int"))
        .as("day"))
    for (parts <- Seq(Nil, Seq("cell"))) {
      val cacheDir = Files.createTempDirectory("hit-cache")
      val cache = new StageCache(spark, cacheDir.toString)
      def stage = cache.stage("rows", "v1", Nil, partitionCols = parts)(rows)
      val miss = stage
      val (hit, jobs) = withJobs(stage)
      assert(cache.computeCount === 1)
      assert(jobs.isEmpty, s"partitionCols $parts: a hit ran ${jobs.size} jobs")
      val inferred = spark.read.parquet(
        Files.list(cacheDir).iterator().asScala.toSeq.head.toString)
      assert(hit.schema === inferred.schema, s"partitionCols $parts")
      assert(miss.schema === inferred.schema, s"partitionCols $parts")
      if (parts.nonEmpty) {
        assert(hit.schema.fieldNames.last === "cell")
        assert(hit.schema("cell").dataType.typeName === "integer")
      }
      assert(hit.orderBy("id").collect().toSeq ===
        inferred.orderBy("id").collect().toSeq)
    }
  }

  test("a checkpoint without the schema sidecar is recomputed") {
    val cacheDir = Files.createTempDirectory("sidecar-cache")
    val cache = new StageCache(spark, cacheDir.toString)
    def stage = cache.stage("s", "v1", Nil)(spark.range(5).toDF("id"))
    stage
    val checkpoint = Files.list(cacheDir).iterator().asScala.toSeq.head
    val sidecar = checkpoint.resolve(StageCache.SchemaFile)
    assert(Files.exists(checkpoint.resolve("_SUCCESS")))
    Files.delete(sidecar)
    assert(stage.count() === 5)
    assert(cache.computeCount === 2)
    assert(Files.exists(sidecar))
    stage
    assert(cache.computeCount === 2)
  }

  test("a stage cache miss forks no chmod, unpartitioned or partitioned") {
    import jdk.jfr.Recording
    import jdk.jfr.consumer.RecordingFile
    val rows = spark.range(12).select(col("id"),
      (col("id") % 3).cast("string").as("cell"))
    val cacheDir = Files.createTempDirectory("fork-free-cache")
    val cache = new StageCache(spark, cacheDir.toString)
    val out = Files.createTempFile("graft-stage-forks", ".jfr")
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try {
      // control: the recording sees a fork made on this thread
      new ProcessBuilder("true").start().waitFor()
      for (parts <- Seq(Nil, Seq("cell")))
        cache.stage("rows", "v1", Nil, partitionCols = parts)(rows)
      assert(cache.computeCount === 2, "both stages must miss")
    } finally {
      rec.stop()
      rec.dump(out)
      rec.close()
    }
    try {
      val commands = RecordingFile.readAllEvents(out).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command").split(' ').head)
      assert(commands.contains("true"), "the recording missed the control fork")
      val chmods = commands.filter(_.endsWith("chmod"))
      assert(chmods.isEmpty, s"${chmods.size} chmod forks")
    } finally Files.deleteIfExists(out)
  }

  test("the one-aggregate enrichment equals the window form") {
    import spark.implicits._
    def d(s: String): java.sql.Date = java.sql.Date.valueOf(s)
    val sentinel = d("1900-01-01")
    // chronology as processChronology leaves it (order_date never null)
    val chron = Seq[(Double, String, java.sql.Date, String)](
      // several events on the sentinel, some with null order numbers
      (1.0, "1", sentinel, "Original Certificate"),
      (1.0, "4", sentinel, "Amendment"),
      (1.0, null, sentinel, "Service Area Change"),
      (1.0, "2", sentinel, "Deregulated"),
      // tied real dates: null order number next to non-null ones
      (2.0, "3", d("2001-01-15"), "Original Certificate"),
      (2.0, null, d("2010-05-20"), "Service Area Change"),
      (2.0, "7", d("2010-05-20"), "Amendment"),
      (2.0, "10", d("2010-05-20"), "Deregulated"),
      // only null order numbers on the first date
      (3.0, null, d("1999-06-30"), "Original Certificate"),
      (3.0, null, d("2005-02-10"), "Amendment"),
      // only non-area-changing events
      (4.0, "1", d("2012-03-03"), "Deregulated"),
      (4.0, "2", d("2012-03-03"), "Controlling Interest"),
      (4.0, "3", d("2015-09-09"), "Controlling Interest"),
      // events for a certificate the cleaned set does not hold
      (9.0, "1", d("2020-01-01"), "Original Certificate"))
      .toDF("certificate", "order_number", "order_date", "type")
      .repartition(3)
    // 5 has no events at all
    val cleaned = Seq((1.0, "a"), (2.0, "b"), (3.0, "c"), (4.0, "d"),
      (5.0, "e")).toDF("certificate_number", "entity")

    def windowForm(cleaned: DataFrame, chron: DataFrame): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("certificate")
      val events = chron
        .withColumn("is_area_change",
          !col("type").isin("Deregulated", "Controlling Interest"))
        .withColumn("rk_last", row_number().over(
          w.orderBy(col("order_date").desc, col("order_number").desc)))
        .withColumn("rk_first", row_number().over(
          w.orderBy(col("order_date").asc, col("order_number").asc)))
        .withColumn("last_area_change_date",
          max(when(col("is_area_change"), col("order_date"))).over(w))
      val latest = events.filter(col("rk_last") === 1).select(
        col("certificate"),
        col("order_date").as("certificate_last_update_date"),
        col("order_number").as("certificate_last_update_order"),
        col("type").as("certificate_last_update_type"),
        col("last_area_change_date"))
      val first = events.filter(col("rk_first") === 1).select(
        col("certificate"),
        year(col("order_date")).as("certificate_granted_year"))
      cleaned
        .join(broadcast(latest),
          cleaned("certificate_number") === latest("certificate"), "left")
        .drop("certificate")
        .join(broadcast(first),
          cleaned("certificate_number") === first("certificate"), "left")
        .drop("certificate")
    }
    def rows(df: DataFrame) = df.orderBy("certificate_number")
      .select("certificate_number", "certificate_last_update_date",
        "certificate_last_update_order", "certificate_last_update_type",
        "last_area_change_date", "certificate_granted_year")
      .collect().toSeq
    val got = ServiceAreas.enrichCertificates(cleaned, chron)
    val want = windowForm(cleaned, chron)
    assert(got.schema === want.schema)
    assert(rows(got) === rows(want))
    // the adversarial cases do take the tie-breaking paths
    val byCert = rows(got).map(r => r.getDouble(0) -> r).toMap
    assert(byCert(1.0).getString(2) === "4")
    assert(byCert(1.0).getInt(5) === 1900)
    assert(byCert(2.0).getString(2) === "7")
    assert(byCert(4.0).isNullAt(4))
    assert((1 to 5).forall(i => byCert(5.0).isNullAt(i)))
  }
}
