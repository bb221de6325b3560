package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.{Md5Hash48, RollingHash, TextHash, Winnow}
import graft.geo.Geo
import graft.pipeline.ServiceAreas
import graft.sources.{GeoJson, Kml}

/** The generated pipeline configuration (`alaska/config.txt`). */
final case class AlaskaConfig(config: ServiceAreas.Config,
    merges: Seq[(Double, Double)])

object AlaskaConfig {
  def read(path: String): AlaskaConfig = {
    val lines = scala.io.Source.fromFile(path).getLines()
      .map(_.trim.split("\\s+").toSeq).toSeq
    def ids(k: String) = lines.filter(_.head == k).flatMap(_.tail.map(_.toDouble))
    val merges = lines.filter(_.head == "merge")
      .map(l => (l(1).toDouble, l(2).toDouble))
    AlaskaConfig(ServiceAreas.Config(
      operatorIds = ids("operators"),
      inactiveExtraIds = ids("inactive"),
      mergePatches = merges.map { case (to, from) =>
        ServiceAreas.MergePatch(to, from) },
      expectedKmlDates = lines.filter(_.head == "expect")
        .map(l => l(1).toDouble -> l(2)).toMap), merges)
  }
}

/** Layer probes of a traced run: each public kernel is called on its own
  * over the generated inputs and timed (median of [[Reps]]), so a change
  * in one layer shows without the rest of the op around it. A workload
  * probes only the layers its ops run: `alaska_publish` the sources, geo
  * and pipeline stages, `curation_batch` the functions, multimodal and
  * operators kernels; `stream_maintain` has no kernel probes.
  */
final class Probes(spark: SparkSession, workload: String, tables: String,
    alaska: String, work: String, recorder: Recorder, tracer: Tracer) {
  import Harness.{median, ms}
  private val Reps = 3
  private lazy val cfg = AlaskaConfig.read(s"$alaska/config.txt")

  private def timed(name: String)(f: => Any): Double =
    median((1 to Reps).map(_ => ms(tracer.span(name)(f))._2))

  def run(): Map[String, Double] = workload match {
    case "alaska_publish" => sourcesAndGeo() ++ stages()
    case "curation_batch" => functions() ++ multimodal() ++ operators()
    case _ => Map.empty
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def sourcesAndGeo(): Map[String, Double] = {
    val xmls = new File(s"$alaska/kml").listFiles().sortBy(_.getName)
      .map(f => f.getName.takeWhile(_ != '-').toDouble ->
        new String(Files.readAllBytes(f.toPath), "UTF-8")).toSeq
    val parseMs = timed("sources.kml_parse")(xmls.map(x => Kml.parseFeatures(x._2)))
    val feats = xmls.flatMap { case (c, x) =>
      Kml.parseFeatures(x).map(f => c -> Geo.fromWkb(f.geometry)) }
    val validMs = timed("geo.make_valid")(feats.map(f => Geo.makeValid(f._2)))
    val valid = feats.map { case (c, g) => c -> Geo.makeValid(g) }
    val wkbMs = timed("geo.wkb")(valid.map(v => Geo.fromWkb(Geo.toWkb(v._2))))
    val target = cfg.merges.map { case (to, from) => from -> to }.toMap
    val groups = valid.groupBy(v => target.getOrElse(v._1, v._1))
      .filter(_._2.size > 1).values.map(_.map(_._2)).toSeq
    val unionMs = timed("geo.union")(groups.map(Geo.unionAll))
    import spark.implicits._
    val df = valid.map { case (c, g) => (c, Geo.toWkb(g)) }
      .toDF("certificate_number", "geometry").localCheckpoint()
    val out = s"$work/probe-layer.geojson"
    val writeMs = timed("sources.geojson_write")(
      GeoJson.write(df, "geometry", out, "probe"))
    Map("sources.kml_parse_ms" -> parseMs,
      "sources.kml_features" -> feats.size.toDouble,
      "sources.geojson_write_ms" -> writeMs,
      "geo.make_valid_ms" -> validMs, "geo.wkb_ms" -> wkbMs,
      "geo.union_ms" -> unionMs)
  }

  private def functions(): Map[String, Double] = {
    val texts = graft.Tables.documents(spark, tables).select("text")
      .collect().map(_.getString(0)).toSeq
    val utf = texts.map(UTF8String.fromString)
    val rolled = utf.map(RollingHash.hashes(_, 5, 257L))
    def perDoc(name: String)(f: => Any) = timed(name)(f) * 1e3 / texts.size
    Map(
      "functions.minhash_us_per_doc" -> perDoc("functions.minhash")(
        texts.map(t => TextHash.minHashSignature(TextHash.shingleHashes(t, 5), 128))),
      "functions.md5_hash48_us_per_doc" -> perDoc("functions.md5_hash48")(
        utf.map(Md5Hash48.hash48)),
      "functions.rolling_hash_us_per_doc" -> perDoc("functions.rolling_hash")(
        utf.map(RollingHash.hashes(_, 5, 257L))),
      "functions.winnow_us_per_doc" -> perDoc("functions.winnow")(
        rolled.map(Winnow.mins(_, 8))))
  }

  private def multimodal(): Map[String, Double] = {
    val blobs = graft.multimodal.Multimodal.imageTable(spark, tables)
      .select("blob").collect().map(_.getAs[Array[Byte]](0)).toSeq
    Map("multimodal.ahash_us_per_image" -> timed("multimodal.ahash")(
      blobs.map(graft.multimodal.Multimodal.averageHash)) * 1e3 / blobs.size)
  }

  /** Connected components over candidate edges: doc pairs that share a
    * bucket of the stored t19 band index.
    */
  private def operators(): Map[String, Double] = {
    val docs = graft.Tables.documents(spark, tables).select("doc_id", "text")
    val idx = graft.queries.TextOps.ensureBandIndex(spark, tables, docs,
      "t19_corpus")
    val a = idx.select(col("doc_id").as("d1"), col("band"), col("bucket"))
    val b = idx.select(col("doc_id").as("d2"), col("band"), col("bucket"))
    val edges = a.join(b, Seq("band", "bucket")).filter(col("d1") < col("d2"))
      .select("d1", "d2").distinct().localCheckpoint()
    val sc = spark.sparkContext
    sc.addSparkListener(recorder)
    sc.setLocalProperty("perfbench.op", "probe:components")
    val t = ms(tracer.span("operators.components")(
      noop(graft.operators.Components.connectedComponents(edges))))._2
    sc.setLocalProperty("perfbench.op", null)
    recorder.barrier(spark)
    sc.removeSparkListener(recorder)
    Map("operators.components_ms" -> t,
      "operators.components_jobs" -> recorder.snapshot.get("probe:components").map(_.v("jobs"))
        .getOrElse(0.0))
  }

  /** Each ServiceAreas stage on its own: its inputs are checkpointed
    * first, so a stage's time is its own work, materialized via noop.
    */
  private def stages(): Map[String, Double] = {
    def csv(p: String) = spark.read.option("header", "true")
      .option("inferSchema", "true").csv(p)
    val glob = s"$alaska/kml/*.kml"
    val c = cfg.config
    def stage(name: String)(df: => DataFrame): (Double, DataFrame) = {
      val t = timed(s"pipeline.$name")(noop(df))
      (t, df.localCheckpoint())
    }
    val (cleanMs, cleaned) = stage("clean")(
      ServiceAreas.cleanCertificates(csv(s"$alaska/certificates.csv"), c))
    val (chronMs, chron) = stage("chronology")(
      ServiceAreas.processChronology(csv(s"$alaska/chronology.csv")))
    val (enrichMs, enriched) = stage("enrich")(
      ServiceAreas.enrichCertificates(cleaned, chron))
    val (descMs, described) = stage("kml_desc")(
      ServiceAreas.splitKmlDescription(enriched.join(
        broadcast(ServiceAreas.kmlDescriptions(spark, glob)),
        Seq("certificate_number"), "left")))
    val (geomMs, geom) = stage("geometry")(ServiceAreas.buildGeometry(spark, glob))
    val (mergeMs, merged) = stage("merge")(
      ServiceAreas.applyMergePatches(spark, geom, c))
    val (pubMs, _) = stage("publish")(ServiceAreas.publishLayer(described, merged))
    Map("pipeline.clean_ms" -> cleanMs, "pipeline.chronology_ms" -> chronMs,
      "pipeline.enrich_ms" -> enrichMs, "pipeline.kml_desc_ms" -> descMs,
      "pipeline.geometry_ms" -> geomMs, "pipeline.merge_ms" -> mergeMs,
      "pipeline.publish_ms" -> pubMs)
  }
}
