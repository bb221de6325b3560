package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{DateFunctions, GeoFunctions}
import graft.functions.GeoFunctions._
import graft.functions.DateFunctions.convert_two_digit_years
import graft.sources.{GeoJson, Kml}

/** The reference's flagship pipeline (SURVEY §3 E2) rebuilt as one
  * declarative Spark plan per stage: KML service-area geometries +
  * certificate metadata + chronology events → validated, patched,
  * published GeoJSON layers.
  *
  * Stage map (reference R/functions.R file:line):
  *  - certificates: the typed certificates CSV, read once per input
  *    version (a StageCache stage keyed on the CSV alone); the raw layer
  *    and cleanCertificates both start from it
  *  - cleanCertificates: 194-228 (classify + filter active utilities; a
  *    plain filter over the cached certificates)
  *  - processChronology: 251-277 (sentinel dates). Not sorted: its only
  *    consumer groups by certificate and the checkpoint's row order is
  *    read by nothing, so the reference's sort would only cost a
  *    sampling job and a sort exchange per chronology miss
  *  - enrichCertificates: 306-380 (first/latest event per cert — the
  *    J5 correlated lookup decorrelated into one aggregate and one
  *    broadcast join; KML-description regex split 337-349; freshness
  *    flag 287-304)
  *  - buildLayer: 173-192,446-476 (KML scan → make-valid → per-cert
  *    st_collect → broadcast join metadata)
  *  - applyMergePatches: 421-444 (acquired utilities unioned into
  *    acquirers, gated on expected KML version)
  *  - publish: 500-529,559 (final schema + sync status + GeoJSON sink)
  *
  * [[run]] reads the KMLs once per publish: the descriptions and the
  * geometry derive from one features frame. It persists three frames
  * for the run — the features, the raw per-cert geometry and the
  * published layer before the int downcast — so the raw write, the
  * merge gate, the downcast check and the published write do not
  * re-scan and re-parse, and unpersists them before it returns.
  *
  * All dimension joins broadcast (≤ hundreds of rows of metadata at
  * reference scale; at engine scale the fact side — KML features — is
  * the only large input and is never collected).
  */
object ServiceAreas {

  case class MergePatch(certTo: Double, certFrom: Double)

  case class Config(
      operatorIds: Seq[Double] = Seq.empty,
      inactiveExtraIds: Seq[Double] = Seq.empty,
      mergePatches: Seq[MergePatch] = Seq.empty,
      // cert → expected KML "most recent update" date (gate, _targets.R:170-192)
      expectedKmlDates: Map[Double, String] = Map.empty)

  /** Clean + classify the scraped certificate list
    * (R/functions.R:194-228). Null cert numbers dropped, operators
    * flagged, inactive + operator rows excluded from the cleaned set.
    */
  def cleanCertificates(certs: DataFrame, cfg: Config): DataFrame =
    certs
      .filter(col("certificate_number").isNotNull)
      .withColumn("entity_type",
        when(col("certificate_number").isin(cfg.operatorIds: _*),
          "operator").otherwise("utility"))
      .filter(col("certificate_status") === "Active" &&
        col("entity_type") === "utility" &&
        !col("certificate_number").isin(cfg.inactiveExtraIds: _*))

  /** Chronology events: blank dates → 1900-01-01 sentinel, two-digit
    * year pivot (R/functions.R:251-277). The reference's sort is left
    * out: [[enrichCertificates]] groups by certificate, so no reader
    * depends on the row order.
    */
  def processChronology(chron: DataFrame): DataFrame =
    chron.withColumn("order_date",
      convert_two_digit_years(coalesce(col("order_date"), lit(""))))

  /** Enrich certificates with first/latest chronology events — the
    * decorrelated rewrite of the reference's per-row lookups (J5):
    * one aggregate per certificate, one broadcast join.
    */
  def enrichCertificates(cleaned: DataFrame, chron: DataFrame): DataFrame = {
    // order_number tiebreak: tied dates are common (all blank dates
    // collapse to the 1900-01-01 sentinel). A struct orders a null
    // field first, so max_by takes the latest event with null order
    // numbers last and min_by the first with them first — the
    // reference's desc and asc event ranks
    val key = struct(col("order_date"), col("order_number"))
    val latest = max_by(
      struct(col("order_date"), col("order_number"), col("type")), key)
    val events = chron.groupBy("certificate").agg(
      latest.getField("order_date").as("certificate_last_update_date"),
      latest.getField("order_number").as("certificate_last_update_order"),
      latest.getField("type").as("certificate_last_update_type"),
      max(when(!col("type").isin("Deregulated", "Controlling Interest"),
        col("order_date"))).as("last_area_change_date"),
      year(min_by(col("order_date"), key)).as("certificate_granted_year"))
    cleaned
      .join(broadcast(events),
        cleaned("certificate_number") === events("certificate"), "left")
      .drop("certificate")
  }

  /** The HTML-wrapped-description pre-clean (read_kml_description,
    * R/functions.R:230-247): a few certificates' KML descriptions come
    * wrapped in an HTML table — slice the "Granted to:" … end-marker
    * window and unescape the double-escaped tags. Plain descriptions
    * pass through.
    */
  private val HtmlEndMarker = "</td> </tr> </table> </td> </tr> </table>"
  def cleanKmlDescription(desc: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val start = locate("Granted to:", desc)
    val len = locate(HtmlEndMarker, desc) - start
    val unescaped = regexp_replace(
      regexp_replace(desc.substr(start, len), "&lt;", "<"), "&gt;", ">")
    when(desc.startsWith("<html"), unescaped).otherwise(desc)
  }

  /** The strict 3-field description split (separate_wider_regex,
    * R/functions.R:337-349): anchored pattern, groups =
    * kml_utility_name / kml_utility_type /
    * kml_most_recent_update_included. Same character classes as the
    * reference (name excludes digits and '<', so it stops at the first
    * tag).
    */
  val KmlDescPattern: String =
    "^Granted to: ([-A-Za-z/().,&\\\\ ]+)" +
      "(?:<br><br>Utility Type: )?((?:[A-Za-z]+)?)" +
      "(?:<br>)?<br>CHRONOLOGY: ([-.,?A-Za-z0-9/():& ]*)" +
      "(?:<br> ?(?:<br> ?)?)?$"

  /** First feature's description per certificate from the ORIGINAL
    * service-area KMLs (read_kml_description reads
    * `data/{cert}-servicearea.kml`, never the patch files; `[1,]` picks
    * the first feature — here min-by within-file explode order).
    */
  def kmlDescriptions(spark: SparkSession, kmlGlob: String): DataFrame =
    kmlDescriptions(Kml.read(spark, kmlGlob))

  /** [[kmlDescriptions]] over features already read by [[Kml.read]]. */
  def kmlDescriptions(kml: DataFrame): DataFrame =
    kml
      .filter(col("path").rlike("""-servicearea\.kml$"""))
      .withColumn("certificate_number",
        regexp_extract(col("path"), """([\d]+(\.[\d]+)?)-servicearea""", 1)
          .cast("double"))
      .filter(col("certificate_number").isNotNull)
      .withColumn("fid", monotonically_increasing_id())
      .groupBy("certificate_number")
      .agg(min_by(col("description"), col("fid")).as("kml_desc_field"))

  /** Apply the pre-clean + strict split + alt-name rule
    * (R/functions.R:337-352,364-366) to a frame carrying
    * `kml_desc_field` and `certificate_name`. Strict like the
    * reference's separate_wider_regex: a NON-NULL description that
    * doesn't match the pattern raises; a missing description (no KML)
    * yields null fields. alt_name is the KML-granted name only where it
    * DIFFERS (case-insensitively) from the certificate name.
    */
  def splitKmlDescription(df: DataFrame): DataFrame = {
    val cleaned = cleanKmlDescription(col("kml_desc_field"))
    val checked = when(col("kml_desc_field").isNull,
        lit(null).cast("string"))
      .when(cleaned.rlike(KmlDescPattern), cleaned)
      .otherwise(raise_error(concat(
        lit("KML description does not match the Granted-to pattern: "),
        cleaned)))
    // exactly-2-digit DAY, like the reference (R/functions.R:363-364):
    // a 1-digit day ("Amended 6/1/2012") intentionally yields NO date
    // (reference NA), which can gate the merge/PLSS patch version check
    val datePat = """[\d]{1,2}/[\d]{2}/(?:[\d]{4}|[\d]{2})"""
    df.withColumn("kml_desc_clean", checked)
      .withColumn("kml_utility_name",
        regexp_extract(col("kml_desc_clean"), KmlDescPattern, 1))
      .withColumn("kml_utility_type",
        regexp_extract(col("kml_desc_clean"), KmlDescPattern, 2))
      .withColumn("kml_most_recent_update_included",
        regexp_extract(col("kml_desc_clean"), KmlDescPattern, 3))
      .withColumn("alt_name",
        when(lower(col("certificate_name")) ===
          lower(col("kml_utility_name")), lit(null).cast("string"))
          .otherwise(col("kml_utility_name")))
      .withColumn("kml_most_recent_update_date",
        when(regexp_extract(col("kml_most_recent_update_included"),
          datePat, 0) =!= "",
          convert_two_digit_years(regexp_extract(
            col("kml_most_recent_update_included"), datePat, 0))))
      .drop("kml_desc_clean")
  }

  /** KML dir → one validated geometry per certificate
    * (R/functions.R:446-476): cert number from the file name, make-valid
    * per feature, collect (NOT dissolve) per cert.
    */
  def buildGeometry(spark: SparkSession, kmlGlob: String): DataFrame =
    buildGeometry(Kml.read(spark, kmlGlob))

  /** [[buildGeometry]] over features already read by [[Kml.read]]. */
  def buildGeometry(kml: DataFrame): DataFrame = {
    GeoFunctions.registerAll(kml.sparkSession)
    kml
      .withColumn("certificate_number",
        regexp_extract(col("path"), """([\d]+(\.[\d]+)?)-servicearea""", 1)
          .cast("double"))
      .filter(col("certificate_number").isNotNull)
      .withColumn("geometry", st_makeValid(col("geometry")))
      .withColumn("kml_date_raw",
        regexp_extract(col("description"),
          """[\d]{1,2}/[\d]{1,2}/(?:[\d]{4}|[\d]{2})""", 0))
      .groupBy("certificate_number")
      .agg(
        st_collect_agg(col("geometry")).as("geometry"),
        max(when(col("kml_date_raw") =!= "",
          convert_two_digit_years(col("kml_date_raw"))))
          .as("geometry_last_update"))
  }

  /** Merge acquired utilities' polygons into acquirers
    * (R/functions.R:421-444), version-gated (_targets.R:170-192): a
    * patch applies only when the acquired cert's KML date matches the
    * expected snapshot — otherwise the patch is skipped with the
    * original rows kept (graceful degradation, SURVEY §5.2).
    * Distributed form: map cert → target cert, group-union by target.
    */
  def applyMergePatches(spark: SparkSession, geo: DataFrame,
      cfg: Config): DataFrame = {
    import spark.implicits._
    if (cfg.mergePatches.isEmpty) return geo
    // one pass collects every gated cert's KML date (collecting inside
    // a per-patch closure would re-execute the whole upstream KML plan
    // once per patch)
    val gatedCerts = cfg.mergePatches.map(_.certFrom)
      .filter(cfg.expectedKmlDates.contains)
    val actualDates: Map[Double, String] =
      if (gatedCerts.isEmpty) Map.empty
      else geo
        .filter(col("certificate_number").isin(gatedCerts: _*))
        .select(col("certificate_number"),
          date_format(col("geometry_last_update"), "M/d/yyyy"))
        .collect()
        .flatMap(r => Option(r.getString(1)).map(r.getDouble(0) -> _))
        .toMap
    val gateOk: MergePatch => Boolean = p =>
      cfg.expectedKmlDates.get(p.certFrom).forall(expected =>
        actualDates.get(p.certFrom).contains(expected))
    val applied = cfg.mergePatches.filter(gateOk)
    val mapping = applied.map(p => (p.certFrom, p.certTo))
      .toDF("from_cert", "to_cert")
    geo
      .join(broadcast(mapping),
        col("certificate_number") === col("from_cert"), "left")
      .withColumn("target_cert",
        coalesce(col("to_cert"), col("certificate_number")))
      .groupBy(col("target_cert").as("certificate_number"))
      .agg(
        st_union_agg(col("geometry")).as("geometry"),
        max(col("geometry_last_update")).as("geometry_last_update"))
  }

  /** Final published schema + sync status (R/functions.R:490-529,
    * about.qmd:30-42). geometry_is_current: KML-embedded date >= last
    * service-area-changing chronology event; 3-valued (null = unknown).
    *
    * The reference's freshness cross-check
    * (kml_has_newest_service_area_updates, R/functions.R:287-304) has a
    * warn branch its flag value alone can't convey: a KML date NEWER
    * than the newest chronology entry of ANY type means RCA's
    * chronology is incomplete ("should have an entry dated X but
    * doesn't") — the reference `warning()`s and returns NA. Those
    * impossible states surface here as a `sync_warning` column
    * (null = consistent):
    *   - `chronology_missing_entry` — the R:293 warn branch;
    *   - `no_chronology_entries` — a KML date but no chronology rows at
    *     all (the reference's length-0 `tail()` comparison would error;
    *     guarded here as a named state).
    * Both force geometry_is_current to null (the reference's NA), and a
    * chronology with NO area-changing entries is `true` (the
    * reference's `nrow(newer) == 0` → TRUE path), not unknown. The
    * reference emits warnings to the console, not the GeoJSON, so
    * [[run]] drops the column before the file write (byte parity).
    */
  def publishLayer(enriched: DataFrame, geo: DataFrame): DataFrame = {
    val hasKml = col("geometry_last_update").isNotNull
    geo.join(broadcast(enriched), Seq("certificate_number"), "inner")
      .withColumn("sync_warning",
        when(hasKml && col("certificate_last_update_date").isNull,
          lit("no_chronology_entries"))
          .when(hasKml && (col("certificate_last_update_date") <
            col("geometry_last_update")), lit("chronology_missing_entry")))
      .withColumn("geometry_is_current",
        when(!hasKml || col("sync_warning").isNotNull,
          lit(null).cast("boolean"))
          .otherwise(col("last_area_change_date").isNull ||
            col("geometry_last_update") >= col("last_area_change_date")))
      .withColumn("geometry_cert_sync_status",
        when(col("geometry_is_current") === true, "up_to_date")
          .when(col("geometry_is_current") === false, "outdated")
          .otherwise("unknown"))
      .select(
        col("certificate_number"),
        col("entity"),
        col("certificate_name"),
        col("cpcn_url").as("certificate_url"),
        col("certificate_granted_year"),
        col("certificate_last_update_date"),
        col("certificate_last_update_order"),
        col("certificate_last_update_type"),
        col("geometry_last_update"),
        col("geometry_is_current"),
        col("geometry_cert_sync_status"),
        col("sync_warning"),
        col("geometry"))
  }

  /** Conditional whole-column int downcast (reference A5,
    * R/functions.R:220-224,524-528): cast to int iff every value is
    * integral — a plan-dependent schema, so necessarily a two-pass
    * action (SURVEY §7.4).
    */
  def maybeDowncastToInt(df: DataFrame, colName: String): DataFrame = {
    val allInt = df
      .agg(every(col(colName) === floor(col(colName)) ||
        col(colName).isNull))
      .head().getBoolean(0)
    if (allInt) df.withColumn(colName, col(colName).cast("int")) else df
  }

  /** End-to-end run under StageCache memoization; writes raw + cleaned
    * GeoJSON layers, each in ascending `certificate_number`, and returns
    * the cleaned DataFrame (no longer persisted).
    */
  def run(spark: SparkSession, certsCsv: String, chronCsv: String,
      kmlGlob: String, cfg: Config, outDir: String,
      cacheDir: String): DataFrame = {
    DateFunctions.registerAll(spark)
    GeoFunctions.registerAll(spark)
    val cache = new StageCache(spark, cacheDir)
    def csv(p: String) = spark.read
      .option("header", "true").option("inferSchema", "true").csv(p)

    // config participates in the cache key: a changed exclusion list or
    // patch table must invalidate config-dependent stages. Canonical
    // serialization (sorted, field-tagged) + SHA-256 — toString.hashCode
    // was 32-bit and sensitive to Seq/Map formatting (ADVICE r01).
    val cfgVer = "v1-" + cache.versionHash(Seq(
      "operators=" + cfg.operatorIds.sorted.mkString(","),
      "inactive=" + cfg.inactiveExtraIds.sorted.mkString(","),
      "merges=" + cfg.mergePatches
        .map(p => s"${p.certFrom}->${p.certTo}").sorted.mkString(","),
      "expectedKml=" + cfg.expectedKmlDates.toSeq.sortBy(_._1)
        .map { case (k, v) => s"$k:$v" }.mkString(",")))

    val certs = cache.stage("certificates", "v1", Seq(certsCsv)) {
      csv(certsCsv)
    }
    val cleaned = cleanCertificates(certs, cfg)
    val chron = cache.stage("chronology", "v1", Seq(chronCsv)) {
      processChronology(csv(chronCsv))
    }
    val enriched0 = cache.stage("enriched", cfgVer,
      Seq(certsCsv, chronCsv)) {
      enrichCertificates(cleaned, chron)
    }
    // every frame below is read by more than one action; the most
    // recently persisted is released first
    var persisted = List.empty[DataFrame]
    def persist(df: DataFrame): DataFrame = {
      persisted ::= df.persist(); df
    }
    // one file per layer, in certificate order: the aggregates' output
    // order depends on the shuffle partitioning and on the caching
    def writeLayer(df: DataFrame, path: String, name: String): Unit =
      GeoJson.write(
        df.coalesce(1).sortWithinPartitions("certificate_number"),
        "geometry", path, name)
    try {
      val features = persist(Kml.read(spark, kmlGlob))
      // description-derived kml_* columns ride the certificates frame as
      // in the reference (build_certificates_df); the published select
      // drops them, matching R/functions.R:505-518
      val enriched = splitKmlDescription(
        enriched0.join(broadcast(kmlDescriptions(features)),
          Seq("certificate_number"), "left"))
      val geoRaw = persist(buildGeometry(features))

      // raw layer: original CSV columns + geometry (R/functions.R:173-192)
      val raw = geoRaw.join(broadcast(
          certs.filter(col("certificate_number").isNotNull)),
        Seq("certificate_number"), "inner")
      writeLayer(raw.drop("geometry_last_update"),
        s"$outDir/service-areas-raw.geojson", "service-areas-raw")

      val patched = applyMergePatches(spark, geoRaw, cfg)
      val published = maybeDowncastToInt(
        persist(publishLayer(enriched, patched)), "certificate_number")
      // sync_warning mirrors the reference's CONSOLE warnings — it is not
      // a property of its GeoJSON output, so drop it for byte parity; the
      // returned frame keeps it as the structured surface of those states
      writeLayer(published.drop("sync_warning"),
        s"$outDir/service-areas.geojson", "service-areas")
      published
    } finally persisted.foreach(_.unpersist())
  }
}
