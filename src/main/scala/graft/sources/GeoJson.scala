package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption,
  StandardOpenOption}
import java.util.UUID
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.geo.Geo

/** GeoJSON FeatureCollection source + sink (reference S5/S10,
  * R/functions.R:166-171,393-396; output shape `service-areas.geojson`).
  *
  * Reader: distributed — `spark.read.json` parses the FeatureCollection,
  * each feature's geometry sub-document is re-serialized to a JSON string
  * and decoded to WKB map-side. Properties surface as columns.
  *
  * Writer: two modes.
  *  - `write`: distributed serialization of one feature-line per row
  *    (executors do the heavy geometry→JSON work), then a driver-side
  *    assembly of the FeatureCollection envelope with CRS84 header +
  *    overwrite semantics (`st_write_or_overwrite` parity). Single-file
  *    output is inherently a 1-writer step — same as the reference.
  *  - `writePartitioned`: newline-delimited GeoJSON features written by
  *    Spark's text sink for cluster-scale layers (no single-file
  *    bottleneck; readable back by `readFeatureLines`).
  */
object GeoJson {

  /** Read a FeatureCollection file: geometry as WKB + properties.* */
  def read(spark: SparkSession, path: String): DataFrame = {
    val raw = spark.read.option("multiLine", "true").json(path)
    val features = raw.select(explode(col("features")).as("f"))
    val geomJson = to_json(col("f.geometry"))
    val decode = udf { (j: String) => Geo.toWkb(Geo.fromGeoJson(j)) }
    features.select(
      decode(geomJson).as("geometry"),
      col("f.properties.*"))
  }

  /** Lean FeatureCollection reader for one-feature-per-line files (the
    * shape both the reference and our sink emit): no schema-inference
    * pass, and ONE parse per line — [[parseFeatureLine]] walks the
    * feature object once, capturing the geometry substring and the
    * requested property scalars together (the round-3 form spent one
    * full get_json_object parse PER property plus one for the geometry
    * plus an rlike scan). Line-based text scan → fully distributed and
    * splittable, unlike multiLine JSON which is one record per file.
    */
  def readFields(spark: SparkSession, path: String,
      properties: Seq[String]): DataFrame = {
    val propNames = properties.toIndexedSeq
    val parse = udf { (line: String) =>
      parseFeatureLine(line, propNames)
    }
    val parsed = spark.read.text(path)
      .select(parse(col("value")).as("f"))
      .filter(col("f").isNotNull)
    parsed.select(propNames.zipWithIndex.map { case (p, i) =>
      col("f._2").getItem(i).as(p)
    } :+ col("f._1").as("geometry"): _*)
  }

  /** One-pass parse of a single GeoJSON Feature line (both the
    * reference's spaced GDAL style and our sink's compact style):
    * returns the WKB geometry plus the requested top-level property
    * scalars rendered as get_json_object does (strings unescaped,
    * numbers/booleans verbatim, JSON null → SQL null), or None for
    * non-Feature lines (envelope braces, "features": [ etc.).
    */
  private[graft] def parseFeatureLine(line0: String,
      properties: IndexedSeq[String]): Option[(Array[Byte],
        Array[String])] = {
    if (line0 == null) return None
    val s = line0.trim.stripSuffix(",")
    if (s.isEmpty || s.head != '{' || s.last != '}') return None
    var isFeature = false
    var geomJson: String = null
    val propVals = new Array[String](properties.length)

    def skipWs(i0: Int): Int = {
      var i = i0
      while (i < s.length && s(i).isWhitespace) i += 1
      i
    }
    /** index just past a JSON value starting at i0 (must be on it). */
    def skipValue(i0: Int): Int = s(i0) match {
      case '"' => skipString(i0)
      case '{' | '[' =>
        val open = s(i0); val close = if (open == '{') '}' else ']'
        var depth = 0; var i = i0
        while (i < s.length) {
          s(i) match {
            case '"' => i = skipString(i) - 1
            case `open` => depth += 1
            case `close` =>
              depth -= 1
              if (depth == 0) return i + 1
            case _ =>
          }
          i += 1
        }
        i
      case _ =>
        var i = i0
        while (i < s.length && !",}]".contains(s(i)) &&
          !s(i).isWhitespace) i += 1
        i
    }
    /** index just past a string literal starting at i0 (on the quote). */
    def skipString(i0: Int): Int = {
      var i = i0 + 1
      while (i < s.length) {
        s(i) match {
          case '\\' => i += 1
          case '"' => return i + 1
          case _ =>
        }
        i += 1
      }
      i
    }
    def unescape(raw: String): String = {
      if (!raw.contains('\\')) return raw
      val sb = new StringBuilder
      var i = 0
      while (i < raw.length) {
        val c = raw(i)
        if (c == '\\' && i + 1 < raw.length) {
          raw(i + 1) match {
            case '"' => sb.append('"'); i += 2
            case '\\' => sb.append('\\'); i += 2
            case '/' => sb.append('/'); i += 2
            case 'n' => sb.append('\n'); i += 2
            case 'r' => sb.append('\r'); i += 2
            case 't' => sb.append('\t'); i += 2
            case 'b' => sb.append('\b'); i += 2
            case 'f' => sb.append('\f'); i += 2
            case 'u' if i + 5 < raw.length =>
              sb.append(Integer.parseInt(
                raw.substring(i + 2, i + 6), 16).toChar)
              i += 6
            case other => sb.append(other); i += 2
          }
        } else { sb.append(c); i += 1 }
      }
      sb.toString
    }
    /** scalar value text at i0, as get_json_object renders it. */
    def scalarText(i0: Int): String = s(i0) match {
      case '"' => unescape(s.substring(i0 + 1, skipString(i0) - 1))
      case _ =>
        val end = skipValue(i0)
        val t = s.substring(i0, end)
        if (t == "null") null else t
    }
    /** walk the members of the object starting at objStart. */
    def walkObject(objStart: Int)(member: (String, Int) => Unit): Int = {
      var i = skipWs(objStart + 1)
      while (i < s.length && s(i) != '}') {
        if (s(i) != '"') return s.length // malformed
        val keyEnd = skipString(i)
        val key = s.substring(i + 1, keyEnd - 1)
        i = skipWs(keyEnd)
        if (i >= s.length || s(i) != ':') return s.length
        i = skipWs(i + 1)
        member(key, i)
        i = skipWs(skipValue(i))
        if (i < s.length && s(i) == ',') i = skipWs(i + 1)
      }
      if (i < s.length) i + 1 else i
    }

    walkObject(0) { (key, vi) =>
      key match {
        case "type" =>
          isFeature = s(vi) == '"' &&
            s.substring(vi + 1, skipString(vi) - 1) == "Feature"
        case "geometry" =>
          val raw = s.substring(vi, skipValue(vi))
          geomJson = if (raw == "null") null else raw
        case "properties" if s(vi) == '{' =>
          walkObject(vi) { (pkey, pvi) =>
            val idx = properties.indexOf(pkey)
            if (idx >= 0) propVals(idx) = scalarText(pvi)
          }
        case _ =>
      }
    }
    if (!isFeature) None
    else Some((
      if (geomJson == null) null else Geo.toWkb(Geo.fromGeoJson(geomJson)),
      propVals))
  }

  /** Serialize rows to GeoJSON feature strings. `geometryCol` must be
    * WKB binary; all other columns become properties.
    */
  private def featureLines(df: DataFrame, geometryCol: String): DataFrame = {
    val props = df.schema.fieldNames.filterNot(_ == geometryCol)
    val propsStruct = struct(props.toIndexedSeq.map(col): _*)
    val geo = udf { (wkb: Array[Byte]) =>
      if (wkb == null) null else Geo.toGeoJson(Geo.fromWkb(wkb))
    }
    df.select(concat(
      lit("""{"type":"Feature","properties":"""),
      when(propsStruct.isNull, lit("{}")).otherwise(to_json(propsStruct)),
      lit(""","geometry":"""),
      coalesce(geo(col(geometryCol)), lit("null")),
      lit("}")).as("feature"))
  }

  private def writeCollection(lines: Seq[String], path: String,
      name: String): Unit = {
    val sb = new StringBuilder
    sb.append("{\n\"type\": \"FeatureCollection\",\n")
    sb.append(s""""name": "$name",\n""")
    sb.append("\"crs\": { \"type\": \"name\", \"properties\": " +
      "{ \"name\": \"urn:ogc:def:crs:OGC:1.3:CRS84\" } },\n")
    sb.append("\"features\": [\n")
    sb.append(lines.mkString(",\n"))
    sb.append("\n]\n}\n")
    replaceAtomically(Paths.get(path))(tmp => Files.write(tmp,
      sb.toString.getBytes(StandardCharsets.UTF_8), StandardOpenOption.CREATE_NEW))
  }

  /** Replaces `target` with the file `fill` writes to a fresh hidden
    * sibling, by an atomic rename: a reader, or a crash mid-write, sees
    * the old file or the whole new one, never a truncated layer.
    */
  def replaceAtomically(target: Path)(fill: Path => Unit): Unit = {
    val dir = target.toAbsolutePath.getParent
    Files.createDirectories(dir)
    val tmp = dir.resolve(s".${target.getFileName}.${UUID.randomUUID}.tmp")
    try {
      fill(tmp)
      Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
    } finally Files.deleteIfExists(tmp)
  }

  /** Driver-side single-file sinks refuse frames larger than this.
    * They exist for the reference's ~100-feature published layers
    * (byte-compatible envelope assembly is inherently single-writer);
    * at 100 k features × ~200 B the driver buffer is ~20 MB — beyond
    * that use [[writePartitioned]], the cluster-scale sink.
    */
  val MaxSingleFileFeatures = 100000

  /** take()-bounded collect: fails fast (no full-frame scan, no driver
    * OOM) when the frame exceeds `maxRows`, pointing at the
    * partitioned sink.
    */
  private def collectGuarded(lines: DataFrame, path: String,
      maxRows: Int): Array[String] = {
    val taken = lines.take(maxRows + 1)
    require(taken.length <= maxRows,
      s"single-file GeoJSON sink at $path: frame exceeds $maxRows " +
        "features; this sink assembles the file on the driver — use " +
        "GeoJson.writePartitioned for cluster-scale output")
    taken.map(_.getString(0))
  }

  /** Overwrite-write a single FeatureCollection file with the CRS84
    * header the reference emits (service-areas.geojson:1-4).
    */
  def write(df: DataFrame, geometryCol: String, path: String,
      name: String, maxRows: Int = MaxSingleFileFeatures): Unit =
    writeCollection(
      collectGuarded(featureLines(df, geometryCol), path, maxRows),
      path, name)

  private def jsonEscape(s: String): String = {
    val sb = new StringBuilder
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.toString
  }

  /** GDAL/OGR `st_write`-compatible sink: the reference's exact member
    * spacing, properties in column order, coordinates via
    * [[Geo.formatGdal]] — byte-compatible with the published layers
    * (asserted file-level in FullReplaySpec). Feature lines serialize
    * on executors; the driver only assembles the envelope.
    */
  def writeGdal(df: DataFrame, geometryCol: String, path: String,
      name: String, maxRows: Int = MaxSingleFileFeatures): Unit = {
    val props = df.schema.fields.filterNot(_.name == geometryCol)
    val propNames = props.map(_.name)
    val lineUdf = udf { (r: Row, wkb: Array[Byte]) =>
      val sb = new StringBuilder("""{ "type": "Feature", "properties": { """)
      propNames.zipWithIndex.foreach { case (n, i) =>
        if (i > 0) sb.append(", ")
        sb.append('"').append(n).append("\": ")
        val v = if (r.isNullAt(i)) null else r.get(i)
        v match {
          case null => sb.append("null")
          case b: Boolean => sb.append(b.toString)
          case n2 @ (_: Int | _: Long | _: Short | _: Byte) =>
            sb.append(n2.toString)
          case d: Double => sb.append(Geo.formatGdal(d))
          case f: Float => sb.append(Geo.formatGdal(f.toDouble))
          case other =>
            sb.append('"').append(jsonEscape(other.toString)).append('"')
        }
      }
      sb.append(""" }, "geometry": """)
      sb.append(
        if (wkb == null) "null" else Geo.toGeoJsonGdal(Geo.fromWkb(wkb)))
      sb.append(" }")
      sb.toString
    }
    val lines = collectGuarded(
      df.select(lineUdf(
        struct(propNames.toIndexedSeq.map(col): _*), col(geometryCol))
        .as("feature")),
      path, maxRows)
    writeCollection(lines, path, name)
  }

  /** Cluster-scale sink: newline-delimited features via the text sink. */
  def writePartitioned(df: DataFrame, geometryCol: String,
      dir: String): Unit =
    featureLines(df, geometryCol).write.mode("overwrite").text(dir)

  /** Read back a newline-delimited feature layer. Null geometries (the
    * sink writes `"geometry":null`) come back as null WKB.
    */
  def readFeatureLines(spark: SparkSession, dir: String): DataFrame = {
    val raw = spark.read.text(dir)
    val geomRe = """"geometry":(\{.*\})\}\s*$"""
    val decode = udf { (j: String) =>
      if (j == null || j.isEmpty) null
      else Geo.toWkb(Geo.fromGeoJson(j))
    }
    raw.select(
      decode(regexp_extract(col("value"), geomRe, 1)).as("geometry"),
      get_json_object(col("value"), "$.properties").as("properties_json"))
  }
}
