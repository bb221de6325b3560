package graft

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  *
  * Results are materialized through the noop sink — unlike count(),
  * noop cannot let Catalyst prune projections or skip result
  * construction, so timings reflect the full plan.
  *
  * The record reads nothing but this run and the prior round's record:
  * host load and per-layer work are perfbench's job (`perfbench/run.py
  * --trace 1` records jobs, stages, tasks, shuffle, spill and a
  * calibration scalar per workload; `perfbench/diff.py` compares them).
  */
object Bench {
  /** Entries whose intra-run max/min exceeds `ratio` — the
    * warm-slower-than-cold pathology (review r15: t06 ran
    * [2.1, 37.2, 30.2] s and stayed invisible, because min-vs-min
    * regression flags and a slowest-8-BY-MIN spread are both blind
    * to a blowup that spares the min). Infinite iterations (failed
    * runs) are excluded — failure is already reported separately —
    * and single-iteration runs have no spread to flag.
    */
  private[graft] def wideSpreadEntries(
      results: Seq[(String, Seq[Double])], ratio: Double = 4.0)
      : Seq[(String, Seq[Double], Double)] =
    results
      .filter { case (_, ts) =>
        ts.size > 1 && ts.forall(!_.isInfinite) && ts.min > 0 }
      .map { case (k, ts) => (k, ts, ts.max / ts.min) }
      .filter(_._3 > ratio)
      .sortBy(-_._3)

  /** Previous-round mins (key as recorded → seconds) from the raw text
    * of a prior record, for the >2× regression flag. A round record wraps
    * the compact line as an escaped JSON string, so `\"` is unescaped
    * before the scan. None when the record is for another SF: a
    * baseline from a different scale would flood (or mask) the flags
    * with pure scale deltas. The `"sf":"<dir>"` field sits at the END
    * of the compact line, so it survives the tail truncation.
    *
    * A round record keeps only the LAST ~2000 stdout chars, so the head
    * of the line — and any alphabetically-early keys — may be cut
    * away: rather than anchor on a map, scan every `"key":number`
    * pair up to the first section whose values are not seconds
    * (`spread` iterations; `regressed`, `suite_context` and `wide`
    * ratios, the last two from older records) and drop the scalar
    * metadata keys.
    */
  private[graft] def prevMins(raw0: String, sfDir: String)
      : Option[Map[String, Double]] = {
    val raw = raw0.replace("\\\"", "\"")
    val sf = """"sf":"([^"]+)"""".r.findFirstMatchIn(raw).map(_.group(1))
    if (sf.exists(_ != sfDir)) None
    else {
      val cut = Seq("spread", "regressed", "suite_context", "wide")
        .map(k => raw.indexOf("\"" + k + "\":"))
        .filter(_ >= 0).sorted.headOption.getOrElse(raw.length)
      val meta = Set("n", "rc", "cpus", "sf", "value", "n_ok",
        "index_warm", "p50", "max")
      Some(""""([A-Za-z0-9_]+)":([0-9.]+)""".r
        .findAllMatchIn(raw.substring(0, cut))
        .map(m => m.group(1) -> m.group(2).toDouble)
        .filterNot(kv => meta.contains(kv._1)).toMap)
    }
  }

  private def fmt(v: Double, digits: Int): String =
    if (v.isInfinite) "null" else s"%.${digits}f".format(v)

  /** `,"key":["a","b"]` for a non-empty list, "" otherwise. */
  private def listJson(key: String, xs: Seq[String]): String =
    if (xs.isEmpty) ""
    else xs.map("\"" + _ + "\"").mkString(s""","$key":[""", ",", "]")

  /** `"k":v,...` pairs wrapped in `open` … `}`, "" when empty. */
  private def mapJson(open: String, kvs: Seq[(String, String)]): String =
    if (kvs.isEmpty) ""
    else kvs.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString(open, ",", "}")

  /** Full-resolution record (long query names, 3 decimals) for
    * `bench_out.json`: the launcher keeps just the LAST 2000 chars of
    * stdout, and this line is several thousand chars, so it is the
    * file-only record for humans. `iters` carries the per-iteration
    * times, so bench drift is self-diagnosing — a noisy min shows up as
    * a wide spread, a real regression as a uniformly shifted one.
    */
  private[graft] def fullLine(results: Seq[(String, Seq[Double])],
      warmSec: Double, only: Seq[String], sfDir: String): String = {
    val mins = results.map { case (k, ts) => k -> ts.min }
    val ok = mins.filter(!_._2.isInfinite)
    val qs = mins.map { case (k, v) => "\"" + k + "\":" + fmt(v, 3) }
      .mkString("{", ",", "}")
    val iters = results.map { case (k, ts) =>
      "\"" + k + "\":" + ts.map(fmt(_, 3)).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val total = ok.map(_._2).sum
    // the failed entries in full (the compact line caps them) and the
    // `only` filter: a filtered run is self-identifying — its
    // total/n_ok cover only the listed prefixes, so downstream drift
    // tooling can never mistake a left-behind filtered bench_out.json
    // for a full-suite record
    val tags = listJson("failed",
      mins.collect { case (k, v) if v.isInfinite => k }) +
      listJson("only", only)
    f"""{"metric":"total","value":$total%.3f,"unit":"sec","n_ok":${ok.size},"queries":$qs,"iters":$iters,"index_warm":$warmSec%.3f$tags,"sf":"$sfDir"}"""
  }

  /** The compact stdout line, printed LAST so it lands inside the
    * launcher's 2000-char tail window. The per-query map does NOT ride
    * here (193 entries are ~2.4k chars alone); the line carries
    * per-FAMILY totals, the flagship seconds, the slowest-10 entries,
    * and the flag maps. Keys are the unique id prefix of each
    * query name ("t08_winnow_fingerprint" → "t08").
    *
    * Two flags: `regressed` — min >2× the prior record's min for the
    * same entry, a sub-second 4× outlier made self-evident regardless
    * of rank — and `wide` ([[wideSpreadEntries]] over this run's own
    * iterations). Each is capped at its 8 worst ratios. `spread` holds
    * the iterations of the slowest 4 plus every flagged entry.
    *
    * The WHOLE line must stay ≤ 1900 chars (the 2000-char window minus
    * sbt's ~80-char `[success]` trailer) or the round record's `parsed`
    * field is null, as it was for 19 straight rounds under the old
    * full-map format. In the worst all-flagged case the loop at the end
    * sheds spread entries — never the scalars or the flag ratios.
    * `failed` is a count plus the first 5 short keys
    * (`"failed":{"n":197,"first":[...]}`): listed in full, a run whose
    * every entry failed printed a 4,186-char line; [[fullLine]] keeps
    * the full list.
    */
  private[graft] def compactLine(results: Seq[(String, Seq[Double])],
      prev: Map[String, Double], warmSec: Double, only: Seq[String],
      sfDir: String): String = {
    val mins = results.map { case (k, ts) => k -> ts.min }
    val ok = mins.filter(!_._2.isInfinite)
    val finite = results.filter { case (_, ts) => !ts.min.isInfinite }
    val prefixCounts = mins.groupBy(_._1.takeWhile(_ != '_'))
      .map { case (p, g) => p -> g.size }
    def shortKey(k: String): String = {
      val p = k.takeWhile(_ != '_')
      if (prefixCounts.getOrElse(p, 2) == 1) p else k
    }
    // per-family (first letter: g/m/q/s/t/v) second totals
    val famJson = ok.groupBy(_._1.take(1)).toSeq.sortBy(_._1)
      .map { case (f, g) => "\"" + f + "\":" + fmt(g.map(_._2).sum, 1) }
      .mkString("{", ",", "}")
    // the flagship rows, compared against BASELINE.md's reference
    val minsMap = mins.toMap
    val flagshipJson = mapJson(""","flagship":{""",
      Seq("g06_alaska_cleaned_replay" -> "g06",
        "g06b_cleaned_geometry" -> "g06b")
        .flatMap { case (full, short) => minsMap.get(full)
          .filter(!_.isInfinite).map(v => short -> fmt(v, 3)) })
    val topJson = ok.sortBy(-_._2).take(10)
      .map { case (k, v) => "\"" + shortKey(k) + "\":" + fmt(v, 2) }
      .mkString(""","top":{""", ",", "}")
    // shortKey collisions flip between prefix and full name as the
    // query set changes across rounds: look the prev min
    // up under both names this query can have been recorded as — but
    // never a bare-prefix fallback when the prefix collides NOW, which
    // would pin one query's baseline on its siblings
    val regressed = finite
      .flatMap { case (k, ts) =>
        prev.get(shortKey(k)).orElse(prev.get(k)).collect {
          case p if p > 0 && ts.min > 2 * p => (k, ts, ts.min / p)
        }
      }
      .sortBy(-_._3).take(8)
    val wide = wideSpreadEntries(results).take(8)
    def ratios(open: String, es: Seq[(String, Seq[Double], Double)]) =
      mapJson(open, es.map { case (k, _, r) => shortKey(k) -> fmt(r, 1) })
    val flagsJson = ratios(""","regressed":{""", regressed) +
      ratios(""","wide":{""", wide)
    val total = ok.map(_._2).sum
    val failed = mins.collect { case (k, v) if v.isInfinite => shortKey(k) }
    val failedJson = if (failed.isEmpty) "" else
      s""","failed":{"n":${failed.size}""" +
        listJson("first", failed.take(5)) + "}"
    val tags = failedJson + listJson("only", only)
    val spreadEntries = (finite.sortBy { case (_, ts) => -ts.min }.take(4) ++
      (regressed ++ wide).map(r => (r._1, r._2))).distinctBy(_._1)
    def mkLine(sp: Seq[(String, Seq[Double])]): String = {
      val spread = sp.map { case (k, ts) =>
        "\"" + shortKey(k) + "\":" + ts.map(fmt(_, 1)).mkString("[", ",", "]")
      }.mkString("{", ",", "}")
      f"""{"metric":"total","fam":$famJson$flagshipJson$topJson,"spread":$spread$flagsJson,"index_warm":$warmSec%.2f$tags,"value":$total%.3f,"unit":"sec","n_ok":${ok.size},"sf":"$sfDir"}"""
    }
    var kept = spreadEntries
    var line = mkLine(kept)
    while (line.length > 1900 && kept.nonEmpty) {
      kept = kept.dropRight(1)
      line = mkLine(kept)
    }
    line
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Every `WindowExec: No Partition Defined` warning of the suite
    // comes from four single-partition windows, each bounded by
    // construction (OPTIMIZATION_r21.md, "no-partition-window audit").
    // Repeated per iteration they filled the launcher's 2000-char tail
    // ahead of the contract line; one line names them instead.
    Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec", Level.ERROR)
    System.err.println("[bench] WindowExec no-partition warnings off: " +
      "the four global windows are bounded - TextOps.vocabRankOf " +
      "(limit VocabCap), TextOps.histPastDrop (value histogram), " +
      "Relational.q27PositionalSlice (limit 20), t28SequencePack " +
      "shard totals (one row per shard)")

    // JVM/codegen warmup so the first measured query isn't charged for
    // session bring-up: generic codegen, the JSON source, and the
    // JTS/WKB geometry path all get JIT'd here.
    spark.range(1000).selectExpr("sum(id)").write
      .format("noop").mode("overwrite").save()
    locally {
      import spark.implicits._
      spark.read.json(Seq("""{"a": 1}""", """{"a": 2}""").toDS()).count()
      graft.functions.GeoFunctions.registerAll(spark)
      spark.sql(
        """SELECT st_area(st_makevalid(st_geomfromtext(
          |'POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))'))) AS a""".stripMargin)
        .count()
    }

    // Stored-index artifacts build OUTSIDE the timed loop (see
    // SparkEntry.warmIndexes): serve-path queries time the serve, not
    // the build their rebuild twins already time. The build seconds are
    // still reported, as index_warm in the JSON line.
    val tw0 = System.nanoTime()
    SparkEntry.warmIndexes(spark, sfDir)
    val warmSec = (System.nanoTime() - tw0) / 1e9

    // Min-of-N per query, cache cleared before every iteration: a
    // single shared-JVM pass conflates one query's GC/persist residue
    // with its neighbors' timings (rounds 3 and 4 both chased phantom
    // regressions that a re-measure dissolved). min over iterations is
    // the standard noise floor; clearCache() forces each iteration to
    // re-read stored artifacts from disk parquet instead of a cache
    // entry a PREVIOUS query happened to leave behind.
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt
    // local-iteration aid (the driver sets no filter): run only queries
    // whose name starts with one of the comma-separated prefixes
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").toSeq).getOrElse(Seq.empty)
    val results = (SparkEntry.queries ++ SparkEntry.benchOnly)
      .toSeq.sortBy(_._1)
      .filter(kv => only.isEmpty || only.exists(kv._1.startsWith))
      .map { case (name, fn) =>
        name -> (1 to iters).map { _ =>
          spark.catalog.clearCache()
          val t0 = System.nanoTime()
          try {
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9
          } catch {
            case e: Throwable =>
              System.err.println(s"[bench] $name failed: ${e.getMessage}")
              // A crashed iteration returns fast; letting it into min()
              // would report the failure's elapsed time as the query's
              // benchmark number. Infinity keeps min() over successes
              // only, and an all-failed query surfaces as null.
              Double.PositiveInfinity
          }
        }
      }

    // Default is bench_out.json in the working directory, so a run
    // from another checkout never overwrites this one's record.
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
      fullLine(results, warmSec, only, sfDir))
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $out: ${e.getMessage}")
    }

    // The regression baseline: SPARK_GRAFT_BENCH_PREV names the prior
    // record; the default is the latest round record BENCH_r*.json
    // next to the bench-out file, falling back to the working directory
    // only when the out dir has NO record at all (merging both could
    // silently prefer a stale cwd leftover). An in-progress round's
    // record must not be its own baseline: a rerun after
    // this round's file was recorded would compare against
    // itself, so SPARK_GRAFT_BENCH_ROUND names the round to exclude.
    val path = sys.env.get("SPARK_GRAFT_BENCH_PREV").orElse {
      val curRound = sys.env.get("SPARK_GRAFT_BENCH_ROUND")
        .flatMap(r => scala.util.Try(r.toInt).toOption)
      def round(f: java.io.File): Int =
        f.getName.stripPrefix("BENCH_r").stripSuffix(".json").toInt
      Seq(Option(new java.io.File(out).getAbsoluteFile.getParent),
          Some(System.getProperty("user.dir", "."))).flatten.distinct
        .iterator.map { d =>
          Option(new java.io.File(d).listFiles())
            .getOrElse(Array.empty).toSeq
            .filter(_.getName.matches("BENCH_r\\d+\\.json"))
            .filterNot(f => curRound.contains(round(f)))
            .sortBy(round).lastOption.map(_.getAbsolutePath)
        }
        .collectFirst { case Some(p) => p }
    }
    path.foreach(p => System.err.println(s"[bench] regression baseline: $p"))
    val prev = path.flatMap { p =>
      try {
        val parsed = prevMins(
          java.nio.file.Files.readString(java.nio.file.Paths.get(p)), sfDir)
        if (parsed.isEmpty)
          System.err.println(s"[bench] prev bench $p is not for $sfDir" +
            " - regression flagging disabled")
        parsed
      } catch {
        case e: Throwable =>
          System.err.println(
            s"[bench] could not parse prev bench $p: ${e.getMessage}")
          None
      }
    }.getOrElse(Map.empty[String, Double])

    println(compactLine(results, prev, warmSec, only, sfDir))
    spark.stop()
  }
}
