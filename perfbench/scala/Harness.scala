package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.SparkEntry
import graft.pipeline.{ServiceAreas, StageCache}

/** Drives one workload through the engine's public entry points, closed
  * loop with one client, and writes a JSON record of what it measured.
  *
  *   Harness <workload> <inputs dir> <work dir> <seconds> <trace 0|1> <out.json>
  *
  * Phases: setup (timed from process start), one cold first pass over
  * the op list, a fixed number of warm passes sized to `seconds`, then
  * the output checks (the table workloads run their op list once more,
  * untimed, writing each result for the oracle compare). Every timed
  * pass materializes its ops the same way. With tracing on the warm
  * passes alternate untraced/traced, the listeners and spans are live
  * only in traced passes, and the layer probes run at the end.
  */
object Harness {
  final case class OpRun(op: String, pass: Int, ms: Double, traced: Boolean)

  def main(args: Array[String]): Unit = {
    val Array(workload, inputs, work, secs, traceArg, out) = args
    val tracing = traceArg == "1"
    val h = new Harness(workload, inputs, work, secs.toDouble, tracing)
    val record = try h.run() finally h.stop()
    Files.writeString(Paths.get(out), record)
    log("done")
  }

  def rm(f: File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rm)
    f.delete()
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  private val procStart = java.lang.management.ManagementFactory
    .getRuntimeMXBean.getStartTime

  /** Progress line on stderr (the run's log), seconds since JVM start. */
  def log(msg: String): Unit = System.err.println(
    f"[perfbench ${(System.currentTimeMillis() - procStart) / 1e3}%7.2f] $msg")

  def ms[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e6)
  }

  /** Resident-set high-water mark of this JVM, MB. */
  def peakRssMb: Double = scala.io.Source.fromFile("/proc/self/status")
    .getLines().find(_.startsWith("VmHWM:"))
    .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  /** (busy, total) jiffies of the whole host and busy jiffies of this
    * process, for the share of CPU other processes used.
    */
  def cpuSample: (Long, Long, Long) = {
    val f = scala.io.Source.fromFile("/proc/stat").getLines().next()
      .split("\\s+").drop(1).map(_.toLong)
    val idle = f(3) + f(4)
    val self = scala.io.Source.fromFile("/proc/self/stat").mkString
      .split("\\) ")(1).split(" ")
    (f.sum - idle, f.sum, self(11).toLong + self(12).toLong)
  }

  /** A fixed single-thread integer loop: host speed, not engine speed. */
  def calibMs(): Double = median((1 to 5).map { _ =>
    ms {
      var x = 0x9E3779B97F4A7C15L; var i = 0
      while (i < 20000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      x
    }._2
  })
}

final class Harness(workload: String, inputs: String, work: String,
    seconds: Double, tracing: Boolean) {
  import Harness._

  private val tables = s"$inputs/tables"
  private val alaska = s"$inputs/alaska"
  private val indexDir = new File(StageCache.indexRoot)
  private val checkDir = s"$work/check"
  private val tracer = new Tracer
  private val recorder = new Recorder
  private val planRecorder = new PlanRecorder
  private val streams = new StreamRecorder
  private var spark: SparkSession = _
  private val runs = mutable.ArrayBuffer.empty[OpRun]
  private val failures = mutable.LinkedHashMap.empty[String, String]
  private var attempted, failed = 0

  private val curationOps = Seq("t06_minhash_lsh", "t08_winnow_fingerprint",
    "t15_incremental_dedup", "v20_knn_graph", "q05_star_join",
    "g01_bbox_contains", "m13_image_neardup")
  private val streamOps = Seq("s15_stream_session_windows",
    "s22_stream_partitioned_ingest")
  private val alaskaPass = 2 // a cache-hit publish, then a miss

  /** Warm passes: a fixed count per 5 s of `seconds` (so every run of a
    * workload measures the same work): one pass of a workload's op list
    * takes 5-8 s on 4 cores. The curation queries take 2 and the stream
    * replays 3, because their op latencies spread the most from run to
    * run; more would not fit the run budget. A traced run alternates
    * untraced/traced passes, at least one of each.
    */
  private val warmPasses = {
    val perFiveSeconds = workload match {
      case "alaska_publish" => 1
      case "curation_batch" => 2
      case _ => 3
    }
    val n = math.max(1, math.round(seconds / 5.0 * perFiveSeconds).toInt)
    if (tracing) math.max(2, n) else n
  }

  private val ops: Seq[String] = workload match {
    case "curation_batch" => curationOps
    case "stream_maintain" => streamOps
    case "alaska_publish" => (1 to alaskaPass).map(i => s"publish$i")
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }
  private lazy val allQueries = SparkEntry.queries ++ SparkEntry.benchOnly

  // ------------------------------------------------------------ setup

  private def newSession(): SparkSession = {
    val n = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder().master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def register(s: SparkSession): Unit = {
    graft.functions.DateFunctions.registerAll(s)
    graft.functions.GeoFunctions.registerAll(s)
    graft.functions.Md5Hash48.registerAll(s)
    graft.functions.RollingHash.registerAll(s)
    graft.functions.Winnow.registerAll(s)
  }

  /** The stored index t15 serves from (the other workloads have none). */
  private def buildIndexes(s: SparkSession): Unit =
    if (workload == "curation_batch")
      graft.queries.TextOps.ensureBandIndex(s, tables,
        graft.Tables.documents(s, tables).select("doc_id", "text")
          .filter(col("doc_id") < graft.queries.TextOps.IncrementalCorpusMaxId),
        "t15_corpus")

  /** Session up, functions registered, indexes built. Returns the time
    * from process start until the first op can start, and the index
    * share of it (s).
    */
  private def setup(): (Double, Double) = {
    rm(indexDir)
    spark = tracer.span("setup.session")(newSession())
    tracer.span("setup.register")(register(spark))
    val (_, idxMs) = ms(tracer.span("setup.indexes")(buildIndexes(spark)))
    ((System.currentTimeMillis() - procStart) / 1e3, idxMs / 1e3)
  }

  // -------------------------------------------------------------- ops

  private var globalOp = 0
  private val cacheDir = s"$work/stage-cache"
  private val cacheMissMs = mutable.ArrayBuffer.empty[Double]
  private var cacheLookups, cacheMisses = 0
  private lazy val alaskaCfg = AlaskaConfig.read(s"$alaska/config.txt")
  private lazy val mutationSteps = new File(s"$alaska/mutations").list().length
  private lazy val chronVersions = new File(s"$alaska/chron_versions").list().length

  private def tag(s: String): Unit =
    spark.sparkContext.setLocalProperty("perfbench.op", s)

  /** Runs one op, returns the latencies (ms) of the ops it made: a
    * stream replay makes one op per micro-batch.
    */
  private def runOp(name: String, pass: Int): Seq[Double] =
    workload match {
      case "alaska_publish" => Seq(publish(name, pass))
      case "stream_maintain" =>
        materialize(name, check = false)
        val b = streams.drain()
        if (tracer.on) streamBatchesTraced ++= b
        b.map(_.durationMs)
      case _ => Seq(ms(materialize(name, check = false))._2)
    }

  /** The noop sink as `Bench` uses it (every timed pass), or, for the
    * untimed output check, the result as one parquet file.
    */
  private def materialize(name: String, check: Boolean): Unit = {
    val df = allQueries(name)(spark, tables)
    if (check) df.coalesce(1).write.mode("overwrite").parquet(s"$checkDir/$name")
    else df.write.format("noop").mode("overwrite").save()
  }

  /** One `ServiceAreas.run` into a fresh directory. The first two
    * publishes see the same inputs (their outputs must be byte-identical,
    * the second served from the cache); after that the seeded plan
    * rewrites a handful of KMLs before every publish (the CSV stages hit
    * the cache) and, before the last op of each pass, also swaps in a
    * longer chronology (the chronology and enrich stages miss).
    */
  private def publish(name: String, pass: Int): Double = {
    val g = globalOp
    if (g >= 2) {
      val step = new File(s"$alaska/mutations/${g % mutationSteps}")
      step.listFiles().foreach(f => Files.copy(f.toPath,
        Paths.get(s"$alaska/kml/${f.getName}"),
        StandardCopyOption.REPLACE_EXISTING))
      if (name == s"publish$alaskaPass") {
        val v = (g / alaskaPass) % chronVersions + 1
        Files.copy(Paths.get(s"$alaska/chron_versions/v$v.csv"),
          Paths.get(s"$alaska/chronology.csv"),
          StandardCopyOption.REPLACE_EXISTING)
      }
    }
    val dir = s"$work/publish/$g"
    val before = cacheKeys
    val (_, t) = ms(runPublish(dir))
    val missed = (cacheKeys -- before).size
    cacheLookups += 3; cacheMisses += missed
    if (missed > 0 && pass > 0) cacheMissMs += t
    if (g >= 2) rm(new File(dir))
    t
  }

  private def cacheKeys: Set[String] =
    Option(new File(cacheDir).list()).map(_.toSet).getOrElse(Set.empty)

  private def runPublish(dir: String): DataFrame = ServiceAreas.run(spark,
    s"$alaska/certificates.csv", s"$alaska/chronology.csv",
    s"$alaska/kml/*.kml", alaskaCfg.config, dir, cacheDir)

  private def module(op: String): String = op.head match {
    case 't' => "text"
    case 'v' => "vector"
    case 'q' => "relational"
    case 'g' => "geo"
    case 'm' => "multimodal"
    case 's' => "stream"
    case _ => "pipeline"
  }

  /** One pass over the op list; returns its wall time (s). */
  private def pass(p: Int, traced: Boolean): Double = {
    tracer.on = traced
    val (_, t) = ms {
      tracer.span(s"pass", p.toString) {
        ops.foreach { op =>
          val id = s"$p:$op"
          tag(id)
          try {
            val lat = tracer.span(s"queries.${module(op)}", id) {
              runOp(op, p)
            }
            lat.foreach(l => runs += OpRun(op, p, l, traced))
            attempted += math.max(1, lat.size)
          } catch {
            case e: Throwable =>
              attempted += 1; failed += 1
              failures.getOrElseUpdate(op, String.valueOf(e.getMessage).take(300))
              if (workload == "stream_maintain") streams.drain()
          } finally globalOp += 1
          tag(null)
        }
      }
    }
    tracer.on = false
    t / 1e3
  }

  // ------------------------------------------------------------- run

  def run(): String = {
    new File(work).mkdirs()
    tracer.on = tracing
    val (setupS, indexS) = setup()
    log(s"setup $setupS")
    spark.streams.addListener(streams)
    val cpu0 = cpuSample
    val calib0 = calibMs()
    val firstS = pass(0, traced = false)
    log(s"first pass $firstS")
    val passS = mutable.ArrayBuffer.empty[(Double, Boolean)]
    val perPass = mutable.ArrayBuffer.empty[Map[String, Double]]
    var p = 1
    while (p <= warmPasses) {
      val traced = tracing && p % 2 == 1
      if (traced) attach()
      val before = if (traced) layerTotals() else Map.empty[String, Double]
      val s = pass(p, traced)
      if (traced) {
        perPass += diff(layerTotals(), before)
        detach()
      }
      passS += ((s, traced))
      log(s"pass $p traced=$traced $s")
      p += 1
    }
    val check = outputCheck()
    log("output check")
    val calib1 = calibMs()
    val cpu1 = cpuSample
    val host = Map("host.calib_ms" -> (calib0 + calib1) / 2,
      "host.other_cpu" -> otherCpu(cpu0, cpu1))
    log("calibrated")
    tracer.on = tracing
    val layers =
      if (!tracing) Map.empty[String, Double]
      else probes(perPass.toSeq, indexS, passS.toSeq) ++ host
    val warm = passS.filterNot(_._2).map(_._1)
    Json.obj(Seq(
      "workload" -> Json.str(workload),
      "op_list" -> Json.arr(ops.map(Json.str)),
      "setup_s" -> Json.num(setupS),
      "first_pass_s" -> Json.num(firstS),
      "pass_s" -> Json.arr(warm.map(Json.num)),
      "traced_pass_s" -> Json.arr(passS.filter(_._2).map(x => Json.num(x._1))),
      "ops" -> Json.arr(runs.filter(r => r.pass > 0 && !r.traced).map(r =>
        Json.obj(Seq("op" -> Json.str(r.op), "pass" -> r.pass.toString,
          "ms" -> Json.num(r.ms))))),
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "failures" -> Json.obj(failures.map { case (k, v) => k -> Json.str(v) }),
      "check" -> Json.obj(check),
      "peak_rss_mb" -> Json.num(peakRssMb),
      "host" -> Json.obj(host.map { case (k, v) =>
        k.stripPrefix("host.") -> Json.num(v) }),
      "layers" -> Json.obj(layers.toSeq.sortBy(_._1).map { case (k, v) =>
        k -> Json.num(v) }),
      "per_op" -> perOpJson()))
  }

  def stop(): Unit = {
    log("stopping")
    if (spark != null) spark.stop()
    if (tracing) Files.writeString(Paths.get(s"$work/spans.json"), tracer.json)
  }

  private def otherCpu(a: (Long, Long, Long), b: (Long, Long, Long)): Double = {
    val n = Runtime.getRuntime.availableProcessors()
    val total = (b._2 - a._2).toDouble
    if (total <= 0) 0.0
    else math.max(0.0, ((b._1 - a._1) - (b._3 - a._3)) / total * n)
  }

  // ---------------------------------------------------- tracing layers

  private def attach(): Unit = {
    spark.sparkContext.addSparkListener(recorder)
    spark.listenerManager.register(planRecorder)
  }

  private def detach(): Unit = {
    recorder.barrier(spark)
    spark.sparkContext.removeSparkListener(recorder)
    spark.listenerManager.unregister(planRecorder)
  }

  /** Cumulative totals the per-pass layer numbers are differences of. */
  private def layerTotals(): Map[String, Double] = {
    recorder.barrier(spark)
    val snap = recorder.snapshot.filter(kv => isOpTag(kv._1))
    val sum = new Counters
    snap.values.foreach(sum += _)
    sum.v.map { case (k, x) => s"spark.$k" -> x }.toMap ++ Map(
      "spark.plan_ms" -> planRecorder.planMs,
      "plans.spatial_rewrites" -> planRecorder.spatialRewrites.toDouble)
  }

  /** `<pass>:<op>`, the tag [[pass]] gives each op's jobs. */
  private def isOpTag(t: String) = t.matches("\\d+:.+")

  private def diff(a: Map[String, Double], b: Map[String, Double]) =
    a.map { case (k, x) => k -> (x - b.getOrElse(k, 0.0)) }

  private def perOpJson(): String = {
    val byOp = recorder.snapshot.toSeq.filter(kv => isOpTag(kv._1))
      .groupBy(_._1.split(":", 2)(1))
    Json.obj(byOp.toSeq.sortBy(_._1).map { case (op, cs) =>
      op -> Json.obj(Seq("jobs", "stages", "tasks", "shuffle_write_mb",
        "shuffle_read_mb").map { k =>
        k -> Json.arr(cs.sortBy(_._1.split(":")(0).toInt).map(c =>
          Json.num(c._2.v(k))))
      })
    })
  }

  private def probes(perPass: Seq[Map[String, Double]], indexS: Double,
      passS: Seq[(Double, Boolean)]): Map[String, Double] = {
    def med(k: String) = median(perPass.map(_.getOrElse(k, 0.0)))
    val spark_ = Recorder.counterNames.map(k => s"spark.$k" -> med(s"spark.$k"))
    val untraced = passS.filterNot(_._2).map(_._1)
    val traced = passS.filter(_._2).map(_._1)
    val nTraced = math.max(1, perPass.size)
    val q = Seq("text", "vector", "relational", "geo", "multimodal").map { m =>
      s"queries.${m}_ms" -> runs.filter(r => r.traced &&
        workload == "curation_batch" && module(r.op) == m).map(_.ms).sum / nTraced
    }
    val stream = streamLayers(nTraced, med("spark.jobs"))
    (spark_ ++ q ++ stream ++ Seq(
      "spark.plan_ms" -> med("spark.plan_ms"),
      "plans.spatial_rewrites" -> med("plans.spatial_rewrites"),
      "queries.index_build_s" -> indexS,
      "trace.overhead_s" -> (median(traced) - median(untraced)),
      "pipeline.stagecache_hit_ratio" ->
        (if (cacheLookups == 0) 0.0 else 1.0 - cacheMisses.toDouble / cacheLookups),
      "pipeline.stagecache_miss_ms" -> (if (cacheMissMs.isEmpty) 0.0
        else median(cacheMissMs.toSeq)))).toMap ++
      new Probes(spark, workload, tables, alaska, work, recorder, tracer).run()
  }

  /** Per-batch means over the traced passes' progress events (a median
    * would read 0 for state commits, which only the stateful replay has).
    */
  private def streamLayers(nTraced: Int, jobsPerPass: Double)
      : Seq[(String, Double)] = {
    val b = streamBatchesTraced.toSeq
    def mean(f: Batch => Double) = if (b.isEmpty) 0.0 else b.map(f).sum / b.size
    // the state each replay holds at its end: its last batch's
    val finals = b.groupBy(_.runId).values.map(_.last)
    val perPass = b.size.toDouble / nTraced
    Seq(
      "streaming.batches" -> perPass,
      "streaming.trigger_ms" -> mean(_.triggerMs),
      "streaming.add_batch_ms" -> mean(_.addBatchMs),
      "streaming.plan_ms" -> mean(_.planMs),
      "streaming.offset_ms" -> mean(_.offsetMs),
      "streaming.wal_commit_ms" -> mean(_.walMs),
      "streaming.state_commit_ms" -> mean(_.stateCommitMs),
      "streaming.state_rows" -> finals.map(_.stateRows.toDouble).sum / nTraced,
      "streaming.state_mb" -> finals.map(_.stateBytes.toDouble).sum / 1e6 / nTraced,
      "streaming.jobs_per_batch" -> (if (perPass == 0) 0.0 else jobsPerPass / perPass))
  }

  private val streamBatchesTraced = mutable.ArrayBuffer.empty[Batch]

  // ---------------------------------------------------- output checks

  /** alaska: feature counts and geometry validity of the first pass's
    * second publish, which must equal the first byte for byte, and the
    * layers' sizes. The table workloads run their op list once more,
    * untimed, writing each result for the oracle compare outside the JVM;
    * a failure there counts as a failed op.
    */
  private def outputCheck(): Seq[(String, String)] = workload match {
    case "alaska_publish" =>
      val (a, b) = (s"$work/publish/0", s"$work/publish/1")
      def bytes(d: String, f: String) = Files.readAllBytes(Paths.get(s"$d/$f"))
      val files = Seq("service-areas.geojson", "service-areas-raw.geojson")
      val identical = files.forall(f =>
        java.util.Arrays.equals(bytes(a, f), bytes(b, f)))
      def geoms(f: String) = graft.sources.GeoJson.readFields(spark,
        s"$b/$f", Seq("certificate_number")).select("geometry")
        .collect().map(r => r.getAs[Array[Byte]](0))
      val pub = geoms("service-areas.geojson")
      val valid = pub.count(b => b != null && graft.geo.Geo.fromWkb(b).isValid)
      Seq("published_features" -> pub.length.toString,
        "raw_features" -> geoms("service-areas-raw.geojson").length.toString,
        "valid_geometries" -> valid.toString,
        "republish_identical" -> identical.toString,
        "published_geojson_bytes" ->
          bytes(b, "service-areas.geojson").length.toString,
        "raw_geojson_bytes" ->
          bytes(b, "service-areas-raw.geojson").length.toString)
    case _ =>
      ops.foreach { op =>
        tag(s"check:$op")
        attempted += 1
        try materialize(op, check = true)
        catch {
          case e: Throwable =>
            failed += 1
            failures.getOrElseUpdate(op, String.valueOf(e.getMessage).take(300))
        } finally {
          if (workload == "stream_maintain") streams.drain()
          tag(null)
        }
      }
      val oracle = SparkEntry.oracleSql
      Files.writeString(Paths.get(s"$checkDir/oracle_sql.json"), Json.obj(
        ops.filter(oracle.contains).map(o => o -> Json.str(oracle(o)))))
      Seq("oracled" -> ops.count(oracle.contains).toString)
  }
}
