package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming path over the `events` table (SURVEY §2.9: the
  * reference is batch-only; the generalized engine adds readStream +
  * watermark + tumbling windows + custom state, mirroring "re-run the
  * pipeline on new certificate events").
  *
  * The replay helpers run a real streaming query (micro-batch engine,
  * state store, watermarks) against the static parquet — so the driver's
  * verify gate exercises the streaming engine itself, with results
  * provably equal to the batch plan.
  */
object EventStreams {

  /** Stream sources need an explicit schema, so the `ts` physical
    * encoding must be known up front. Mirror Tables.events'
    * infer-then-contract: probe the footer via a cheap batch schema
    * read, then declare the matching stream schema.
    */
  private def rawSchema(tsType: DataType) = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", tsType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Streaming scan of the events parquet with event-time column.
    * Probes the on-disk `ts` type (batch schema read — footer only, no
    * data scan) and adapts: raw INT64 nanos get the div-1000 shim;
    * native TIMESTAMP(MICROS) (tz'd or NTZ) streams as timestamp and is
    * normalized to TimestampType (identity under the UTC session tz).
    */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // probe the SAME glob the stream reads: merging the footers of
    // every matching file either yields one agreed ts type or fails
    // loudly on a mixed-encoding drop — never a silent mis-shim of a
    // non-probed file
    val onDisk = spark.read.option("mergeSchema", "true")
      .parquet(s"$dir/events*.parquet").schema("ts").dataType
    // glob (not a bare file path) so the stream source infers the
    // parent directory as basePath
    val stream = spark.readStream.schema(rawSchema(onDisk))
      .parquet(s"$dir/events*.parquet")
    onDisk match {
      case LongType => // legacy nanos-as-long encoding
        stream.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ =>
        stream.withColumn("ts", col("ts").cast(TimestampType))
    }
  }

  /** Tumbling 1-hour window aggregation with a watermark (default: 35
    * days of late-data tolerance so a full historical replay in
    * Complete mode drops nothing).
    */
  def hourlyAgg(events: DataFrame, watermark: String = "35 days")
      : DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2)
        .as("sum_value"))

  private def finalSlice(df: DataFrame): DataFrame =
    df.select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
          .as("hour_start"),
        col("event_type"), col("n_events"), col("sum_value"))
      .filter(col("hour_start") < "2024-01-03 00:00:00")
      .orderBy("hour_start", "event_type")

  /** TEST-ONLY cross-check harness (StreamingSpec's batch-vs-stream
    * equality proofs) — NOT part of the engine surface and NOT the
    * scale path: Complete mode retains every window's state forever and
    * the memory sink holds the whole result on the driver — fine as an
    * oracle harness, wrong at 100× the window × key cardinality. The
    * declared s01 path is [[replayHourlyAppend]] (watermark + append +
    * eviction); no production caller may use this helper.
    */
  private[graft] def replayHourlyComplete(spark: SparkSession,
      dir: String): DataFrame = {
    val qn = s"stream_hourly_${math.abs(dir.hashCode)}"
    val q = withStreamShuffle(spark, sourceBytes(dir, "events")) {
      hourlyAgg(readEvents(spark, dir))
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName(qn).start()
    }
    try { q.processAllAvailable() } finally { q.stop() }
    finalSlice(spark.table(qn))
  }

  /** Scale-safe declared replay (s01): APPEND mode with a 1-hour
    * watermark — each window is emitted exactly once when the watermark
    * passes its end, and its state row is then EVICTED, so state size is
    * O(open windows × key cardinality), not O(history); the sink would
    * be files/foreachBatch in deployment (memory sink here only to
    * collect the verify dump). On this replay every window ending before
    * max(ts) − 1 h is finalized; the s01 slice (< 2024-01-03, data
    * through Jan 30) is therefore complete and equals the Complete-mode
    * and batch/oracle results. StreamingSpec asserts the equality AND
    * that eviction actually happened (final state rows ≪ emitted
    * windows).
    */
  def replayHourlyAppend(spark: SparkSession, dir: String): DataFrame =
    replayHourlyAppendWithStats(spark, dir)._1

  /** Append replay plus the state-store row count after the final
    * micro-batch (for the eviction assertion).
    */
  def replayHourlyAppendWithStats(spark: SparkSession, dir: String)
      : (DataFrame, Long) = {
    val qn = s"stream_hourly_append_${math.abs(dir.hashCode)}"
    val q = withStreamShuffle(spark, sourceBytes(dir, "events")) {
      hourlyAgg(readEvents(spark, dir), watermark = "1 hour")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName(qn).start()
    }
    val stateRows =
      try {
        q.processAllAvailable()
        Option(q.lastProgress).toSeq
          .flatMap(_.stateOperators.toSeq).map(_.numRowsTotal).sum
      } finally { q.stop() }
    (finalSlice(spark.table(qn)), stateRows)
  }

  /** s13 — SLIDING event-time windows (the coverage twin of s01's
    * tumbling ones): rolling 7-day distinct actives per day, the
    * streaming face of batch q45. `window(ts, '7 days', '1 day')`
    * routes every event into its 7 overlapping windows; the per-window
    * state is the distinct user-id set (collect_set), so the final
    * count is exact. Complete-mode replay harness, like
    * [[replayHourlyComplete]] — NOT the scale path: per-window
    * distinct-user state is O(windows × users) and complete mode
    * retains every window; a deployment bounds state with a watermark +
    * append emission and an approx sketch (the s07 HLL pattern) or the
    * batch q45 rewrite. Output days restrict to observed event days
    * (window end − 1 day), matching q45's frame exactly — q45's oracle
    * verifies the streaming loop.
    */
  def replayRollingActives(spark: SparkSession, dir: String): DataFrame = {
    val qn = s"stream_rolling_actives_${math.abs(dir.hashCode)}"
    val q = withStreamShuffle(spark, sourceBytes(dir, "events")) {
      readEvents(spark, dir)
      .withWatermark("ts", "35 days")
      .groupBy(window(col("ts"), "7 days", "1 day").as("w"))
      .agg(collect_set(col("user_id")).as("users"))
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName(qn).start()
    }
    try q.processAllAvailable() finally q.stop()
    val observed = graft.Tables.events(spark, dir)
      .select(date_format(col("ts"), "yyyy-MM-dd").as("day")).distinct()
    spark.table(qn)
      .select(
        date_format(date_sub(to_date(col("w.end")), 1), "yyyy-MM-dd")
          .as("day"),
        size(col("users")).cast("long").as("active_users"))
      .join(observed, Seq("day"))
      .orderBy("day")
  }

  /** s13b — the deployment-shape twin of s13 (bench-only): sliding
    * 7-day windows with a 1-DAY watermark, APPEND emission, and a
    * per-window PORTABLE-HLL register sketch (the q37/s07 kernel over
    * user_id) instead of the exact distinct-user set. State is
    * O(open windows × 1024 registers) — each window's registers are
    * emitted once and EVICTED when the watermark passes its end —
    * versus Complete mode's O(all windows × all users); at 100 TB the
    * register rows are a fixed ~8×1024 per slide regardless of user
    * cardinality. The emitted registers finalize through the shared
    * q37 estimate walk with the batch-exact q45 count joined in for
    * transparent error. Not declared: the estimate is approximate by
    * design (s13's exact form carries the q45 oracle); StreamingSpec
    * asserts the state bound and the estimate's HLL-σ accuracy.
    */
  def replayRollingActivesSketch(spark: SparkSession, dir: String)
      : DataFrame = replayRollingActivesSketchWithStats(spark, dir)._1

  /** s13b plus the state-store row total after the final micro-batch
    * (≤ open windows × registers — the eviction assertion).
    */
  def replayRollingActivesSketchWithStats(spark: SparkSession,
      dir: String): (DataFrame, Long) = {
    graft.functions.Md5Hash48.registerAll(spark)
    val qn = s"stream_rolling_sketch_${math.abs(dir.hashCode)}"
    val rem = col("h").bitwiseAND(lit((1L << 38) - 1))
    val regs = readEvents(spark, dir)
      .withWatermark("ts", "1 day")
      .select(col("ts"), graft.functions.Md5Hash48
        .md5_hash48(col("user_id").cast("string")).as("h"))
      .select(col("ts"), expr("h >> 38").as("idx"),
        when(rem === 0, lit(39))
          .otherwise(lit(39) - length(bin(rem))).as("rho"))
      .groupBy(window(col("ts"), "7 days", "1 day").as("w"), col("idx"))
      .agg(max("rho").as("r"))
    val q = withStreamShuffle(spark, sourceBytes(dir, "events")) {
      regs.writeStream.outputMode(OutputMode.Append())
        .format("memory").queryName(qn).start()
    }
    val stateRows =
      try {
        q.processAllAvailable()
        Option(q.lastProgress).toSeq
          .flatMap(_.stateOperators.toSeq).map(_.numRowsTotal).sum
      } finally q.stop()
    val exact = graft.queries.Relational
      .q45RollingActives(spark, dir)
      .withColumnRenamed("active_users", "exact_actives")
    val emitted = spark.table(qn).select(
      date_format(date_sub(to_date(col("w.end")), 1), "yyyy-MM-dd")
        .as("day"),
      col("idx"), col("r"))
    (graft.queries.Relational.hllFinalize(emitted, exact, key = "day"),
      stateRows)
  }

  /** s14 — STREAM–STREAM INTERVAL JOIN (the last major Structured
    * Streaming capability the engine exercises: two unbounded sides
    * joined on key + event-time band): purchases join their same-user
    * click/view/signup touches from the prior 24 h — the streaming
    * face of q44's attribution pairs. Both sides carry event-time
    * watermarks and the join condition bounds touch_ts to a window
    * around conv_ts, which is exactly what lets the engine EVICT
    * matched state (a touch older than the watermark minus the band
    * can never match a future conversion). Inner join in append mode:
    * every pair is emitted exactly once as both sides arrive. The
    * declared output is the pair set itself (conv_id, touch_type,
    * touch second) — deterministic, exact, and SQL-expressible, so
    * the oracle recomputes the identical interval join in DuckDB.
    */
  def replayAttributionPairs(spark: SparkSession, dir: String)
      : DataFrame = {
    val qn = s"stream_attr_pairs_${math.abs(dir.hashCode)}"
    val conv = readEvents(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("conv_id"), col("user_id").as("c_uid"),
        col("ts").as("conv_ts"))
      .withWatermark("conv_ts", "35 days")
    val touch = readEvents(spark, dir)
      .filter(col("event_type").isin("click", "view", "signup"))
      .select(col("user_id").as("t_uid"),
        col("event_type").as("touch_type"), col("ts").as("touch_ts"))
      .withWatermark("touch_ts", "35 days")
    val q = withStreamShuffle(spark, sourceBytes(dir, "events")) {
      conv.join(touch,
        expr("""c_uid = t_uid AND touch_ts < conv_ts
          AND touch_ts >= conv_ts - INTERVAL 24 HOURS"""))
      .select(col("conv_id"), col("touch_type"),
        date_format(col("touch_ts"), "yyyy-MM-dd HH:mm:ss")
          .as("touch_s"))
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName(qn).start()
    }
    try q.processAllAvailable() finally q.stop()
    spark.table(qn).orderBy("conv_id", "touch_type", "touch_s")
  }

  /** s14b — the deployment-watermark twin of s14 (bench-only): the
    * same user-keyed 24 h interval join replayed with 25 H watermarks
    * (the join band plus a 1 h disorder allowance) over a TIME-ORDERED
    * staged arrival (ascending event-time file spans, one per
    * micro-batch — production ingest order), so the engine provably
    * EVICTS join state during the replay: a touch older than
    * watermark − 24 h can never match a future conversion and its
    * state row is dropped, keeping state O(events per ~2-day horizon)
    * instead of s14's replay-wide retention. The interval-join
    * watermark contract preserves EXACTNESS — no match is missed, the
    * emitted pair set is identical to s14's (StreamingSpec asserts
    * both the equality and the eviction) — this twin exists to PRICE
    * the evicting configuration next to the unbounded-state one.
    */
  def replayAttributionPairsTight(spark: SparkSession, dir: String)
      : DataFrame = replayAttributionPairsTightWithStats(spark, dir)._1

  /** Session-lifetime cache of staged time-ordered event batch files,
    * keyed by (source dir, batch count): the staged input is a PURE
    * deterministic function of the events table, so replay harnesses
    * and bench iterations share it and re-measure the REPLAY, not
    * input preparation (the warmIndexes rule — staging is the
    * analogue of an index build, priced outside the serve path).
    * Staged dirs live until JVM exit.
    */
  private val stagedEventsCache =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Session-lifetime memo for ANY staged replay input (r20
    * optimization, guide §1.4/§6): every replay harness used to
    * re-stage its micro-batch input files into a per-call temp dir,
    * so each bench iteration re-paid 4–10 filter+coalesce write jobs
    * of pure input preparation before the replay under measurement
    * even started. The staged input is a deterministic function of
    * its `key` (source dir + slicing constants), so it gets the SAME
    * treatment `stagedEventsCache` has had since r13: built once per
    * JVM, shared across harnesses and iterations, deleted at exit.
    * `build` stages into the passed work dir and returns the
    * directory the stream should read.
    */
  private val stagedInputCache =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Session-memoized input staging, keyed on the LOGICAL key only
    * (ADVICE r20: the invariant is that a source dir's contents are
    * immutable for the life of the JVM — true for the bench/verify
    * fixtures this serves; a test that mutates its data dir must use
    * a fresh key or its staged input goes stale).
    */
  private[graft] def memoizedStagedInput(key: String)(
      build: String => String): String =
    stagedInputCache.getOrElseUpdate(key, {
      val work = java.nio.file.Files
        .createTempDirectory("graft-staged-input").toFile
      sys.addShutdownHook(deleteRecursively(work))
      build(work.getAbsolutePath)
    })

  /** Session memos for the FIXED pre-trained deployment artifacts
    * the streaming gates APPLY (r20): the s19/s21 merge rules and
    * the s27 DSIR model + admission cutoff are declared "trained
    * batch-side ONCE — the ingest door only applies them", yet each
    * replay call (and each bench iteration) re-mined/re-trained
    * them. The memo makes the replays price the loop they declare;
    * the batch twins (t38/t41/t42/t48) keep mining/training
    * in-query, so their timed surface is untouched. Plain Scala
    * values (arrays, doubles) — no Spark-side caching involved.
    */
  private val bpeRulesCache = scala.collection.concurrent.TrieMap
    .empty[String, Array[(String, String)]]

  private[graft] def deployedBpeRules(spark: SparkSession,
      dir: String): Array[(String, String)] =
    bpeRulesCache.getOrElseUpdate(dir,
      graft.queries.TextOps.bpeMergeRules(spark, dir))

  private val dsirDeployCache = scala.collection.concurrent.TrieMap
    .empty[String, (graft.queries.TextOps.DsirModel, Double)]

  private[graft] def deployedDsirModel(spark: SparkSession,
      dir: String): (graft.queries.TextOps.DsirModel, Double) =
    dsirDeployCache.getOrElseUpdate(dir, {
      import graft.queries.TextOps
      val full = graft.Tables.documents(spark, dir)
        .select("doc_id", "text", "lang", "source")
      val model = TextOps.dsirModelOf(full)
      val cutRow = TextOps
        .dsirCutOf(TextOps.dsirScoreWith(full, model)).collect()(0)
      // min over an empty scored frame is NULL — refuse diagnosably
      // instead of NPE-ing on the primitive accessor (review r18)
      require(!cutRow.isNullAt(0),
        s"s27: no scorable documents in $dir (every doc under 2 " +
          "tokens?) — cannot train an admission threshold")
      (model, cutRow.getDouble(0))
    })

  /** Bytes of the parquet source files `prefix*.parquet` under `dir`
    * (driver-side listing only) — the input-size signal
    * [[withStreamShuffle]] derives the stream's shuffle width from.
    * A directory-style table is summed at any depth, so a hive layout
    * (`events.parquet/dt=…/part-….parquet`) counts. No matching entry
    * is an empty source and sums to 0; matching entries that sum to
    * 0 bytes throw, since a 0 would silently collapse the derived
    * width to the floor.
    */
  private[graft] def sourceBytes(dir: String, prefix: String): Long = {
    def files(f: java.io.File): Iterator[java.io.File] =
      if (f.isFile) Iterator(f)
      else Option(f.listFiles()).iterator.flatten.flatMap(files)
    val entries = Option(new java.io.File(dir).listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.getName.startsWith(prefix) &&
        f.getName.endsWith(".parquet"))
    val bytes = entries.iterator.flatMap(files).map(_.length).sum
    if (entries.nonEmpty && bytes == 0L)
      throw new IllegalStateException(
        s"$dir: the sources matching $prefix*.parquet hold 0 bytes — " +
          "refusing to derive a stream width from them")
    bytes
  }

  /** Total bytes of a staged batch dir (flat single-file batches). */
  private[graft] def stagedBytes(srcDir: String): Long =
    sourceBytes(srcDir, "")

  /** Shuffle/state partition count for a streaming replay, derived
    * from the replay's INPUT SIZE instead of inherited from the
    * session's batch-sized default (guide §2: make partitioning
    * scale-adaptive — derive from input size — rather than a constant
    * tuned for either local mode or the cluster). The driver's bench
    * session sets `spark.sql.shuffle.partitions = cpus`, which for a
    * stateful streaming query also fixes the STATE partition count:
    * each stateful operator then commits `partitions × stores`
    * checkpoint files per micro-batch (create+write+fsync+rename
    * each). Measured on s14b (stream-stream interval join, 4 state
    * stores/partition): at 32 partitions the per-batch state commit
    * summed 45–55 s across partitions and the whole entry benched
    * 32.4 s; at the derived width (events input is ~2 MB ⇒ 1
    * partition) the commit sum is ~0.3 s and the entry ~10.5 s warm —
    * same emitted pair set, state sized to the data. At 100 TB the
    * SAME rule yields wide state (ceil(bytes / 32 MB), capped at
    * 65536 — e.g. ~3 000 partitions for a 100 GB backlog), and a
    * deployment that knows its steady-state rate pins
    * `SPARK_GRAFT_STREAM_SHUFFLE` explicitly (state partition count
    * is frozen at first checkpoint, so production sizes it for the
    * expected horizon, not the bootstrap backlog — documented in
    * OPTIMIZATION_r20.md).
    */
  private[graft] def streamShufflePartitions(bytes: Long,
      floor: Int = 1): Int =
    sys.env.get("SPARK_GRAFT_STREAM_SHUFFLE")
      .flatMap(v => scala.util.Try(v.toInt).toOption)
      .filter(_ > 0)
      .getOrElse {
        val target = 32L << 20
        math.min(math.max(floor.toLong,
          (bytes + target - 1) / target), 65536L).toInt
      }

  /** Run `f` with `spark.sql.shuffle.partitions` set to the derived
    * streaming width, restoring the session default after. A
    * streaming query CLONES the session conf at `start()`, so the
    * override pins the stream's shuffle AND state-store partition
    * count (and every job its foreachBatch body runs) without
    * touching the batch queries around it. Single-threaded-driver
    * assumption (ADVICE r20): the set→start→restore window mutates
    * the SHARED session conf, so a batch query or second stream
    * started CONCURRENTLY on the same session would inherit the
    * stream-derived width — the bench/verify drivers run strictly
    * sequentially, which is what makes the scoping sound.
    *
    * `udfHeavy = true` floors the width at the session's core count:
    * streams whose per-row work dominates (the near-dup band kernel +
    * jaccard verify explode each doc ~8× and hash every gram) are
    * COMPUTE-bound, not state-commit-bound — measured on s04, one
    * partition serialized the verify UDF to 5.4 s vs 2.7–2.9 s at
    * 8–16, while the commit-bound s14b wants exactly the opposite.
    * One task per core is the floor that scales with the hardware,
    * not with either environment's tuning.
    *
    * `sortHeavy = true` is the same work-based floor for streams
    * whose per-batch cost is a per-partition SORT (merging/session-
    * window aggregation buffers sort each state partition): the sort
    * parallelizes across partitions while the state-commit cost grows
    * with them, so the floor is the measured knee min(cores, 4) —
    * work-based (any merging-window aggregation), not entry-based
    * (VERDICT r20 item 3; s15 measured 3.18 / 2.76 / 2.63 / 2.88 s
    * at widths 1 / 2 / 4 / 8 — commit cost takes over past the
    * sort's parallelism gain).
    *
    * `aqeOff = true` disables adaptive query execution for the
    * stream's cloned session (VERDICT r20 item 1, guide §2 job
    * count): inside a foreachBatch artifact-merge loop every batch
    * query is micro-sized and its shuffle width is ALREADY derived
    * from the input here, so AQE's per-stage re-optimization only
    * splits each merge/write into 3+ stage-materialization JOBS —
    * pure planning overhead paid once per batch, forever. Batch
    * queries outside the stream keep AQE (the restore below).
    *
    * `fanout > 1` floors the width at min(cores, fanout) — the
    * work-based floor for the STATELESS partitioned-artifact merge
    * loops (r21): their per-batch cost is the staged write of up to
    * `fanout` partition dirs (one parquet writer open/write/commit
    * each), which `repartition(partCol)` spreads across min(cores,
    * fanout) tasks — at width 1 the single write task paid the whole
    * fan-out serially (measured on s16: the write stage was
    * ~190–200 ms of a ~650 ms batch at width 1). These loops keep NO
    * engine state (foreachBatch, the artifact is the state), so the
    * state-commit penalty that makes narrow width right for stateful
    * streams does not apply.
    *
    * Every stream also runs with
    * `spark.sql.streaming.checkpointFileManagerClass` =
    * [[LocalCheckpointFileManager]]: on a `file:` checkpoint, Spark's
    * `FileSystemBasedCheckpointFileManager` instead of its default
    * `FileContextBasedCheckpointFileManager`. A JFR census of warm
    * s15 + s22 replays counted ~777 forked processes per pass of 12
    * micro-batches, 520 of them `readlink`: without Hadoop's native
    * library, `FileContext.rename` resolves symlinks through
    * `FileUtil.readLink`, which shells out, so every atomic write of
    * an offset, commit, file-source/sink log or state-store delta file
    * forked several times. The offset/commit logs and the sinks'
    * logs are built inside `start()`, the state store from the cloned
    * session's `newHadoopConf()`; a file source builds its log from
    * this session on the stream thread, so the block waits for the
    * stream's initialization before it restores the conf. Local
    * semantics are unchanged: both managers check that the
    * destination is absent and then rename, and both write and verify
    * a `.crc` per file. A non-`file:` checkpoint keeps Spark's default
    * manager.
    *
    * Every stream's `file:` paths also resolve to
    * [[ForkFreeLocalFileSystem]] (the unprefixed `fs.file.impl`, FS
    * cache off). Without the native library, each local `create` and
    * `mkdirs` forks a `chmod` for the file and again for its `.crc`:
    * with Hadoop's class a census counts ~22 per micro-batch, from the
    * checkpoint temp files, the file sink's parquet writers, `mkdirs`
    * and the commit protocol. The session conf reaches the file sink's
    * write tasks because `newHadoopConf()` copies session entries
    * verbatim and the stream clones the session at `start()`; a
    * `spark.hadoop.` prefix would not. The modes are unchanged: Hadoop
    * applies the umask before it sets the permission, and only the way
    * it is set differs.
    */
  private[graft] def withStreamShuffle[T](spark: SparkSession,
      bytes: Long, udfHeavy: Boolean = false,
      sortHeavy: Boolean = false, aqeOff: Boolean = false,
      fanout: Int = 1)(f: => T)
      : T = {
    val flagFloor =
      if (udfHeavy) spark.sparkContext.defaultParallelism
      else if (sortHeavy)
        math.min(spark.sparkContext.defaultParallelism, 4)
      else 1
    val floor = math.max(flagFloor,
      math.min(spark.sparkContext.defaultParallelism, fanout))
    val confs = Seq(
      "spark.sql.shuffle.partitions" ->
        streamShufflePartitions(bytes, floor).toString,
      LocalCheckpointFileManager.confKey ->
        classOf[LocalCheckpointFileManager].getName) ++
      ForkFreeLocalFileSystem.confs ++
      // scan-split floor 1 for the micro-batch jobs: the local default
      // (leaf parallelism = cores) splits a KB-sized artifact read into
      // one task per core — pure task-scheduling overhead per batch; at
      // scale `maxPartitionBytes` (128 MB) still bounds splits, so this
      // only stops the TINY-scan oversplit (guide §6 input split size)
      (if (aqeOff) Seq("spark.sql.adaptive.enabled" -> "false",
        "spark.sql.files.minPartitionNum" -> "1") else Nil)
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val r = f
      r match {
        case q: StreamingQueryWrapper =>
          q.streamingQuery.awaitInitialization(60000L)
        case _ =>
      }
      r
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Distinct int values of a tiny batch column in ONE job: per-
    * partition sets, unioned on the driver (r20). The
    * `distinct().collect()` shape this replaces ran 2–3 AQE stage
    * jobs per micro-batch for a driver-bounded set; the per-batch
    * value set is bounded (bucket counts, model cell ids), so the
    * per-partition sets are too.
    */
  private[graft] def distinctInts(df: DataFrame,
      c: org.apache.spark.sql.Column): Seq[Int] =
    // null rows are skipped rather than NPE-ing in-task (ADVICE r20:
    // this generic helper doubles as the empty-batch probe, so a
    // future null-producing column must not kill the stream)
    df.select(c.cast("int")).rdd
      .mapPartitions(it => Iterator(
        it.filter(!_.isNullAt(0)).map(_.getInt(0)).toSet))
      .fold(Set.empty[Int])(_ ++ _).toSeq.sorted

  /** Stage the events table as `nBatches` single-file parquet batches
    * with ascending event-time spans and ascending mtimes: batch k's
    * rows all arrive after batch k−1's, so nothing is ever late for
    * a multi-hour watermark (span ≫ disorder) and the watermark
    * advances monotonically through a file-source replay — the
    * arrival shape a deployed ingest provides. Memoized; returns the
    * directory containing `b00.parquet … b{n-1}.parquet`.
    */
  private[graft] def stagedEventBatches(spark: SparkSession,
      dir: String, nBatches: Int): String =
    stagedEventsCache.getOrElseUpdate(s"$dir#$nBatches", {
      val work = java.nio.file.Files
        .createTempDirectory("graft-staged-events").toFile
      sys.addShutdownHook(deleteRecursively(work))
      val srcDir = s"${work.getAbsolutePath}/incoming"
      new java.io.File(srcDir).mkdirs()
      val ev = graft.Tables.events(spark, dir)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
      val mm = ev.agg(min(unix_timestamp(col("ts"))),
        max(unix_timestamp(col("ts")))).head()
      val lo = mm.getLong(0); val hi = mm.getLong(1) + 1
      val span = math.max(1L, (hi - lo + nBatches - 1) / nBatches)
      val t0 = System.currentTimeMillis() - 3600L * 1000
      (0 until nBatches).foreach { i =>
        val stage = s"${work.getAbsolutePath}/stage$i"
        ev.filter(unix_timestamp(col("ts")) >= lo + i * span &&
            unix_timestamp(col("ts")) < lo + (i + 1) * span)
          .coalesce(1).write.parquet(stage)
        // the slice ↔ streaming-batch-id identity is load-bearing:
        // s24/s26's as-of oracles equate "batch b" with "event-time
        // slice b", which holds because Spark writes a schema-only
        // part file even for an EMPTY slice (measured; a skipped
        // empty slice would silently shift every later batch id off
        // its slice). If that write behavior ever changes, fail the
        // staging loudly rather than desync the declared oracles.
        val part = new java.io.File(stage).listFiles()
          .filter(_.getName.endsWith(".parquet")).headOption
          .getOrElse(throw new IllegalStateException(
            s"slice $i staged no parquet file — the slice<->batch-id " +
              "identity behind the s24/s26 as-of arithmetic would " +
              "silently shift; stage empty slices explicitly"))
        val dst = new java.io.File(srcDir, f"b$i%02d.parquet")
        java.nio.file.Files.move(part.toPath, dst.toPath)
        dst.setLastModified(t0 + i * 60000L)
      }
      srcDir
    })

  /** An empty frame with the staged-events schema — the readout
    * fallback when a replay drains zero non-empty batches (an empty
    * source must yield an empty result, not a NoSuchElementException
    * on a missing artifact — review r12).
    */
  private def emptyStagedFrame(spark: SparkSession)
      : org.apache.spark.sql.DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      stagedEventSchema)

  /** The staged batches' on-disk schema ([[stagedEventBatches]]). */
  private[graft] val stagedEventSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** s14b plus the join-state row total after the final micro-batch
    * (≪ conv+touch row count — the eviction assertion).
    */
  /** s14c (bench-only) — s14b on the ROCKSDB state-store provider:
    * the backend this join actually deploys with at 100 TB. The
    * default HDFS-backed provider keeps every live state row ON-HEAP
    * per executor, so a 25 h touch window at production event rate
    * is an executor-memory bill the job cannot pay; RocksDB keeps
    * state off-heap with disk spill and bounds memory regardless of
    * window width. Identical query, watermarks, and trigger — only
    * `spark.sql.streaming.stateStore.providerClass` differs
    * (restored after the run) — so the bench pair prices exactly the
    * backend swap. The emitted pair set is backend-independent
    * (StreamingSpec asserts equality with s14b).
    */
  def replayAttributionPairsTightRocks(spark: SparkSession,
      dir: String): DataFrame =
    replayAttributionPairsTightRocksWithStats(spark, dir)._1

  def replayAttributionPairsTightRocksWithStats(spark: SparkSession,
      dir: String): (DataFrame, Long) = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    // changelog checkpointing (r20): without it every batch uploads a
    // FULL RocksDB snapshot per store at commit; with it the commit
    // ships only the batch's changed keys and snapshots happen in
    // background maintenance — the recommended production setting for
    // frequent-commit RocksDB state at any scale, and exactly the
    // cost this twin exists to price
    val clKey = "spark.sql.streaming.stateStore.rocksdb." +
      "changelogCheckpointing.enabled"
    val prev = spark.conf.getOption(key)
    val prevCl = spark.conf.getOption(clKey)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    spark.conf.set(clKey, "true")
    try replayAttributionPairsTightWithStats(spark, dir,
      qnSuffix = "_rocks", widthFloor = 2)
    finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
      prevCl match {
        case Some(v) => spark.conf.set(clKey, v)
        case None => spark.conf.unset(clKey)
      }
    }
  }

  def replayAttributionPairsTightWithStats(spark: SparkSession,
      dir: String, nBatches: Int = 10, qnSuffix: String = "",
      // backend-based width floor (r21): the RocksDB twin passes 2 —
      // its per-batch cost is the off-heap put/eviction path, which
      // parallelizes across state partitions while its changelog
      // commit stays O(delta); the default HDFS-store caller keeps 1
      // (its commit fsync cost SCALES with partitions × stores, the
      // r20 C1 finding). Measured same-window on s14c: 10.5 s at
      // width 1, 9.3 at 2, 9.5 at 4, 10.4 at 8.
      widthFloor: Int = 1)
      : (DataFrame, Long) = {
    val srcDir = stagedEventBatches(spark, dir, nBatches)
    val staged = spark.readStream.schema(stagedEventSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$srcDir/b*.parquet")
    val conv = staged.filter(col("event_type") === "purchase")
      .select(col("event_id").as("conv_id"),
        col("user_id").as("c_uid"), col("ts").as("conv_ts"))
      .withWatermark("conv_ts", "25 hours")
    val touch = staged.filter(col("event_type")
        .isin("click", "view", "signup"))
      .select(col("user_id").as("t_uid"),
        col("event_type").as("touch_type"), col("ts").as("touch_ts"))
      .withWatermark("touch_ts", "25 hours")
    val qn = s"stream_attr_tight_${math.abs(dir.hashCode)}$qnSuffix"
    val q = withStreamShuffle(spark, stagedBytes(srcDir),
      fanout = widthFloor) {
      conv.join(touch,
        expr("""c_uid = t_uid AND touch_ts < conv_ts
          AND touch_ts >= conv_ts - INTERVAL 24 HOURS"""))
      .select(col("conv_id"), col("touch_type"),
        date_format(col("touch_ts"), "yyyy-MM-dd HH:mm:ss")
          .as("touch_s"))
      .writeStream.outputMode(OutputMode.Append())
      // AvailableNow (the s05 rule): same batch sequence — one staged
      // file per micro-batch — but the engine drains the backlog and
      // terminates instead of idling between ProcessingTime(0) polls
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("memory").queryName(qn).start()
    }
    val stateRows =
      try {
        q.awaitTermination()
        Option(q.lastProgress).toSeq
          .flatMap(_.stateOperators.toSeq).map(_.numRowsTotal).sum
      } finally q.stop()
    (spark.table(qn).orderBy("conv_id", "touch_type", "touch_s"),
      stateRows)
  }

  /** s15 — SESSION WINDOWS (the third and last event-time window type
    * next to s01's tumbling and s13's sliding ones): per-user activity
    * sessions that close after 30 minutes of inactivity, the streaming
    * face of batch q22's gap-sessionization. `session_window(ts, gap)`
    * is Spark's native merging-window state: each user's open session
    * is ONE state row that extends/merges as events arrive, and APPEND
    * mode emits a session exactly once when the 1-hour watermark passes
    * its end (last event + gap) — then EVICTS it, so state is O(open
    * sessions), not O(history). Session semantics: an event at
    * t ≥ last + gap starts a NEW session (the window is [start,
    * last + gap)), which the oracle mirrors with a `>=` gap comparison
    * — note batch q22 uses `>` (a 30:00.000000-exact gap stays merged
    * there); the two queries pin their own convention in their own
    * oracle. Output slices to sessions ending before the same
    * 2024-01-03 horizon s01 uses — all finalized under the replay's
    * watermark — so the append result is complete and deterministic.
    */
  def replaySessionWindows(spark: SparkSession, dir: String): DataFrame =
    replaySessionWindowsWithStats(spark, dir)._1

  /** s15 plus the state-store row count after the final micro-batch
    * (open-session rows only — the eviction assertion).
    */
  def replaySessionWindowsWithStats(spark: SparkSession, dir: String)
      : (DataFrame, Long) = {
    val qn = s"stream_sessions_${math.abs(dir.hashCode)}"
    // sortHeavy: merging-window aggregation sorts each state
    // partition per batch — the work-based floor (see
    // withStreamShuffle; measured knee at 4: 3.18/2.76/2.63/2.88 s
    // at widths 1/2/4/8, r21)
    val q = withStreamShuffle(spark, sourceBytes(dir, "events"),
      sortHeavy = true) {
      readEvents(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"),
        col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        round(sum("value"), 2).as("sum_value"))
      .select(col("user_id"),
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss")
          .as("session_start"),
        date_format(col("w.end"), "yyyy-MM-dd HH:mm:ss")
          .as("session_end"),
        col("n_events"), col("sum_value"))
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName(qn).start()
    }
    val stateRows =
      try {
        q.processAllAvailable()
        Option(q.lastProgress).toSeq
          .flatMap(_.stateOperators.toSeq).map(_.numRowsTotal).sum
      } finally q.stop()
    (spark.table(qn)
      .filter(col("session_end") < "2024-01-03 00:00:00")
      .orderBy("user_id", "session_start"), stateRows)
  }

  /** s16 — STREAMING CHANGELOG COMPACTION (incremental materialized
    * view maintenance, the streaming twin of batch q46): the events
    * log replayed as time-ordered ingest batches through a
    * `foreachBatch` MERGE loop that maintains a compacted
    * current-state artifact — each batch is aggregated to one
    * candidate row per touched key (struct-max latest + counters),
    * then merged with the previous state by the SAME commutative
    * aggregation, and the result replaces the TOUCHED user-bucket
    * partitions of the artifact (staged write + manifest-journaled
    * partition swap over a bucket-partitioned state — see
    * runArtifactMergeLoop's bucketKey path).
    * This is the lakehouse `MERGE INTO` maintenance shape:
    * per-batch cost is O(|batch| + state[touched buckets]) with a
    * keyed shuffle only — the log is never re-read, no window sort
    * ever happens, untouched users are never read or rewritten, and
    * the artifact stays key-cardinality-sized no matter how much log
    * flows through. The streaming engine's own state store carries NOTHING
    * (stateless foreachBatch) — the artifact IS the state, which is
    * what makes the loop restartable from the last committed batch.
    * Struct-max + count + sum all commute across any batch slicing,
    * so the final artifact equals batch q46 exactly — q46's oracle
    * verifies the whole loop.
    */
  def replayChangelogCompact(spark: SparkSession, dir: String)
      : DataFrame = replayChangelogCompactWithStats(spark, dir)._1

  /** s16 plus the engine state-store row total (must be 0 — the
    * artifact, not the state store, carries the state) for the
    * StreamingSpec assertion.
    */
  /** The s16/s24 per-slice compaction aggregate — applied to each
    * batch AND to (state ∪ batch-agg), which is what makes the merge
    * exact. The value sum rides through the loop as exact BIGINT
    * cents (value is 2-decimal by construction): integer addition is
    * associative, so the artifact equals batch q46 EXACTLY under any
    * batch slicing — not merely to within double-rounding (ADVICE
    * r11: a double carried here could flip round(...,2) at a .005
    * boundary because the merge re-associates the sum).
    */
  private def compactUserState(df: DataFrame): DataFrame =
    df.groupBy(col("user_id"))
      .agg(max(col("last")).as("last"),
        sum(col("n_events")).as("n_events"),
        sum(col("cents")).as("cents"))

  /** [[compactUserState]] in the loop's KEYED-merge shape (r21,
    * guide §2.4 reuse the exchange): grouping carries `bkt` so the
    * pre-union `repartition(bkt)` Exchange already satisfies the
    * aggregation's required clustering (bkt ⊆ group keys — same
    * groups, since bkt is a function of user_id) and the staged
    * write follows in the SAME stage. Identical results: max/sum
    * over the same per-user groups.
    */
  private def compactUserStateKeyed(df: DataFrame): DataFrame =
    df.groupBy(col("user_id"), col("bkt"))
      .agg(max(col("last")).as("last"),
        sum(col("n_events")).as("n_events"),
        sum(col("cents")).as("cents"))

  private def preAggUserState(df: DataFrame): DataFrame =
    df.groupBy(col("user_id"))
      .agg(max(struct(col("ts"), col("event_id"),
        col("event_type"), col("value"))).as("last"),
        count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("cents"))

  /** The q46-shaped readout projection over the compacted user-state
    * artifact (shared by s16's current read and s24's as-of read).
    */
  private def compactReadout(df: DataFrame): DataFrame =
    df.select(col("user_id"),
      date_format(col("last.ts"), "yyyy-MM-dd HH:mm:ss")
        .as("last_ts"),
      col("last.event_id").as("last_event_id"),
      col("last.event_type").as("last_type"),
      round(col("last.value"), 2).as("last_value"),
      col("n_events"),
      round(col("cents") / 100.0, 2).as("lifetime_value"))
      .select("user_id", "last_ts", "last_event_id", "last_type",
        "last_value", "n_events", "lifetime_value")
      .orderBy("user_id")

  def replayChangelogCompactWithStats(spark: SparkSession, dir: String,
      nBatches: Int = 10): (DataFrame, Long) = {
    val work = java.nio.file.Files.createTempDirectory("graft-s16")
      .toFile
    try {
      // shared staged input (ascending event-time spans — production
      // ingest order; correctness does NOT depend on it, the merge
      // aggregation commutes); checkpoint + state artifact stay
      // per-call so every run replays from batch 0
      val srcDir = stagedEventBatches(spark, dir, nBatches)
      // bucket-partitioned merge (the s17 treatment): user cardinality
      // grows with the corpus, a batch touches only its own users, and
      // the compaction is key-local — so each batch rewrites only the
      // touched user-buckets of the artifact, never the whole state.
      // NOTE (r13 VERDICT item 7): at sf0.1 this costs MORE than the
      // chained full rewrite it replaced (~6.3 s vs ~3.7 s min-of-3) —
      // 8 buckets over ~150 users is pure partitioning overhead at toy
      // scale. That trade is deliberate: the ScaleCheck probes show
      // per-batch cost tracking touched buckets, which is the shape
      // that survives key cardinality growing with the corpus. Do not
      // "optimize" this back to the full rewrite on bench numbers.
      val (artifact, stateRows) = runArtifactMergeLoop(spark,
        work.getAbsolutePath, srcDir, stagedEventSchema,
        bucketKey = Some("user_id"), nBuckets = 8,
        mergeKeyed = Some(compactUserStateKeyed))(
        preAggUserState,
        (prev, batchAgg) =>
          compactUserState(prev.unionByName(batchAgg)))
      // empty-source fallback: the compaction of zero batches is the
      // compaction of an empty log
      val fin = compactReadout(artifact
        .getOrElse(preAggUserState(emptyStagedFrame(spark))))
      // materialize BEFORE the temp state dir is deleted — a HARNESS-bounded
      // collect, not the loop's scale shape: each replay CALL is a
      // fresh deployment whose artifacts live in a per-call temp
      // dir, so the returned frame must outlive it. A real
      // deployment keeps the base and serves from the artifact
      // path directly (the loop itself never collects
      // corpus-sized data).
      val rows = fin.collect()
      (spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), fin.schema), stateRows)
    } finally deleteRecursively(work)
  }

  /** s24 — TIME-TRAVEL READ OF THE MAINTAINED ARTIFACT (the declared
    * surface of [[readCommittedAsOf]], review r16 item 4): the s16
    * changelog-compaction loop commits `nBatches` versions of the
    * bucket-partitioned user-state artifact — each batch's
    * `_snapshot_v<b>` history file pins the generation set that WAS
    * current after batch b — and the readout then resolves the
    * artifact AS OF the second-newest committed batch instead of the
    * head. Because the staged slices are ascending event-time spans,
    * "as of batch b" is exactly "the compaction of the event-time
    * PREFIX through slice b", which the DuckDB oracle recomputes
    * from the raw events table with the same lo/span arithmetic —
    * the hash-match proves the whole history read path: snapshot
    * retention, as-of resolution, and the generation-pinned scan.
    * The as-of read costs the same plan as the current read (explicit
    * generation leaf dirs under one basePath); what it buys at 100 TB
    * is audit/debug reads of "the state the last decision was made
    * on" while the artifact keeps updating, without any copy.
    */
  def replayTimeTravelCompact(spark: SparkSession, dir: String)
      : DataFrame = replayTimeTravelCompactWithStats(spark, dir)._1

  /** s24 plus the resolved as-of batch id for the StreamingSpec
    * assertion (must be nBatches − 2: a genuinely SUPERSEDED
    * snapshot, not the head).
    */
  def replayTimeTravelCompactWithStats(spark: SparkSession,
      dir: String, nBatches: Int = 10): (DataFrame, Long) = {
    val work = java.nio.file.Files.createTempDirectory("graft-s24")
      .toFile
    try {
      val srcDir = stagedEventBatches(spark, dir, nBatches)
      runArtifactMergeLoop(spark, work.getAbsolutePath, srcDir,
        stagedEventSchema, bucketKey = Some("user_id"), nBuckets = 8,
        mergeKeyed = Some(compactUserStateKeyed))(
        preAggUserState,
        (prev, batchAgg) => compactUserState(prev.unionByName(batchAgg)))
      val stateDir = s"${work.getAbsolutePath}/state"
      // the as-of target is the FIXED batch nBatches−2, not
      // lastCommitted−1 (review r17): the oracle recomputes the
      // prefix through slice nBatches−2, and the fixed target stays
      // oracle-equal even if TRAILING slices are data-empty (their
      // batches commit nothing, and the as-of convention resolves
      // the latest snapshot ≤ the target — whose state IS the
      // compaction of the same data prefix). At the declared SFs
      // every slice is non-empty, so this resolves the genuinely
      // SUPERSEDED _snapshot_v8 inside the retention window. An
      // empty source commits nothing at all — the r12 empty-source
      // contract returns the empty compaction instead of a
      // no-history refusal.
      val asOf = nBatches - 2L
      val fin = compactReadout(
        (if (lastCommittedBatch(stateDir) < 0L) None
         else readCommittedAsOf(spark, stateDir, asOf))
          .getOrElse(preAggUserState(emptyStagedFrame(spark)))
          .drop("bkt"))
      // HARNESS-bounded materialization before the temp dir dies
      // (the s16 note applies: a deployment serves from the base)
      val rows = fin.collect()
      (spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), fin.schema), asOf)
    } finally deleteRecursively(work)
  }

  /** s26 — VERSION DIFF of the maintained artifact (CDC BETWEEN
    * RETAINED VERSIONS, completing the table-format read family:
    * s16/s17 current read → s24/s25 as-of read → s26 "what changed
    * between version A and version B"). The s16 compaction loop
    * commits `nBatches` versions; the readout then diffs the state
    * AS OF batch nBatches−2 against the head and emits one row per
    * ADDED or CHANGED user with its old/new event counts — the
    * audit/incremental-consumer shape ("which users did the last
    * two batches touch, and how much").
    *
    * THE SCALE PROPERTY is in the read plan, not the semantics
    * ([[readVersionDiff]]): the two snapshots' partition → generation
    * maps are diffed DRIVER-SIDE (tiny), and only bucket partitions
    * whose generation differs are scanned on either side — a bucket
    * with the same generation in both snapshots was touched by no
    * batch in between, so no row in it can have changed. Diff cost
    * is O(state in changed buckets), never O(state): at 100 TB an
    * hourly diff over a tera-row artifact reads only the buckets
    * the hour actually rewrote. Because the staged slices are
    * ascending event-time spans, "old" is exactly the compaction of
    * the event-time prefix through slice nBatches−2 — the DuckDB
    * oracle recomputes both sides from the raw table and re-derives
    * the added/changed classification (n can only grow under the
    * merge, so changed ⟺ n_new > n_old; the compaction never
    * removes users, so there is no 'removed' class by construction).
    */
  def replayVersionDiff(spark: SparkSession, dir: String): DataFrame =
    replayVersionDiffWithStats(spark, dir)._1

  /** s26 plus (bOld, changed-partition count) for the StreamingSpec
    * assertion.
    */
  def replayVersionDiffWithStats(spark: SparkSession, dir: String,
      nBatches: Int = 10): (DataFrame, (Long, Int)) = {
    val work = java.nio.file.Files.createTempDirectory("graft-s26")
      .toFile
    try {
      val srcDir = stagedEventBatches(spark, dir, nBatches)
      runArtifactMergeLoop(spark, work.getAbsolutePath, srcDir,
        stagedEventSchema, bucketKey = Some("user_id"), nBuckets = 8,
        mergeKeyed = Some(compactUserStateKeyed))(
        preAggUserState,
        (prev, batchAgg) => compactUserState(prev.unionByName(batchAgg)))
      val stateDir = s"${work.getAbsolutePath}/state"
      val diffSchema = StructType(Seq(
        StructField("user_id", LongType),
        StructField("status", StringType),
        StructField("n_events_old", LongType),
        StructField("n_events_new", LongType)))
      def emptyDiff = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        diffSchema)
      val head = lastCommittedBatch(stateDir)
      val bOld = nBatches - 2L
      val (fin, changed) =
        if (head < 0L) (emptyDiff, Seq.empty[String])
        else {
          val (oldSide, newSide, changed) =
            readVersionDiff(spark, stateDir, bOld, head)
          val out = newSide match {
            case None => emptyDiff
            case Some(n) =>
              val oldC = oldSide
                .map(_.select(col("user_id"),
                  col("n_events").as("n_events_old")))
                .getOrElse(emptyDiff
                  .select(col("user_id"), col("n_events_old")))
              n.select(col("user_id"),
                  col("n_events").as("n_events_new"))
                .join(oldC, Seq("user_id"), "left")
                .filter(col("n_events_old").isNull ||
                  col("n_events_new") > col("n_events_old"))
                .select(col("user_id"),
                  when(col("n_events_old").isNull, "added")
                    .otherwise("changed").as("status"),
                  coalesce(col("n_events_old"), lit(0L))
                    .as("n_events_old"),
                  col("n_events_new"))
                .orderBy("user_id")
          }
          (out, changed)
        }
      // HARNESS-bounded materialization before the temp dir dies
      // (the s16 note applies: a deployment serves from the base)
      val rows = fin.collect()
      (spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), fin.schema),
        (bOld, changed.length))
    } finally deleteRecursively(work)
  }

  /** s29 — CDC COMPOSITION / INCREMENTAL CONSUMER (the read that
    * closes the diff family: s26/s28 proved ONE version diff per
    * artifact family; this proves adjacent diffs COMPOSE — the
    * contract an incremental downstream consumer actually relies
    * on): start from the artifact AS OF the OLDEST retained
    * snapshot (head − [[SnapshotHistoryRetention]]), then for each
    * adjacent committed pair (b, b+1) apply the version diff as a
    * partition-level upsert — drop the changed buckets from the
    * running state, union in their b+1 contents — and after the
    * last step the reconstruction must equal the head EXACTLY,
    * which q46's oracle (the same one that verifies s16's head
    * readout) re-proves from the raw table.
    *
    * THE SCALE PROPERTY: each step reads only the buckets whose
    * generation changed between its two snapshots (the
    * [[readVersionDiff]] pruning) and replaces whole bucket
    * partitions — the upsert never joins or re-aggregates, because
    * the diff's new side IS the committed partition bytes. At
    * 100 TB a consumer holding yesterday's state catches up to
    * today by reading O(Σ changed buckets) across the intervening
    * versions, never O(state × versions) — and partition-level
    * replacement makes composition exact by construction: applying
    * (b→b+1) then (b+1→b+2) lands on b+2's committed bytes, byte
    * for byte, regardless of how the merge re-aggregated inside.
    */
  def replayCdcCompose(spark: SparkSession, dir: String): DataFrame =
    replayCdcComposeWithStats(spark, dir)._1

  /** s29 plus (first reconstructed batch, per-step changed-bucket
    * counts, total buckets) for the StreamingSpec assertions.
    */
  def replayCdcComposeWithStats(spark: SparkSession, dir: String,
      nBatches: Int = 10): (DataFrame, (Long, Seq[Int], Int)) = {
    val work = java.nio.file.Files.createTempDirectory("graft-s29")
      .toFile
    try {
      val srcDir = stagedEventBatches(spark, dir, nBatches)
      runArtifactMergeLoop(spark, work.getAbsolutePath, srcDir,
        stagedEventSchema, bucketKey = Some("user_id"), nBuckets = 8,
        mergeKeyed = Some(compactUserStateKeyed))(
        preAggUserState,
        (prev, batchAgg) => compactUserState(prev.unionByName(batchAgg)))
      val stateDir = s"${work.getAbsolutePath}/state"
      val head = lastCommittedBatch(stateDir)
      val (fin, stats) =
        if (head < 0L) {
          (compactReadout(preAggUserState(emptyStagedFrame(spark))),
            (-1L, Seq.empty[Int], 0))
        } else {
          val b0 = math.max(0L, head - SnapshotHistoryRetention)
          val totalParts = Option(new java.io.File(stateDir)
            .listFiles()).getOrElse(Array.empty)
            .count(d => d.isDirectory && d.getName.startsWith("bkt="))
          var cur = readCommittedAsOf(spark, stateDir, b0)
            .getOrElse(preAggUserState(emptyStagedFrame(spark))
              .withColumn("bkt", lit(0)))
          val changedCounts = (b0 until head).map { b =>
            val (_, newSide, changed) =
              readVersionDiff(spark, stateDir, b, b + 1)
            val changedVals = changed
              .map(_.stripPrefix("bkt=").toInt)
            // partition-level upsert: the changed buckets' running
            // rows go, their committed (b+1) bytes come in verbatim
            if (changedVals.nonEmpty)
              cur = cur.filter(!col("bkt").isin(changedVals: _*))
            newSide.foreach(n => cur = cur.unionByName(n))
            changed.length
          }
          (compactReadout(cur.drop("bkt")), (b0, changedCounts,
            totalParts))
        }
      // HARNESS-bounded materialization before the temp dir dies
      // (the s16 note applies: a deployment serves from the base)
      val rows = fin.collect()
      (spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), fin.schema), stats)
    } finally deleteRecursively(work)
  }

  /** s30 — SCHEMA EVOLUTION of the maintained artifact (the last
    * table-format read-family member after current / as-of / diff /
    * compose: "the pipeline was REDEPLOYED with new columns, without
    * rewriting history"). Two sequential deployments of the merge
    * loop run against ONE artifact base — the real evolution event
    * is a code deploy, so the replay models exactly that: batches
    * 0..evoAt−1 maintain a per-user (n_events, cents) state; the
    * redeployed loop for batches evoAt.. ADDS `max_cents` (largest
    * single event seen since the deploy) to its aggregate and merge.
    *
    * The format makes this safe without any data rewrite
    * ([[readSnapshotFull]]'s schema stamp): every commit stamps the
    * batch's artifact schema into its snapshot, so (a) the HEAD read
    * plans under the evolved schema and generations written before
    * the deploy NULL-FILL the added column (Iceberg add-column
    * semantics — null ⟺ the fact wasn't tracked yet, which is the
    * truth), (b) a TIME-TRAVEL read as of a pre-deploy batch plans
    * under that snapshot's OWN stamp and shows no phantom column,
    * and (c) a VERSION DIFF across the deploy serves each side as
    * its version was. At 100 TB this is the only viable evolution
    * path: the alternative — rewriting every partition to backfill
    * a column — is a full-corpus write for a metadata-sized fact.
    *
    * Because the staged slices are ascending event-time spans, "the
    * deploy happened at batch evoAt" ⟺ "max_cents aggregates events
    * with sec ≥ lo + evoAt·span" — the DuckDB oracle recomputes the
    * head state (count/sum over everything, max over the
    * post-deploy suffix, NULL for users with no post-deploy events)
    * from the raw table, proving stamp write, head resolve, and
    * null-fill end-to-end. The per-user max commutes across batches
    * and merges (max is associative; prev's null means "nothing
    * yet"), so the artifact equals the oracle under any slicing.
    */
  def replaySchemaEvolution(spark: SparkSession, dir: String)
      : DataFrame = replaySchemaEvolutionWithStats(spark, dir)._1

  /** Slice index (of 10) where the s30 redeploy happens: late enough
    * that the PRE-deploy snapshot v(evoAt−1) is still inside the
    * retention window for the spec's old-schema as-of assertion.
    */
  private[graft] val EvoSliceOfTen = 8

  /** cents of one event — exact integer money (the s16 convention). */
  private def eventCents = round(col("value") * 100).cast("long")

  private def preAggEvoOld(df: DataFrame): DataFrame =
    df.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(eventCents).as("cents"))

  private def mergeEvoOld(prev: DataFrame, agg: DataFrame): DataFrame =
    prev.unionByName(agg).groupBy("user_id")
      .agg(sum("n_events").as("n_events"), sum("cents").as("cents"))

  private def preAggEvoNew(df: DataFrame): DataFrame =
    df.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(eventCents).as("cents"),
        max(eventCents).as("max_cents"))

  /** The evolved merge: a pre-deploy `prev` (old stamp, no
    * max_cents) enters with the column null-filled — null is the
    * identity of max, so old users pick up a max the first time a
    * post-deploy event arrives and stay null otherwise.
    */
  private def mergeEvoNew(prev: DataFrame, agg: DataFrame)
      : DataFrame = {
    val p = if (prev.columns.contains("max_cents")) prev
      else prev.withColumn("max_cents", lit(null).cast("long"))
    p.unionByName(agg).groupBy("user_id")
      .agg(sum("n_events").as("n_events"), sum("cents").as("cents"),
        max("max_cents").as("max_cents"))
  }

  /** The s30 merges in the loop's KEYED shape (see
    * [[compactUserStateKeyed]]); the evolved one's null-fill of a
    * pre-deploy prev happens in the loop's allowMissingColumns
    * union — null stays the identity of max.
    */
  private def mergeEvoOldKeyed(df: DataFrame): DataFrame =
    df.groupBy(col("user_id"), col("bkt"))
      .agg(sum("n_events").as("n_events"), sum("cents").as("cents"))

  private def mergeEvoNewKeyed(df: DataFrame): DataFrame =
    df.groupBy(col("user_id"), col("bkt"))
      .agg(sum("n_events").as("n_events"), sum("cents").as("cents"),
        max("max_cents").as("max_cents"))

  /** s30 plus (head artifact columns, as-of-pre-deploy columns) for
    * the StreamingSpec schema assertions.
    */
  def replaySchemaEvolutionWithStats(spark: SparkSession,
      dir: String, nBatches: Int = 10)
      : (DataFrame, (Seq[String], Seq[String])) = {
    val work = java.nio.file.Files.createTempDirectory("graft-s30")
      .toFile
    try {
      val all = stagedEventBatches(spark, dir, nBatches)
      val evoAt = nBatches * EvoSliceOfTen / 10
      // the two deployments share ONE incoming dir (the checkpoint
      // tracks processed files by path): deploy 1 sees the pre-evo
      // slices, deploy 2's AvailableNow picks up only the new ones
      val src = s"${work.getAbsolutePath}/incoming"
      new java.io.File(src).mkdirs()
      def stage(r: Range): Unit = r.foreach { i =>
        val s0 = new java.io.File(all, f"b$i%02d.parquet")
        val d0 = new java.io.File(src, s0.getName)
        java.nio.file.Files.copy(s0.toPath, d0.toPath)
        d0.setLastModified(s0.lastModified) // keep slice order
        ()
      }
      stage(0 until evoAt)
      runArtifactMergeLoop(spark, work.getAbsolutePath, src,
        stagedEventSchema, bucketKey = Some("user_id"), nBuckets = 8,
        stampSchema = true,
        mergeKeyed = Some(mergeEvoOldKeyed))(preAggEvoOld, mergeEvoOld)
      stage(evoAt until nBatches)
      val (artifact, _) = runArtifactMergeLoop(spark,
        work.getAbsolutePath, src, stagedEventSchema,
        bucketKey = Some("user_id"), nBuckets = 8,
        stampSchema = true,
        mergeKeyed = Some(mergeEvoNewKeyed))(preAggEvoNew, mergeEvoNew)
      val stateDir = s"${work.getAbsolutePath}/state"
      val asOfCols: Seq[String] =
        if (lastCommittedBatch(stateDir) < evoAt) Seq.empty
        else readCommittedAsOf(spark, stateDir, evoAt - 1L)
          .map(_.drop("bkt").columns.toSeq).getOrElse(Seq.empty)
      val head = artifact.getOrElse(preAggEvoNew(emptyStagedFrame(spark)))
      val fin = head.select(col("user_id"), col("n_events"),
        col("cents").as("lifetime_cents"),
        (if (head.columns.contains("max_cents")) col("max_cents")
         else lit(null).cast("long")).as("max_cents_since_evo"))
        .orderBy("user_id")
      // HARNESS-bounded materialization before the temp dir dies
      // (the s16 note applies: a deployment serves from the base)
      val rows = fin.collect()
      (spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), fin.schema),
        (head.columns.toSeq, asOfCols))
    } finally deleteRecursively(work)
  }

  /** s31 — COMPACTION IN A LIVE LIFECYCLE (the declared surface of
    * [[compactArtifact]]): the s16 changelog-compaction loop runs
    * through slice 7 of 10, the artifact is compacted — every
    * committed partition rewritten into one fresh generation from
    * the [[CompactionGenFloor]] range under a new current-snapshot
    * commit, history files untouched — and the REDEPLOYED loop then
    * merges the remaining slices on top of the compacted state. The
    * head readout must equal batch q46 over the whole log, which is
    * exactly what q46's oracle recomputes from the raw table: the
    * hash-match proves the rewrite lost and invented nothing, the
    * commit marker did not move (a moved marker would make the
    * resumed engine skip real batches — the readout would be missing
    * three slices of events), and post-compaction merges read the
    * compacted generations correctly. The deeper format properties —
    * as-of reads resolving their ORIGINAL generations across a
    * compaction, the file/generation collapse, crash-mid-compaction
    * recovery — are StreamingSpec's, on purpose-built artifacts.
    */
  def replayCompaction(spark: SparkSession, dir: String): DataFrame =
    replayCompactionWithStats(spark, dir)._1

  /** Slice index (of 10) after which the s31 compaction runs. */
  private[graft] val CompactSliceOfTen = 7

  /** s31 plus (head batch when compaction ran, the compacted
    * snapshot's distinct generation ids, head batch after the
    * resumed deployment) for the StreamingSpec assertions: the
    * generation set must be one id at-or-above
    * [[CompactionGenFloor]], and the marker must sit at
    * compactAt−1 / nBatches−1 respectively — compaction moves
    * generations, never the batch clock.
    */
  def replayCompactionWithStats(spark: SparkSession, dir: String,
      nBatches: Int = 10): (DataFrame, (Long, Seq[Long], Long)) = {
    val work = java.nio.file.Files.createTempDirectory("graft-s31")
      .toFile
    try {
      val all = stagedEventBatches(spark, dir, nBatches)
      val compactAt = nBatches * CompactSliceOfTen / 10
      // one incoming dir across both deployments (the s30 pattern):
      // the checkpoint tracks processed files, so the resumed loop's
      // AvailableNow picks up only the post-compaction slices
      val src = s"${work.getAbsolutePath}/incoming"
      new java.io.File(src).mkdirs()
      def stage(r: Range): Unit = r.foreach { i =>
        val s0 = new java.io.File(all, f"b$i%02d.parquet")
        val d0 = new java.io.File(src, s0.getName)
        java.nio.file.Files.copy(s0.toPath, d0.toPath)
        d0.setLastModified(s0.lastModified) // keep slice order
        ()
      }
      stage(0 until compactAt)
      runArtifactMergeLoop(spark, work.getAbsolutePath, src,
        stagedEventSchema, bucketKey = Some("user_id"), nBuckets = 8,
        mergeKeyed = Some(compactUserStateKeyed))(
        preAggUserState,
        (prev, batchAgg) => compactUserState(prev.unionByName(batchAgg)))
      val stateDir = s"${work.getAbsolutePath}/state"
      val headBefore = lastCommittedBatch(stateDir)
      compactArtifact(spark, stateDir,
        lockBase = Some(work.getAbsolutePath))
      val gensAfter = readSnapshot(stateDir)
        .map(_._2.values.toSeq.distinct.sorted)
        .getOrElse(Seq.empty)
      stage(compactAt until nBatches)
      val (artifact, _) = runArtifactMergeLoop(spark,
        work.getAbsolutePath, src, stagedEventSchema,
        bucketKey = Some("user_id"), nBuckets = 8,
        mergeKeyed = Some(compactUserStateKeyed))(
        preAggUserState,
        (prev, batchAgg) => compactUserState(prev.unionByName(batchAgg)))
      val headAfter = lastCommittedBatch(stateDir)
      val fin = compactReadout(artifact
        .getOrElse(preAggUserState(emptyStagedFrame(spark))))
      // HARNESS-bounded materialization before the temp dir dies
      // (the s16 note applies: a deployment serves from the base)
      val rows = fin.collect()
      (spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), fin.schema),
        (headBefore, gensAfter, headAfter))
    } finally deleteRecursively(work)
  }

  /** s32 — PARTITION-SPEC EVOLUTION IN A LIVE LIFECYCLE (the
    * declared surface of [[rebucketArtifact]]): the s16 loop runs
    * through slice 7 of 10 under an 8-bucket layout, the artifact is
    * rebucketed to 16 — every partition rewritten into the new
    * layout under a new spec-stamped snapshot commit, history
    * untouched — and the REDEPLOYED loop (nBuckets = 16, the
    * scale-out config the respec exists to enable) merges the
    * remaining slices on top. The head readout must equal batch q46
    * over the whole log — the hash-match proves the rewrite moved
    * every row to the bucket the 16-spec routing expects (a
    * misrouted row would be missed by its own bucket's pruned merge
    * read and double-counted), the batch clock never moved, and the
    * redeploy's pruned merges read the new layout correctly. The
    * spec-mismatch refusal, the old-layout as-of read, and the
    * shrink direction are StreamingSpec's, on purpose-built
    * artifacts.
    */
  def replayRebucket(spark: SparkSession, dir: String): DataFrame =
    replayRebucketWithStats(spark, dir)._1

  /** s32 plus ((spec, partition count) before, (spec, partition
    * count) after the respec) for the StreamingSpec assertions.
    */
  def replayRebucketWithStats(spark: SparkSession, dir: String,
      nBatches: Int = 10)
      : (DataFrame, ((Option[Int], Int), (Option[Int], Int))) = {
    val work = java.nio.file.Files.createTempDirectory("graft-s32")
      .toFile
    try {
      val all = stagedEventBatches(spark, dir, nBatches)
      val respecAt = nBatches * CompactSliceOfTen / 10
      val src = s"${work.getAbsolutePath}/incoming"
      new java.io.File(src).mkdirs()
      def stage(r: Range): Unit = r.foreach { i =>
        val s0 = new java.io.File(all, f"b$i%02d.parquet")
        val d0 = new java.io.File(src, s0.getName)
        java.nio.file.Files.copy(s0.toPath, d0.toPath)
        d0.setLastModified(s0.lastModified) // keep slice order
        ()
      }
      stage(0 until respecAt)
      runArtifactMergeLoop(spark, work.getAbsolutePath, src,
        stagedEventSchema, bucketKey = Some("user_id"), nBuckets = 8,
        mergeKeyed = Some(compactUserStateKeyed))(
        preAggUserState,
        (prev, batchAgg) => compactUserState(prev.unionByName(batchAgg)))
      val stateDir = s"${work.getAbsolutePath}/state"
      def specAndParts(): (Option[Int], Int) =
        (readSnapshotSpec(stateDir),
          readSnapshot(stateDir).map(_._2.size).getOrElse(0))
      val before = specAndParts()
      rebucketArtifact(spark, stateDir, "user_id", 16,
        lockBase = Some(work.getAbsolutePath))
      val after = specAndParts()
      stage(respecAt until nBatches)
      val (artifact, _) = runArtifactMergeLoop(spark,
        work.getAbsolutePath, src, stagedEventSchema,
        bucketKey = Some("user_id"), nBuckets = 16,
        mergeKeyed = Some(compactUserStateKeyed))(
        preAggUserState,
        (prev, batchAgg) => compactUserState(prev.unionByName(batchAgg)))
      val fin = compactReadout(artifact
        .getOrElse(preAggUserState(emptyStagedFrame(spark))))
      // HARNESS-bounded materialization before the temp dir dies
      // (the s16 note applies: a deployment serves from the base)
      val rows = fin.collect()
      (spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), fin.schema),
        (before, after))
    } finally deleteRecursively(work)
  }

  /** s33 — SNAPSHOT MANIFEST READ (the metadata-table member of the
    * artifact lifecycle: Iceberg's `snapshots` table, Delta's
    * DESCRIBE HISTORY): the s16 changelog-compaction loop commits
    * `nBatches` versions of the bucket-partitioned user-state
    * artifact, and the readout serves one row per RETAINED snapshot
    * — (snap_batch, n_rows) — with every count taken from the
    * snapshot's parquet FOOTERS ONLY ([[manifestFromFooters]]): the
    * manifest answers "how big is every version I can still read"
    * without opening a single row group. Because the staged slices
    * are ascending event-time spans and the merged state keeps
    * exactly one row per user, snapshot b's row count is the number
    * of DISTINCT users in the event-time prefix through slice b —
    * which the DuckDB oracle recomputes from the raw events table
    * with s24's lo/span arithmetic ([[manifestOracleSql]]). The
    * hash-match proves three facts at once: the retention window is
    * exactly [[SnapshotHistoryRetention]] + 1 snapshots (one extra
    * or missing manifest row breaks it), every retained snapshot's
    * partition → generation resolution is right (a wrong generation
    * carries a wrong footer count), and the footer statistics agree
    * with full recomputation (a count that double-reads superseded
    * generations breaks it).
    */
  def replayArtifactManifest(spark: SparkSession, dir: String)
      : DataFrame = replayArtifactManifestWithStats(spark, dir)._1

  /** s33 plus (retained snapshot ids, distinct footers opened) for
    * the StreamingSpec assertions: the retained set must be exactly
    * the last [[SnapshotHistoryRetention]] + 1 committed batches,
    * and every footer-derived count must agree with the data-scan
    * second leg ([[readCommittedAsOf]] count per snapshot).
    */
  def replayArtifactManifestWithStats(spark: SparkSession,
      dir: String, nBatches: Int = 10)
      : (DataFrame, (Seq[Long], Long)) = {
    val work = java.nio.file.Files.createTempDirectory("graft-s33")
      .toFile
    try {
      val srcDir = stagedEventBatches(spark, dir, nBatches)
      runArtifactMergeLoop(spark, work.getAbsolutePath, srcDir,
        stagedEventSchema, bucketKey = Some("user_id"), nBuckets = 8,
        mergeKeyed = Some(compactUserStateKeyed))(
        preAggUserState,
        (prev, batchAgg) => compactUserState(prev.unionByName(batchAgg)))
      val stateDir = s"${work.getAbsolutePath}/state"
      // no materialization dance here (review r20): the manifest
      // frame is a driver-local relation of already-collected footer
      // counts — nothing in its plan references the dying temp dir
      val (fin, snaps, nFiles) = manifestFromFooters(spark, stateDir)
      (fin, (snaps, nFiles))
    } finally deleteRecursively(work)
  }

  /** The manifest derivation [[replayArtifactManifest]] declares,
    * reusable against any swap-managed artifact: resolve each
    * retained snapshot's pinned generation leaf dirs driver-side
    * (the same explicit-leaf resolution every reader of this format
    * does — the listing is manifest-sized, retained snapshots ×
    * partitions), then ONE distributed job over the DISTINCT file
    * paths reads each parquet footer's record count
    * (`ParquetFileReader.getRecordCount`) exactly once — a
    * generation shared by every snapshot of the retention window is
    * fetched once, not retention+1 times — with counts mapped back
    * to snapshots driver-side. No row group is ever opened, so the
    * read costs O(distinct retained files) footer fetches.
    * AT 100 TB: the naive answer — count(*) per retained version
    * through the as-of read path — is retention+1 full data scans;
    * this is the statistics read every table format serves from its
    * manifest layer, derived here from the immutable parquet
    * footers the format already owns (a real deployment would
    * additionally cache the counts in the snapshot files at commit
    * time; the footer path below is the ground truth that cache
    * would have to agree with). Returns (manifest frame ordered by
    * snap_batch, retained snapshot ids, footer files opened).
    */
  private[graft] def manifestFromFooters(spark: SparkSession,
      liveDir: String): (DataFrame, Seq[Long], Long) = {
    val snaps: Seq[(Long, Map[String, Long])] =
      snapshotHistoryFiles(liveDir)
        .flatMap(h => parseSnapshotFile(h._2))
    // per-snapshot file lists, resolved driver-side. A retained
    // snapshot pinning a missing or file-less generation dir is the
    // corruption class snapshotEntriesAsOf refuses loudly (review
    // r20): a silent zero here would serve a plausible-looking
    // undercount instead of the diagnosable failure every other
    // reader of this format gives.
    val filesOf: Seq[(Long, Seq[String])] = snaps.map {
      case (b, entries) =>
        b -> entries.toSeq.flatMap { case (part, gen) =>
          val leaf = new java.io.File(liveDir, s"$part/g$gen")
          val fs = Option(leaf.listFiles()).getOrElse(Array.empty)
            .filter(isDataFile).map(_.getAbsolutePath).toSeq
          if (fs.isEmpty) throw new IllegalStateException(
            s"retained snapshot $b of $liveDir pins $part/g$gen " +
              "but the generation holds no data files — a retained " +
              "generation was lost (GC fault or partial restore); " +
              "refusing to serve an undercounted manifest")
          fs
        }
    }
    // footer job over DISTINCT paths (a generation shared by every
    // snapshot of the retention window would otherwise be fetched
    // retention+1 times — review r20), counts mapped back to
    // snapshots driver-side
    val distinctPaths = filesOf.flatMap(_._2).distinct
    val countOf: Map[String, Long] =
      if (distinctPaths.isEmpty) Map.empty
      else spark.sparkContext
        .parallelize(distinctPaths,
          math.min(distinctPaths.size, 32))
        .mapPartitions { it =>
          val conf = new org.apache.hadoop.conf.Configuration()
          it.map { p =>
            val in = org.apache.parquet.hadoop.util.HadoopInputFile
              .fromPath(new org.apache.hadoop.fs.Path(p), conf)
            val r =
              org.apache.parquet.hadoop.ParquetFileReader.open(in)
            try (p, r.getRecordCount) finally r.close()
          }
        }.collect().toMap
    val counts: Seq[(Long, Long)] =
      filesOf.map { case (b, fs) => (b, fs.map(countOf).sum) }
    import spark.implicits._
    (counts.toDF("snap_batch", "n_rows").orderBy("snap_batch"),
      snaps.map(_._1), distinctPaths.size.toLong)
  }

  /** s33's oracle, generated from the SAME retention constant the
    * engine prunes with: one UNION ALL leg per retained batch b —
    * the last [[SnapshotHistoryRetention]] + 1 of `nBatches` — each
    * counting DISTINCT users in the event-time prefix through slice
    * b (s24's lo/span arithmetic; b+1 of nBatches spans). A drifted
    * retention constant desynchronizes the row sets and fails the
    * rows_match, not just the hash.
    *
    * Assumes every staged slice is NON-EMPTY (an empty batch
    * commits no snapshot, so trailing data-empty slices would shift
    * the retained ids below the fixed legs here) — true at the
    * declared SFs, and the same convention s24's fixed as-of target
    * documents at its oracle.
    */
  def manifestOracleSql(nBatches: Int = 10): String = {
    require(nBatches > SnapshotHistoryRetention + 1,
      s"the manifest oracle needs more batches ($nBatches) than " +
        s"the retained window (${SnapshotHistoryRetention + 1}) — " +
        "fewer would generate legs for batches that never existed")
    val retained =
      (nBatches - 1 - SnapshotHistoryRetention) until nBatches
    val legs = retained.map { b =>
      s"""|SELECT CAST($b AS BIGINT) AS snap_batch,
          |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_rows
          |FROM f, mm
          |WHERE f.sec < mm.lo + ${b + 1} *
          |  ((mm.hi - mm.lo + ${nBatches - 1}) // $nBatches)"""
        .stripMargin
    }
    s"""|WITH f AS (
        |  SELECT user_id, epoch_us(ts) // 1000000 AS sec FROM events),
        |mm AS (SELECT min(sec) AS lo, max(sec) + 1 AS hi FROM f)
        |${legs.mkString("\nUNION ALL\n")}
        |ORDER BY snap_batch""".stripMargin
  }

  /** s18 — STREAMING QUALITY-GATE ADMISSION (t39's streaming twin,
    * the admission controller at the ingest door): each arriving
    * document batch runs the full t39 rule chain INSIDE its
    * micro-batch — every rule is per-document (scalar metrics, the
    * doc's own gram shares, the doc's own language markers; no
    * cross-document state), so the union of per-batch verdicts equals
    * the batch t39 run EXACTLY and t39's oracle verifies the loop.
    * This is the curation pattern s09 (decontamination) established,
    * applied to the quality cascade: verdicts are final at admission
    * time, admitted documents are never rescanned, the engine state
    * store carries nothing, and per-batch cost is t39-of-batch-size.
    */
  def replayQualityGate(spark: SparkSession, dir: String): DataFrame =
    replayQualityGateWithStats(spark, dir)._1

  /** s18 plus the engine state-store row total (must be 0) for the
    * StreamingSpec assertion.
    */
  def replayQualityGateWithStats(spark: SparkSession, dir: String,
      nBatches: Int = 4): (DataFrame, Long) =
    replayDocGate(spark, dir, "s18",
      Seq("doc_id" -> LongType, "text" -> StringType,
        "lang" -> StringType), nBatches)(
      graft.queries.TextOps.filterCascadeOf)

  /** s19 — STREAMING TOKENIZER ENCODE AT INGEST (the streaming twin
    * of batch t41, extending the admission-gate family s09/s18 to the
    * serving half of the tokenizer pair): the merge list is trained
    * batch-side ONCE (t38's mining — the shipped model artifact,
    * exactly how a production ingest pipeline deploys a tokenizer),
    * then every ingest micro-batch encodes its documents map-side
    * with the fixed rules. Encoding is per-document pure, so the
    * union over batches equals batch t41 EXACTLY and t41's oracle
    * verifies the loop; the engine state store carries nothing and
    * per-batch cost is encode-of-batch-size (the token-id artifact a
    * loader reads is current after every batch, never recomputed).
    */
  def replayBpeEncode(spark: SparkSession, dir: String): DataFrame =
    replayBpeEncodeWithStats(spark, dir)._1

  /** s19 plus the engine state-store row total (must be 0) for the
    * StreamingSpec assertion.
    */
  def replayBpeEncodeWithStats(spark: SparkSession, dir: String,
      nBatches: Int = 4): (DataFrame, Long) = {
    import graft.queries.TextOps
    // model artifact: trained before the stream starts, fixed across
    // all ingest batches
    val rules = deployedBpeRules(spark, dir) // fixed artifact (r20 memo)
    replayDocGate(spark, dir, "s19",
      Seq("doc_id" -> LongType, "text" -> StringType), nBatches)(
      b => TextOps.bpeEncodeOf(b.sparkSession, b, rules))
  }

  /** s20 — STREAMING CROSS-MODAL ADMISSION GATE (the streaming twin
    * of batch m18, completing the admission family across
    * modalities: s09 decontamination, s18 text quality, s20 paired
    * media+caption): media and caption arrive together in each
    * ingest micro-batch (the paired-ingest shape), the per-pair rule
    * chain runs inside the batch — blob features decoded map-side,
    * caption metrics map-side, doc_id-keyed join batch-local — and
    * verdicts are final at admission. Every rule is per-pair, so the
    * union over batches equals batch m18 EXACTLY and m18's oracle
    * verifies the loop; engine state store carries nothing.
    */
  def replayPairGate(spark: SparkSession, dir: String): DataFrame =
    replayPairGateWithStats(spark, dir)._1

  /** s20 plus the engine state-store row total (must be 0) for the
    * StreamingSpec assertion.
    */
  def replayPairGateWithStats(spark: SparkSession, dir: String,
      nBatches: Int = 4): (DataFrame, Long) =
    replayDocGate(spark, dir, "s20",
      Seq("doc_id" -> LongType, "text" -> StringType,
        "n_chars" -> LongType), nBatches)(
      graft.multimodal.Multimodal.pairCurationOf)

  /** s23 — STREAMING PII SCRUB AT ADMISSION (t46's streaming twin,
    * extending the admission-gate family s09/s18/s19/s20 with the
    * compliance pass): each arriving document batch runs the full
    * t46 detect/redact/audit chain INSIDE its micro-batch — every
    * rule is per-document (regex counts, ordered redaction, the
    * audit fingerprint; no cross-document state), so the union of
    * per-batch verdicts equals batch t46 EXACTLY and t46's oracle
    * verifies the loop. This is how a production ingest door
    * actually scrubs: documents are redacted ONCE at admission,
    * never rescanned, and the verdict artifact (counts + review
    * flag + fingerprint) is current after every batch. Engine state
    * store carries nothing; per-batch cost is t46-of-batch-size.
    */
  def replayPiiGate(spark: SparkSession, dir: String): DataFrame =
    replayPiiGateWithStats(spark, dir)._1

  /** s23 plus the engine state-store row total (must be 0) for the
    * StreamingSpec assertion.
    */
  def replayPiiGateWithStats(spark: SparkSession, dir: String,
      nBatches: Int = 4): (DataFrame, Long) =
    replayDocGate(spark, dir, "s23",
      Seq("doc_id" -> LongType, "text" -> StringType,
        "source" -> StringType), nBatches)(
      b => graft.queries.TextOps.piiScrubOf(
        graft.queries.TextOps.piiAugmentOf(b)))

  /** s27 — STREAMING DSIR ADMISSION (t48's deployment twin,
    * extending the admission-gate family s09/s18/s19/s20/s23 with
    * the distribution-matching selector): the hashed-n-gram model
    * AND the top-quarter cutoff are trained batch-side ONCE — the
    * s19 model-fixed rule; DSIR trains on reference data, the
    * ingest door only applies it — then every micro-batch scores
    * its documents map-side against the broadcast model (≤ 4096
    * rows) and stamps the admission verdict against the fixed
    * threshold. Scoring is per-document pure given the fixed
    * artifacts (a doc's weight reads only its own grams + the
    * model), so the union over batches equals the batch scoring run
    * EXACTLY and the t48 CTEs in per-document form verify the loop;
    * the engine state store carries nothing and per-batch cost is
    * score-of-batch-size. Documents under 2 tokens carry no bigram
    * evidence and sit out, the batch t48 boundary.
    */
  def replayDsirGate(spark: SparkSession, dir: String): DataFrame =
    replayDsirGateWithStats(spark, dir)._1

  /** s27 plus the engine state-store row total (must be 0) for the
    * StreamingSpec assertion.
    */
  def replayDsirGateWithStats(spark: SparkSession, dir: String,
      nBatches: Int = 4): (DataFrame, Long) = {
    import graft.queries.TextOps
    // model + threshold artifacts: trained before the stream starts,
    // fixed across all ingest batches (session-memoized, r20 — the
    // declared loop APPLIES the deployed artifacts)
    val (model, cutoff) = deployedDsirModel(spark, dir)
    replayDocGate(spark, dir, "s27",
      Seq("doc_id" -> LongType, "text" -> StringType,
        "lang" -> StringType, "source" -> StringType), nBatches)(
      b => TextOps.dsirScoreWith(b, model)
        .withColumn("admitted", col("w") >= lit(cutoff)))
  }

  /** s21 — STREAMING VOCABULARY MAINTENANCE (the streaming twin of
    * batch t42, fourth member of the artifact-maintenance symmetry:
    * t15/s05 band index, v09/s12 vector codes, v20/s17 neighbor
    * graph, t42/s21 tokenizer vocab): each ingest micro-batch encodes
    * its documents with the FIXED pre-trained merge rules, aggregates
    * its own (token, n_occurrences, n_docs) counts, and merges them
    * into the persisted vocabulary artifact by token-keyed integer
    * sums — commutative/associative, and each document lives in
    * exactly one batch so the per-batch distinct-doc counts add
    * exactly. Reading the artifact back out (rank, cap, dense ids)
    * therefore equals batch t42 EXACTLY and t42's oracle verifies the
    * loop. The engine state store carries nothing (stateless
    * foreachBatch — the artifact IS the state, vocab-sized no matter
    * how much corpus flows through); per-batch cost is
    * O(|vocab| + |batch|). The full-artifact rewrite is INHERENT
    * here, not an s17-style pruning miss: the vocabulary is bounded
    * by construction (the token universe, further capped at read-out)
    * and token frequencies are zipfian, so every batch touches
    * nearly every high-frequency token — a bucket-partitioned merge
    * would mark all buckets touched and prune nothing.
    */
  def replayVocabMaintain(spark: SparkSession, dir: String): DataFrame =
    replayVocabMaintainWithStats(spark, dir)._1

  /** s21 plus the engine state-store row total (must be 0) for the
    * StreamingSpec assertion.
    */
  def replayVocabMaintainWithStats(spark: SparkSession, dir: String,
      nBatches: Int = 4): (DataFrame, Long) = {
    import graft.queries.TextOps
    val rules = deployedBpeRules(spark, dir) // fixed artifact (r20 memo)
    val work = java.nio.file.Files.createTempDirectory("graft-s21")
      .toFile
    try {
      val base = work.getAbsolutePath
      val cols = Seq("doc_id" -> (LongType: DataType),
        "text" -> (StringType: DataType))
      val srcDir = stageDocBatches(spark, dir, cols, nBatches)
      val docSchema = StructType(
        cols.map { case (n, t) => StructField(n, t) })
      val (artifact, stateRows) = runArtifactMergeLoop(spark, base,
        srcDir, docSchema)(
        // the same encode+count stage as batch t42 over the batch
        // slice (per-batch counts sum exactly — each doc lives in
        // one batch)
        b => TextOps.vocabCountsOf(b.sparkSession, b, rules),
        (prev, batchAgg) => prev.unionByName(batchAgg)
          .groupBy("token")
          .agg(sum("n_occurrences").as("n_occurrences"),
            sum("n_docs").as("n_docs")))
      // t42's OWN rank/cap/id read-out over the artifact — s21 ≡ t42
      // by shared code; an empty source yields the empty vocabulary
      val fin = TextOps.vocabRankOf(artifact
          .getOrElse(TextOps.vocabCountsOf(spark,
            spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              docSchema), rules)))
        .orderBy("token_id")
      // materialize BEFORE the temp state dir is deleted — a HARNESS-bounded
      // collect, not the loop's scale shape: each replay CALL is a
      // fresh deployment whose artifacts live in a per-call temp
      // dir, so the returned frame must outlive it. A real
      // deployment keeps the base and serves from the artifact
      // path directly (the loop itself never collects
      // corpus-sized data).
      val rows = fin.collect()
      (spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), fin.schema), stateRows)
    } finally deleteRecursively(work)
  }

  /** s22 — STREAMING PARTITIONED INGEST (the streaming twin of q51's
    * layout primitive, and the engine's exercise of the streaming
    * FILE SINK's commit protocol): the events log replayed as
    * time-ordered micro-batches through
    * `writeStream.partitionBy(dt).parquet` — each batch's rows land
    * in their dt= directories under the sink's exactly-once manifest
    * (the _spark_metadata commit log, which is what makes a restart
    * re-emit nothing) — and q51's 10-day window query then runs over
    * the streamed layout. Every row lands in exactly one batch and
    * the sink only appends files, so the layout's content equals the
    * batch-staged table and q51's own oracle verifies the whole
    * loop; the engine state store carries nothing (stateless
    * projection), and partition pruning over the streamed directories
    * works exactly as over q51's batch staging.
    */
  def replayPartitionedIngest(spark: SparkSession, dir: String)
      : DataFrame = replayPartitionedIngestWithStats(spark, dir)._1

  /** s22 plus the engine state-store row total (must be 0) for the
    * StreamingSpec assertion.
    */
  def replayPartitionedIngestWithStats(spark: SparkSession,
      dir: String, nBatches: Int = 10): (DataFrame, Long) = {
    val work = java.nio.file.Files.createTempDirectory("graft-s22")
      .toFile
    try {
      val base = work.getAbsolutePath
      val srcDir = stagedEventBatches(spark, dir, nBatches)
      val outDir = s"$base/by_dt"
      val q = withStreamShuffle(spark, stagedBytes(srcDir)) {
        spark.readStream.schema(stagedEventSchema)
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$srcDir/b*.parquet")
        .withColumn("dt", to_date(col("ts")))
        .writeStream.format("parquet")
        .outputMode(OutputMode.Append())
        .option("path", outDir)
        .option("checkpointLocation", s"$base/ckpt")
        .partitionBy("dt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      }
      val stateRows =
        try {
          q.awaitTermination()
          Option(q.lastProgress).toSeq
            .flatMap(_.stateOperators.toSeq).map(_.numRowsTotal).sum
        } finally q.stop()
      // q51's OWN window aggregate over the streamed layout — the
      // pair shares one oracle, so it shares one definition. The
      // explicit schema (staged columns + the dt partition column)
      // keeps an empty sink readable instead of failing inference.
      val sinkSchema = StructType(
        stagedEventSchema.fields :+ StructField("dt", DateType))
      val raw =
        if (new java.io.File(outDir).exists())
          spark.read.schema(sinkSchema).parquet(outDir)
        else spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          sinkSchema)
      val fin = graft.queries.Relational.dayWindowAggOf(raw)
      // materialize BEFORE the temp sink dir is deleted — a HARNESS-bounded
      // collect, not the loop's scale shape: each replay CALL is a
      // fresh deployment whose artifacts live in a per-call temp
      // dir, so the returned frame must outlive it. A real
      // deployment keeps the base and serves from the artifact
      // path directly (the loop itself never collects
      // corpus-sized data).
      val rows = fin.collect()
      (spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), fin.schema), stateRows)
    } finally deleteRecursively(work)
  }

  /** The shared incremental-MERGE replay scaffold (s16's changelog
    * compaction and s21's vocab maintenance): drive the staged files
    * through a stateless AvailableNow file stream, aggregate each
    * non-empty micro-batch with `batchAgg`, fold it into the parquet
    * artifact with `merge`, and return (artifact if any batch
    * arrived, engine state-store rows — always 0, the artifact IS
    * the state). One copy of the drain/stateRows boilerplate to keep
    * in sync instead of one per loop (review r12).
    *
    * CONTRACT: the returned DataFrame is a LAZY read over parquet
    * files living under the caller's `base` temp dir — callers MUST
    * materialize (collect + createDataFrame, as both do) before the
    * enclosing `finally` deletes `base`, or the first action after
    * cleanup fails with FileNotFoundException (ADVICE r12). `base`
    * is the deployment's PERSISTENT root (checkpoint + artifact): a
    * crashed run resumes by re-invoking with the same `base` — the
    * loop heals any torn swap at start, the engine replays the
    * uncheckpointed batch, and the batch marker makes that replay a
    * no-op (StreamingSpec's crash-replay case drives this end to
    * end). The replay harnesses pass a per-call temp dir because
    * each CALL is a fresh deployment; that is the harness's
    * lifecycle choice, not the loop's.
    *
    * `bucketKey = Some(col)` turns on the CELL-PARTITIONED merge
    * (s17's treatment, for artifacts whose key cardinality grows
    * with the corpus — s16's per-user state): the artifact is
    * partitioned by `bkt = pmod(xxhash64(key), nBuckets)`; each
    * batch collects its TOUCHED bucket set (≤ nBuckets, a bounded
    * driver value), reads ONLY those partitions of the prior
    * artifact via a static `bkt IN (...)` partition filter
    * ([[pruneToPartitions]] — plan-gated in PlanSpec), merges them
    * with the batch aggregate — valid because every `merge` in this
    * family is KEY-LOCAL (latest-per-key, per-key sums), so rows in
    * untouched buckets cannot change — writes the merged touched
    * buckets to a sibling staging dir in ONE job (the stage reads
    * the prior slice from the LIVE path, so there is no
    * read-overwrite hazard and no extra materialization), and
    * commits them with [[swapPartitionDirs]]'s manifest-journaled
    * partition swap. The swap journals its batchId, and a batch
    * at-or-below the artifact's committed mark is SKIPPED: Structured
    * Streaming replays a batch whose foreachBatch never returned, so
    * after a crash inside/after the swap the replay would otherwise
    * merge the same batch twice (doubling every sum in it) —
    * exactly-once across restarts is the marker + skip, proven
    * end-to-end by StreamingSpec's crash-replay case. Per-batch cost
    * is O(|batch| + artifact[touched
    * buckets]), never O(|artifact|). `bucketKey = None` keeps the
    * full chained rewrite for artifacts that are BOUNDED by
    * construction and touched almost entirely by every batch (s21's
    * vocabulary: zipfian tokens mean every batch carries most of the
    * vocab, so pruning buys nothing and the artifact is vocab-sized
    * regardless of corpus). Chained mode restarts cleanly too: the
    * version chain re-seeds from the latest _SUCCESS-complete
    * artifact, a torn per-batch write is redone, and a replayed
    * completed write is registered rather than re-merged; once a
    * version completes, its superseded predecessors are deleted
    * ([[retainLatestChainVersion]]), so chained-mode storage stays
    * one-artifact-sized instead of growing per deployment batch.
    *
    * Lifecycle contract: the artifact base and the streaming
    * checkpoint MUST be created and deleted together, and BOTH
    * directions of a split are detected (review r15): a reset
    * checkpoint against a stale base fails loudly at batch 0 (the
    * guard in foreachBatch), and a reset/lost STATE dir against a
    * live checkpoint fails loudly at loop start (the
    * [[ExpectedCommitName]] sentinel, written beside the checkpoint
    * after every commit, records what the state dir must hold — the
    * engine would otherwise skip the already-checkpointed batches
    * and silently rebuild an incomplete artifact). The base is
    * single-writer for the run's duration, enforced by
    * [[acquireWriterLock]]: a second loop on the same base fails
    * fast instead of interleaving swap commits.
    */
  private[graft] def runArtifactMergeLoop(spark: SparkSession,
      base: String, srcDir: String, schema: StructType,
      bucketKey: Option[String] = None, nBuckets: Int = 32,
      onSwapApply: (Long, String) => Unit = (_, _) => (),
      stampSchema: Boolean = false,
      // KEYED merge (r21, guide §2.4): an aggregation over the
      // pre-unioned (prev ∪ batch-agg) frame that groups by
      // (key, "bkt") — the loop repartitions the union by bkt ONCE
      // and the grouping's required clustering is already satisfied
      // (bkt ⊆ group keys), so the staged write follows the merge
      // aggregate in the same stage instead of paying a second
      // merge-keyed Exchange plus a repartition Exchange. When None,
      // the classic (prev, agg) => merged path runs unchanged.
      mergeKeyed: Option[DataFrame => DataFrame] = None)(
      batchAgg: DataFrame => DataFrame,
      merge: (DataFrame, DataFrame) => DataFrame)
      : (Option[DataFrame], Long) = {
    val states = scala.collection.mutable.ListBuffer[String]()
    val stateDir = s"$base/state"
    // the artifact's schema as THIS loop writes it (data columns +
    // bkt), captured from the first staged write's frame — later
    // batches hand it to readCommitted so the unstamped artifact
    // read skips per-batch parquet footer inference (r21). A stamped
    // artifact (stampSchema) resolves its committed stamp instead.
    @volatile var artifactSchemaHint: Option[StructType] = None
    // single-writer guard: the swap protocol and the version chain
    // both assume exactly one loop per base (VERDICT r14 item 3) —
    // a second concurrent loop fails fast here instead of corrupting
    // the artifact. Held for the whole run, released in the finally.
    val writerLock = acquireWriterLock(base)
    try {
    // heal a torn partition-swap commit from a crashed prior run
    // BEFORE any batch stages new files at the same path
    recoverTornSwap(stateDir)
    // reverse-direction lifecycle guard (review r15): a deleted/lost
    // state dir against a LIVE checkpoint would not error on its own
    // — the engine never replays checkpointed batches, so the loop
    // would quietly rebuild the artifact from only the new batches.
    // The sentinel beside the checkpoint records what state must
    // hold; recovery above has already rolled any torn commit
    // forward, so expected > committed can only mean state loss.
    def committedMark(): Long = bucketKey match {
      case Some(_) => lastCommittedBatch(stateDir)
      case None => completeChainVersions(stateDir)
        .lastOption.map(_.getName.stripPrefix("b").toLong)
        .getOrElse(-1L)
    }
    val expected = expectedCommit(base)
    if (expected > committedMark()) throw new IllegalStateException(
      s"artifact state $stateDir holds commits through batch " +
        s"${committedMark()} but $ExpectedCommitName records batch " +
        s"$expected: the state dir was reset against a live " +
        "checkpoint — already-checkpointed batches will never " +
        "replay, so the artifact would silently rebuild " +
        "incomplete. Delete the base (state, checkpoint, sentinel) " +
        "together, or restore the state dir")
    // partition-spec guard (s32): a deployment whose nBuckets
    // differs from the layout the artifact was written under would
    // compute a DIFFERENT bucket for an existing key, prune its
    // artifact read to partitions that do not hold that key's rows,
    // treat the key as new, and silently double-count its state.
    // The committed spec stamp turns that into a loud refusal;
    // [[rebucketArtifact]] is the sanctioned way to change layouts.
    // Pre-s32 artifacts carry no stamp (cannot validate — the first
    // commit of this run stamps them going forward).
    bucketKey.foreach { _ =>
      readSnapshotSpec(stateDir).filter(_ != nBuckets).foreach { n =>
        throw new IllegalStateException(
          s"artifact $stateDir is laid out under partition spec " +
            s"bkt:$n but this deployment is configured with " +
            s"nBuckets=$nBuckets — a mismatched spec would prune " +
            "merges to the wrong buckets and silently double-count " +
            s"keys; redeploy with nBuckets=$n, or migrate the " +
            "layout first (EventStreams.rebucketArtifact)")
      }
    }
    // chained-mode resume: seed the version chain with the latest
    // COMPLETE prior artifact (a b<N> dir with _SUCCESS — a torn
    // write has none and is redone by the replay)
    if (bucketKey.isEmpty)
      completeChainVersions(stateDir)
        .lastOption.foreach(d => states += d.getAbsolutePath)
    // stream width derived from the staged input, not the session's
    // batch default (r20, guide §2: the foreachBatch jobs inherit the
    // cloned conf, so the merge/write shuffles size to the data);
    // AQE off for the micro-batch jobs (r21, guide §2 job count: the
    // adaptive staged write ran 3 stage-materialization jobs per
    // batch for an already-derived width); width floored at the
    // bucket fan-out so the staged write's per-bucket parquet files
    // go out in parallel tasks instead of one serial write task
    val q = withStreamShuffle(spark, stagedBytes(srcDir),
      aqeOff = true,
      fanout = bucketKey.map(_ => nBuckets).getOrElse(1)) {
      spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      // plain dir, not a b*.parquet glob (r21): the staged incoming
      // dir holds ONLY the bNN.parquet batch files, and Hadoop glob
      // expansion re-runs per trigger in latestOffset — a per-batch
      // driver cost the listing-only dir read does not pay
      .parquet(srcDir)
      .writeStream.outputMode(OutputMode.Append())
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row],
          batchId: Long) =>
          // lifecycle guard (review r14): the replay-skip marks
          // assume the streaming checkpoint and the artifact base
          // share a lifecycle. If the ckpt dir alone is deleted
          // (batchIds restart at 0) against a base that committed
          // later batches, EVERY restarted batch would sit at-or-
          // below the stale mark and be silently skipped — the
          // artifact would quietly stop updating. A GENUINE replay
          // of batch 0 can only ever see a mark of exactly 0 (the
          // engine cannot have committed batch 1 before batch 0's
          // checkpoint), so mark > 0 at batchId 0 is always the
          // mismatch: fail loudly. Base, ckpt, and source staging
          // must be deleted together. Checked BEFORE the isEmpty
          // gate (review r15): an EMPTY first file would otherwise
          // bypass the guard, and no later batch carries id 0.
          // Known blind spot (review r15): a base that committed
          // ONLY batch 0 is indistinguishable from a genuine batch-0
          // crash-replay (both show mark == 0 at batchId 0 with
          // offsets/0 present), so a reset at that exact point
          // passes as a replay — detection starts once any later
          // batch has committed.
          if (batchId == 0L) {
            val mark = bucketKey match {
              case Some(_) => lastCommittedBatch(stateDir)
              case None => completeChainVersions(stateDir)
                .lastOption.map(_.getName.stripPrefix("b").toLong)
                .getOrElse(-1L)
            }
            if (mark > 0L) throw new IllegalStateException(
              s"artifact base $stateDir has committed through " +
                s"batch $mark but the stream restarted at batch 0: " +
                "the checkpoint was reset against a stale artifact " +
                "base — delete the base and checkpoint together, " +
                "or point the loop at a fresh base")
          }
        bucketKey match {
            case Some(_)
                if batchId <= lastCommittedBatch(stateDir) =>
              // REPLAY of a batch whose swap already committed (a
              // crash landed after the swap's COMMIT but before the
              // engine checkpointed the batch): the merge is already
              // in the artifact — merging again would double-count
              if (states.isEmpty) states += stateDir
            case Some(key) =>
              val s = batch.sparkSession
              def bktOf(c: Column) = bucketOf(c, nBuckets)
              // the batch's TOUCHED bucket set, collected to the
              // driver — BOUNDED by nBuckets (a config constant),
              // never corpus-sized. The bounded collect is what buys
              // STATIC partition pruning on the artifact read below:
              // the collect-free broadcast-semi-join alternative was
              // measured (r14) to leave the scan with
              // PartitionFilters=[isnotnull(bkt)] — DPP does not fire
              // when the build side carries no selective filter — so
              // the "pruned" read was a full artifact scan per batch.
              // The set derives from the RAW batch (same keys as the
              // aggregate, since batchAgg groups by them), so this is
              // one tiny batch-sized job, not a second merge run —
              // and it doubles as the empty-batch probe (r20: an
              // empty touched set ⟺ an empty batch, so the former
              // separate `batch.isEmpty` job is gone; distinctInts
              // keeps it ONE job where distinct().collect() ran 2–3
              // AQE stage jobs).
              val touched =
                distinctInts(batch.toDF(), bktOf(col(key)))
              if (touched.nonEmpty) {
              val agg = batchAgg(batch.toDF())
              // snapshot-resolved read (review r15): the committed
              // partition list, not a live listing — and within it,
              // only the touched buckets (static partition pruning,
              // plan-gated in PlanSpec)
              val prevB = readCommitted(s, stateDir,
                  schemaHint = artifactSchemaHint)
                .map(df => pruneToPartitions(df, "bkt", touched))
              // ONE job per batch: write the touched buckets to a
              // staging dir (reads prev from the live artifact — a
              // different path, so no read-overwrite hazard and no
              // extra checkpoint materialization), then commit with
              // the manifest-journaled partition swap. Exactly one
              // file per touched bucket either way: the keyed path
              // clusters by bkt before the merge aggregate, the
              // classic path repartitions the merged result.
              val merged = mergeKeyed match {
                case Some(mk) =>
                  // allowMissingColumns: a pre-evolution prev enters
                  // the evolved union with its added columns
                  // null-filled (mergeEvoNew's explicit null-fill,
                  // now at the union seam)
                  val aggB = agg.withColumn("bkt", bktOf(col(key)))
                  mk(prevB
                    .map(_.unionByName(aggB,
                      allowMissingColumns = true))
                    .getOrElse(aggB)
                    .repartition(col("bkt")))
                case None =>
                  prevB.map(p => merge(p.drop("bkt"), agg))
                    .getOrElse(agg)
                    .withColumn("bkt", bktOf(col(key)))
                    .repartition(col("bkt"))
              }
              artifactSchemaHint = Some(merged.schema)
              merged
                .write.partitionBy("bkt")
                .parquet(stageDirFor(stateDir))
              swapPartitionDirs(stageDirFor(stateDir), stateDir,
                touched.map(v => s"bkt=$v"), batchId,
                onPartitionApplied = n => onSwapApply(batchId, n),
                // s30 schema evolution: opt-in writers commit the
                // batch's artifact schema into the snapshot, so a
                // redeploy with added columns re-stamps and readers
                // resolve the schema from the snapshot they read
                schemaDdl =
                  if (stampSchema) Some(merged.schema.toDDL) else None,
                // s32: every bucketed commit declares its layout so
                // a later mismatched deployment refuses loudly
                specBuckets = Some(nBuckets))
              writeExpectedCommit(base, batchId)
              if (states.isEmpty) states += stateDir
              }
            case None => if (!batch.isEmpty) {
              val s = batch.sparkSession
              val agg = batchAgg(batch.toDF())
              val path = s"$stateDir/b$batchId"
              val pf = new java.io.File(path)
              if (pf.isDirectory &&
                  new java.io.File(pf, "_SUCCESS").isFile) {
                // REPLAY of a batch whose chained write completed
                // before the crash: the version exists — register it,
                // don't merge again
                if (!states.contains(path)) states += path
              } else {
                // a dir without _SUCCESS is a torn write — redo it
                if (pf.isDirectory) deleteRecursively(pf)
                val merged = states.lastOption match {
                  case Some(prev) => merge(s.read.parquet(prev), agg)
                  case None => agg
                }
                merged.write.parquet(path)
                states += path
              }
              // version retention (VERDICT r14 item 2): a complete
              // b<N> supersedes every earlier complete version — the
              // chain re-seeds from the LATEST only — so superseded
              // versions are dropped once the new write's _SUCCESS
              // exists. Without this, chained-mode storage grows by
              // one full artifact per deployment batch; the
              // content-hashed store the reference relies on never
              // leaks that way. Runs AFTER the new version is
              // complete, so a crash anywhere in between leaves a
              // re-seedable chain (at worst one extra version, which
              // the next batch's retention collects). A torn
              // (no-_SUCCESS) dir is never touched here — the replay
              // path redoes it.
              retainLatestChainVersion(stateDir)
              writeExpectedCommit(base, batchId)
            }
          }
        ()
      }
      .start()
    }
    val stateRows =
      try {
        q.awaitTermination()
        Option(q.lastProgress).toSeq
          .flatMap(_.stateOperators.toSeq).map(_.numRowsTotal).sum
      } finally q.stop()
    // the final artifact read resolves through the committed
    // snapshot too (chained-mode version dirs have none and fall
    // back to the plain read — they are immutable once complete)
    (states.lastOption.flatMap(p =>
      readCommitted(spark, p, schemaHint = artifactSchemaHint)
        .map(_.drop("bkt"))), stateRows)
    } finally writerLock.close()
  }

  /** The chained-mode version chain's COMPLETE entries, ascending by
    * version number: `b<N>` dirs under `stateDir` carrying _SUCCESS.
    * A torn write has no _SUCCESS and is excluded (the replay redoes
    * it). Single-sourced for seeding, the batch-0 lifecycle guard,
    * and version retention.
    */
  private def completeChainVersions(stateDir: String)
      : Seq[java.io.File] =
    Option(new java.io.File(stateDir).listFiles())
      .getOrElse(Array.empty)
      .filter(d => d.isDirectory && d.getName.startsWith("b") &&
        new java.io.File(d, "_SUCCESS").isFile)
      .sortBy(_.getName.stripPrefix("b").toLong).toSeq

  /** Chained-mode version retention: delete every complete version
    * except the highest-numbered one. Safe because batchIds only
    * grow (the batch-0 guard rejects a reset checkpoint), so the
    * highest complete version is always the chain's head and the
    * only one resume ever seeds from.
    */
  private def retainLatestChainVersion(stateDir: String): Unit =
    completeChainVersions(stateDir).dropRight(1)
      .foreach(deleteRecursively)

  /** Name of the single-writer lock file under an artifact base. */
  private[graft] val WriterLockName = "_writer_lock"

  /** Canonical lock-file paths held by THIS JVM. The in-JVM registry
    * is what makes the same-JVM refusal SAFE on POSIX: fcntl drops
    * every lock a process holds on a file the moment ANY descriptor
    * of that file closes, so the obvious refusal path — open a
    * second channel, catch OverlappingFileLockException, close the
    * channel — silently releases the first holder's OS lock on the
    * way out, and a loop in another process can then acquire it while
    * the first is still mid-run (review r15, empirically confirmed on
    * OpenJDK 17/Linux). A same-JVM conflict must therefore be
    * detected BEFORE a second channel to the file ever opens.
    */
  private val heldWriterLocks =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Single-writer guard on an artifact base (VERDICT r14 item 3):
    * the partition-swap protocol and the chained version chain both
    * assume exactly one merge loop per base — two concurrent writers
    * would interleave stage/apply/commit and corrupt the artifact.
    * Takes an OS-level advisory lock ([[java.nio.channels.FileLock]])
    * on `base/_writer_lock`; a second acquirer — same JVM (via the
    * [[heldWriterLocks]] registry, never a second channel) or another
    * process (via tryLock) — fails fast with a clear message. The
    * lock is held by the process and released by the OS on death, so
    * a CRASHED run never blocks its own restart (a lock *file* would
    * turn the crash-replay path into a manual unlock step).
    * Same-filesystem advisory-lock semantics — the assumption the
    * swap's atomic moves already make.
    */
  private[graft] def acquireWriterLock(base: String)
      : java.lang.AutoCloseable = {
    java.nio.file.Files.createDirectories(
      new java.io.File(base).toPath)
    val lockFile = new java.io.File(base, WriterLockName)
    val key = lockFile.getCanonicalPath
    def refuse(): Nothing = throw new IllegalStateException(
      s"artifact base $base is already owned by another merge " +
        s"loop ($WriterLockName is held): the partition-swap " +
        "protocol is single-writer — stop the other loop or use " +
        "a different base")
    // same-JVM holders are refused here, before any channel opens
    if (!heldWriterLocks.add(key)) refuse()
    val ch =
      try java.nio.channels.FileChannel.open(lockFile.toPath,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      catch { case e: Throwable =>
        heldWriterLocks.remove(key); throw e
      }
    val lock =
      try ch.tryLock()
      catch {
        // the registry admitted us, so an overlapping lock can only
        // be one taken on this file OUTSIDE this API by the same
        // process; the channel is deliberately NOT closed — closing
        // it would drop that foreign holder's OS lock (the very
        // hazard the registry exists to prevent) — but the refusal
        // still carries the actionable message, not a bare overlap
        case e: java.nio.channels.OverlappingFileLockException =>
          heldWriterLocks.remove(key)
          throw new IllegalStateException(
            s"artifact base $base is already locked by this " +
              s"process outside acquireWriterLock ($WriterLockName " +
              "overlaps a foreign FileLock): the partition-swap " +
              "protocol is single-writer — stop the other holder " +
              "or use a different base", e)
        // no lock support / transient IO: nothing is locked via this
        // API, closing is safe
        case e: Throwable =>
          heldWriterLocks.remove(key); ch.close(); throw e
      }
    if (lock == null) { // held by another PROCESS
      heldWriterLocks.remove(key)
      ch.close()
      refuse()
    }
    new java.lang.AutoCloseable {
      override def close(): Unit = {
        // the registry entry must clear even if release/close throw
        // (e.g. a ClosedChannelException after a thread interrupt),
        // or the base would refuse every later same-JVM acquire
        // until JVM restart — breaking the "a finished run never
        // blocks its successor" property for in-process restarts
        try { lock.release(); ch.close() }
        finally { heldWriterLocks.remove(key); () }
      }
    }
  }

  /** Stage the documents table as `nBatches` time-spaced ingest
    * parquet files under `base/incoming` (doc_id mod nBatches split)
    * — the shared batching convention of every document-stream
    * replay (s18/s19/s20's gate harness and s21's merge loop).
    * Returns the incoming dir.
    */
  private def stageDocBatches(spark: SparkSession, dir: String,
      cols: Seq[(String, DataType)],
      nBatches: Int): String = {
    // session-memoized (r20): the staged input is a pure function of
    // (dir, projected columns, batch count) — the stagedEventsCache
    // rule; bench iterations re-measure the replay, not this staging
    val key = s"docs#$dir#${cols.map(c =>
      c._1 + ":" + c._2.simpleString).mkString(",")}#$nBatches"
    memoizedStagedInput(key) { base =>
      val srcDir = s"$base/incoming"
      new java.io.File(srcDir).mkdirs()
      val all = graft.Tables.documents(spark, dir)
        .select(cols.map(c => col(c._1)): _*)
      val t0 = System.currentTimeMillis() - 3600L * 1000
      (0 until nBatches).foreach { i =>
        val stage = s"$base/stage$i"
        all.filter(pmod(col("doc_id"), lit(nBatches)) === i)
          .coalesce(1).write.parquet(stage)
        new java.io.File(stage).listFiles()
          .filter(_.getName.endsWith(".parquet")).headOption
          .foreach { f =>
            val dst = new java.io.File(srcDir, f"b$i%02d.parquet")
            java.nio.file.Files.move(f.toPath, dst.toPath)
            dst.setLastModified(t0 + i * 60000L)
            ()
          }
      }
      srcDir
    }
  }

  /** Shared replay harness for the per-document admission gates
    * (s18/s19/s20): stage the documents table as `nBatches` ingest
    * parquet files, run `gate` inside each foreachBatch over the
    * stateless file stream, union the per-batch verdict artifacts.
    * The gate must be per-document (per-pair) pure — that is exactly
    * what makes the union equal the batch twin, and what the trio's
    * StreamingSpec assertions certify.
    */
  private def replayDocGate(spark: SparkSession, dir: String,
      tag: String, cols: Seq[(String, DataType)], nBatches: Int)(
      gate: DataFrame => DataFrame): (DataFrame, Long) = {
    val work = java.nio.file.Files.createTempDirectory(s"graft-$tag")
      .toFile
    try {
      val base = work.getAbsolutePath
      val srcDir = stageDocBatches(spark, dir, cols, nBatches)
      val docSchema = StructType(
        cols.map { case (n, t) => StructField(n, t) })
      val verdicts = scala.collection.mutable.ListBuffer[String]()
      // AQE off for the micro-batch gate jobs (r21, guide §2 job
      // count — the runArtifactMergeLoop rationale): the gates'
      // internal doc-keyed aggregations/joins ran 5-7 AQE
      // stage-materialization jobs per micro-batch at batch sizes
      // where the derived width already right-sizes the shuffles
      val q = withStreamShuffle(spark, stagedBytes(srcDir),
        aqeOff = true) {
        spark.readStream.schema(docSchema)
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$srcDir/b*.parquet")
        .writeStream.outputMode(OutputMode.Append())
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row],
            batchId: Long) =>
          // no separate emptiness probe (r20): the gate is per-row
          // pure, so an empty batch writes a schema-only verdict file
          // that unions to nothing — one job per batch instead of two
          val path = s"$base/verdicts/b$batchId"
          gate(batch.toDF()).write.parquet(path)
          verdicts += path
          ()
        }
        .start()
      }
      val stateRows =
        try {
          q.awaitTermination()
          Option(q.lastProgress).toSeq
            .flatMap(_.stateOperators.toSeq).map(_.numRowsTotal).sum
        } finally q.stop()
      // empty-source fallback: the gate over an empty typed frame
      // carries the correct output schema with zero rows
      val fin = (if (verdicts.isEmpty)
          gate(spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            docSchema))
        else spark.read.parquet(verdicts.toSeq: _*))
        .orderBy("doc_id")
      // materialize BEFORE the temp verdict dirs are deleted — a HARNESS-bounded
      // collect, not the loop's scale shape: each replay CALL is a
      // fresh deployment whose artifacts live in a per-call temp
      // dir, so the returned frame must outlive it. A real
      // deployment keeps the base and serves from the artifact
      // path directly (the loop itself never collects
      // corpus-sized data).
      val rows = fin.collect()
      (spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), fin.schema), stateRows)
    } finally deleteRecursively(work)
  }

  /** Scale-safe declared streaming dedup (s02): the streaming twin of
    * the exact-dedup batch operators (t04/q10) and the ingest-side
    * counterpart of the t15 incremental dedup — first sight of a
    * (event_type, minute) key is emitted, repeats are dropped by the
    * state store, and `dropDuplicatesWithinWatermark` EVICTS key state
    * older than the watermark, so state is O(keys per watermark
    * horizon), not O(all keys ever). The event-time minute is part of
    * the dedup key, so an evicted key can never recur (a recurrence
    * would carry a later minute — a different key). Equality with batch
    * DISTINCT therefore holds PROVIDED event-time disorder stays within
    * the 1-hour watermark: a key whose FIRST occurrence arrived more
    * than 1 h (event time) behind the stream head would be discarded as
    * late input, not deduped. The single-source in-order replay here
    * satisfies that precondition; a production deployment sizes the
    * watermark to its real disorder bound. Memory sink only to collect
    * the verify dump.
    */
  def replayDedupAppend(spark: SparkSession, dir: String): DataFrame =
    replayDedupAppendWithStats(spark, dir)._1

  /** Dedup replay plus the state-store row count after the final
    * micro-batch (for the StreamingSpec state assertion).
    */
  def replayDedupAppendWithStats(spark: SparkSession, dir: String)
      : (DataFrame, Long) = {
    val qn = s"stream_dedup_${math.abs(dir.hashCode)}"
    val deduped = readEvents(spark, dir)
      .withColumn("minute", date_trunc("minute", col("ts")))
      .withWatermark("minute", "1 hour")
      .dropDuplicatesWithinWatermark("event_type", "minute")
      .select(col("event_type"),
        date_format(col("minute"), "yyyy-MM-dd HH:mm:ss")
          .as("minute_start"))
    val q = withStreamShuffle(spark, sourceBytes(dir, "events")) {
      deduped.writeStream.outputMode(OutputMode.Append())
        .format("memory").queryName(qn).start()
    }
    val stateRows =
      try {
        q.processAllAvailable()
        Option(q.lastProgress).toSeq
          .flatMap(_.stateOperators.toSeq).map(_.numRowsTotal).sum
      } finally { q.stop() }
    (spark.table(qn)
      .filter(col("minute_start") < "2024-01-03 00:00:00")
      .orderBy("event_type", "minute_start"), stateRows)
  }

  /** s03 — streaming NEAR-dup candidate detection: documents stream
    * through the portable MinHash band kernel map-side (no pre-state
    * aggregation — Structured Streaming allows one stateful operator
    * here), then `flatMapGroupsWithState` keyed by (band, bucket) holds
    * the doc ids seen per bucket and emits a candidate pair the moment
    * a second doc lands in a bucket — the streaming half of the t15
    * ingest loop (verify/drop stays a batch decision on the emitted
    * candidates). STATE SIZE: one id-list per occupied bucket with
    * NoTimeout — every doc contributes its id to each of its 8 band
    * buckets forever, so total state is O(corpus) (≈ nBands rows per
    * doc; each individual list is cluster-sized, but the number of
    * occupied buckets grows with the corpus). At 100 TB this demands
    * either a state TTL — available on [[nearDupPairs]] via
    * `stateTtlMs` (evicts buckets idle past the dedup horizon; the
    * replay keeps NoTimeout so its full-corpus pair set stays
    * oracle-matched) — or the shape this engine declares as s05
    * [[replayIngestDedup]]:
    * keeping the band state in the persisted index instead of the
    * state store, where per-batch cost is batch-sized and the state
    * store stays empty. Deterministic as a SET: exactly the pairs of
    * the batch band self-join, so the replay is oracled against the
    * same bands CTE the t06/t16 oracles use (the final slice dedups
    * multi-band repeats and orders).
    */
  def replayNearDupCandidates(spark: SparkSession, dir: String)
      : DataFrame = replayNearDupCandidatesWithStats(spark, dir)._1

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** The streaming candidate-pair core shared by s03/s04: band kernel
    * map-side, bucket state, pair emission (see s03 doc).
    */
  private def nearDupPairStream(spark: SparkSession, dir: String)
      : DataFrame = {
    import spark.implicits._
    val bandsUdf = udf { (text: String) =>
      graft.queries.TextOps.portableBandsKernel(text)
    }
    val bands = spark.readStream.schema(docSchema)
      .parquet(s"$dir/documents*.parquet")
      .select(col("doc_id"), explode(bandsUdf(col("text"))).as("bb"))
      .select(col("doc_id"), col("bb._1").as("band"),
        col("bb._2").as("bucket"))
      .as[(Long, Int, String)]
    nearDupPairs(bands, stateTtlMs = None)
  }

  /** The stateful pair-emission core over a (doc_id, band, bucket)
    * stream, with an OPTIONAL state TTL (the r4 verdict's s03/s04 ask):
    * `stateTtlMs = Some(t)` switches the operator to
    * ProcessingTimeTimeout and arms a `t`-ms clock on every bucket
    * update — a bucket idle past `t` is EVICTED at the next trigger, so
    * state holds only buckets touched within the dedup horizon and the
    * 100 TB stateful path is bounded by (docs per horizon) × nBands
    * instead of O(corpus). The semantic contract is explicit: a doc
    * arriving after its bucket's eviction no longer pairs with the
    * evicted occupants (exactly the "dedup horizon" a production
    * pipeline chooses; cross-horizon dedup belongs to the stored-index
    * shape, s05). `None` keeps NoTimeout — full-corpus pairing, the
    * oracle-matched s03/s04 replay semantics, with the O(corpus) state
    * documented in the s03 doc above. StreamingSpec covers both: a
    * generous TTL reproduces the NoTimeout pair set; a short TTL +
    * spaced triggers provably evicts (the post-horizon duplicate emits
    * no pair and the state-store row count shows the drop).
    */
  def nearDupPairs(bands: Dataset[(Long, Int, String)],
      stateTtlMs: Option[Long]): DataFrame = {
    val session = bands.sparkSession
    import session.implicits._
    val timeoutConf =
      if (stateTtlMs.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    bands
      .groupByKey { case (_, band, bucket) => (band, bucket) }
      .flatMapGroupsWithState[Seq[Long], (Long, Long)](
        OutputMode.Append(), timeoutConf)(bucketPairFn(stateTtlMs))
      .toDF("d1", "d2")
  }

  /** The per-bucket state transition shared by [[nearDupPairs]],
    * exposed for deterministic unit testing via `TestGroupState`: a
    * ProcessingTimeTimeout stream never quiesces under
    * `processAllAvailable` (armed timers make the engine schedule
    * timer-check batches indefinitely), so eviction semantics are
    * asserted on the function, and the engine-level spec polls the
    * sink instead of awaiting quiescence.
    */
  def bucketPairFn(stateTtlMs: Option[Long])
      : ((Int, String), Iterator[(Long, Int, String)],
          GroupState[Seq[Long]]) => Iterator[(Long, Long)] = {
    case (_, _, state) if state.hasTimedOut =>
      state.remove() // bucket idle past the horizon: evict
      Iterator.empty
    case (_, rows, state) =>
      val seen = state.getOption.getOrElse(Seq.empty)
      val incoming = rows.map(_._1).toSeq.distinct.sorted
      val fresh = incoming.filterNot(seen.contains)
      val out = (for {
        n <- fresh
        o <- seen ++ fresh.filter(_ < n)
      } yield (math.min(o, n), math.max(o, n))).distinct
      state.update((seen ++ fresh).sorted)
      stateTtlMs.foreach(state.setTimeoutDuration)
      out.iterator
  }

  def replayNearDupCandidatesWithStats(spark: SparkSession, dir: String)
      : (DataFrame, Long) = {
    val qn = s"stream_neardup_${math.abs(dir.hashCode)}"
    val q = withStreamShuffle(spark, sourceBytes(dir, "documents"),
      udfHeavy = true) {
      nearDupPairStream(spark, dir)
        .writeStream.outputMode(OutputMode.Append())
        .format("memory").queryName(qn).start()
    }
    val stateRows =
      try {
        q.processAllAvailable()
        Option(q.lastProgress).toSeq
          .flatMap(_.stateOperators.toSeq).map(_.numRowsTotal).sum
      } finally { q.stop() }
    (spark.table(qn).distinct().orderBy("d1", "d2"), stateRows)
  }

  /** s03b (bench-only) — the BOUNDED-STATE production configuration of
    * the near-dup candidate stream: same band kernel, same pair
    * emission, but `stateTtlMs = Some(ttlMs)` (ProcessingTimeTimeout)
    * and the corpus staged as `nBatches` files consumed one per
    * spaced trigger, so the run exercises exactly what the declared
    * s03 replay cannot — armed timers, timer-check batches, re-armed
    * horizons on every bucket update — and times it. The TTL is
    * generous (≫ run length) so nothing evicts mid-bench and the
    * emitted pair set equals s03's NoTimeout set; eviction SEMANTICS
    * are spec'd separately (StreamingSpec TestGroupState + engine
    * tests). Not declared: the fixed-horizon oracle needs full-corpus
    * pairing, which is s03's job.
    */
  def replayNearDupCandidatesTtl(spark: SparkSession, dir: String,
      ttlMs: Long = 3600000L, nBatches: Int = 3): DataFrame = {
    import spark.implicits._
    // staged corpus shared across iterations/harnesses (r20: input
    // preparation, the stagedEventsCache rule), one pmod span per
    // single-file batch, ascending mtimes
    val srcDir = memoizedStagedInput(s"s03b#$dir#$nBatches") { work =>
      val src = s"$work/incoming"
      new java.io.File(src).mkdirs()
      val docs = spark.read.schema(docSchema)
        .parquet(s"$dir/documents*.parquet")
      val t0 = System.currentTimeMillis() - 3600L * 1000
      (0 until nBatches).foreach { i =>
        val stage = s"$work/stage$i"
        docs.filter(pmod(col("doc_id"), lit(nBatches)) === i)
          .coalesce(1).write.parquet(stage)
        new java.io.File(stage).listFiles()
          .filter(_.getName.endsWith(".parquet")).headOption
          .foreach { f =>
            val dst = new java.io.File(src, f"b$i%02d.parquet")
            java.nio.file.Files.move(f.toPath, dst.toPath)
            dst.setLastModified(t0 + i * 60000L)
          }
      }
      src
    }
    val bandsUdf = udf { (text: String) =>
      graft.queries.TextOps.portableBandsKernel(text)
    }
    val bands = spark.readStream.schema(docSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$srcDir/b*.parquet")
      .select(col("doc_id"), explode(bandsUdf(col("text"))).as("bb"))
      .select(col("doc_id"), col("bb._1").as("band"),
        col("bb._2").as("bucket"))
      .as[(Long, Int, String)]
    val qn = s"stream_neardup_ttl_${math.abs(dir.hashCode)}"
    val q = withStreamShuffle(spark, stagedBytes(srcDir),
      udfHeavy = true) {
      nearDupPairs(bands, stateTtlMs = Some(ttlMs))
        .writeStream.outputMode(OutputMode.Append())
        .trigger(org.apache.spark.sql.streaming.Trigger
          .ProcessingTime("250 milliseconds"))
        .format("memory").queryName(qn).start()
    }
    // the staged corpus is session-memoized now; the temp checkpoint
    // and state dirs die with the query
    try drainTimerStream(q, nBatches)
    finally q.stop()
    spark.table(qn).distinct().orderBy("d1", "d2")
  }

  /** Prune a `part`-partitioned parquet artifact read to an explicit
    * bounded partition-value list. The literal IN lands in the scan's
    * PartitionFilters at PLANNING time (gated in PlanSpec), so only
    * the listed directories are listed/read — unlike the broadcast
    * left-semi-join shape, which was measured (r14) NOT to trigger
    * dynamic partition pruning (no selective filter on the build
    * side) and therefore scanned every partition. Callers pass a
    * DRIVER-BOUNDED list (bucket counts, model cell ids) — never a
    * corpus-derived one.
    */
  private[graft] def pruneToPartitions(df: DataFrame, part: String,
      values: Seq[Int]): DataFrame =
    if (values.isEmpty) df.filter(lit(false))
    else df.filter(col(part).isin(values: _*))

  /** Partition count the plan's file scan would actually read —
    * the probe behind the "reads only touched partitions" claim
    * (selectedPartitions applies the scan's PartitionFilters during
    * driver-side listing; no job runs). None when the plan has no
    * file scan leaf.
    */
  private[graft] def scannedPartitionCount(df: DataFrame)
      : Option[Int] = {
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive
          .AdaptiveSparkPlanExec => a.inputPlan
      case other => other
    }
    plan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.partitionCount
    }
  }

  /** Name of the swap-commit journal, written INSIDE the live
    * artifact dir. The underscore prefix keeps it invisible to
    * Spark's file index (same convention as _SUCCESS).
    */
  private[graft] val SwapManifestName = "_swap_manifest"

  /** Name of the batch-commit marker, written INSIDE the live
    * artifact dir as the COMMIT step of [[swapPartitionDirs]]: holds
    * the highest streaming batchId whose swap has committed. The
    * replay guard of the merge loops — Structured Streaming commits
    * a batch to its checkpoint only AFTER foreachBatch returns, so a
    * crash inside/after the swap makes the engine REPLAY that batch
    * on restart; without the marker the replay would merge it a
    * second time (double-counting every sum-based artifact).
    */
  private[graft] val CommitMarkerName = "_last_committed_batch"

  /** The staging-dir convention of the partition-swap commit, single-
    * sourced: writers stage here, [[recoverTornSwap]]'s no-manifest
    * cleanup discards exactly this path.
    */
  private[graft] def stageDirFor(liveDir: String): String =
    liveDir + "-stage"

  /** Highest batchId whose swap committed into `liveDir` (−1 when
    * none has). foreachBatch skips a batch at-or-below this mark: its
    * merge is already in the artifact and re-merging would
    * double-count.
    */
  private[graft] def lastCommittedBatch(liveDir: String): Long =
    readBatchMarker(new java.io.File(liveDir, CommitMarkerName))

  /** Parse a single-long marker/sentinel file, −1 when absent. A
    * corrupted file fails DIAGNOSABLY, naming the path and its
    * content (ADVICE r15) — the same treatment [[recoverTornSwap]]
    * gives a malformed swap manifest; an opaque
    * NumberFormatException at loop start points at nothing.
    */
  private def readBatchMarker(f: java.io.File): Long = {
    if (!f.isFile) return -1L
    val raw = new String(java.nio.file.Files.readAllBytes(f.toPath),
      java.nio.charset.StandardCharsets.UTF_8)
    try raw.trim.toLong
    catch {
      case _: NumberFormatException =>
        throw new IllegalStateException(
          s"corrupted batch marker ${f.getAbsolutePath}: expected " +
            s"a single batch id, got '${raw.take(80)}' — reconcile " +
            "the artifact state by hand before removing the file")
    }
  }

  private def writeCommitMarker(liveDir: String, batchId: Long)
      : Unit = {
    val tmp = new java.io.File(liveDir, CommitMarkerName + ".tmp")
    java.nio.file.Files.write(tmp.toPath, batchId.toString
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.move(tmp.toPath,
      new java.io.File(liveDir, CommitMarkerName).toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    ()
  }

  /** Name of the expected-commit sentinel under an artifact BASE
    * (beside the checkpoint, OUTSIDE the state dir): the highest
    * batch the state dir is supposed to hold. Deleting the state dir
    * alone leaves it behind as evidence, which is what lets the
    * reverse-direction lifecycle guard fail loudly instead of
    * silently rebuilding an incomplete artifact (review r15). A
    * crash between a commit and this write leaves it one batch
    * BEHIND the marker — never ahead — so a lagging sentinel is
    * normal and only expected > committed signals state loss.
    */
  private[graft] val ExpectedCommitName = "_expected_commit"

  /** The sentinel's recorded batch, −1 when absent. */
  private[graft] def expectedCommit(base: String): Long =
    readBatchMarker(new java.io.File(base, ExpectedCommitName))

  private[graft] def writeExpectedCommit(base: String, batchId: Long)
      : Unit = {
    val tmp = new java.io.File(base, ExpectedCommitName + ".tmp")
    java.nio.file.Files.write(tmp.toPath, batchId.toString
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.move(tmp.toPath,
      new java.io.File(base, ExpectedCommitName).toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    ()
  }

  /** Name of the committed-snapshot manifest under a swap-managed
    * artifact: the COMMIT-time list of `partition → generation`
    * pairs that constitutes the artifact's readable state. Readers
    * resolve partitions from THIS file ([[readCommitted]]), never
    * from a live directory listing — the APPLY phase of a concurrent
    * swap mutates the tree mid-flight, and a listing-based read
    * would see missing or mixed partitions (review r15). Written by
    * atomic replace, so a reader sees the old or the new snapshot,
    * never a torn one.
    */
  private[graft] val SnapshotName = "_snapshot"

  /** Prefix of the retained snapshot HISTORY files
    * (`_snapshot_v<batchId>`): each streaming commit also records
    * its snapshot under its batch id, and the last
    * [[SnapshotHistoryRetention]] + 1 of them stay readable — the
    * bounded time-travel window [[readCommittedAsOf]] serves, with
    * generation retention keyed to it (the same property a table
    * format's snapshot-expiry policy gives). Pruned at COMMIT, so
    * storage stays ≤ retention + 2 generations per partition.
    */
  private[graft] val SnapshotHistoryPrefix = "_snapshot_v"

  /** How many SUPERSEDED snapshot versions stay readable (the
    * current one is always readable). */
  private[graft] val SnapshotHistoryRetention = 2

  /** Parse the committed snapshot: (batchId, partition → gen), None
    * when the artifact predates snapshots (or is empty). Corruption
    * fails diagnosably, like the other journal parses.
    */
  private[graft] def readSnapshot(liveDir: String)
      : Option[(Long, Map[String, Long])] =
    parseSnapshotFile(new java.io.File(liveDir, SnapshotName))

  /** The snapshot plus its SCHEMA STAMP (s30 schema evolution): an
    * optional `schema=<ddl>` line commits the artifact's read schema
    * alongside its partition → generation map, so the schema is a
    * snapshot-versioned fact — the head read serves the head stamp,
    * an as-of read serves the stamp of ITS snapshot (history files
    * carry their own line), and generations written before an
    * evolution null-fill the added columns under the newer stamp.
    * Absent on pre-evolution artifacts and on loops that don't opt
    * in ([[runArtifactMergeLoop]]'s `stampSchema`): readers then
    * fall back to parquet footer inference, the pre-s30 behavior.
    */
  private[graft] def readSnapshotFull(liveDir: String)
      : Option[(Long, Map[String, Long], Option[String])] =
    parseSnapshotFileFull(new java.io.File(liveDir, SnapshotName))

  private def parseSnapshotFile(f: java.io.File)
      : Option[(Long, Map[String, Long])] =
    parseSnapshotFileFull(f).map(t => (t._1, t._2))

  /** The snapshot's PARTITION-SPEC STAMP (s32 partition-spec
    * evolution): an optional `spec=<nBuckets>` line commits the
    * bucket count the artifact's `bkt=` layout was written under.
    * Without it, a redeployed merge loop whose `nBuckets` differs
    * from the layout would compute a DIFFERENT bucket for an
    * existing key, prune its artifact read to partitions that do
    * not hold that key's rows, treat the key as new, and silently
    * double-count — the stamp turns that into a loud loop-start
    * refusal, and [[rebucketArtifact]] is the sanctioned way to
    * change it. Absent on pre-s32 and non-bucketed artifacts.
    */
  private[graft] def readSnapshotSpec(liveDir: String): Option[Int] =
    parseSnapshotSpec(new java.io.File(liveDir, SnapshotName))

  private def parseSnapshotSpec(f: java.io.File): Option[Int] =
    parseSnapshotRaw(f).flatMap(_._4)

  private def parseSnapshotFileFull(f: java.io.File)
      : Option[(Long, Map[String, Long], Option[String])] =
    parseSnapshotRaw(f).map(t => (t._1, t._2, t._3))

  private def parseSnapshotRaw(f: java.io.File)
      : Option[(Long, Map[String, Long], Option[String],
        Option[Int])] = {
    if (!f.isFile) return None
    val lines = new String(java.nio.file.Files.readAllBytes(f.toPath),
      java.nio.charset.StandardCharsets.UTF_8).linesIterator.toSeq
    def malformed(detail: String): Nothing =
      throw new IllegalStateException(
        s"corrupted snapshot ${f.getAbsolutePath}: $detail — " +
          "reconcile the artifact by hand before removing the file")
    if (lines.isEmpty || !lines.head.startsWith("batch="))
      malformed("first line must be 'batch=<id>', got '" +
        lines.headOption.getOrElse("<empty file>") + "'")
    val batch = try lines.head.stripPrefix("batch=").toLong
      catch { case _: NumberFormatException =>
        malformed(s"unparseable batch line '${lines.head}'") }
    val body = lines.tail.filter(_.nonEmpty)
    val schemaLines = body.filter(_.startsWith("schema="))
    val specLines = body.filter(_.startsWith("spec="))
    val entryLines = body.filterNot(l =>
      l.startsWith("schema=") || l.startsWith("spec="))
    if (schemaLines.length > 1)
      malformed(s"${schemaLines.length} schema lines (at most one)")
    if (specLines.length > 1)
      malformed(s"${specLines.length} spec lines (at most one)")
    val spec = specLines.headOption.map { l =>
      try l.stripPrefix("spec=").toInt
      catch { case _: NumberFormatException =>
        malformed(s"unparseable spec line '$l'") }
    }
    val entries = entryLines.map { l =>
      val cols = l.split("\t")
      if (cols.length != 2 || !cols(0).startsWith("part=") ||
          !cols(1).startsWith("gen="))
        malformed(s"unparseable entry '$l' " +
          "(expected 'part=<name>\\tgen=<id>')")
      val g = try cols(1).stripPrefix("gen=").toLong
        catch { case _: NumberFormatException =>
          malformed(s"unparseable gen in '$l'") }
      cols(0).stripPrefix("part=") -> g
    }.toMap
    Some((batch, entries,
      schemaLines.headOption.map(_.stripPrefix("schema=")), spec))
  }

  private def writeSnapshotFile(target: java.io.File, batchId: Long,
      entries: Map[String, Long],
      schema: Option[String] = None,
      spec: Option[Int] = None): Unit = {
    val tmp = new java.io.File(target.getParentFile,
      target.getName + ".tmp")
    // the stamps sit between the batch line and the entries; a DDL
    // is single-line by construction (StructType.toDDL)
    val body = (Seq(s"batch=$batchId") ++
      schema.map(s => s"schema=$s") ++
      spec.map(n => s"spec=$n") ++
      entries.toSeq.sortBy(_._1).map { case (n, g) =>
        s"part=$n\tgen=$g" }).mkString("\n")
    java.nio.file.Files.write(tmp.toPath,
      body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.move(tmp.toPath, target.toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    ()
  }

  private def writeSnapshot(liveDir: String, batchId: Long,
      entries: Map[String, Long],
      schema: Option[String] = None,
      spec: Option[Int] = None): Unit =
    writeSnapshotFile(new java.io.File(liveDir, SnapshotName),
      batchId, entries, schema, spec)

  /** The retained history files, ascending by batch id. */
  private def snapshotHistoryFiles(liveDir: String)
      : Seq[(Long, java.io.File)] =
    Option(new java.io.File(liveDir).listFiles())
      .getOrElse(Array.empty)
      .flatMap { f =>
        if (f.isFile && f.getName.startsWith(SnapshotHistoryPrefix))
          scala.util.Try(f.getName
            .stripPrefix(SnapshotHistoryPrefix).toLong).toOption
            .map(_ -> f)
        else None
      }.sortBy(_._1).toSeq

  /** Every generation any RETAINED snapshot (current + history)
    * still references, per partition — the set APPLY and GC must
    * leave on disk for concurrent and time-travel readers.
    */
  private def retainedGenerations(liveDir: String)
      : Map[String, Set[Long]] = {
    val all = readSnapshot(liveDir).map(_._2).toSeq ++
      snapshotHistoryFiles(liveDir)
        .flatMap(h => parseSnapshotFile(h._2)).map(_._2)
    all.flatten.groupBy(_._1)
      .map { case (n, gs) => n -> gs.map(_._2).toSet }
  }

  /** COMMIT-time snapshot edit: every touched partition leaves the
    * old snapshot; the ones that staged a replacement re-enter at
    * `gen`. Streaming commits (batchId ≥ 0) also record the new
    * snapshot under `_snapshot_v<batchId>` and prune history beyond
    * the retention window. Idempotent, so a recovery replay after a
    * crash between the snapshot write and the manifest delete
    * re-applies the same edits.
    */
  private def commitSnapshot(liveDir: String, batchId: Long,
      touched: Seq[(String, Boolean)], gen: Long,
      schemaDdl: Option[String] = None,
      specBuckets: Option[Int] = None): Unit = {
    val full = readSnapshotFull(liveDir)
    val prev = full.map(_._2).getOrElse(Map.empty[String, Long])
    // schema stamp: a commit that declares one (an evolving writer)
    // re-stamps; one that doesn't PRESERVES the existing stamp — an
    // unevolved commit must not silently erase the artifact's
    // declared read schema (and recovery replays, which cannot know
    // the writer's schema, inherit the pre-crash stamp until the
    // next live commit re-stamps)
    val stamp = schemaDdl.orElse(full.flatMap(_._3))
    // partition-spec stamp: same declare-or-preserve rule (s32) —
    // the bucketed merge loop declares its nBuckets every commit,
    // rebucketArtifact declares the new count, and every other
    // commit (compaction, recovery replays) inherits
    val spec = specBuckets.orElse(readSnapshotSpec(liveDir))
    val next = prev -- touched.map(_._1) ++
      touched.collect { case (n, true) => n -> gen }
    writeSnapshot(liveDir, batchId, next, stamp, spec)
    if (batchId >= 0L) {
      writeSnapshotFile(new java.io.File(liveDir,
        s"$SnapshotHistoryPrefix$batchId"), batchId, next, stamp,
        spec)
      snapshotHistoryFiles(liveDir)
        .dropRight(SnapshotHistoryRetention + 1)
        .foreach(h => java.nio.file.Files.deleteIfExists(h._2.toPath))
    }
  }

  /** Upgrade a pre-snapshot artifact in place: loose data files
    * under each `k=v` dir move into a `g-1` generation dir (one
    * rename per partition — no data rewrite), and the bootstrap
    * snapshot naming every existing partition is written. Idempotent
    * — a crash mid-migration leaves no snapshot, so the next swap
    * resumes it. No-op once a snapshot exists or the tree is empty.
    */
  private def bootstrapSnapshot(liveDir: String): Unit = {
    val live = new java.io.File(liveDir)
    if (new java.io.File(live, SnapshotName).isFile) return
    val parts = Option(live.listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && d.getName.contains("="))
    if (parts.isEmpty) return
    val entries = parts.flatMap { d =>
      val loose = Option(d.listFiles()).getOrElse(Array.empty)
        .filter(f => !f.isDirectory)
      if (loose.nonEmpty) {
        val g = new java.io.File(d, "g-1")
        java.nio.file.Files.createDirectories(g.toPath)
        loose.foreach(f => java.nio.file.Files.move(f.toPath,
          new java.io.File(g, f.getName).toPath))
      }
      // an empty partition dir (no data, no generations) must not
      // enter the snapshot — readers would resolve a non-existent
      // leaf path
      Option(d.listFiles()).getOrElse(Array.empty)
        .flatMap(genOf).maxOption.map(d.getName -> _)
    }.toMap
    writeSnapshot(liveDir, -1L, entries)
  }

  /** Drop every generation dir no RETAINED snapshot (current or
    * history) references — grace copies whose snapshots expired,
    * orphans of removed partitions. Runs at loop start —
    * single-writer, and any reader of an UNRETAINED prior snapshot
    * is gone by restart (retained ones stay servable across
    * restarts). No-op for pre-snapshot artifacts.
    */
  private[graft] def gcUnreferencedGenerations(liveDir: String)
      : Unit = readSnapshot(liveDir).foreach { _ =>
    val retained = retainedGenerations(liveDir)
    Option(new java.io.File(liveDir).listFiles())
      .getOrElse(Array.empty)
      .filter(d => d.isDirectory && d.getName.contains("="))
      .foreach { d =>
        retained.get(d.getName) match {
          case None => deleteRecursively(d)
          case Some(gs) =>
            Option(d.listFiles()).getOrElse(Array.empty)
              .foreach(f =>
                if (genOf(f).exists(!gs.contains(_)))
                  deleteRecursively(f))
        }
      }
  }

  /** Floor of the generation-id range COMPACTION rewrites allocate
    * from (2⁴⁰ ≈ 1.1e12): streaming generations are batch ids and
    * legacy swaps allocate max+1 from the same small range, so a
    * compacted generation living above the floor can never collide
    * with a FUTURE streaming batch id — the collision the mixed-mode
    * guard in [[swapPartitionDirs]] exists to refuse. Within the
    * range, successive compactions count up from the floor.
    */
  private[graft] val CompactionGenFloor = 1L << 40

  private def nextCompactionGen(liveDir: String): Long =
    retainedGenerations(liveDir).values.flatten
      .filter(_ >= CompactionGenFloor)
      .maxOption.getOrElse(CompactionGenFloor - 1L) + 1L

  /** s31 — TABLE-FORMAT COMPACTION (the OPTIMIZE /
    * `rewrite_data_files` member of the artifact lifecycle, VERDICT
    * r19 item 1 — the format now has current / as-of / diff /
    * compose / evolve reads; this is the MAINTENANCE write that
    * keeps them cheap after thousands of batches): rewrite every
    * partition of the CURRENT committed snapshot into one fresh
    * single-file generation and commit a new current snapshot
    * referencing only those, without touching the retained history
    * snapshots — time-travel readers keep resolving their ORIGINAL
    * generations (`_snapshot_v<b>` files are not rewritten, and
    * APPLY never deletes a retained generation), and retention
    * releases the superseded generations on the ordinary schedule as
    * later commits roll the history window forward. Reference
    * analogue: the targets cache's one-object-per-node discipline
    * (`_targets/meta/meta` — the cleaned store never accumulates
    * stale object versions).
    *
    * Placement in the commit protocol: the rewrite is an ordinary
    * [[swapPartitionDirs]] commit with `batchId = -1` (no commit
    * marker — compaction is not a data batch, so the merge loop's
    * replay-skip mark must not move) and a generation from the
    * disjoint [[CompactionGenFloor]] range (no future batch-id
    * collision). Crash-safe for free: the swap journals its full
    * intent in the manifest before mutating anything, every
    * committed snapshot stays readable at any crash point (APPLY
    * keeps retained generations), and [[recoverTornSwap]] at the
    * next loop start completes the interrupted compaction —
    * StreamingSpec drives all three properties.
    *
    * THE 100 TB ARGUMENT: a long-lived merge loop leaves each hot
    * partition with one generation dir per retained snapshot that
    * touched it (bounded by retention, but each a full small-file
    * write), and a real deployment's staged writes can leave
    * several files per generation. Compaction is one distributed
    * job — read the committed leaf dirs, one shuffle to re-cluster
    * by partition, one file per partition out — after which the
    * current snapshot references a single generation id across the
    * artifact and read fan-in is one file per partition. It runs
    * under the artifact's single-writer lock (pass `lockBase`)
    * between batches, exactly like Iceberg's rewrite_data_files
    * under its commit lock. Schema stamps are PRESERVED (the
    * commit passes no DDL), and an evolved artifact's compacted
    * files materialize the head schema with nulls — the Iceberg
    * add-column backfill-on-rewrite behavior — while pre-deploy
    * as-of reads keep their own stamp and their own bytes.
    */
  private[graft] def compactArtifact(spark: SparkSession,
      liveDir: String, lockBase: Option[String] = None,
      onPartitionApplied: String => Unit = _ => ()): Unit = {
    val lock = lockBase.map(acquireWriterLock)
    try {
      // heal any torn prior commit (and run loop-start GC) before
      // staging at the same stage path
      recoverTornSwap(liveDir)
      readSnapshotFull(liveDir) match {
        case None => () // chained-mode / empty: nothing to compact
        case Some((_, entries, _)) if entries.isEmpty => ()
        case Some((_, entries, _)) =>
          val partCol = entries.keysIterator.next()
            .takeWhile(_ != '=')
          // the committed head, under its schema stamp (an evolved
          // artifact compacts to head-schema files, nulls filled)
          val cur = readCommitted(spark, liveDir).get
          cur
            .repartition(col(partCol))
            .write.partitionBy(partCol)
            .parquet(stageDirFor(liveDir))
          swapPartitionDirs(stageDirFor(liveDir), liveDir,
            entries.keys.toSeq, batchId = -1L,
            onPartitionApplied = onPartitionApplied,
            genOverride = Some(nextCompactionGen(liveDir)))
      }
    } finally lock.foreach(_.close())
  }

  /** The bucketed artifacts' one true bucket function — the merge
    * loop's routing, the rebucket rewrite, and any future reader
    * must all agree on it, so it is defined exactly once.
    */
  private[graft] def bucketOf(c: Column, nBuckets: Int): Column =
    pmod(xxhash64(c), lit(nBuckets)).cast("int")

  /** s32 — PARTITION-SPEC EVOLUTION (rebucketing): rewrite the
    * CURRENT committed snapshot from its `bkt:<old>` layout into
    * `bkt:<newBuckets>` under a new snapshot commit that also
    * re-stamps the spec line — the scale-out move a bucketed
    * artifact needs when key cardinality outgrows its layout (at
    * 100 TB per-bucket state grows with the corpus; the bucket
    * count must be able to grow with it, and Iceberg models exactly
    * this as a partition-spec change). Mechanically a
    * [[compactArtifact]]-shaped rewrite: one distributed job (read
    * the committed leaf dirs, one shuffle to re-cluster on the NEW
    * bucket, one file per new partition), committed through the
    * ordinary swap journal with a [[CompactionGenFloor]]-range
    * generation and `batchId = -1` (the batch clock never moves),
    * `touched` = old partitions ∪ staged new partitions so
    * shrinking layouts drop their orphaned directories from the
    * snapshot. History files are untouched: retained as-of reads
    * keep serving the OLD layout byte-for-byte (readers resolve
    * explicit leaf dirs, so layout is per-snapshot by
    * construction), and retention releases the old-layout
    * generations on the ordinary schedule. Crash-safe through
    * [[recoverTornSwap]] like every other swap.
    *
    * The redeployed merge loop then runs with `nBuckets =
    * newBuckets`; any deployment still configured with the old
    * count hits the loop-start spec refusal instead of silently
    * double-counting (the guard s32 exists to make possible).
    *
    * CDC caveat (shared with compaction, documented here once): a
    * version diff whose window crosses a rewrite commit sees every
    * partition's generation move and prunes nothing for that step —
    * file-level CDC cannot distinguish "rewritten" from "changed"
    * (Iceberg's changelog has the same property across
    * rewrite_data_files). Correctness is unaffected: s29's
    * composition replaces partition bytes verbatim, so composing
    * across a rewrite lands on the head exactly — it just reads
    * O(state) for that one step.
    */
  private[graft] def rebucketArtifact(spark: SparkSession,
      liveDir: String, key: String, newBuckets: Int,
      lockBase: Option[String] = None): Unit = {
    val lock = lockBase.map(acquireWriterLock)
    try {
      recoverTornSwap(liveDir)
      readSnapshotFull(liveDir) match {
        case None => ()
        case Some((_, entries, _)) if entries.isEmpty => ()
        case Some((_, entries, _)) =>
          val cur = readCommitted(spark, liveDir).get
          cur.drop("bkt")
            .withColumn("bkt", bucketOf(col(key), newBuckets))
            .repartition(col("bkt"))
            .write.partitionBy("bkt")
            .parquet(stageDirFor(liveDir))
          swapPartitionDirs(stageDirFor(liveDir), liveDir,
            entries.keys.toSeq, batchId = -1L,
            genOverride = Some(nextCompactionGen(liveDir)),
            specBuckets = Some(newBuckets))
      }
    } finally lock.foreach(_.close())
  }

  /** Reader-side snapshot isolation (review r15): resolve a
    * swap-managed artifact's partitions from its last COMMITTED
    * snapshot — exact `k=v/g<gen>` leaf dirs, `basePath`-anchored so
    * the partition column still infers — instead of listing the live
    * tree. A swap's APPLY never deletes a committed snapshot's
    * generations, so a read planned from this resolver mid-APPLY
    * scans exactly the pre-swap artifact; after COMMIT the next
    * resolve sees the new version. The grace window is one further
    * swap of the same partition (then the superseded generation is
    * collected), which at one swap per micro-batch is far beyond any
    * scan's lifetime. None when the artifact does not exist or its
    * committed snapshot is empty; a snapshot-less CHAINED-MODE
    * version dir (loose parquet files, no partition dirs) falls back
    * to the ordinary listing read — immutable once written, so
    * isolation is moot. A snapshot-less tree that DOES hold
    * partition dirs is refused diagnosably (review r16, structural
    * since r17): every swap-managed artifact is snapshot-carrying
    * now — the merge loops' recovery ([[recoverTornSwap]]) runs the
    * one-time bootstrap migration at loop start — so partitions
    * without a snapshot mean either a never-upgraded legacy
    * artifact (run its loop once, or recoverTornSwap, to migrate)
    * or a torn pre-snapshot-era swap whose committed pre-crash data
    * exists (run recovery); silently serving a listing would trust
    * an immutability this reader cannot check, and silently
    * returning None would present committed data as an empty
    * artifact (ADVICE r16).
    */
  /** `schemaHint`: the artifact's known schema (data columns + the
    * partition column), used ONLY when the snapshot carries no
    * schema stamp — a stamp is the committed read contract (s30
    * schema evolution) and always wins. The merge loops pass the
    * schema of the frame they themselves write (r21): it skips the
    * per-batch parquet footer-inference job (one driver-blocking
    * 1-task job per micro-batch, measured ~25 ms + planning) that
    * inference costs on unstamped artifacts.
    */
  private[graft] def readCommitted(spark: SparkSession,
      liveDir: String,
      schemaHint: Option[StructType] = None): Option[DataFrame] = {
    if (!new java.io.File(liveDir).exists()) return None
    readSnapshotFull(liveDir) match {
      case None =>
        val live = new java.io.File(liveDir)
        // Observation order partitions → manifest → snapshot-LAST
        // (ADVICE r17). The writer orders manifest-create → APPLY →
        // snapshot-write → manifest-delete, so reading the manifest
        // AFTER the partition listing and the snapshot AFTER the
        // manifest makes the refusal below linearizable: a manifest
        // observed absent after partitions were seen means it was
        // either never created (genuine legacy tree — refuse) or
        // already deleted (the commit landed, so the snapshot
        // re-read below sees it and serves). Reading the manifest
        // first — as pre-r18 code did — let a reader racing a fresh
        // artifact's FIRST swap observe pre-PREPARE manifest-absent,
        // post-APPLY partitions, pre-COMMIT no-snapshot, and throw
        // the legacy refusal at a healthy artifact.
        val files = Option(live.listFiles()).getOrElse(Array.empty)
        val partDirs = files.filter(f =>
          f.isDirectory && f.getName.contains("="))
        def isData(f: java.io.File): Boolean = isDataFile(f)
        // pre-snapshot-era partition payload: loose files directly
        // under a k=v dir (the migrated layout holds only g<N> dirs)
        val legacyData = partDirs.exists(d =>
          Option(d.listFiles()).getOrElse(Array.empty).exists(isData))
        val inFlight = new java.io.File(live, SwapManifestName)
          .isFile
        // snapshot re-read (review r17, ordering fixed r18): if a
        // commit landed between the opening readSnapshot and the
        // listings above, serve it; refusals below are only for
        // trees still snapshot-less after partitions AND manifest
        // AND this final snapshot read, in that order.
        if (partDirs.nonEmpty) readSnapshotFull(liveDir) match {
          case Some((_, entries, schema)) =>
            return readEntries(spark, liveDir, entries, schema,
              schemaHint)
          case None => ()
        }
        if (legacyData || (partDirs.nonEmpty && !inFlight))
          throw new IllegalStateException(
            s"swap-managed artifact $liveDir has partition data but " +
              "no committed snapshot — " +
              (if (inFlight)
                "a pre-snapshot-era swap tore mid-commit and its " +
                  "pre-crash data is not servable in place; run " +
                  "recoverTornSwap before reading"
               else
                 "a legacy pre-snapshot artifact (or torn bootstrap " +
                   "migration); run its merge loop once or " +
                   "recoverTornSwap to bootstrap-migrate it"))
        else if (partDirs.nonEmpty)
          // manifest present, partitions hold only generation dirs:
          // a FRESH artifact's first swap is mid-APPLY — nothing
          // committed yet
          None
        else if (!inFlight && files.exists(isData))
          // chained-mode version dir: immutable listing read
          Some(spark.read.parquet(liveDir))
        else None
      case Some((_, entries, schema)) =>
        readEntries(spark, liveDir, entries, schema, schemaHint)
    }
  }

  /** Generation-pinned scan of a resolved snapshot. When the
    * snapshot carries a schema stamp the scan reads under THAT
    * schema (s30 schema evolution): generations written before an
    * evolution lack the added columns and the parquet reader
    * null-fills them — the Iceberg add-column semantics — while a
    * PRE-evolution snapshot's stamp projects the old schema exactly,
    * so time travel never shows a column the version didn't have.
    * No stamp → footer inference, the pre-s30 behavior.
    */
  private def readEntries(spark: SparkSession, liveDir: String,
      entries: Map[String, Long],
      schemaDdl: Option[String] = None,
      schemaHint: Option[StructType] = None): Option[DataFrame] =
    if (entries.isEmpty) None
    else {
      val leafs = entries.toSeq.sortBy(_._1)
        .map { case (n, g) => s"$liveDir/$n/g$g" }
      val base = spark.read.option("basePath", liveDir)
      // precedence: the snapshot's committed schema stamp (s30), then
      // the caller's hint (r21, skips footer inference), then infer
      val reader = schemaDdl
        .map(org.apache.spark.sql.types.StructType.fromDDL)
        .orElse(schemaHint)
        .fold(base)(st => base.schema(st))
      Some(reader.parquet(leafs: _*))
    }

  /** TIME-TRAVEL read: the artifact AS OF `batch` — resolved from
    * the latest retained snapshot history file whose batch id is ≤
    * the requested one (the as-of-timestamp convention). Bounded by
    * [[SnapshotHistoryRetention]]: asking for a batch older than the
    * earliest retained snapshot fails diagnosably rather than
    * silently serving a different version. None when that snapshot
    * holds no partitions.
    */
  private[graft] def readCommittedAsOf(spark: SparkSession,
      liveDir: String, batch: Long): Option[DataFrame] =
    locally {
      val (_, entries, schema) = snapshotEntriesAsOf(liveDir, batch)
      readEntries(spark, liveDir, entries, schema)
    }

  /** The as-of resolve shared by [[readCommittedAsOf]] and
    * [[readVersionDiff]]: the (batch, partition → generation) map of
    * the latest retained snapshot ≤ `batch`, with the diagnosable
    * retention refusals.
    */
  private def snapshotEntriesAsOf(liveDir: String, batch: Long)
      : (Long, Map[String, Long], Option[String]) = {
    val hist = snapshotHistoryFiles(liveDir)
    if (hist.isEmpty) throw new IllegalStateException(
      s"artifact $liveDir retains no snapshot history — time-travel " +
        "reads need at least one streaming commit")
    hist.filter(_._1 <= batch).lastOption match {
      case None => throw new IllegalStateException(
        s"batch $batch predates the retention window of $liveDir: " +
          s"earliest retained snapshot is batch ${hist.head._1} " +
          s"(retention keeps $SnapshotHistoryRetention superseded " +
          "versions)")
      case Some((b, f)) =>
        // the writer's retention prune can delete exactly this file
        // between the listing above and the parse — surface it as
        // the same diagnosable retention refusal, not an opaque get
        parseSnapshotFileFull(f) match {
          case Some((_, entries, schema)) => (b, entries, schema)
          case None => throw new IllegalStateException(
            s"snapshot history for batch $b of $liveDir was pruned " +
              s"concurrently — batch $batch has left the retention " +
              "window; re-resolve against a newer batch")
        }
    }
  }

  /** VERSION-DIFF read (s26): the two sides of "what changed between
    * batch `bOld` and batch `bNew`", scanning ONLY the partitions
    * whose committed generation DIFFERS between the two retained
    * snapshots. A partition with the same generation in both was
    * touched by no batch in (bOld, bNew], so no row in it can have
    * changed — the driver-side map diff (tiny: partition count
    * entries) proves those partitions irrelevant before any scan is
    * planned. This is the table-format CDC shape at 100 TB: diff
    * cost is O(state in CHANGED buckets), not O(state), no matter
    * how wide the artifact grows. Returns (oldSide, newSide,
    * changedPartitions); a side with no changed partitions in its
    * snapshot reads as None.
    */
  private[graft] def readVersionDiff(spark: SparkSession,
      liveDir: String, bOld: Long, bNew: Long)
      : (Option[DataFrame], Option[DataFrame], Seq[String]) = {
    val (_, eOld, sOld) = snapshotEntriesAsOf(liveDir, bOld)
    val (_, eNew, sNew) = snapshotEntriesAsOf(liveDir, bNew)
    val changed = (eOld.keySet ++ eNew.keySet)
      .filter(p => eOld.get(p) != eNew.get(p)).toSeq.sorted
    // each side reads under ITS OWN snapshot's schema stamp (s30):
    // diffing across an evolution serves the old side without the
    // added columns and the new side with them, as the versions were
    def readAt(entries: Map[String, Long],
        schema: Option[String]): Option[DataFrame] = {
      val parts = changed.filter(entries.contains)
      if (parts.isEmpty) None
      else {
        val base = spark.read.option("basePath", liveDir)
        val reader = schema.fold(base)(ddl => base.schema(
          org.apache.spark.sql.types.StructType.fromDDL(ddl)))
        Some(reader
          .parquet(parts.map(p => s"$liveDir/$p/g${entries(p)}"): _*))
      }
    }
    (readAt(eOld, sOld), readAt(eNew, sNew), changed)
  }

  /** Driver-side partition-swap commit for the bucket/cell-partitioned
    * artifact loops: replace the live version of every TOUCHED
    * `<col>=<v>` partition with its staged counterpart, journaled so
    * a crash at any point leaves a repairable artifact. Equivalent to
    * dynamic partition overwrite's commit, without the extra
    * materialization job the same-path overwrite would need to break
    * its read-write cycle.
    *
    * Protocol (all moves are same-filesystem, hence atomic):
    *  1. PREPARE — atomically publish `live/_swap_manifest` naming
    *     the stage dir, the streaming `batchId` the swap belongs to,
    *     and, per touched partition, whether a staged replacement
    *     exists. A crash before this point leaves the live artifact
    *     untouched (a stray `.tmp` is discarded on recovery).
    *  2. APPLY — for each touched partition: delete the live dir,
    *     then move the staged dir in IF one exists. Deleting the
    *     full `touched` set (not just the staged names) is what
    *     makes evicting/filtering merges safe: a merge whose result
    *     for a touched bucket is EMPTY stages no dir, and the stale
    *     prior partition must still go (ADVICE r13).
    *  3. COMMIT — record `batchId` in the [[CommitMarkerName]]
    *     marker (atomic replace), then delete the manifest, then the
    *     stage dir.
    *
    * A crash mid-APPLY is healed by [[recoverTornSwap]] (call it at
    * loop start, before staging anything new): the manifest
    * distinguishes already-applied partitions (staged dir gone →
    * live dir IS the new version) from pending ones (staged dir
    * still present → delete+move is replayed; both steps are
    * idempotent), and recovery finishes the COMMIT — including the
    * marker — so the engine's REPLAY of the never-checkpointed batch
    * (Structured Streaming commits a batch only after foreachBatch
    * returns) sees `batchId ≤ lastCommittedBatch` and skips the
    * re-merge instead of double-counting it. `touched` may be empty
    * for legacy callers — the staged partition list is always
    * unioned in; `batchId = -1` (non-streaming callers) writes no
    * marker.
    *
    * `onPartitionApplied` is a test seam (StreamingSpec's torn-swap
    * cases inject a crash between partition applies); production
    * callers leave the default no-op.
    */
  private[graft] def swapPartitionDirs(stageDir: String,
      liveDir: String, touched: Seq[String] = Seq.empty,
      batchId: Long = -1L,
      onPartitionApplied: String => Unit = _ => (),
      schemaDdl: Option[String] = None,
      genOverride: Option[Long] = None,
      specBuckets: Option[Int] = None): Unit = {
    val live = new java.io.File(liveDir)
    java.nio.file.Files.createDirectories(live.toPath)
    // upgrade path: a pre-snapshot artifact (loose files directly
    // under its k=v dirs, no _snapshot) is migrated in place and its
    // bootstrap snapshot written BEFORE the journal — otherwise the
    // COMMIT's snapshot edit would start from empty and silently
    // drop every untouched partition from the committed view
    bootstrapSnapshot(liveDir)
    val committed = readSnapshot(liveDir).map(_._2)
      .getOrElse(Map.empty[String, Long])
    val retained = retainedGenerations(liveDir)
    // the incoming generation id: the batchId when streaming
    // (strictly growing — the batch-0 guard and the replay skip
    // enforce it), else one past EVERY retained generation (not just
    // the current snapshot's — colliding with a history-referenced
    // gen would overwrite a retained version in place, review r16).
    // `genOverride` is the COMPACTION path (s31): its rewrites
    // allocate from the disjoint [[CompactionGenFloor]] range so a
    // later streaming batch id can never land on a retained
    // compaction generation and trip the mixed-mode guard below.
    val gen = genOverride.getOrElse(
      if (batchId >= 0L) batchId
      else (committed.values ++ retained.values.flatten)
        .maxOption.getOrElse(-1L) + 1L)
    // mixed-mode guard (ADVICE r16): a legacy (batchId = -1) swap
    // allocates past every retained generation, so a LATER streaming
    // swap whose batch id lands on a still-retained legacy gen would
    // have APPLY overwrite a generation the current/history
    // snapshots reference — breaking isolation for concurrent and
    // time-travel readers. No production caller mixes modes on one
    // artifact; refuse diagnosably rather than corrupt silently.
    if (batchId >= 0L &&
        (retained.values.exists(_.contains(gen)) ||
          committed.values.exists(_ == gen)))
      throw new IllegalStateException(
        s"streaming swap of $liveDir: batch $batchId collides with " +
          s"retained generation g$gen (allocated by an earlier " +
          "legacy batchId=-1 swap) — applying would overwrite a " +
          "generation committed snapshots still reference; do not " +
          "mix legacy and streaming swaps on one artifact, or " +
          "advance the stream's checkpoint past the retained " +
          "generations")
    val staged = Option(new java.io.File(stageDir).listFiles())
      .getOrElse(Array.empty)
      .filter(d => d.isDirectory && d.getName.contains("="))
      .map(_.getName).toSeq
    val all = (touched ++ staged).distinct.sorted
    // PREPARE: journal the commit's full intent before any mutation
    val manifest = new java.io.File(live, SwapManifestName)
    val tmp = new java.io.File(live, SwapManifestName + ".tmp")
    val body = (Seq(s"stage=$stageDir", s"batch=$batchId",
      s"gen=$gen") ++
      all.map { n =>
        val hasStage = new java.io.File(stageDir, n).isDirectory
        // staged=0: touched but nothing staged — a bare delete
        s"part=$n\tstaged=${if (hasStage) 1 else 0}"
      }).mkString("\n")
    java.nio.file.Files.write(tmp.toPath,
      body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.move(tmp.toPath, manifest.toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // APPLY — never touches the generation the committed snapshot
    // references, so a reader that resolved the snapshot before (or
    // during) this loop keeps reading the pre-swap artifact
    all.foreach { n =>
      applyPartitionSwap(stageDir, liveDir, n, gen,
        retained.getOrElse(n, Set.empty))
      onPartitionApplied(n)
    }
    // COMMIT
    if (batchId >= 0L) writeCommitMarker(liveDir, batchId)
    commitSnapshot(liveDir, batchId, all.map(n =>
      n -> new java.io.File(liveDir, s"$n/g$gen").isDirectory), gen,
      schemaDdl, specBuckets)
    java.nio.file.Files.deleteIfExists(manifest.toPath)
    deleteRecursively(new java.io.File(stageDir))
  }

  /** One idempotent partition apply, snapshot-isolated: stale
    * generations are dropped EXCEPT the ones a retained snapshot
    * (current or history) still references (`keep` — the versions a
    * concurrent or time-travel reader may be scanning), then the
    * staged version moves in as `g<gen>` if one exists. A kept
    * generation becomes garbage once every retained snapshot stops
    * referencing it and is collected at this partition's NEXT swap
    * (or at loop start) — so a reader's grace window on a pre-swap
    * snapshot is one full swap of that partition, not zero.
    */
  private def applyPartitionSwap(stageDir: String, liveDir: String,
      name: String, gen: Long, keep: Set[Long]): Unit = {
    val src = new java.io.File(stageDir, name)
    val dst = new java.io.File(liveDir, name)
    if (dst.isDirectory)
      Option(dst.listFiles()).getOrElse(Array.empty).foreach { f =>
        val g = genOf(f)
        if (!g.exists(v => keep.contains(v) || v == gen))
          deleteRecursively(f)
      }
    if (src.isDirectory) {
      val target = new java.io.File(dst, s"g$gen")
      // a replayed apply whose move never completed may still find a
      // partial target from some earlier defensive path — the atomic
      // move below would fail into it, so clear it first
      if (target.isDirectory) deleteRecursively(target)
      java.nio.file.Files.createDirectories(dst.toPath)
      java.nio.file.Files.move(src.toPath, target.toPath)
      ()
    }
  }

  /** Generation id of a `g<N>` dir, None for anything else (loose
    * data files, metadata). */
  private def genOf(f: java.io.File): Option[Long] =
    if (f.isDirectory && f.getName.startsWith("g"))
      scala.util.Try(f.getName.stripPrefix("g").toLong).toOption
    else None

  /** Detect and repair a torn [[swapPartitionDirs]] commit. Run at
    * loop start, BEFORE staging anything new at the artifact's stage
    * path (running it concurrently with a fresh staging write would
    * misread the new stage as the journaled one). No manifest → the
    * live artifact is consistent; any leftover `<liveDir>-stage` dir
    * (a crash between the COMMIT phase's two deletes, or a crashed
    * staging write that never reached PREPARE) is discarded.
    */
  private[graft] def recoverTornSwap(liveDir: String): Unit = {
    val live = new java.io.File(liveDir)
    // a torn PREPARE (only the .tmp exists) never started mutating —
    // the live artifact is the prior consistent version
    java.nio.file.Files.deleteIfExists(
      new java.io.File(live, SwapManifestName + ".tmp").toPath)
    val manifest = new java.io.File(live, SwapManifestName)
    if (!manifest.isFile) {
      deleteRecursively(new java.io.File(stageDirFor(liveDir)))
      // one-time legacy upgrade at loop start (structural since
      // r17): a pre-snapshot artifact is bootstrap-migrated HERE —
      // single-writer, before the loop's first committed read — so
      // every swap-managed artifact a loop touches is
      // snapshot-carrying from its first batch on, and
      // [[readCommitted]] can refuse snapshot-less partition trees
      // instead of trusting an immutability it cannot check.
      // Idempotent no-op once a snapshot exists or the tree is
      // empty/chained-mode.
      bootstrapSnapshot(liveDir)
      // loop-start garbage collection: the grace generations kept
      // for the PREVIOUS run's concurrent readers are dead now
      gcUnreferencedGenerations(liveDir)
      return
    }
    val lines = new String(
      java.nio.file.Files.readAllBytes(manifest.toPath),
      java.nio.charset.StandardCharsets.UTF_8).linesIterator.toSeq
    // defensive parse (review r14): the manifest is published
    // atomically so it SHOULD always be well-formed, but recovery is
    // exactly where a corrupted journal must fail diagnosably —
    // an opaque IndexOutOfBounds here would block restart with no
    // pointer to the file at fault. The WHOLE manifest is validated
    // before the first partition apply, so when any of these throw,
    // recovery has mutated nothing: the live artifact is still the
    // pre-swap version plus whatever the torn APPLY already moved.
    def malformed(detail: String): Nothing =
      throw new IllegalStateException(
        s"corrupted swap manifest ${manifest.getAbsolutePath}: " +
          s"$detail — recovery cannot proceed automatically; " +
          "reconcile the stage dir and live partitions by hand " +
          "before removing the manifest")
    if (lines.isEmpty || !lines.head.startsWith("stage="))
      malformed("first line must be 'stage=<dir>', got '" +
        lines.headOption.getOrElse("<empty file>") + "'")
    val stageDir = lines.head.stripPrefix("stage=")
    def longLine(prefix: String): Option[Long] = lines
      .find(_.startsWith(prefix)).map { l =>
        val v = l.stripPrefix(prefix)
        try v.toLong
        catch {
          case _: NumberFormatException =>
            malformed(s"unparseable line '$l'")
        }
      }
    val batchId = longLine("batch=").getOrElse(-1L)
    // gen= is absent only in a pre-snapshot-era manifest; its applies
    // were in-place (no generations), so max(batchId, 0) reproduces a
    // unique-enough generation for the replay
    val gen = longLine("gen=").getOrElse(math.max(batchId, 0L))
    val parts = lines.filter(_.startsWith("part=")).map { l =>
      val cols = l.split("\t")
      if (cols.length < 2 || !cols(1).startsWith("staged=") ||
          !Set("0", "1").contains(cols(1).stripPrefix("staged=")))
        malformed(s"unparseable partition line '$l' " +
          "(expected 'part=<name>\\tstaged=<0|1>')")
      (cols(0).stripPrefix("part="),
        cols(1).stripPrefix("staged=") == "1")
    }
    // A torn PRE-SNAPSHOT-ERA swap (old manifest, no _snapshot on
    // disk — its applies were in-place) must be migrated BEFORE the
    // replay, exactly as swapPartitionDirs bootstraps before its
    // PREPARE: otherwise the commitSnapshot below would start from an
    // empty snapshot, name only the partitions this replay re-applies,
    // and the trailing GC would delete every untouched legacy
    // partition (review r16). Whether a staged dir was already
    // consumed must be read BEFORE the replay mutates anything — a
    // consumed old-style apply left its NEW data as loose files, which
    // the bootstrap migrates to g-1, and the snapshot must record THAT
    // generation for it, not the never-created g<gen>.
    val preSnapshotEra = readSnapshot(liveDir).isEmpty
    if (preSnapshotEra) bootstrapSnapshot(liveDir)
    val srcPresent = parts.map { case (name, _) =>
      name -> new java.io.File(stageDir, name).isDirectory }.toMap
    // the snapshots on disk are the pre-swap ones (crash before the
    // COMMIT's snapshot write) or already the new ones (crash after)
    // — either way their referenced generations are exactly the ones
    // a reader may hold, so `keep` derives from them identically
    val retained = retainedGenerations(liveDir)
    parts.foreach { case (name, hasStage) =>
      if (srcPresent(name) || !hasStage)
        // not yet applied (staged dir still present), or a bare
        // delete — replaying delete(+move) is idempotent either way
        applyPartitionSwap(stageDir, liveDir, name, gen,
          retained.getOrElse(name, Set.empty))
      // else: staged dir consumed → the atomic move completed and
      // the live dir already IS the new version — keep it
    }
    // finish the torn COMMIT, marker included: the engine will
    // replay this batch (its checkpoint commit never happened), and
    // the marker is what turns that replay into a no-op
    if (batchId >= 0L) writeCommitMarker(liveDir, batchId)
    commitSnapshot(liveDir, batchId, parts.map { case (n, hasStage) =>
      // staged & replayed → the fresh g<gen>; staged & already
      // consumed pre-snapshot → the bootstrap-migrated generation of
      // its (new) loose data; staged=0 → out of the snapshot
      val g = new java.io.File(liveDir, s"$n/g$gen").isDirectory
      val applied = hasStage && !srcPresent(n) &&
        new java.io.File(liveDir, n).isDirectory
      n -> (g || applied)
    }, gen)
    // the consumed-pre-snapshot partitions sit at g-1, not g<gen> —
    // point their snapshot entries at the generation that exists, in
    // BOTH the current snapshot and the history file commitSnapshot
    // just wrote (ADVICE r16: a history entry left at the
    // never-created g<gen> would make readCommittedAsOf(batchId)
    // resolve a nonexistent leaf and carry a phantom retained gen)
    if (preSnapshotEra) {
      val fixed = readSnapshot(liveDir).map(_._2)
        .getOrElse(Map.empty).flatMap { case (n, g) =>
          val d = new java.io.File(liveDir, s"$n/g$g")
          if (d.isDirectory) Some(n -> g)
          else Option(new java.io.File(liveDir, n).listFiles())
            .getOrElse(Array.empty).flatMap(genOf).maxOption
            .map(n -> _)
        }
      // re-write preserves the stamps commitSnapshot above carried
      val stamp = readSnapshotFull(liveDir).flatMap(_._3)
      val spec = readSnapshotSpec(liveDir)
      writeSnapshot(liveDir, batchId, fixed, stamp, spec)
      if (batchId >= 0L)
        writeSnapshotFile(new java.io.File(liveDir,
          s"$SnapshotHistoryPrefix$batchId"), batchId, fixed, stamp,
          spec)
    }
    java.nio.file.Files.deleteIfExists(manifest.toPath)
    deleteRecursively(new java.io.File(stageDir))
    gcUnreferencedGenerations(liveDir)
  }

  /** The format's one data-file rule, shared by the committed read,
    * the manifest footer scan, and the scale receipts (review r20:
    * it was drifting toward three inline copies): a plain file that
    * is neither a `_`-prefixed marker nor a `.`-prefixed sidecar.
    */
  private[graft] def isDataFile(f: java.io.File): Boolean =
    f.isFile && !f.getName.startsWith("_") &&
      !f.getName.startsWith(".")

  private[graft] def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty)
      .foreach(deleteRecursively)
    f.delete(); ()
  }

  /** Count DATA micro-batches (numInputRows > 0) that `q` processes
    * while the blocking `drain` runs. recentProgress is a BOUNDED
    * buffer (default 100 entries — the [[drainTimerStream]] lesson):
    * one post-hoc count of the buffer undercounts as soon as staging
    * exceeds it, so batch ids are accumulated by a concurrent poller
    * for the drain's duration, plus a final sweep after it returns
    * (the poll interval is far inside the ~100-entry eviction window,
    * so no id can be evicted unseen).
    */
  private def countDataBatches(
      q: org.apache.spark.sql.streaming.StreamingQuery)(
      drain: => Unit): Long = {
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    def sweep(): Unit =
      q.recentProgress.filter(_.numInputRows > 0)
        .foreach(p => seen.add(p.batchId))
    @volatile var running = true
    val poller = new Thread(() => {
      while (running) { sweep(); Thread.sleep(50) }
    })
    poller.setDaemon(true)
    poller.start()
    try drain finally { running = false; poller.join() }
    sweep()
    seen.size.toLong
  }

  /** Wait until a stream with ARMED processing-time timers has
    * consumed `expectBatches` data batches: `processAllAvailable`
    * never quiesces once a timer is armed (the engine schedules
    * timer-check batches indefinitely — see StreamingSpec), so
    * completion is read from query progress instead: enough progress
    * entries with real input rows, then one trailing empty batch so
    * the last data batch's emissions are committed to the sink.
    */
  private def drainTimerStream(
      q: org.apache.spark.sql.streaming.StreamingQuery,
      expectBatches: Int): Unit = {
    val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
    // recentProgress is a BOUNDED buffer (default 100 entries); with
    // 250 ms timer-check batches, data-batch entries are evicted ~25 s
    // after the backlog drains — so accumulate data-batch ids across
    // polls instead of recounting the buffer each iteration
    val seenData = scala.collection.mutable.Set[Long]()
    var done = false
    while (!done && System.nanoTime() < deadline) {
      Thread.sleep(100)
      val ps = q.recentProgress
      ps.filter(_.numInputRows > 0).foreach(p => seenData += p.batchId)
      done = seenData.size >= expectBatches &&
        ps.lastOption.exists(_.numInputRows == 0)
    }
    if (!done) throw new IllegalStateException(
      s"stream did not drain $expectBatches batches within 120 s")
  }

  /** s04 — FULL near-dup detection through the streaming engine: the
    * s03 candidate stream continues through a stream-static equi-join
    * against the documents texts (map-side — the static side broadcasts
    * per micro-batch) and the exact-Jaccard verify kernel, so what the
    * stream emits is verified near-duplicate pairs, not candidates.
    * Same decision the batch t06 query makes, hence the SAME oracle SQL
    * — the streaming engine's answer hash-matches the batch twin's.
    */
  def replayNearDupVerified(spark: SparkSession, dir: String)
      : DataFrame = {
    val qn = s"stream_neardup_v_${math.abs(dir.hashCode)}"
    // SAME glob as the candidate stream: both sides must see the same
    // file set or pairs from an extra documents file would silently
    // drop out of the verify join
    val texts = spark.read.schema(docSchema)
      .parquet(s"$dir/documents*.parquet")
      .select(col("doc_id"), col("text"))
    val jacUdf = udf { (ta: String, tb: String) =>
      graft.functions.TextHash.stringGramJaccard(ta, tb, 5)
    }
    val verified = nearDupPairStream(spark, dir)
      .join(texts.toDF("d1", "t1"), "d1")
      .join(texts.toDF("d2", "t2"), "d2")
      .select(col("d1"), col("d2"),
        round(jacUdf(col("t1"), col("t2")), 4).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
    val q = withStreamShuffle(spark, sourceBytes(dir, "documents"),
      udfHeavy = true) {
      verified
        .writeStream.outputMode(OutputMode.Append())
        .format("memory").queryName(qn).start()
    }
    try { q.processAllAvailable() } finally { q.stop() }
    spark.table(qn).distinct().orderBy("d1", "d2")
  }

  /** s05 — the streaming INGEST-DEDUP loop: the production composition
    * of the stored band index (t15/t16) with the micro-batch engine.
    * Documents arrive as files (one micro-batch per file via
    * maxFilesPerTrigger=1); each batch runs
    * [[graft.queries.TextOps.dedupIncrementalIndexed]] against the
    * CURRENT index (corpus index ∪ accumulated deltas), emits the
    * batch's drop list, and appends the KEPT docs' bands as a
    * batch-sized parquet DELTA — the [[graft.queries.TextOps
    * .updateBandIndex]] union realized as an append, so no micro-batch
    * ever rewrites the corpus-sized index. Unlike s03/s04, the state
    * store stays EMPTY (stateRows == 0 — StreamingSpec asserts it):
    * dedup state lives in the stored index, whose per-batch growth is
    * O(kept batch docs × nBands). That is the bounded-state answer to
    * the s03 O(corpus) state-store caveat, and the 100 TB shape: a
    * 1000-executor cluster ingesting a new crawl shard per trigger
    * scans the narrow band index, broadcasts the batch bands into it,
    * and appends a delta — per-batch cost scales with the batch.
    *
    * Semantics are SEQUENTIAL (batch N+1 dedups against corpus ∪ kept
    * of batches ≤ N; dropped docs never enter the index) — the policy a
    * real ingest pipeline wants, and expressible as a fixed-depth SQL
    * chain, so the WHOLE loop hash-verifies against DuckDB
    * ([[graft.queries.TextOps.ingestDedupOracleSql]]). Batches are the
    * doc-id spans of [[graft.queries.TextOps.IngestBatchBounds]].
    */
  def replayIngestDedup(spark: SparkSession, dir: String): DataFrame =
    // the bench path skips the per-batch delta-count jobs — they are
    // spec observability, not part of the ingest loop (r20)
    replayIngestDedupWithStats(spark, dir, collectDeltaRows = false)._1

  /** s05 plus observability for the StreamingSpec assertions: the
    * state-store row total after the last micro-batch (must be 0 — the
    * index, not the state store, carries the dedup state) and the
    * per-batch delta row counts (must be ≤ nBands × batch size — the
    * proof no batch rewrote the corpus index; skipped when
    * `collectDeltaRows` is false — one count job per batch).
    */
  def replayIngestDedupWithStats(spark: SparkSession, dir: String,
      collectDeltaRows: Boolean = true)
      : (DataFrame, Long, Seq[Long]) = {
    import graft.queries.TextOps
    val work = java.nio.file.Files.createTempDirectory("graft-s05")
      .toFile.getAbsolutePath
    val dropsDir = s"$work/drops"
    val deltaDir = s"$work/index-delta"

    // The pre-existing corpus index — the SAME stored artifact t15/t16
    // read (StageCache-memoized; read-only here).
    val staticDocs = graft.Tables.documents(spark, dir)
      .select("doc_id", "text")
    val corpusIndex = TextOps.ensureBandIndex(spark, dir,
      staticDocs.filter(col("doc_id") < TextOps.IncrementalCorpusMaxId),
      "t15_corpus")

    // Land each ingest batch as ONE parquet file with ascending mtimes
    // so the file source triggers them in order — staged in a SINGLE
    // partitioned write (one documents scan for all spans, not one
    // filtered scan per span). Empty spans still land a (schema-only)
    // file so batchId i always equals span i. Session-memoized (r20:
    // input preparation, the stagedEventsCache rule).
    val bounds = TextOps.IngestBatchBounds
    val batchSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val srcDir = memoizedStagedInput(
      s"s05#$dir#${bounds.mkString(",")}") { base =>
      val src = s"$base/incoming"
      new java.io.File(src).mkdirs()
      val t0 = System.currentTimeMillis() - 3600L * 1000
      val spanCol = (1 until bounds.length).foldLeft(lit(0)) {
        (acc, i) =>
          when(col("doc_id") >= bounds(i), lit(i)).otherwise(acc)
      }
      val stage = s"$base/stage"
      staticDocs.filter(col("doc_id") >= bounds.head)
        .withColumn("b", spanCol)
        .repartition(col("b")) // one task → one file per span dir
        .write.partitionBy("b").parquet(stage)
      bounds.indices.foreach { i =>
        val dst = new java.io.File(src, f"b$i%02d.parquet")
        Option(new java.io.File(s"$stage/b=$i").listFiles())
          .getOrElse(Array.empty[java.io.File])
          .filter(_.getName.endsWith(".parquet")).headOption match {
          case Some(f) =>
            java.nio.file.Files.move(f.toPath, dst.toPath)
            ()
          case None => // empty span: schema-only file keeps batchId = i
            val empty = s"$base/empty$i"
            spark.createDataFrame(
              java.util.Collections
                .emptyList[org.apache.spark.sql.Row](),
              batchSchema).coalesce(1).write.parquet(empty)
            new java.io.File(empty).listFiles()
              .filter(_.getName.endsWith(".parquet")).headOption
              .foreach(f =>
                java.nio.file.Files.move(f.toPath, dst.toPath))
        }
        dst.setLastModified(t0 + i * 60000L)
      }
      src
    }

    val deltas = scala.collection.mutable.ListBuffer[String]()
    val deltaRows = scala.collection.mutable.ListBuffer[Long]()
    // per-batch phase breakdown (round-8 verdict ask): stderr lines
    // gated by SPARK_GRAFT_S05_TIMING so the bench contract is untouched
    val timing = sys.env.contains("SPARK_GRAFT_S05_TIMING")
    val tStart = System.nanoTime()
    @volatile var lastBatchEnd = tStart
    def secs(a: Long, b: Long): String = f"${(b - a) / 1e9}%.3f"
    val q = withStreamShuffle(spark, stagedBytes(srcDir)) {
      spark.readStream.schema(batchSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$srcDir/b*.parquet")
      .writeStream.outputMode(OutputMode.Append())
      .option("checkpointLocation", s"$work/ckpt")
      // AvailableNow: same batch sequence (maxFilesPerTrigger is
      // honored — one file per micro-batch, so the fixed-depth oracle
      // semantics are untouched) but the engine drains the backlog and
      // terminates instead of idling between ProcessingTime(0) polls
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row],
          batchId: Long) =>
        val tEnter = System.nanoTime()
        if (!batch.isEmpty) {
          val tEmpty = System.nanoTime()
          val s = batch.sparkSession
          val index = deltas.foldLeft(corpusIndex)((df, p) =>
            df.unionByName(s.read.parquet(p)))
          val newDocs = batch.select("doc_id", "text")
          // sign the batch ONCE: the persisted band table serves the
          // dedup decision AND (filtered to kept ids) the index delta —
          // re-signing kept docs doubled the signature cost of a large
          // batch for identical rows
          val newBands = TextOps.portableBandTable(
            newDocs.repartition(s.sparkContext.defaultParallelism))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          // one run of the dedup pipeline: write the drop list, then
          // derive kept from its file scan (no recompute)
          val kept = TextOps.dedupIncrementalIndexedBands(
            index, newBands, newDocs, staticDocs, 0.5)
          val dropPath = s"$dropsDir/b$batchId"
          newDocs.select("doc_id")
            .join(kept, Seq("doc_id"), "left_anti")
            .select(lit(batchId).cast("int").as("batch"), col("doc_id"))
            .write.parquet(dropPath)
          val tDrops = System.nanoTime()
          val deltaPath = s"$deltaDir/b$batchId"
          newBands.join(
            broadcast(s.read.parquet(dropPath).select("doc_id")),
            Seq("doc_id"), "left_anti")
            .write.parquet(deltaPath)
          newBands.unpersist()
          deltas += deltaPath
          val tDelta = System.nanoTime()
          if (collectDeltaRows)
            deltaRows += s.read.parquet(deltaPath).count()
          val tEnd = System.nanoTime()
          if (timing) System.err.println(
            s"[s05-timing] b$batchId gap=${secs(lastBatchEnd, tEnter)}" +
              s" empty=${secs(tEnter, tEmpty)}" +
              s" dedup+drops=${secs(tEmpty, tDrops)}" +
              s" delta=${secs(tDrops, tDelta)}" +
              s" count=${secs(tDelta, tEnd)}")
        } else if (timing) System.err.println(
          s"[s05-timing] b$batchId gap=${secs(lastBatchEnd, tEnter)}" +
            s" empty-batch=${secs(tEnter, System.nanoTime())}")
        lastBatchEnd = System.nanoTime()
        ()
      }
      .start()
    }
    if (timing) System.err.println(
      s"[s05-timing] start-to-launch=${secs(tStart, System.nanoTime())}")
    val stateRows =
      try {
        q.awaitTermination() // AvailableNow self-terminates when drained
        Option(q.lastProgress).toSeq
          .flatMap(_.stateOperators.toSeq).map(_.numRowsTotal).sum
      } finally { q.stop() }
    val dropDirs = Option(new java.io.File(dropsDir).listFiles())
      .getOrElse(Array.empty).map(_.getAbsolutePath).sorted
    val drops =
      if (dropDirs.isEmpty)
        spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](),
          StructType(Seq(StructField("batch", IntegerType),
            StructField("doc_id", LongType))))
      else spark.read.parquet(dropDirs.toIndexedSeq: _*)
    (drops.orderBy("doc_id"), stateRows, deltaRows.toList)
  }

  /** s06 — streaming HISTOGRAM-SKETCH maintenance: the q39/q40 portable
    * histogram kept incrementally by the micro-batch engine. lineitem
    * rows arrive as ordered file micro-batches; the engine's stateful
    * aggregation holds the (l_returnflag, bin) count sketch and each
    * batch's partial counts MERGE into it by plain addition — q40's
    * mergeability property, realized by the state store instead of a
    * union. Batch order cannot matter (addition commutes), which is
    * exactly why the final sketch — and therefore the quantile walk
    * over it — must equal q39's batch answer, so the SAME oracle SQL
    * verifies the whole streaming loop.
    *
    * Scale shape: state is SKETCH-sized (≤ groups × 1024 rows) no
    * matter how much data streams through — the property that makes
    * Complete mode safe here where s01 documents it as unsafe for
    * unbounded window×key state. A 100 TB deployment is the same plan
    * with a real source: per-batch partial counts are map-side, the
    * state update shuffles only sketch-keyed rows, and the quantile
    * walk reads ~5k state rows. StreamingSpec asserts the state bound.
    */
  def replayHistQuantiles(spark: SparkSession, dir: String): DataFrame =
    replayHistQuantilesWithStats(spark, dir)._1

  /** s06 plus the state-store row total after the final micro-batch
    * (must stay ≤ groups × 1024 — the sketch-sized-state assertion)
    * and the number of data micro-batches processed (must be > 1, or
    * the replay degenerates into a single batch and proves nothing
    * about incremental maintenance).
    */
  def replayHistQuantilesWithStats(spark: SparkSession, dir: String)
      : (DataFrame, Long, Long) = {
    val work = java.nio.file.Files.createTempDirectory("graft-s06")
      .toFile
    // Stage the two needed columns as 4 single-file micro-batches.
    // Which rows land in which batch is irrelevant (the merge
    // commutes), so a plain repartition is enough — no span logic.
    // Session-memoized (r20: input preparation).
    val srcDir = memoizedStagedInput(s"s06#$dir") { base =>
      val src = s"$base/incoming"
      graft.Tables.lineitem(spark, dir)
        .select(col("l_returnflag"), col("l_extendedprice"))
        .repartition(4)
        .write.parquet(src)
      src
    }
    val srcSchema = StructType(Seq(
      StructField("l_returnflag", StringType),
      StructField("l_extendedprice", DoubleType)))
    val qn = s"stream_hist_${math.abs(dir.hashCode)}"
    val q = withStreamShuffle(spark, stagedBytes(srcDir)) {
      spark.readStream.schema(srcSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir)
      .select(col("l_returnflag"),
        graft.queries.Relational.binCol.as("bin"))
      .groupBy("l_returnflag", "bin")
      .agg(count(lit(1)).as("c"))
      .writeStream.outputMode(OutputMode.Complete())
      .option("checkpointLocation", s"${work.getAbsolutePath}/ckpt")
      .format("memory").queryName(qn).start()
    }
    val (stateRows, nBatches) =
      try {
        val n = countDataBatches(q)(q.processAllAvailable())
        (Option(q.lastProgress).toSeq
          .flatMap(_.stateOperators.toSeq).map(_.numRowsTotal).sum,
          n)
      } finally {
        q.stop()
        // the sketch lives in the memory sink — the staged lineitem
        // copy and checkpoint/state dirs are dead weight once the
        // query stops (the s03b lesson: deleteOnExit on a non-empty
        // dir is a silent no-op)
        deleteRecursively(work)
      }
    (graft.queries.Relational
      .histQuantilesFromCounts(spark.table(qn)),
      stateRows, nBatches)
  }

  /** s07 — streaming PORTABLE-HLL maintenance: the q37 sketch kept
    * incrementally by the micro-batch engine, completing the pair with
    * s06 (both portable sketch families — histogram and HLL — now have
    * a streaming-maintained member verified by their batch oracle).
    * lineitem rows arrive as file micro-batches; the map-side register
    * projection is LITERALLY q37's ([[graft.queries.Relational
    * .hllRegisterProjection]]), and the engine's stateful max(ρ) per
    * (group, register) IS the register table — each batch merges into
    * state by register-wise max, exactly the union operation q38
    * proves mergeable. The finalize walk (also shared with q37) over
    * the final state must therefore equal q37's batch answer, and
    * q37's own DuckDB oracle verifies the whole streaming loop.
    *
    * Scale shape: state is SKETCH-sized (≤ groups × 1024 registers)
    * regardless of input volume; per-batch register projection is
    * map-side; the state update shuffles only sketch-keyed rows.
    */
  def replayHllSketch(spark: SparkSession, dir: String): DataFrame =
    replayHllSketchWithStats(spark, dir)._1

  /** s07 plus the state-store row total (≤ groups × registers) and the
    * data micro-batch count (> 1, or nothing incremental was proven).
    */
  def replayHllSketchWithStats(spark: SparkSession, dir: String)
      : (DataFrame, Long, Long) = {
    val work = java.nio.file.Files.createTempDirectory("graft-s07")
      .toFile
    // session-memoized staged input (r20: input preparation)
    val srcDir = memoizedStagedInput(s"s07#$dir") { base =>
      val src = s"$base/incoming"
      graft.Tables.lineitem(spark, dir)
        .select(col("l_returnflag"), col("l_partkey"))
        .repartition(4)
        .write.parquet(src)
      src
    }
    val srcSchema = StructType(Seq(
      StructField("l_returnflag", StringType),
      StructField("l_partkey", LongType)))
    val qn = s"stream_hll_${math.abs(dir.hashCode)}"
    graft.functions.Md5Hash48.registerAll(spark)
    val q = withStreamShuffle(spark, stagedBytes(srcDir)) {
      graft.queries.Relational.hllRegisterProjection(
        spark.readStream.schema(srcSchema)
          .option("maxFilesPerTrigger", 1)
          .parquet(srcDir))
      .groupBy("l_returnflag", "idx")
      .agg(max("rho").as("r"))
      .writeStream.outputMode(OutputMode.Complete())
      .option("checkpointLocation", s"${work.getAbsolutePath}/ckpt")
      .format("memory").queryName(qn).start()
    }
    val (stateRows, nBatches) =
      try {
        val n = countDataBatches(q)(q.processAllAvailable())
        (Option(q.lastProgress).toSeq
          .flatMap(_.stateOperators.toSeq).map(_.numRowsTotal).sum,
          n)
      } finally {
        q.stop()
        deleteRecursively(work) // sketch lives in the memory sink
      }
    (graft.queries.Relational.hllFinalize(spark.table(qn),
      graft.queries.Relational.hllExactCounts(
        graft.Tables.lineitem(spark, dir))),
      stateRows, nBatches)
  }

  /** s08 — streaming EVAL-SAMPLE maintenance: t31's fixed-size
    * per-stratum sample kept continuously as documents arrive — the
    * third streaming-maintained artifact family (histogram s06, HLL
    * s07, now the min-k sample), this one through the s05
    * stored-artifact pattern rather than engine state. Each
    * micro-batch unions its candidate (doc_id, lang, bucket) rows with
    * the current sample table and keeps the k smallest buckets per
    * language (min-k is associative and commutative, so batch order
    * cannot matter) — the artifact never exceeds strata × k rows, and
    * the state store stays EMPTY (the sample table, not the state
    * store, carries the sampler's memory; the spec asserts both). The
    * final table must equal batch t31 exactly, so t31's own DuckDB
    * oracle verifies the whole streaming loop.
    *
    * This is the production shape of "maintain a held-out set over a
    * growing corpus": at 100 TB the per-batch work is one narrow
    * strata×k read + a batch-sized projection + a strata×k write.
    */
  def replayEvalSample(spark: SparkSession, dir: String): DataFrame =
    // the bench path skips the per-batch sample-count jobs — spec
    // observability, not part of the maintenance loop (r20)
    replayEvalSampleWithStats(spark, dir,
      collectSampleRows = false)._1

  /** s08 plus the state-store row total (must be 0), the data-batch
    * count (> 1), and the per-batch sample-table row counts (each ≤
    * strata × k — the bounded-artifact proof; skipped when
    * `collectSampleRows` is false — one count job per batch).
    */
  def replayEvalSampleWithStats(spark: SparkSession, dir: String,
      collectSampleRows: Boolean = true)
      : (DataFrame, Long, Long, Seq[Long]) = {
    import graft.queries.TextOps
    val k = TextOps.EvalSamplePerLang
    val work = java.nio.file.Files.createTempDirectory("graft-s08")
      .toFile
    // session-memoized staged input (r20: input preparation)
    val srcDir = memoizedStagedInput(s"s08#$dir") { base =>
      val src = s"$base/incoming"
      graft.Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"))
        .repartition(4)
        .write.parquet(src)
      src
    }
    val srcSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("lang", StringType)))
    @volatile var samplePath: Option[String] = None
    val sampleRows = scala.collection.mutable.ListBuffer[Long]()
    val q = withStreamShuffle(spark, stagedBytes(srcDir)) {
      spark.readStream.schema(srcSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir)
      .writeStream.outputMode(OutputMode.Append())
      .option("checkpointLocation", s"${work.getAbsolutePath}/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row],
          batchId: Long) =>
        if (!batch.isEmpty) {
          val s = batch.sparkSession
          val cand = batch.select(col("doc_id"), col("lang"),
            graft.operators.Sampling.portableBucket(col("doc_id"))
              .as("bucket"))
          val merged = samplePath match {
            case Some(p) => s.read.parquet(p).unionByName(cand)
            case None => cand
          }
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy("lang").orderBy(col("bucket"), col("doc_id"))
          val next = s"${work.getAbsolutePath}/sample-b$batchId"
          merged.withColumn("rk", row_number().over(w))
            .filter(col("rk") <= k).drop("rk")
            .write.parquet(next)
          samplePath = Some(next)
          if (collectSampleRows)
            sampleRows += s.read.parquet(next).count()
        }
        ()
      }
      .start()
    }
    val stateRows =
      try {
        q.awaitTermination()
        Option(q.lastProgress).toSeq
          .flatMap(_.stateOperators.toSeq).map(_.numRowsTotal).sum
      } finally { q.stop() }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(col("bucket"), col("doc_id"))
    val result = samplePath match {
      case Some(p) => spark.read.parquet(p)
          .withColumn("rk", row_number().over(w))
          .select(col("lang"), col("rk"), col("doc_id"), col("bucket"))
          .orderBy("lang", "rk")
          .localCheckpoint() // materialize before the work dir dies
      case None => throw new IllegalStateException("no data batches")
    }
    deleteRecursively(work)
    (result, stateRows, sampleRows.length.toLong, sampleRows.toList)
  }

  /** s09 — streaming DECONTAMINATION: t21's benchmark-overlap check
    * applied continuously as documents arrive — the curation gate a
    * streaming ingest pipeline runs before admitting documents to the
    * training corpus. The benchmark gram table is a FIXED artifact
    * (the held-out suite is known upfront), staged once to parquet and
    * broadcast into every micro-batch's map-side join — the s05
    * stored-artifact pattern with a STATIC side: per batch the work is
    * one pass over the batch's grams, the state store stays EMPTY (the
    * appended flag table carries the operator's memory), and because a
    * document's verdict depends only on its own text and the fixed
    * eval grams, the union over batches must equal batch t21 exactly —
    * t21's own DuckDB oracle verifies the whole streaming loop.
    *
    * At 100 TB this is the long-running shape: eval grams are
    * benchmark-sized regardless of corpus, each batch's cost is
    * batch-sized, and nothing ever rescans admitted documents.
    */
  def replayDecontaminate(spark: SparkSession, dir: String): DataFrame =
    replayDecontaminateWithStats(spark, dir)._1

  /** s09 plus the state-store row total (must be 0 — the artifact, not
    * the state store, carries the memory) and the data-batch count
    * (> 1, or nothing incremental was proven).
    */
  def replayDecontaminateWithStats(spark: SparkSession, dir: String)
      : (DataFrame, Long, Long) = {
    import graft.queries.TextOps
    val work = java.nio.file.Files.createTempDirectory("graft-s09")
      .toFile
    // session-memoized staged input (r20: input preparation)
    val srcDir = memoizedStagedInput(s"s09#$dir") { base =>
      val src = s"$base/incoming"
      graft.Tables.documents(spark, dir)
        .select(col("doc_id"), col("text"))
        .repartition(4)
        .write.parquet(src)
      src
    }
    // the fixed benchmark artifact, built once before the stream
    // opens — a pure function of the corpus, so it gets the same
    // session memo as the stored indexes (r20): the loop under
    // measurement is the per-batch gate, not the artifact build
    val evalPath = memoizedStagedInput(s"s09-eval#$dir") { base =>
      val p = s"$base/eval_grams"
      TextOps.evalGramTable(
          graft.Tables.documents(spark, dir).select("doc_id", "text"))
        .write.parquet(p)
      p
    }
    val flagsDir = s"${work.getAbsolutePath}/flags"
    val srcSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType)))
    val q = withStreamShuffle(spark, stagedBytes(srcDir)) {
      spark.readStream.schema(srcSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir)
      .writeStream.outputMode(OutputMode.Append())
      .option("checkpointLocation", s"${work.getAbsolutePath}/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row],
          batchId: Long) =>
        // per-row pure gate: an empty batch writes a schema-only
        // verdict file (r20 — the emptiness probe was a job per batch)
        val s = batch.sparkSession
        TextOps.decontamFlags(batch.toDF(), s.read.parquet(evalPath))
          .write.parquet(s"$flagsDir/b$batchId")
        ()
      }
      .start()
    }
    val stateRows =
      try {
        q.awaitTermination() // AvailableNow self-terminates when drained
        Option(q.lastProgress).toSeq
          .flatMap(_.stateOperators.toSeq).map(_.numRowsTotal).sum
      } finally { q.stop() }
    val flagDirs = Option(new java.io.File(flagsDir).listFiles())
      .getOrElse(Array.empty).map(_.getAbsolutePath).sorted
    val result =
      if (flagDirs.isEmpty)
        throw new IllegalStateException("no data batches")
      else spark.read.parquet(flagDirs.toIndexedSeq: _*)
        .orderBy("doc_id")
        .localCheckpoint() // materialize before the work dir dies
    deleteRecursively(work)
    (result, stateRows, flagDirs.length.toLong)
  }

  /** s10 — streaming SNAPSHOT DIFF: t33's corpus-versioning audit run
    * continuously as the new release arrives — the CDC shape of "diff
    * the incoming corpus against what shipped" without waiting for the
    * full drop. The shipped release is present only as its FINGERPRINT
    * artifact ([[graft.queries.TextOps.snapshotPrevFingerprints]],
    * staged once — a release stores hashes precisely so later diffs
    * never reread its payloads); each micro-batch fingerprints its own
    * documents map-side, left-joins the artifact by doc_id to classify
    * added/changed/unchanged, and appends its per-doc statuses; docs
    * of the shipped release never seen by any batch are the removed
    * set — one anti-join at close. The state store stays EMPTY and the
    * final rollup must equal batch t33 exactly (every document's
    * verdict depends only on its own bytes and the fixed artifact), so
    * t33's own DuckDB oracle verifies the whole streaming loop.
    *
    * Scale note: the replay's per-batch join keys the artifact scan by
    * doc_id; a production deployment buckets the fingerprint artifact
    * on doc_id (the q36 layout) so each batch shuffles only itself.
    */
  def replaySnapshotDiff(spark: SparkSession, dir: String): DataFrame =
    replaySnapshotDiffWithStats(spark, dir)._1

  /** s10 plus the state-store row total (must be 0) and the data-batch
    * count (> 1, or nothing incremental was proven).
    */
  def replaySnapshotDiffWithStats(spark: SparkSession, dir: String)
      : (DataFrame, Long, Long) = {
    import graft.queries.TextOps
    val work = java.nio.file.Files.createTempDirectory("graft-s10")
      .toFile
    val docs = graft.Tables.documents(spark, dir)
      .select("doc_id", "source", "text", "n_chars")
    // the shipped release's fingerprint artifact — a fixed input by
    // the query's semantics ("a release stores hashes precisely so
    // later diffs never reread its payloads"), session-memoized (r20)
    val prevPath = memoizedStagedInput(s"s10-prev#$dir") { base =>
      val p = s"$base/prev_fp"
      TextOps.snapshotPrevFingerprints(docs).write.parquet(p)
      p
    }
    // the incoming release, arriving as 4 file micro-batches —
    // session-memoized staged input (r20: input preparation)
    val srcDir = memoizedStagedInput(s"s10#$dir") { base =>
      val src = s"$base/incoming"
      TextOps.snapshotCurDocs(docs).repartition(4).write.parquet(src)
      src
    }
    val statusDir = s"${work.getAbsolutePath}/status"
    val srcSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("source", StringType),
      StructField("text", StringType)))
    val q = withStreamShuffle(spark, stagedBytes(srcDir)) {
      spark.readStream.schema(srcSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir)
      .writeStream.outputMode(OutputMode.Append())
      .option("checkpointLocation", s"${work.getAbsolutePath}/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row],
          batchId: Long) =>
        // per-row pure classification: an empty batch writes a
        // schema-only status file (r20 — no separate emptiness probe)
        val s = batch.sparkSession
        val fp = batch.select(col("doc_id"),
          col("source").as("src_b"),
          md5(col("text").cast("binary")).as("h_b"))
        fp.join(s.read.parquet(prevPath), Seq("doc_id"), "left_outer")
          .select(col("doc_id"), col("src_b").as("source"),
            when(col("h_a").isNull, "added")
              .when(col("h_a") =!= col("h_b"), "changed")
              .otherwise("unchanged").as("status"))
          .write.parquet(s"$statusDir/b$batchId")
        ()
      }
      .start()
    }
    val stateRows =
      try {
        q.awaitTermination() // AvailableNow self-terminates when drained
        Option(q.lastProgress).toSeq
          .flatMap(_.stateOperators.toSeq).map(_.numRowsTotal).sum
      } finally { q.stop() }
    val statusDirs = Option(new java.io.File(statusDir).listFiles())
      .getOrElse(Array.empty).map(_.getAbsolutePath).sorted
    if (statusDirs.isEmpty)
      throw new IllegalStateException("no data batches")
    val curStatuses = spark.read.parquet(statusDirs.toIndexedSeq: _*)
    // shipped docs no batch ever presented are the removed set
    val removed = spark.read.parquet(prevPath)
      .join(curStatuses.select("doc_id"), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("src_a").as("source"),
        lit("removed").as("status"))
    val result = TextOps
      .snapshotDiffRollup(curStatuses.unionByName(removed))
      .localCheckpoint() // materialize before the work dir dies
    deleteRecursively(work)
    (result, stateRows, statusDirs.length.toLong)
  }

  /** s11 — streaming SOURCE-OVERLAP maintenance: t37's cross-source
    * duplicate matrix kept current as the corpus is ingested — the
    * audit dashboard a multi-source crawl updates per shard instead of
    * recomputing from scratch. Documents arrive as ascending doc_id
    * spans (one micro-batch per file); each batch signs ONLY itself,
    * appends its bands to the accumulated index (append-only deltas —
    * no batch rewrites corpus-sized state, the s05 shape), and emits
    * its matrix CONTRIBUTION: verified pairs whose later member is in
    * the batch ([[graft.queries.TextOps.overlapBatchMatrix]]). Pair
    * contributions are disjoint across batches (each pair has a unique
    * later member), so the sum over batches equals batch t37 exactly —
    * t37's own DuckDB oracle verifies the whole streaming loop. The
    * state store stays EMPTY (the delta files carry the memory).
    *
    * At 100 TB: per-batch cost is batch-signing + one scan of the
    * narrow band index with the batch bands broadcast into it + a
    * candidate-driven verify — nothing rescans admitted text, and the
    * matrix itself is |sources|² rows.
    */
  def replaySourceOverlap(spark: SparkSession, dir: String): DataFrame =
    replaySourceOverlapWithStats(spark, dir)._1

  /** s11 plus the state-store row total (must be 0) and the data-batch
    * count (> 1, or nothing incremental was proven).
    */
  def replaySourceOverlapWithStats(spark: SparkSession, dir: String)
      : (DataFrame, Long, Long) = {
    import graft.queries.TextOps
    val work = java.nio.file.Files.createTempDirectory("graft-s11")
      .toFile
    val staticDocs = graft.Tables.documents(spark, dir)
      .select("doc_id", "text")
    val labels = graft.Tables.documents(spark, dir)
      .select("doc_id", "source")
    // the whole corpus streams in as 4 ascending doc_id spans, one
    // parquet file each (ascending mtimes → the file source triggers
    // them in order, so every index doc_id precedes every batch
    // doc_id) — session-memoized (r20: input preparation, incl. the
    // max-id probe job)
    val nSpans = 4
    val srcDir = memoizedStagedInput(s"s11#$dir#$nSpans") { base =>
      val maxId = staticDocs
        .agg(org.apache.spark.sql.functions.max("doc_id"))
        .head().getLong(0)
      val spanCol = (1 until nSpans).foldLeft(lit(0)) { (acc, i) =>
        when(col("doc_id") >= (maxId + 1) * i / nSpans, lit(i))
          .otherwise(acc)
      }
      val src = s"$base/incoming"
      val stage = s"$base/stage"
      new java.io.File(src).mkdirs()
      staticDocs.withColumn("b", spanCol)
        .repartition(col("b")) // one task → one file per span dir
        .write.partitionBy("b").parquet(stage)
      val t0 = System.currentTimeMillis() - 3600L * 1000
      (0 until nSpans).foreach { i =>
        val dst = new java.io.File(src, f"b$i%02d.parquet")
        Option(new java.io.File(s"$stage/b=$i").listFiles())
          .getOrElse(Array.empty[java.io.File])
          .filter(_.getName.endsWith(".parquet")).headOption
          .foreach { f =>
            java.nio.file.Files.move(f.toPath, dst.toPath)
            dst.setLastModified(t0 + i * 60000L)
          }
      }
      src
    }
    val deltaDir = s"${work.getAbsolutePath}/index-delta"
    val contribDir = s"${work.getAbsolutePath}/contrib"
    val deltas = scala.collection.mutable.ListBuffer[String]()
    val srcSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType)))
    val q = withStreamShuffle(spark, stagedBytes(srcDir)) {
      spark.readStream.schema(srcSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$srcDir/b*.parquet")
      .writeStream.outputMode(OutputMode.Append())
      .option("checkpointLocation", s"${work.getAbsolutePath}/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row],
          batchId: Long) =>
        if (!batch.isEmpty) {
          val s = batch.sparkSession
          // sign the batch once; the persisted delta serves both the
          // candidate join and every later batch's index
          val deltaPath = s"$deltaDir/b$batchId"
          TextOps.portableBandTable(
            batch.select("doc_id", "text")
              .repartition(s.sparkContext.defaultParallelism))
            .write.parquet(deltaPath)
          val batchBands = s.read.parquet(deltaPath)
          // accumulated index = deltas of EARLIER batches only
          val index = deltas.toList match {
            case Nil => batchBands.limit(0)
            case ps => ps.map(s.read.parquet(_)).reduce(_.unionByName(_))
          }
          TextOps.overlapBatchMatrix(index, batchBands, staticDocs,
              labels, TextOps.DedupGroupsThreshold)
            .write.parquet(s"$contribDir/b$batchId")
          deltas += deltaPath
        }
        ()
      }
      .start()
    }
    val stateRows =
      try {
        q.awaitTermination() // AvailableNow self-terminates when drained
        Option(q.lastProgress).toSeq
          .flatMap(_.stateOperators.toSeq).map(_.numRowsTotal).sum
      } finally { q.stop() }
    val contribDirs = Option(new java.io.File(contribDir).listFiles())
      .getOrElse(Array.empty).map(_.getAbsolutePath).sorted
    if (contribDirs.isEmpty)
      throw new IllegalStateException("no data batches")
    val result = spark.read.parquet(contribDirs.toIndexedSeq: _*)
      .groupBy("src_a", "src_b")
      .agg(sum("n_pairs").as("n_pairs"))
      .orderBy("src_a", "src_b")
      .localCheckpoint() // materialize before the work dir dies
    deleteRecursively(work)
    (result, stateRows, contribDirs.length.toLong)
  }

  /** Incremental layer refresh via foreachBatch (SURVEY §2.9: the
    * generalized "re-run the pipeline on new certificate events"): each
    * micro-batch republishes the layer produced by `buildLayer` over
    * the accumulated state. Returns the query for the caller to manage.
    */
  def publishOnEvents(events: DataFrame,
      buildLayer: (SparkSession, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row],
          batchId: Long) =>
        if (!batch.isEmpty) buildLayer(batch.sparkSession, batchId)
      }
      .start()

  // --- stateful processing (flatMapGroupsWithState) ---

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)
  case class SessionState(sessionCount: Long, lastTs: Long,
      eventsInSession: Long)
  case class SessionUpdate(user_id: Long, sessionCount: Long,
      eventsInLastBatch: Long)

  /** 30-minute-gap sessionization as explicit keyed state — the
    * streaming twin of the q22 window-function batch query. State is one
    * tiny struct per user: scales with key cardinality, not event count.
    */
  def sessionize(events: Dataset[Event]): Dataset[SessionUpdate] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionUpdate](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (uid, rows, state: GroupState[SessionState]) =>
          val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var st = state.getOption.getOrElse(SessionState(0L, Long.MinValue,
            0L))
          var n = 0L
          sorted.foreach { e =>
            val gap = e.ts.getTime - st.lastTs
            st =
              if (st.lastTs == Long.MinValue || gap > 30L * 60 * 1000)
                SessionState(st.sessionCount + 1, e.ts.getTime, 1L)
              else
                SessionState(st.sessionCount, e.ts.getTime,
                  st.eventsInSession + 1)
            n += 1
          }
          state.update(st)
          Iterator(SessionUpdate(uid, st.sessionCount, n))
      }
  }
}
