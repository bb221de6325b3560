package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types._

/** Structured Streaming over the `embeddings` table: ANN index
  * MAINTENANCE (the vector twin of s05's streaming band-index ingest —
  * SURVEY §2.9's "re-run the pipeline on new events" generalized to
  * the similarity-search family).
  */
object VectorStreams {

  private val embSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** s12 — streaming IVF+PQ index ingest: embedding batches arrive as
    * files; each batch encodes MAP-SIDE against the FIXED stored model
    * (broadcast; trained once by ensureIvfPqIndex — bench warms it
    * outside the timed loop, as for v09) and appends its narrow
    * (vec_id, cell, codes) rows to the index sink. Model-fixed encode
    * is the production serve shape: quantizers retrain offline, index
    * growth is append-only, so ingest is an embarrassingly parallel
    * stateless map — no watermark, no state store, unbounded corpus.
    *
    * Every row's codes depend only on its own vector and the fixed
    * model, so the union over batches ≡ the batch encode of the whole
    * corpus — which is exactly what the oracle (the v08/v14 integer
    * CTE chain through `enc`) recomputes from scratch in DuckDB.
    */
  def replayIndexIngest(spark: SparkSession, dir: String,
      nBatches: Int = 4): DataFrame = {
    val (model, _) = graft.queries.VectorOps.ensureIvfPqIndex(spark, dir)
    // staged corpus spans shared across iterations (r20: input
    // preparation, see memoizedStagedInput); single-file batches
    // with ascending mtimes
    val srcDir = EventStreams.memoizedStagedInput(
      s"s12#$dir#$nBatches") { work =>
      EventStreams.stageSlices(spark.read.schema(embSchema)
        .parquet(s"$dir/embeddings.parquet"),
        pmod(col("vec_id"), lit(nBatches)), nBatches, work)
    }
    val stream = spark.readStream.schema(embSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$srcDir/b*.parquet")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    val codesStrUdf = udf { (codes: Array[Byte]) =>
      codes.map(_ & 0xff).mkString(" ")
    }
    val coded = graft.queries.VectorOps.encodeIvfPq(stream, model)
      .select(col("vec_id"), col("cell"),
        codesStrUdf(col("codes")).as("codes_str"))
    val qn = s"stream_index_ingest_${math.abs(dir.hashCode)}"
    val q = EventStreams.withStreamShuffle(spark,
      EventStreams.stagedBytes(srcDir)) {
      coded.writeStream.outputMode(OutputMode.Append())
        .format("memory").queryName(qn).start()
    }
    EventStreams.drain(q)
    spark.table(qn).orderBy("vec_id")
  }

  /** s17 — streaming k-NN GRAPH maintenance (the streaming twin of
    * batch v20, completing the index-maintenance symmetry: t15/s05
    * keep the text band index current, v09/s12 the vector codes,
    * v20/s17 the neighbor graph): embedding batches arrive as files
    * in ascending vec_id spans (append-only corpus growth); each
    * batch snaps + cell-assigns MAP-SIDE against the FIXED trained
    * coarse quantizer (broadcast — the s12 model-fixed rule), emits
    * its new directed cell-mate edges (batch×batch plus both
    * directions of batch×accumulated-store), and MERGES them into the
    * per-node top-k graph artifact by the same (d², neighbor) order.
    * Per-node top-k merge is associative and commutative under the
    * deterministic total order, so after the replay the artifact
    * equals batch v20 EXACTLY — v20's oracle verifies the whole loop.
    * The engine state store carries nothing (stateless foreachBatch;
    * the artifact is the state).
    *
    * SCALE SHAPE — both persistent artifacts are CELL-PARTITIONED so
    * per-batch work tracks the batch's TOUCHED CELLS, never the whole
    * corpus or graph:
    *   - the accumulated snapped-vector store is ONE append-mode
    *     dataset partitioned by cell (no per-batch directory union —
    *     a trigger lists one dataset, and the cell-mate join reads
    *     only the batch's touched-cell partitions via partition
    *     pruning);
    *   - the graph artifact is partitioned by cell and merged via a
    *     staged write + manifest-journaled partition swap: edges are
    *     intra-cell by construction, so only nodes in cells the
    *     batch touched can change their top-k — the merge reads
    *     exactly those partitions (a static `cell IN (...)`
    *     partition filter from the bounded touched set), re-ranks
    *     them against the fresh edges, and rewrites ONLY those
    *     partitions; untouched cells are never read or written. The
    *     assignment store takes the same journaled merge-swap, and
    *     both swaps record their batchId, so a crash at ANY point
    *     replays exactly-once: graph commits before store, and a
    *     replayed batch skips whichever swaps already committed.
    * Per-batch cost is O(batch × cell-mates + graph[touched cells]);
    * at 100 TB (nlist ∝ corpus, batch touches ≤ |batch| of them) the
    * artifact rewrite no longer scales with corpus size.
    * StreamingSpec's "s17 read-side pruning" test pins this: under
    * cell-grouped arrival the merge scan selects none of the prior
    * graph's partitions (receipts at scale: scalecheck_r*.json).
    *
    * Returns the readout plus the engine state-store row total (must be
    * 0) for the StreamingSpec assertion.
    */
  def replayKnnGraphIngestWithStats(spark: SparkSession, dir: String,
      nBatches: Int = 4): (DataFrame, Long) = {
    val r = replayKnnGraphIngestInstrumented(spark, dir, nBatches)
    (r.df, r.stateRows)
  }

  /** s25 — TIME-TRAVEL READ OF THE kNN GRAPH ARTIFACT (s24's as-of
    * surface extended to the second swap-managed artifact family,
    * review r17 item 5): the s17 loop commits `nBatches` versions of
    * the cell-partitioned graph, and the readout resolves it AS OF
    * the second-newest committed batch. Because the default arrival
    * shape is ascending vec_id spans and every cell-mate pair is
    * generated exactly once across batches under the FIXED coarse
    * model, "as of batch b" is exactly "batch v20 over the vec_id
    * prefix through slice b" — which the DuckDB oracle recomputes
    * with the same span arithmetic and the same full-corpus-trained
    * quantizer CTEs. Same read-path price as the head read
    * (generation-pinned leaf-dir scan); together with s24 this makes
    * time travel a property of the artifact FORMAT, not of one loop.
    *
    * Returns the readout plus the resolved as-of batch id (must be
    * nBatches − 2: a genuinely superseded snapshot) for the
    * StreamingSpec assertion.
    */
  def replayKnnGraphAsOfWithStats(spark: SparkSession, dir: String,
      nBatches: Int = 4): (DataFrame, Long) = {
    val asOf = nBatches - 2L
    val r = replayKnnGraphIngestInstrumented(spark, dir,
      nBatches, asOfBatch = Some(asOf))
    (r.df, asOf)
  }

  /** s28 — VERSION DIFF of the kNN GRAPH ARTIFACT (s26's CDC read
    * extended to the second swap-managed artifact family, VERDICT
    * r18 item 5 — time travel became format-level with s24/s25;
    * this makes the DIFF read format-level too): the s17 loop
    * commits `nBatches` versions of the cell-partitioned graph, and
    * the readout diffs the graph AS OF batch nBatches−2 against the
    * head, emitting one row per node whose top-k list was ADDED or
    * CHANGED by the batches in between — "which nodes did the last
    * two ingest batches touch, and what do their lists look like
    * now".
    *
    * THE SCALE PROPERTY is [[graft.streaming.EventStreams
    * .readVersionDiff]]'s: the two snapshots' cell → generation maps
    * diff DRIVER-SIDE and only cells whose generation differs are
    * scanned on either side. Edges are intra-cell by construction,
    * so a cell untouched between the two versions can hold no
    * changed node — at 100 TB an hourly graph diff reads only the
    * cells the hour's ingest rewrote, O(graph in changed cells),
    * never O(graph). Correctness is list-exact: each side aggregates
    * per node a deterministic `rank:neighbor:d2` signature of its
    * ordered top-k, and a node ships iff it is new or its signature
    * moved — the DuckDB oracle recomputes both graphs from the raw
    * table (v20's CTEs full vs the s25 vec_id-prefix arithmetic) and
    * re-derives the same classification. No 'removed' class by
    * construction: the corpus is append-only and a node's top-k only
    * refines.
    *
    * Returns the readout plus (bOld, changed-partition count, total
    * partitions) for the StreamingSpec pruned-read assertion.
    */
  def replayKnnGraphDiffWithStats(spark: SparkSession, dir: String,
      nBatches: Int = 4, cellGrouped: Boolean = false)
      : (DataFrame, (Long, Int, Int)) = {
    val bOld = nBatches - 2L
    val r = replayKnnGraphIngestInstrumented(spark, dir, nBatches,
      cellGrouped = cellGrouped, diffFromBatch = Some(bOld))
    (r.df, r.diff.getOrElse((bOld, 0, 0)))
  }

  /** Per-batch instrumentation row for StreamingSpec's "s17
    * read-side pruning" test: cells the batch touched, graph rows
    * rewritten for them, the cumulative graph size after the merge,
    * and — the
    * READ-side twin of rewrittenRows (r13 VERDICT item 2) — how many
    * partitions of the prior graph artifact the merge's scan
    * actually selected vs how many existed.
    */
  private[graft] final case class KnnBatchStat(
    batchId: Long, touchedCells: Int, rewrittenRows: Long,
    graphRowsTotal: Long, partitionsRead: Int, partitionsTotal: Int)

  /** The instrumented replay's full result: the readout frame (the
    * graph, its as-of view, or the s28 version diff), the engine
    * state-store row total, the per-batch probe stats, and — when
    * `diffFromBatch` was set — (bOld, changed partitions scanned,
    * total partitions) for the pruned-read assertion.
    */
  private[graft] final case class KnnReplayResult(df: DataFrame,
    stateRows: Long, stats: Seq[KnnBatchStat],
    diff: Option[(Long, Int, Int)])

  /** s17 core. `cellGrouped=true` stages arrival so batch i carries
    * the vectors of cell-group i (the shape of StreamingSpec's
    * incremental-merge tests — makes the touched-cell set per batch
    * small and disjoint); `collectStats=true` counts per-batch
    * rewrite work (extra actions — spec only, never on the bench
    * path); `asOfBatch` reads the
    * finished artifact as of that batch (s25); `diffFromBatch` reads
    * the node-level version diff from that batch to the head (s28 —
    * mutually exclusive with `asOfBatch`).
    */
  private[graft] def replayKnnGraphIngestInstrumented(
      spark: SparkSession, dir: String, nBatches: Int = 4,
      cellGrouped: Boolean = false, collectStats: Boolean = false,
      asOfBatch: Option[Long] = None,
      diffFromBatch: Option[Long] = None)
      : KnnReplayResult = {
    require(asOfBatch.isEmpty || diffFromBatch.isEmpty,
      "asOfBatch and diffFromBatch are mutually exclusive")
    import graft.queries.VectorOps
    val work = java.nio.file.Files.createTempDirectory("graft-s17")
      .toFile
    try {
      val cents = VectorOps.intCoarseModel(spark, dir)
      val k = VectorOps.knnGraphDegree
      // staged arrival spans shared across iterations/harnesses (r20:
      // input preparation, see memoizedStagedInput); the staging
      // is a pure function of (dir, nBatches, arrival shape)
      val srcDir = EventStreams.memoizedStagedInput(
        s"s17#$dir#$nBatches#$cellGrouped") { stgBase =>
        val all = spark.read.schema(embSchema)
          .parquet(s"$dir/embeddings.parquet")
        // arrival shape: ascending vec_id spans (the append-only
        // ingest default), or cell-grouped spans for the incremental-
        // merge probe (batch i = cells [i·g, (i+1)·g) under the model)
        val (batches, slice) =
          if (cellGrouped) {
            val asgAll = VectorOps.assignIntCells(
              all.select(col("vec_id"),
                transform(col("embedding"), x => x.cast("double"))
                  .as("v")), cents)
              .select(col("vec_id"), col("cell"))
            val g = (cents.length + nBatches - 1) / nBatches
            (all.join(asgAll, Seq("vec_id"))
              .select(col("vec_id"), col("embedding"), col("label"),
                floor(col("cell") / g).cast("int").as("_slice")),
              col("_slice"))
          } else {
            val maxId = all.agg(max("vec_id")).head().getLong(0)
            val span = maxId / nBatches + 1
            (all, floor(col("vec_id") / span).cast("int"))
          }
        EventStreams.stageSlices(batches, slice, nBatches, stgBase)
      }
      val base = work.getAbsolutePath
      val asgPath = s"$base/asg"
      val gPath = s"$base/graph"
      // single-writer guard (parity with runArtifactMergeLoop,
      // review r15): the same swapPartitionDirs protocol runs on
      // gPath/asgPath with the same two-writers corruption mode.
      // This harness creates a fresh per-call temp base, so the
      // refusal can never fire HERE — like the batch-0 guard above,
      // the lock protects the deployment shape (a persistent base a
      // second loop could name), not this replay.
      val writerLock = EventStreams.acquireWriterLock(base)
      try {
      // heal a torn partition-swap commit from a crashed prior run
      // BEFORE any batch stages new files at the same path — both
      // swapped artifacts have their own journal
      EventStreams.recoverTornSwap(gPath)
      EventStreams.recoverTornSwap(asgPath)
      // reverse-direction lifecycle guard (parity with
      // runArtifactMergeLoop): the sentinel is written only after
      // BOTH swaps commit, so the min of the two marks is what a
      // healthy pair must reach — a deleted graph or store dir
      // against a live checkpoint fails here instead of silently
      // rebuilding incomplete.
      val expected0 = EventStreams.expectedCommit(base)
      val mark00 = math.min(
        EventStreams.lastCommittedBatch(gPath),
        EventStreams.lastCommittedBatch(asgPath))
      if (expected0 > mark00) throw new IllegalStateException(
        s"artifact base $base holds commits through batch $mark00 " +
          s"but ${EventStreams.ExpectedCommitName} records batch " +
          s"$expected0: an artifact dir was reset against a live " +
          "checkpoint — delete the base and checkpoint together")
      val stats = scala.collection.mutable.ListBuffer[KnnBatchStat]()
      // known artifact schemas (data columns + the cell partition
      // column), captured from the frames this loop writes — hands
      // readCommitted a hint so the unstamped artifact reads skip
      // per-batch parquet footer inference (r21, see readCommitted)
      @volatile var graphSchemaHint: Option[StructType] = None
      @volatile var storeSchemaHint: Option[StructType] = None
      // AQE off + width floored at the cell fan-out (nlist) so the
      // two staged per-cell writes go out in parallel tasks (r21,
      // same rationale as runArtifactMergeLoop — measured same-window
      // on s17: aqeOff 6.9–7.3 s vs 7.7 s r20 vs 8.4 s aqe-on at
      // fanout 16; the per-batch joins are bounded by nlist-sized
      // cells, so static planning at the derived width wins)
      val q = EventStreams.withStreamShuffle(spark,
        EventStreams.stagedBytes(srcDir), aqeOff = true,
        fanout = cents.length) {
        spark.readStream.schema(embSchema)
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$srcDir/b*.parquet")
        .writeStream.outputMode(OutputMode.Append())
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            batchId: Long) =>
            // lifecycle guard (parity with runArtifactMergeLoop): a
            // checkpoint reset against stale artifacts would replay
            // every batch at-or-below the stale marks as a silent
            // no-op. A genuine replay of batch 0 can only see marks
            // of exactly 0, so mark > 0 at batchId 0 is always the
            // mismatch. Checked BEFORE the isEmpty gate (review
            // r15): an empty first file would otherwise bypass it,
            // and no later batch carries id 0. (This harness creates
            // a fresh base per call, so the guard protects the
            // deployment shape, not the replay.)
            if (batchId == 0L) {
              val mark = math.max(
                EventStreams.lastCommittedBatch(gPath),
                EventStreams.lastCommittedBatch(asgPath))
              if (mark > 0L) throw new IllegalStateException(
                s"artifact base $base has committed through batch " +
                  s"$mark but the stream restarted at batch 0: the " +
                  "checkpoint was reset against a stale artifact " +
                  "base — delete the base and checkpoint together")
            }
          locally {
            val s = batch.sparkSession
            val asgB = VectorOps.assignIntCells(
              batch.select(col("vec_id"),
                transform(col("embedding"), x => x.cast("double"))
                  .as("v")), cents)
              .persist()
            // touched-cell set, collected to the driver: BOUNDED by
            // min(|batch|, nlist) — nlist is the fixed coarse-model
            // size, never corpus-scale. The bounded collect buys
            // STATIC `cell IN (...)` partition pruning on both
            // artifact reads below (plan-gated in PlanSpec): the
            // collect-free broadcast-semi-join alternative was
            // measured (r14) to scan EVERY partition — DPP does not
            // fire when the build side has no selective filter.
            // It doubles as the empty-batch probe (r20: an empty
            // touched set ⟺ an empty batch — the former separate
            // `batch.isEmpty` job is gone; distinctInts keeps it ONE
            // job where distinct().collect() ran 2–3 AQE stage jobs).
            val touched = EventStreams.distinctInts(asgB, col("cell"))
            if (touched.nonEmpty) {
            def pruneTouched(df: DataFrame): DataFrame =
              EventStreams.pruneToPartitions(df, "cell", touched)
            // accumulated store: ONE append-mode cell-partitioned
            // dataset; the join needs only the touched cells,
            // resolved through the committed snapshot (review r15)
            val store = EventStreams.readCommitted(s, asgPath,
                schemaHint = storeSchemaHint)
              .map(df => pruneTouched(df)
                .select(col("vec_id"), col("qv"), col("cell")))
            def edges(a: DataFrame, b: DataFrame): DataFrame =
              a.select(col("cell"), col("vec_id"), col("qv").as("x1"))
                .join(b.select(col("cell"),
                  col("vec_id").as("neighbor_id"),
                  col("qv").as("x2")), Seq("cell"))
                .filter(col("vec_id") =!= col("neighbor_id"))
                .select(col("cell"), col("vec_id"), col("neighbor_id"),
                  VectorOps.intD2Udf(col("x1"), col("x2")).as("d2"))
            val fresh = store match {
              case Some(st) =>
                edges(asgB, asgB)
                  .unionByName(edges(asgB, st))
                  .unionByName(edges(st, asgB))
              case None => edges(asgB, asgB)
            }
            // prior graph slice: ONLY the touched-cell partitions,
            // snapshot-resolved
            val prev = EventStreams.readCommitted(s, gPath,
                schemaHint = graphSchemaHint)
              .map(df => pruneTouched(df)
                .select(col("cell"), col("vec_id"),
                  col("neighbor_id"), col("d2")))
            // probe-only READ-side counters (r13 item 2): partitions
            // the pruned prior-graph scan SELECTS (driver listing
            // with the partition filters applied — no job) vs how
            // many exist before this batch's swap
            val (partsRead, partsTotal) =
              if (collectStats)
                (prev.flatMap(EventStreams.scannedPartitionCount)
                  .getOrElse(0),
                  Option(new java.io.File(gPath).listFiles())
                    .getOrElse(Array.empty)
                    .count(d => d.isDirectory &&
                      d.getName.startsWith("cell=")))
              else (0, 0)
            val merged = prev.map(_.unionByName(fresh)).getOrElse(fresh)
            val w = org.apache.spark.sql.expressions.Window
              .partitionBy("vec_id").orderBy(col("d2"),
                col("neighbor_id"))
            val pruned = merged
              .withColumn("rk", row_number().over(w))
              .filter(col("rk") <= k)
              .select("cell", "vec_id", "neighbor_id", "d2")
            // ONE job per batch for the graph merge: write the
            // touched cells to a staging dir (reads the prior slice
            // from the live artifact — different path, no
            // read-overwrite hazard), then commit with the
            // manifest-journaled partition swap. Only touched cells
            // are replaced; untouched cells keep their files
            // verbatim. The repartition makes one file per touched
            // cell instead of tasks × cells.
            //
            // Exactly-once across restarts (review r14): each swap
            // journals its batchId, and a REPLAYED batch (crash
            // after a commit but before the engine checkpointed the
            // batch) skips any swap already at-or-below the
            // artifact's committed mark. The graph commits FIRST:
            // a replay that skips it recomputes nothing against an
            // assignment store that cannot yet contain this batch
            // (the store commits after), so `fresh` would be
            // identical either way — while the old order would have
            // recomputed edges against a store already holding the
            // batch, duplicating every intra-batch pair.
            val graphSwapRan =
              batchId > EventStreams.lastCommittedBatch(gPath)
            val storeSwapRan =
              batchId > EventStreams.lastCommittedBatch(asgPath)
            // the two STAGING writes are independent (each reads its
            // own prior artifact plus the persisted asgB) and
            // overlap (guide §2.6: the scheduler happily runs both;
            // one write's task tail backfills the other's idle
            // cores); the SWAPS stay strictly ordered below — graph
            // commits first, which is what the replay-idempotency
            // argument relies on. A crash between the staging
            // writes and either swap leaves manifest-less staging
            // dirs that recoverTornSwap discards.
            locally {
              import scala.concurrent.{Await, Future}
              import scala.concurrent.ExecutionContext.Implicits.global
              val storeOut = store.map(_.unionByName(asgB))
                .getOrElse(asgB.toDF())
              graphSchemaHint = Some(pruned.schema)
              storeSchemaHint = Some(storeOut.schema)
              val fG = Future {
                if (graphSwapRan)
                  pruned.repartition(col("cell"))
                    .write.partitionBy("cell")
                    .parquet(EventStreams.stageDirFor(gPath))
              }
              val fS = Future {
                if (storeSwapRan)
                  storeOut
                    .repartition(col("cell"))
                    .write.partitionBy("cell")
                    .parquet(EventStreams.stageDirFor(asgPath))
              }
              // await BOTH before propagating either failure (ADVICE
              // r20): rethrowing fG's error while fS still runs would
              // let a detached write race the per-call cleanup of the
              // staging dirs and mask the original error
              Await.ready(fG, scala.concurrent.duration.Duration.Inf)
              Await.ready(fS, scala.concurrent.duration.Duration.Inf)
              Await.result(fG, scala.concurrent.duration.Duration.Inf)
              Await.result(fS, scala.concurrent.duration.Duration.Inf)
            }
            if (graphSwapRan)
              EventStreams.swapPartitionDirs(
                EventStreams.stageDirFor(gPath), gPath,
                touched.map(v => s"cell=$v"), batchId)
            // the assignment store takes the SAME journaled
            // merge-swap (an append is not replay-idempotent): the
            // touched cells' prior rows ∪ the batch's assignments,
            // staged and swapped under its own batch marker, AFTER
            // the graph's swap
            if (storeSwapRan)
              EventStreams.swapPartitionDirs(
                EventStreams.stageDirFor(asgPath), asgPath,
                touched.map(v => s"cell=$v"), batchId)
            // both artifacts now hold this batch — record it beside
            // the checkpoint for the reverse lifecycle guard
            EventStreams.writeExpectedCommit(base, batchId)
            // A replayed batch appends no stat row unless BOTH swaps
            // ran live: after a fully-skipped replay (crash after
            // both commits, before the engine checkpointed) every
            // counter would be re-derived against the already-merged
            // artifact, and after a PARTIAL replay (graph committed
            // pre-crash, store not) the graph-side counters
            // partitionsRead/partitionsTotal would report the
            // batch's own cells as prior partitions — either way
            // misreporting the incremental shape to StreamingSpec
            // (review r14/r15).
            if (collectStats && graphSwapRan && storeSwapRan) {
              // both swaps just committed, so the snapshot exists
              val committedGraph = EventStreams
                .readCommitted(s, gPath).get
              stats += KnnBatchStat(batchId, touched.length,
                committedGraph
                  .filter(col("cell").isin(touched: _*))
                  .count(),
                committedGraph.count(),
                partsRead, partsTotal)
            }
            }
            asgB.unpersist()
            ()
          }
          ()
        }
        .start()
      }
      val stateRows = EventStreams.drain(q)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("vec_id").orderBy(col("d2"), col("neighbor_id"))
      val (fin, diffStats) = diffFromBatch match {
        case Some(bOld) =>
          // s28: node-level version diff, scanning only the cells
          // whose committed generation differs between the two
          // retained snapshots (format-level pruning, see
          // readVersionDiff)
          val head = EventStreams.lastCommittedBatch(gPath)
          val (oldSide, newSide, changed) =
            EventStreams.readVersionDiff(spark, gPath, bOld, head)
          val totalParts = Option(new java.io.File(gPath).listFiles())
            .getOrElse(Array.empty)
            .count(d => d.isDirectory && d.getName.startsWith("cell="))
          (knnNodeDiff(spark, w, oldSide, newSide),
            Some((bOld, changed.length, totalParts)))
        case None =>
          val artifact = asOfBatch match {
            // s25: the graph AS OF a superseded batch — the same
            // generation-pinned read, resolved through the retained
            // snapshot history instead of the current snapshot
            case Some(b) =>
              EventStreams.readCommittedAsOf(spark, gPath, b)
            case None => EventStreams.readCommitted(spark, gPath)
          }
          (artifact
            .getOrElse(throw new IllegalStateException(
              s"no committed kNN graph artifact at $gPath"))
            .withColumn("rank", row_number().over(w))
            .select("vec_id", "rank", "neighbor_id", "d2")
            .orderBy("vec_id", "rank"), None)
      }
      // materialize BEFORE the temp graph dir is deleted — a
      // HARNESS-bounded collect, not the loop's scale shape: each
      // replay CALL is a fresh deployment whose artifacts live in a
      // per-call temp dir, so the final read must outlive it. A real
      // deployment keeps `gPath` and serves from the artifact
      // directly (the loop itself never collects corpus-sized data).
      val rows = fin.collect()
      KnnReplayResult(spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), fin.schema), stateRows,
        stats.toList, diffStats)
      } finally writerLock.close()
    } finally EventStreams.deleteRecursively(work)
  }

  /** s28's node-level classification over the two pruned snapshot
    * sides: per node, a deterministic `rank:neighbor:d2` signature
    * of its ordered top-k list on each side; a node ships iff it is
    * ADDED (no old rows — its cell partition held nothing for it at
    * bOld) or CHANGED (signature moved). Nodes OUTSIDE the changed
    * partitions never reach either side — their partition bytes are
    * generation-identical, so their signatures are trivially equal
    * and the pruning drops no diff row. The signature aggregation is
    * one partial-aggregable shuffle per side over changed-cell rows
    * only.
    */
  private def knnNodeDiff(spark: SparkSession,
      w: org.apache.spark.sql.expressions.WindowSpec,
      oldSide: Option[DataFrame], newSide: Option[DataFrame])
      : DataFrame = {
    val diffSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("status", StringType),
      StructField("k_old", IntegerType),
      StructField("k_new", IntegerType),
      StructField("sig_new", StringType)))
    def summarize(df: DataFrame, kCol: String, sigCol: String)
        : DataFrame =
      df.withColumn("rank", row_number().over(w))
        .groupBy("vec_id")
        .agg(count(lit(1)).cast("int").as(kCol),
          array_join(transform(
            array_sort(collect_list(struct(col("rank"),
              col("neighbor_id"), col("d2")))),
            x => concat_ws(":", x.getField("rank"),
              x.getField("neighbor_id"), x.getField("d2"))), " ")
            .as(sigCol))
    newSide match {
      case None => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        diffSchema)
      case Some(n) =>
        val nS = summarize(n, "k_new", "sig_new")
        val joined = oldSide match {
          case Some(o) => nS.join(summarize(o, "k_old", "sig_old"),
            Seq("vec_id"), "left")
          case None => nS
            .withColumn("k_old", lit(null).cast("int"))
            .withColumn("sig_old", lit(null).cast("string"))
        }
        joined
          .filter(col("sig_old").isNull ||
            col("sig_new") =!= col("sig_old"))
          .select(col("vec_id"),
            when(col("sig_old").isNull, "added")
              .otherwise("changed").as("status"),
            coalesce(col("k_old"), lit(0)).as("k_old"),
            col("k_new"), col("sig_new"))
          .orderBy("vec_id")
    }
  }
}
