package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.queries.Relational
import graft.streaming.EventStreams
import graft.streaming.EventStreams.{Event, SessionUpdate}

/** Structured Streaming semantics: historical replay must equal the
  * batch plan, and keyed session state must carry across micro-batches.
  */
class StreamingSpec extends SparkSpec {

  test("streaming hourly replay equals the batch q21 result") {
    val streamed = EventStreams.replayHourlyComplete(spark, sf).collect()
    val batch = Relational.q21EventsHourly(spark, sf).collect()
    assert(streamed.length === batch.length)
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s.getAs[String]("hour_start") === b.getAs[String]("hour_start"))
      assert(s.getAs[String]("event_type") === b.getAs[String]("event_type"))
      assert(s.getAs[Long]("n_events") === b.getAs[Long]("n_events"))
      assert(s.getAs[Double]("sum_value") === b.getAs[Double]("sum_value"))
    }
  }

  test("append-mode watermarked replay (declared s01) matches Complete " +
      "mode and evicts window state") {
    val (appendDf, stateRows) =
      EventStreams.replayHourlyAppendWithStats(spark, sf)
    val append = appendDf.collect()
    val complete = EventStreams.replayHourlyComplete(spark, sf).collect()
    assert(append.length === complete.length)
    append.zip(complete).foreach { case (a, c) =>
      assert(a.toSeq === c.toSeq)
    }
    // Eviction: the stream aggregates ~30 days × event types of hourly
    // windows; with a 1-hour watermark the final state must hold only
    // the open tail, far below the total window count.
    assert(append.length > 50, "slice should cover 2 days of windows")
    assert(stateRows > 0, "progress should report state rows")
    // ~30 days × types of hourly windows flowed through; with a 1-hour
    // watermark only the open tail (≤ ~2 windows × types) may remain.
    assert(stateRows < 50,
      s"append state ($stateRows rows) must be evicted down to the open " +
        "tail, not retain all history")
  }

  test("streaming dedup (declared s02) equals batch DISTINCT through " +
      "the state store") {
    val (dedupDf, stateRows) =
      EventStreams.replayDedupAppendWithStats(spark, sf)
    val streamed = dedupDf.collect().map(_.toSeq)
    val batch = Tables.events(spark, sf)
      .select(col("event_type"),
        date_format(date_trunc("minute", col("ts")),
          "yyyy-MM-dd HH:mm:ss").as("minute_start"))
      .distinct()
      .filter(col("minute_start") < "2024-01-03 00:00:00")
      .orderBy("event_type", "minute_start")
      .collect().map(_.toSeq)
    assert(streamed.length === batch.length)
    streamed.zip(batch).foreach { case (s, b) => assert(s === b) }
    assert(streamed.nonEmpty)
    assert(stateRows > 0, "dedup state rows should be reported")
  }

  test("streaming near-dup candidates (declared s03) equal the batch " +
      "band self-join") {
    val (df, stateRows) =
      EventStreams.replayNearDupCandidatesWithStats(spark, sf)
    val streamed = df.collect().map(r => (r.getLong(0), r.getLong(1)))
    val bands = graft.queries.TextOps.portableBandTable(
      Tables.documents(spark, sf).select("doc_id", "text"))
    val batch = bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct().orderBy("d1", "d2")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(streamed.toSeq === batch.toSeq)
    assert(stateRows > 0, "bucket state rows should be reported")
  }

  test("verified streaming near-dup (declared s04) equals the batch t06") {
    val streamed = EventStreams.replayNearDupVerified(spark, sf)
      .collect().map(_.toSeq)
    val batch = graft.queries.TextOps.queries("t06_minhash_lsh")(spark, sf)
      .collect().map(_.toSeq)
    assert(streamed.length === batch.length)
    streamed.zip(batch).foreach { case (s, b) => assert(s === b) }
  }

  test("streaming histogram sketch (declared s06) equals the batch q39 " +
      "across multiple micro-batches with sketch-bounded state") {
    val (df, stateRows, nBatches) =
      EventStreams.replayHistQuantilesWithStats(spark, sf)
    val streamed = df.collect().map(_.toSeq)
    val batch = graft.queries.Relational
      .queries("q39_portable_hist_quantiles")(spark, sf)
      .collect().map(_.toSeq)
    assert(streamed.length === batch.length)
    streamed.zip(batch).foreach { case (s, b) => assert(s === b) }
    // incremental maintenance actually happened (merges across batches)
    assert(nBatches > 1, s"only $nBatches data micro-batch(es)")
    // state is the sketch, not the data: ≤ groups × bins rows
    val groups = batch.length
    assert(stateRows > 0 &&
      stateRows <= groups * graft.queries.Relational.Q39Bins,
      s"state rows $stateRows exceed the sketch bound")
  }

  test("streaming portable HLL (declared s07) equals the batch q37 " +
      "across multiple micro-batches with register-bounded state") {
    val (df, stateRows, nBatches) =
      EventStreams.replayHllSketchWithStats(spark, sf)
    val streamed = df.collect().map(_.toSeq)
    val batch = graft.queries.Relational
      .queries("q37_portable_hll")(spark, sf)
      .collect().map(_.toSeq)
    assert(streamed.length === batch.length)
    streamed.zip(batch).foreach { case (s, b) => assert(s === b) }
    assert(nBatches > 1, s"only $nBatches data micro-batch(es)")
    val groups = batch.length
    assert(stateRows > 0 &&
      stateRows <= groups * graft.queries.Relational.Q37Registers,
      s"state rows $stateRows exceed the register bound")
  }

  test("streaming eval sample (declared s08) equals the batch t31 " +
      "across micro-batches; artifact bounded, state store empty") {
    val (df, stateRows, nBatches, sampleRows) =
      EventStreams.replayEvalSampleWithStats(spark, sf)
    val streamed = df.collect().map(_.toSeq)
    val batch = graft.queries.TextOps
      .queries("t31_eval_sample")(spark, sf)
      .collect().map(_.toSeq)
    assert(streamed.length === batch.length)
    streamed.zip(batch).foreach { case (s, b) => assert(s === b) }
    assert(nBatches > 1, s"only $nBatches data micro-batch(es)")
    // the sampler's memory is the stored artifact, not the state store
    assert(stateRows === 0L, s"unexpected state-store rows: $stateRows")
    val strata = streamed.map(_.head).distinct.length
    val bound = strata * graft.queries.TextOps.EvalSamplePerLang
    sampleRows.foreach(n =>
      assert(n <= bound, s"sample table grew to $n rows (bound $bound)"))
  }

  test("streaming decontamination (declared s09) equals the batch t21 " +
      "across micro-batches; state store empty") {
    val (df, stateRows, nBatches) =
      EventStreams.replayDecontaminateWithStats(spark, sf)
    val streamed = df.collect().map(_.toSeq)
    val batch = graft.queries.TextOps
      .queries("t21_decontaminate")(spark, sf)
      .collect().map(_.toSeq)
    assert(streamed.length === batch.length)
    streamed.zip(batch).foreach { case (s, b) => assert(s === b) }
    assert(nBatches > 1, s"only $nBatches data micro-batch(es)")
    // the operator's memory is the appended flag table, not state
    assert(stateRows === 0L, s"unexpected state-store rows: $stateRows")
  }

  test("streaming snapshot diff (declared s10) equals the batch t33 " +
      "across micro-batches; state store empty") {
    val (df, stateRows, nBatches) =
      EventStreams.replaySnapshotDiffWithStats(spark, sf)
    val streamed = df.collect().map(_.toSeq)
    val batch = graft.queries.TextOps
      .queries("t33_snapshot_diff")(spark, sf)
      .collect().map(_.toSeq)
    assert(streamed.length === batch.length)
    streamed.zip(batch).foreach { case (s, b) => assert(s === b) }
    assert(nBatches > 1, s"only $nBatches data micro-batch(es)")
    assert(stateRows === 0L, s"unexpected state-store rows: $stateRows")
  }

  test("streaming source-overlap (declared s11) equals the batch t37 " +
      "across micro-batches; state store empty") {
    val (df, stateRows, nBatches) =
      EventStreams.replaySourceOverlapWithStats(spark, sf)
    val streamed = df.collect().map(_.toSeq)
    val batch = graft.queries.TextOps
      .queries("t37_source_overlap")(spark, sf)
      .collect().map(_.toSeq)
    assert(streamed.length === batch.length)
    streamed.zip(batch).foreach { case (s, b) => assert(s === b) }
    assert(nBatches > 1, s"only $nBatches data micro-batch(es)")
    assert(stateRows === 0L, s"unexpected state-store rows: $stateRows")
  }

  test("streaming index ingest (declared s12) equals the batch encode " +
      "of the whole corpus") {
    import org.apache.spark.sql.functions._
    val streamed = graft.streaming.VectorStreams
      .replayIndexIngest(spark, sf, nBatches = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    val (model, _) = graft.queries.VectorOps.ensureIvfPqIndex(spark, sf)
    val e = Tables.embeddings(spark, sf).select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val codesStr = udf { (codes: Array[Byte]) =>
      codes.map(_ & 0xff).mkString(" ")
    }
    val batch = graft.queries.VectorOps.encodeIvfPq(e, model)
      .select(col("vec_id"), col("cell"), codesStr(col("codes")))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    assert(streamed.nonEmpty)
    assert(streamed.sortBy(_._1).toSeq === batch.sortBy(_._1).toSeq,
      "append-only streaming encode must equal the batch index build")
  }

  test("streaming sliding-window rolling actives (declared s13) equal " +
      "the batch q45 rewrite") {
    val streamed = graft.streaming.EventStreams
      .replayRollingActives(spark, sf).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("active_users")).toSeq
    val batch = graft.queries.Relational
      .q45RollingActives(spark, sf).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("active_users")).toSeq
    assert(streamed.nonEmpty)
    assert(streamed === batch,
      "sliding event-time windows must agree with the batch rewrite")
  }

  test("s13b sketch twin: bounded register state, window eviction, " +
      "and HLL-accurate estimates vs the exact per-day actives") {
    val (df, stateRows) = graft.streaming.EventStreams
      .replayRollingActivesSketchWithStats(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty, "watermark must have closed and emitted windows")
    // state is open-windows × registers, NEVER user- or history-sized:
    // ≤ ~8 un-closable 7-day windows at the watermark frontier × 1024
    // registers (vs Complete mode's every-window × every-user sets)
    assert(stateRows > 0 && stateRows <= 12 * 1024,
      s"state rows $stateRows exceed the open-window register bound")
    rows.foreach { r =>
      val hll = r.getAs[Double]("hll_estimate")
      // the standard HLL small-range correction: below 2.5m with empty
      // registers, linear counting is the estimator (Flajolet §4)
      val est = if (r.getAs[Int]("v_zero") > 0 && hll < 2.5 * 1024)
        r.getAs[Double]("lc_estimate") else hll
      val exact = r.getAs[Long]("exact_actives").toDouble
      // 1024 registers → σ ≈ 1.04/√1024 ≈ 3.3%; 12% ≈ 3.6σ
      assert(math.abs(est - exact) / exact < 0.12,
        s"day ${r.getString(0)}: estimate $est vs exact $exact")
    }
    // emitted days are a prefix of the exact day set (trailing windows
    // stay open behind the 1-day watermark)
    val exactDays = graft.queries.Relational.q45RollingActives(spark, sf)
      .collect().map(_.getString(0)).toSet
    assert(rows.map(_.getString(0)).forall(exactDays.contains))
  }

  test("s14b tight-watermark twin: the pair set equals s14's exactly " +
      "and join state evicts during the replay") {
    val (df, stateRows) = graft.streaming.EventStreams
      .replayAttributionPairsTightWithStats(spark, sf)
    val tight = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sorted
    val loose = graft.streaming.EventStreams
      .replayAttributionPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sorted
    assert(tight.nonEmpty)
    assert(tight.toSeq === loose.toSeq,
      "the 25 h watermark must not change the emitted pair set")
    // eviction: the 35-day config retains every conv+touch row in join
    // state for the whole replay; the 25 h config holds only the
    // ~2-day unmatchable horizon behind the watermark frontier
    val nSides = Tables.events(spark, sf)
      .filter(col("event_type").isin("purchase", "click", "view",
        "signup")).count()
    assert(stateRows > 0, "progress should report join state rows")
    assert(stateRows < nSides / 2,
      s"join state $stateRows did not evict (sides total $nSides)")
  }

  test("s14c RocksDB backend twin: the same 25 h-watermark interval " +
      "join on the RocksDB state store emits the IDENTICAL pair set " +
      "and evicts the same way — the backend swap changes cost, " +
      "never semantics (VERDICT r17 item 3)") {
    // a wrong provider class name fails query start, so a completed
    // run is itself evidence the RocksDB provider was instantiated
    val (df, stateRows) = graft.streaming.EventStreams
      .replayAttributionPairsTightRocksWithStats(spark, sf)
    val rocks = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sorted
    val default = graft.streaming.EventStreams
      .replayAttributionPairsTightWithStats(spark, sf)._1.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sorted
    assert(rocks.nonEmpty)
    assert(rocks.toSeq === default.toSeq,
      "the state backend must not change the emitted pair set")
    val nSides = Tables.events(spark, sf)
      .filter(col("event_type").isin("purchase", "click", "view",
        "signup")).count()
    assert(stateRows > 0 && stateRows < nSides / 2,
      s"RocksDB join state $stateRows did not evict " +
        s"(sides total $nSides)")
    // the provider conf must be restored for the rest of the suite
    assert(!spark.conf
      .getOption("spark.sql.streaming.stateStore.providerClass")
      .exists(_.contains("RocksDB")),
      "provider conf leaked past the bench twin")
  }

  test("session windows (declared s15) equal batch gap-merge " +
      "sessionization and evict closed-session state") {
    import org.apache.spark.sql.expressions.{Window => W}
    val (df, stateRows) =
      EventStreams.replaySessionWindowsWithStats(spark, sf)
    val streamed = df.collect().map(_.toSeq)
    val w = W.partitionBy("user_id").orderBy("ts", "event_id")
    val batch = Tables.events(spark, sf)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .withColumn("new_session",
        when(lag("ts", 1).over(w).isNull ||
          col("ts") >= lag("ts", 1).over(w) +
            expr("INTERVAL 30 MINUTES"), 1L).otherwise(0L))
      .withColumn("sid", sum("new_session").over(
        w.rowsBetween(W.unboundedPreceding, W.currentRow)))
      .groupBy("user_id", "sid")
      .agg(
        date_format(min("ts"), "yyyy-MM-dd HH:mm:ss")
          .as("session_start"),
        date_format(max(col("ts")) + expr("INTERVAL 30 MINUTES"),
          "yyyy-MM-dd HH:mm:ss").as("session_end"),
        count(lit(1)).as("n_events"),
        round(sum("value"), 2).as("sum_value"))
      .select("user_id", "session_start", "session_end", "n_events",
        "sum_value")
      .filter(col("session_end") < "2024-01-03 00:00:00")
      .orderBy("user_id", "session_start")
      .collect().map(_.toSeq)
    assert(streamed.nonEmpty)
    assert(streamed.length === batch.length)
    streamed.zip(batch).foreach { case (s, b) => assert(s === b) }
    // eviction: a month of per-user sessions flowed through; with the
    // 1-hour watermark only sessions still open (or closed less than
    // 1 h before the final event-time frontier) may hold state — far
    // below the total session count
    assert(stateRows > 0, "progress should report session state rows")
    assert(stateRows < streamed.length,
      s"session state ($stateRows rows) must evict closed sessions")
  }

  test("changelog compaction loop (declared s16) equals batch q46 " +
      "and carries no engine state") {
    val (df, stateRows) =
      EventStreams.replayChangelogCompactWithStats(spark, sf)
    val streamed = df.collect().map(_.toSeq)
    val batch = Relational.q46ChangelogCompact(spark, sf)
      .collect().map(_.toSeq)
    assert(streamed.nonEmpty)
    assert(streamed.length === batch.length)
    streamed.zip(batch).foreach { case (s, b) => assert(s === b) }
    // the artifact is the state: the stateless foreachBatch loop must
    // report zero state-store rows (restartability comes from the
    // committed artifact + checkpoint, not engine state)
    assert(stateRows === 0L,
      s"foreachBatch compaction must be stateless, got $stateRows")
  }

  test("streaming kNN-graph maintenance (declared s17) equals batch " +
      "v20 and carries no engine state") {
    val (df, stateRows) = graft.streaming.VectorStreams
      .replayKnnGraphIngestWithStats(spark, sf)
    val streamed = df.collect().map(_.toSeq)
    val batch = graft.queries.VectorOps.v20KnnGraph(spark, sf)
      .collect().map(_.toSeq)
    assert(streamed.nonEmpty)
    assert(streamed.length === batch.length)
    streamed.zip(batch).foreach { case (s, b) => assert(s === b) }
    // the graph artifact is the state: the stateless foreachBatch
    // merge loop must report zero state-store rows
    assert(stateRows === 0L,
      s"foreachBatch graph maintenance must be stateless, got " +
        s"$stateRows")
  }

  test("s25 kNN-graph time travel: the as-of read resolves the " +
      "SECOND-newest committed graph (batch nBatches−2), holds " +
      "exactly the vec_id prefix through that batch, and is a " +
      "node-subset of the head graph") {
    import org.apache.spark.sql.functions.{col, max => fmax}
    val (asOfDf, asOf) = graft.streaming.VectorStreams
      .replayKnnGraphAsOfWithStats(spark, sf)
    assert(asOf === 2L,
      s"as-of target must be the superseded batch 2 of 4, got $asOf")
    val (headDf, _) = graft.streaming.VectorStreams
      .replayKnnGraphIngestWithStats(spark, sf)
    // the stager's span arithmetic: batch i = vec_id in
    // [i·span, (i+1)·span), span = maxId/nBatches + 1 — the as-of
    // graph's nodes must be exactly the head's nodes under the
    // through-batch-2 bound
    val maxId = spark.read
      .parquet(s"$sf/embeddings.parquet")
      .agg(fmax("vec_id")).head().getLong(0)
    val bound = (maxId / 4 + 1) * 3
    val asOfNodes = asOfDf.select("vec_id").distinct()
      .collect().map(_.getLong(0)).toSet
    val headNodes = headDf.select("vec_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(asOfNodes.forall(_ < bound),
      "as-of graph holds a node past the batch-2 prefix bound")
    // subset, not equality: a prefix vector alone in its cell can
    // gain its first cell-mate only in a later batch, joining the
    // head graph without ever being in the as-of one
    assert(asOfNodes.nonEmpty &&
      asOfNodes.subsetOf(headNodes.filter(_ < bound)),
      "as-of node set must be a subset of the head's prefix slice")
    // the declared SF fixture has vectors in slice 3, so the head
    // strictly extends the as-of graph
    assert(headNodes.exists(_ >= bound),
      "fixture must populate the final batch — probe is vacuous")
    assert(asOfNodes.size < headNodes.size)
  }

  test("s17 read-side pruning: under cell-grouped arrival the " +
      "pruned prior-graph scan SELECTS only the touched partitions " +
      "(r13 VERDICT item 2 — a plan property, not an intention)") {
    val stats = graft.streaming.VectorStreams
      .replayKnnGraphIngestInstrumented(spark, sf, nBatches = 4,
        cellGrouped = true, collectStats = true).stats
    assert(stats.length === 4)
    // batch i carries exactly cell-group i (floor(cell/g) — strictly
    // disjoint), so the prior graph NEVER holds a touched cell and
    // the pruned scan must select exactly ZERO of its partitions; a
    // filter that fell off the scan would select partitionsTotal
    // (> 0 from batch 1 on), making the regression unmissable
    stats.foreach { st =>
      assert(st.partitionsRead === 0,
        s"batch ${st.batchId}: scan selected ${st.partitionsRead} of " +
          s"${st.partitionsTotal} prior partitions for disjoint " +
          s"touched cells — pruning fell off")
    }
    // the probe is not vacuous: the artifact accumulates cell dirs,
    // so from batch 1 on there ARE partitions a full scan would read
    stats.drop(1).foreach { st =>
      assert(st.partitionsTotal > 0,
        s"batch ${st.batchId}: no prior partitions — probe is vacuous")
    }
  }

  test("s28 kNN-graph version diff equals the direct as-of-vs-head " +
      "recompute: added nodes are exactly the head's new vec_ids, " +
      "changed nodes' ordered top-k signatures moved, k never " +
      "shrinks") {
    val (df, (bOld, _, _)) = graft.streaming.VectorStreams
      .replayKnnGraphDiffWithStats(spark, sf)
    assert(bOld === 2L)
    val got = df.collect().map(r => (r.getLong(0), r.getString(1),
      r.getInt(2), r.getInt(3), r.getString(4)))
    assert(got.nonEmpty, "final batch must touch the graph")
    got.foreach { case (v, st, kOld, kNew, sig) =>
      assert(st == "added" || st == "changed", s"node $v: $st")
      if (st == "added") assert(kOld === 0, s"node $v")
      assert(kNew >= math.max(kOld, 1),
        s"node $v: top-k can only refine, $kOld -> $kNew")
      assert(sig.nonEmpty && sig.split(" ").length === kNew,
        s"node $v: signature must carry one entry per neighbor")
    }
    // independent second leg: recompute both snapshot sides through
    // the s25 as-of and s17 head read paths and re-derive the
    // classification driver-side
    def sigs(rows: Array[org.apache.spark.sql.Row])
        : Map[Long, String] =
      rows.groupBy(_.getLong(0)).map { case (v, rs) =>
        v -> rs.sortBy(_.getInt(1))
          .map(r => s"${r.getInt(1)}:${r.getLong(2)}:${r.getLong(3)}")
          .mkString(" ")
      }
    val oldSig = sigs(graft.streaming.VectorStreams
      .replayKnnGraphAsOfWithStats(spark, sf)._1.collect())
    val newSig = sigs(graft.streaming.VectorStreams
      .replayKnnGraphIngestWithStats(spark, sf)._1.collect())
    val want = newSig.toSeq.collect {
      case (v, s) if !oldSig.contains(v) => (v, "added", s)
      case (v, s) if oldSig(v) != s => (v, "changed", s)
    }.sortBy(_._1)
    assert(got.map(t => (t._1, t._2, t._5)).toSeq === want)
    assert(got.exists(_._2 == "added"),
      "ascending-id arrival must add nodes in the final batches")
  }

  test("s28 pruned read: under cell-grouped arrival the diff scans " +
      "ONLY the cell partitions the post-bOld batch rewrote — a " +
      "strict subset — and every diff row is an 'added' node of " +
      "those cells (disjoint groups: no existing node can change)") {
    val (df, (bOld, changedParts, totalParts)) =
      graft.streaming.VectorStreams.replayKnnGraphDiffWithStats(
        spark, sf, nBatches = 4, cellGrouped = true)
    assert(bOld === 2L)
    assert(totalParts > 0)
    assert(changedParts > 0 && changedParts < totalParts,
      s"diff must scan a strict subset of the graph's partitions, " +
        s"got $changedParts of $totalParts")
    val rows = df.collect()
    assert(rows.nonEmpty, "the final cell group must hold vectors")
    rows.foreach { r =>
      assert(r.getAs[String]("status") === "added",
        s"node ${r.getLong(0)}: disjoint cell groups admit no " +
          "'changed' node")
      assert(r.getAs[Int]("k_old") === 0)
    }
  }

  test("streaming quality gate (declared s18) equals batch t39 and " +
      "carries no engine state") {
    val (df, stateRows) =
      EventStreams.replayQualityGateWithStats(spark, sf)
    val streamed = df.collect().map(_.toSeq)
    val batch = graft.queries.TextOps.t39FilterCascade(spark, sf)
      .collect().map(_.toSeq)
    assert(streamed.nonEmpty)
    assert(streamed.length === batch.length)
    streamed.zip(batch).foreach { case (s, b) => assert(s === b) }
    assert(stateRows === 0L,
      s"per-batch admission must be stateless, got $stateRows")
  }

  test("streaming PII scrub (declared s23) equals batch t46 and " +
      "carries no engine state") {
    val (df, stateRows) =
      EventStreams.replayPiiGateWithStats(spark, sf)
    val streamed = df.collect().map(_.toSeq)
    val batch = graft.queries.TextOps.t46PiiScrub(spark, sf)
      .collect().map(_.toSeq)
    assert(streamed.nonEmpty)
    assert(streamed.length === batch.length)
    streamed.zip(batch).foreach { case (s, b) => assert(s === b) }
    assert(stateRows === 0L,
      s"per-batch admission must be stateless, got $stateRows")
  }

  test("streaming DSIR admission (declared s27) equals the batch " +
      "scoring run under the fixed model + cutoff, admits exactly " +
      "the t48 top quarter, and carries no engine state") {
    import graft.queries.TextOps
    val (df, stateRows) =
      EventStreams.replayDsirGateWithStats(spark, sf)
    val full = graft.Tables.documents(spark, sf)
      .select("doc_id", "text", "lang", "source")
    val model = TextOps.dsirModelOf(full)
    val scored = TextOps.dsirScoreWith(full, model)
    val cutoff = TextOps.dsirCutOf(scored).collect()(0).getDouble(0)
    val batch = scored
      .withColumn("admitted",
        org.apache.spark.sql.functions.col("w") >=
          org.apache.spark.sql.functions.lit(cutoff))
      .orderBy("doc_id").collect().map(_.toSeq)
    val streamed = df.collect().map(_.toSeq)
    assert(streamed.nonEmpty)
    assert(streamed.length === batch.length)
    streamed.zip(batch).foreach { case (s, b) => assert(s === b) }
    // threshold semantics: the admitted count is the t48 selection
    val nAdmitted = streamed.count(_.last == true)
    val nScored = streamed.length
    assert(nAdmitted * 4L >= nScored.toLong,
      "top-quarter threshold semantics must admit at least 1/4")
    assert(nAdmitted < nScored, "the gate must also reject")
    assert(stateRows === 0L,
      s"fixed-model admission must be stateless, got $stateRows")
  }

  test("streaming ingest-time tokenizer (declared s19) equals batch " +
      "t41 and carries no engine state") {
    val (df, stateRows) =
      EventStreams.replayBpeEncodeWithStats(spark, sf)
    val streamed = df.collect().map(_.toSeq)
    val batch = graft.queries.TextOps.t41BpeEncode(spark, sf)
      .collect().map(_.toSeq)
    assert(streamed.nonEmpty)
    assert(streamed.length === batch.length)
    streamed.zip(batch).foreach { case (s, b) => assert(s === b) }
    assert(stateRows === 0L,
      s"fixed-model encode must be stateless, got $stateRows")
  }

  test("streaming vocab maintenance (declared s21) equals batch t42 " +
      "and carries no engine state") {
    val (df, stateRows) =
      EventStreams.replayVocabMaintainWithStats(spark, sf)
    val streamed = df.collect().map(_.toSeq)
    val batch = graft.queries.TextOps.t42VocabBuild(spark, sf)
      .collect().map(_.toSeq)
    assert(streamed.nonEmpty)
    assert(streamed.length === batch.length)
    streamed.zip(batch).foreach { case (s, b) => assert(s === b) }
    assert(stateRows === 0L,
      s"the artifact is the state — engine store must be empty, " +
        s"got $stateRows")
  }

  test("streaming partitioned ingest (declared s22) lands every row " +
      "exactly once in its dt directory and carries no engine state") {
    val (df, stateRows) =
      EventStreams.replayPartitionedIngestWithStats(spark, sf)
    val streamed = df.collect().map(_.toSeq)
    val batch = Relational.q51PartitionPruned(spark, sf)
      .collect().map(_.toSeq)
    assert(streamed.nonEmpty)
    assert(streamed.length === batch.length)
    streamed.zip(batch).foreach { case (s, b) => assert(s === b) }
    assert(stateRows === 0L,
      s"file-sink ingest must be stateless, got $stateRows")
  }

  test("partitioned file-sink ingest is exactly-once ACROSS A " +
      "RESTART: resume from the checkpoint picks up only new files, " +
      "and an idle third run re-emits nothing") {
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val work = java.nio.file.Files
      .createTempDirectory("graft-restart").toFile
    try {
      val base = work.getAbsolutePath
      val incoming = new java.io.File(s"$base/incoming")
      incoming.mkdirs()
      val outDir = s"$base/by_dt"
      val ckpt = s"$base/ckpt"
      val schema = EventStreams.stagedEventSchema
      // the s22 staging, materialized once; files fed in two waves
      val staged = new java.io.File(
        EventStreams.stagedEventBatches(spark, sf, 10))
        .listFiles().filter(_.getName.endsWith(".parquet"))
        .sortBy(_.getName)
      def feed(files: Seq[java.io.File]): Unit = files.foreach { f =>
        java.nio.file.Files.copy(f.toPath,
          new java.io.File(incoming, f.getName).toPath)
        ()
      }
      def runOnce(): Unit = {
        val q = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(s"${incoming.getAbsolutePath}/b*.parquet")
          .withColumn("dt", to_date(col("ts")))
          .writeStream.format("parquet")
          .outputMode(OutputMode.Append())
          .option("path", outDir)
          .option("checkpointLocation", ckpt)
          .partitionBy("dt")
          .trigger(Trigger.AvailableNow())
          .start()
        try q.awaitTermination() finally q.stop()
      }
      feed(staged.take(5))
      runOnce() // first run drains wave 1, then "crashes" (stops)
      val afterFirst = spark.read.parquet(outDir).count()
      feed(staged.drop(5))
      runOnce() // restart from the SAME checkpoint: only wave 2
      val streamed = graft.queries.Relational
        .dayWindowAggOf(spark.read.parquet(outDir))
        .collect().map(_.toSeq)
      val batch = Relational.q51PartitionPruned(spark, sf)
        .collect().map(_.toSeq)
      assert(streamed.length === batch.length)
      streamed.zip(batch).foreach { case (s, b) => assert(s === b) }
      val total = spark.read.parquet(outDir).count()
      assert(afterFirst > 0 && afterFirst < total,
        "both waves must contribute rows")
      runOnce() // idle restart: no new files
      assert(spark.read.parquet(outDir).count() === total,
        "an idle restart re-emitted rows — exactly-once violated")
    } finally EventStreams.deleteRecursively(work)
  }

  test("stageSlices: each staged event batch holds, in order, the rows " +
      "of its event-time slice") {
    val (ev, slice) = EventStreams.eventSlices(spark, sf, 10)
    val dir = EventStreams.stagedEventBatches(spark, sf, 10)
    (0 until 10).foreach { i =>
      val got = spark.read.parquet(f"$dir/b$i%02d.parquet").collect().toSeq
      assert(got === ev.filter(slice === i).collect().toSeq, s"slice $i")
    }
  }

  test("stageSlices: an empty middle slice lands a schema-only file, " +
      "and the mtimes ascend strictly") {
    val work = java.nio.file.Files.createTempDirectory("graft-slices").toFile
    try {
      val frame = spark.range(30)
        .filter(col("id") < 10 || col("id") >= 20)
        .select(col("id"), (col("id") * 2).as("v"))
      val dir = EventStreams.stageSlices(frame,
        (col("id") / 10).cast("int"), 3, work.getAbsolutePath)
      val files = (0 until 3).map(i => new java.io.File(dir, f"b$i%02d.parquet"))
      assert(new java.io.File(dir).list().sorted.toSeq === files.map(_.getName))
      val staged = files.map(f => spark.read.parquet(f.getPath))
      assert(staged.map(_.count()) === Seq(10L, 0L, 10L))
      assert(staged(1).schema.fieldNames.toSeq === Seq("id", "v"))
      val mtimes = files.map(_.lastModified)
      assert(mtimes.zip(mtimes.tail).forall { case (a, b) => a < b },
        s"mtimes $mtimes")
    } finally EventStreams.deleteRecursively(work)
  }

  test("stageSlices: a slice value outside [0, n) fails the staging") {
    val work = java.nio.file.Files.createTempDirectory("graft-slices").toFile
    try {
      val e = intercept[IllegalStateException](EventStreams.stageSlices(
        spark.range(5).toDF(), (col("id") % 4).cast("int"), 3,
        work.getAbsolutePath))
      assert(e.getMessage.contains("_slice=3"), e.getMessage)
    } finally EventStreams.deleteRecursively(work)
  }

  test("stagedEventBatches stages every slice in at most 4 jobs") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val group = "graft-stage-count"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet(); ()
          case Some("graft-stage-marker") => marker.countDown()
          case _ =>
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      // 7 slices is a count no other caller stages, so this call writes
      sc.setJobGroup(group, "stagedEventBatches")
      EventStreams.stagedEventBatches(spark, sf, 7)
      // the bus delivers in order: once the marker job's start arrives,
      // every staging job's start has been counted
      sc.setJobGroup("graft-stage-marker", "marker")
      sc.parallelize(Seq(1), 1).count()
      assert(marker.await(30, java.util.concurrent.TimeUnit.SECONDS))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    info(s"${jobs.get} staging jobs")
    assert(jobs.get > 0 && jobs.get <= 4, s"${jobs.get} staging jobs")
  }

  test("streams fork no readlink and no chmod: the offset/commit logs, " +
      "the state store and the file-source/sink logs write through " +
      "LocalCheckpointFileManager, the file sink through " +
      "ForkFreeLocalFileSystem") {
    import scala.jdk.CollectionConverters._
    import jdk.jfr.Recording
    import jdk.jfr.consumer.RecordingFile
    val out = java.nio.file.Files.createTempFile("graft-forks", ".jfr")
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try {
      // control: the recording sees a fork made on this thread
      new ProcessBuilder("true").start().waitFor()
      // the event-slice staging's batch writes: 9 slices is a count no
      // other caller stages, so this JVM writes them here
      val fresh = EventStreams.stagedEventBatches(spark, sf, 9)
      assert(new java.io.File(fresh).list().count(_.endsWith(".parquet"))
        === 9)
      // s15: offset/commit logs + the state store on executor threads
      assert(EventStreams.replaySessionWindowsWithStats(spark, sf)._1
        .count() > 0)
      // s22: file-source and file-sink metadata logs
      assert(EventStreams.replayPartitionedIngestWithStats(spark, sf)._1
        .count() > 0)
    } finally {
      rec.stop()
      rec.dump(out)
      rec.close()
    }
    try {
      val forks = RecordingFile.readAllEvents(out).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map { e =>
          val frames = Option(e.getStackTrace).toSeq
            .flatMap(_.getFrames.asScala)
            .map(f => f.getMethod.getType.getName)
          (e.getString("command"), frames)
        }
      assert(forks.exists(_._1.split(' ').head == "true"),
        "the recording missed the control fork")
      val readlinks = forks.filter(_._1.split(' ').head.endsWith("readlink"))
      assert(readlinks.isEmpty,
        s"${readlinks.size} readlink forks, e.g. ${readlinks.take(2)}")
      val chmods = forks.filter(_._1.split(' ').head.endsWith("chmod"))
      assert(chmods.isEmpty,
        s"${chmods.size} chmod forks, e.g. ${chmods.take(2)}")
      val viaFileContext = forks.filter(
        _._2.exists(_.endsWith("FileContextBasedCheckpointFileManager")))
      assert(viaFileContext.isEmpty,
        s"${viaFileContext.size} forks under Spark's FileContext " +
          s"checkpoint manager, e.g. ${viaFileContext.take(2)}")
    } finally java.nio.file.Files.deleteIfExists(out)
  }

  test("withStreamShuffle: two streams started at once on one session " +
      "each clone their own derived width, and the session conf is " +
      "restored after both") {
    import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
    import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
    import org.apache.spark.sql.streaming.StreamingQuery
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    // 1 byte derives width 1, 96 MB width 3 (32 MB per partition)
    val (bytesA, bytesB) = (1L, 96L << 20)
    val aIn, bIn, aStarted = new CountDownLatch(1)
    val started = new ConcurrentHashMap[String, StreamingQuery]()
    val failures = new ConcurrentHashMap[String, Throwable]()
    // `inside` runs in the conf window, before the stream starts;
    // `after` right after start(), still inside the window
    def starter(name: String, bytes: Long)(inside: => Unit)(
        after: => Unit): Thread = new Thread(() =>
      try {
        EventStreams.withStreamShuffle(spark, bytes) {
          inside
          val q = spark.readStream.format("rate").load()
            .writeStream.format("noop").start()
          started.put(name, q)
          after
          q
        }
        ()
      } catch { case t: Throwable => failures.put(name, t); () })
    // A waits (at most 2 s) inside its window for B to enter its own;
    // B then waits (at most 2 s) for A's start. Without a lock over
    // the window B's width is on the session when A starts; with it,
    // B cannot enter until A has started and restored.
    val a = starter("a", bytesA) {
      aIn.countDown(); bIn.await(2, TimeUnit.SECONDS); ()
    } { aStarted.countDown() }
    val b = starter("b", bytesB) {
      bIn.countDown(); aStarted.await(2, TimeUnit.SECONDS); ()
    } { () }
    try {
      a.start()
      assert(aIn.await(30, TimeUnit.SECONDS), "A never entered its window")
      b.start()
      a.join(60000L); b.join(60000L)
      assert(!a.isAlive && !b.isAlive, "a starter thread hung")
      assert(failures.isEmpty, s"starter failures: $failures")
      // the stream's cloned session (`sparkSessionForStream` is
      // protected[sql] in Scala, a public method in bytecode)
      def width(n: String): Int = {
        val se = started.get(n).asInstanceOf[StreamingQueryWrapper]
          .streamingQuery
        se.getClass.getMethod("sparkSessionForStream").invoke(se)
          .asInstanceOf[org.apache.spark.sql.SparkSession]
          .conf.get(key).toInt
      }
      assert(width("a") === EventStreams.streamShufflePartitions(bytesA))
      assert(width("b") === EventStreams.streamShufflePartitions(bytesB))
      assert(width("a") != width("b"))
      assert(spark.conf.get(key) === before)
    } finally started.values.forEach(q => q.stop())
  }

  test("LocalCheckpointFileManager keeps local checkpoint semantics: " +
      "no-overwrite commits fail and keep the old bytes, overwrite " +
      "replaces, cancel leaves nothing, and the .crc check holds") {
    import org.apache.hadoop.fs.{ChecksumException, FileAlreadyExistsException, Path}
    import org.apache.spark.sql.execution.streaming.checkpointing.HDFSMetadataLog
    import graft.streaming.LocalCheckpointFileManager
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ckpt-fm").toFile
    try {
      val root = new Path(dir.toURI)
      val fm = new LocalCheckpointFileManager(root,
        spark.sessionState.newHadoopConf())
      def write(p: Path, text: String, overwrite: Boolean): Unit = {
        val o = fm.createAtomic(p, overwrite)
        o.write(text.getBytes("UTF-8"))
        o.close()
      }
      def read(p: Path): String = {
        val in = fm.open(p)
        try new String(in.readAllBytes(), "UTF-8") finally in.close()
      }
      val p = new Path(root, "offset")
      write(p, "old", overwrite = false)
      intercept[FileAlreadyExistsException](
        write(p, "new", overwrite = false))
      assert(read(p) === "old")
      write(p, "new", overwrite = true)
      assert(read(p) === "new")
      val o = fm.createAtomic(new Path(root, "cancelled"), false)
      o.write(Array[Byte](1, 2, 3))
      o.cancel()
      assert(!fm.exists(new Path(root, "cancelled")))
      assert(!dir.list().exists(_.contains("cancelled")),
        s"cancel left files behind: ${dir.list().toSeq}")
      // a metadata log on a session configured like a graft stream
      val s = spark.newSession()
      s.conf.set(LocalCheckpointFileManager.confKey,
        classOf[LocalCheckpointFileManager].getName)
      val logDir = new java.io.File(dir, "log").getAbsolutePath
      assert(new HDFSMetadataLog[String](s, logDir).add(0, "batch-zero"))
      assert(new HDFSMetadataLog[String](s, logDir).get(0) ===
        Some("batch-zero"))
      assert(new java.io.File(logDir, ".0.crc").isFile)
      val batch = new java.io.File(logDir, "0").toPath
      val bytes = java.nio.file.Files.readAllBytes(batch)
      bytes(bytes.length - 3) = (bytes(bytes.length - 3) ^ 1).toByte
      java.nio.file.Files.write(batch, bytes)
      intercept[ChecksumException](
        new HDFSMetadataLog[String](s, logDir).get(0))
    } finally EventStreams.deleteRecursively(dir)
  }

  test("ForkFreeLocalFileSystem sets the same modes as Hadoop's " +
      "LocalFileSystem: create (file and .crc), mkdirs, an explicit " +
      "0640, a 077 umask and a sticky 01777 directory") {
    import java.nio.file.{Files, Path => JPath}
    import org.apache.hadoop.conf.Configuration
    import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
    import org.apache.hadoop.fs.permission.FsPermission
    import graft.streaming.ForkFreeLocalFileSystem
    val dir = Files.createTempDirectory("graft-fs-modes").toFile
    // posix permissions plus the full mode, which carries the sticky bit
    def mode(p: JPath) = (Files.getPosixFilePermissions(p),
      Files.getAttribute(p, "unix:mode"))
    def modes(fs: FileSystem, root: java.io.File): Seq[(String, Any)] = {
      val base = new Path(root.toURI)
      fs.create(new Path(base, "f")).close()
      fs.mkdirs(new Path(base, "d/e"))
      fs.create(new Path(base, "g")).close()
      fs.setPermission(new Path(base, "g"),
        new FsPermission(Integer.parseInt("640", 8).toShort))
      fs.mkdirs(new Path(base, "t"))
      fs.setPermission(new Path(base, "t"),
        new FsPermission(Integer.parseInt("1777", 8).toShort))
      Seq("f", ".f.crc", "d", "d/e", "g", "t").map(rel =>
        rel -> mode(new java.io.File(root, rel).toPath))
    }
    try {
      for (umask <- Seq(None, Some("077"))) {
        val conf = new Configuration()
        umask.foreach(conf.set("fs.permissions.umask-mode", _))
        def run(fs: FileSystem, name: String) = {
          val root = new java.io.File(dir,
            s"$name-${umask.getOrElse("default")}")
          root.mkdirs()
          fs.initialize(java.net.URI.create("file:///"), conf)
          try modes(fs, root) finally fs.close()
        }
        val hadoop = run(new LocalFileSystem(), "hadoop")
        val forkFree = run(new ForkFreeLocalFileSystem(), "forkfree")
        assert(forkFree === hadoop, s"umask $umask")
      }
    } finally EventStreams.deleteRecursively(dir)
  }

  test("sourceBytes sums a hive-partitioned source at any depth and " +
      "refuses matching entries that hold 0 bytes") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-src-bytes").toFile
    def put(rel: String, n: Int): Unit = {
      val f = new java.io.File(dir, rel)
      f.getParentFile.mkdirs()
      java.nio.file.Files.write(f.toPath, new Array[Byte](n))
      ()
    }
    try {
      val d = dir.getAbsolutePath
      put("other.parquet", 5)
      assert(EventStreams.sourceBytes(d, "events") === 0L,
        "no matching entry is an empty source")
      put("events.parquet/dt=2024-01-01/part-0.parquet", 100)
      put("events.parquet/dt=2024-01-02/part-0.parquet", 20)
      put("events_x.parquet", 3)
      assert(EventStreams.sourceBytes(d, "events") === 123L)
      put("documents.parquet/lang=en/_SUCCESS", 0)
      val e = intercept[IllegalStateException](
        EventStreams.sourceBytes(d, "documents"))
      assert(e.getMessage.contains("0 bytes"))
    } finally EventStreams.deleteRecursively(dir)
  }

  test("gate and merge-loop replays return empty frames (not " +
      "crashes) on an empty source") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-empty-src").toFile
    try {
      import spark.implicits._
      Seq.empty[(Long, String, String, String, Long)]
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.parquet(s"${dir.getAbsolutePath}/documents.parquet")
      val (gateDf, _) = EventStreams
        .replayQualityGateWithStats(spark, dir.getAbsolutePath)
      assert(gateDf.count() === 0L)
      assert(gateDf.columns.contains("reason"),
        "empty gate readout must keep the verdict schema")
      val (vocabDf, _) = EventStreams
        .replayVocabMaintainWithStats(spark, dir.getAbsolutePath)
      assert(vocabDf.count() === 0L)
      assert(vocabDf.columns.toSeq ===
        Seq("token_id", "token", "n_occurrences", "n_docs"))
    } finally EventStreams.deleteRecursively(dir)
  }

  test("streaming cross-modal admission (declared s20) equals batch " +
      "m18 and carries no engine state") {
    val (df, stateRows) =
      EventStreams.replayPairGateWithStats(spark, sf)
    val streamed = df.collect().map(_.toSeq)
    val batch = graft.multimodal.Multimodal.m18PairCuration(spark, sf)
      .collect().map(_.toSeq)
    assert(streamed.nonEmpty)
    assert(streamed.length === batch.length)
    streamed.zip(batch).foreach { case (s, b) => assert(s === b) }
    assert(stateRows === 0L,
      s"per-pair admission must be stateless, got $stateRows")
  }

  test("stream-stream interval join (declared s14) emits exactly the " +
      "batch interval-join pair set") {
    import org.apache.spark.sql.functions._
    val streamed = graft.streaming.EventStreams
      .replayAttributionPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sorted
    val ev = Tables.events(spark, sf)
    val conv = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("conv_id"), col("user_id"),
        col("ts").as("conv_ts"))
    val touch = ev.filter(col("event_type")
        .isin("click", "view", "signup"))
      .select(col("user_id"), col("event_type").as("touch_type"),
        col("ts").as("touch_ts"))
    val batch = conv.join(touch, Seq("user_id"))
      .filter(col("touch_ts") < col("conv_ts") &&
        col("touch_ts") >= col("conv_ts") - expr("INTERVAL 24 HOURS"))
      .select(col("conv_id"), col("touch_type"),
        date_format(col("touch_ts"), "yyyy-MM-dd HH:mm:ss"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sorted
    assert(streamed.nonEmpty)
    assert(streamed.toSeq === batch.toSeq,
      "stream-stream join must emit the batch pair set exactly")
  }

  test("flatMapGroupsWithState session state carries across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStreams.sessionize(input.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_test").start()
    def ts(min: Long) = new Timestamp(1700000000000L + min * 60000L)
    try {
      // batch 1: two events 5 min apart → one session
      input.addData(Event(1, ts(0), 7L, "click", 1.0),
        Event(2, ts(5), 7L, "view", 1.0))
      q.processAllAvailable()
      val b1 = spark.table("sess_test").as[SessionUpdate].collect()
      assert(b1.length === 1)
      assert(b1.head.sessionCount === 1)
      // batch 2: 10 min later (same session), then 45-min gap (new one)
      input.addData(Event(3, ts(15), 7L, "click", 1.0),
        Event(4, ts(60), 7L, "purchase", 1.0))
      q.processAllAvailable()
      val b2 = spark.table("sess_test").as[SessionUpdate].collect()
      assert(b2.length === 2)
      assert(b2.map(_.sessionCount).max === 2,
        "state must remember batch-1 session and open a second one")
    } finally q.stop()
  }

  test("nearDupPairs state TTL: the transition fn evicts expired " +
      "buckets and re-arms the horizon (TestGroupState)") {
    import org.apache.spark.api.java.{Optional => JOpt}
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    val ttl = 1000L
    val fn = EventStreams.bucketPairFn(Some(ttl))
    // expired bucket: state removed, NOTHING emitted — a doc arriving
    // later starts a fresh bucket and cannot pair across the horizon
    val expired = TestGroupState.create[Seq[Long]](
      JOpt.of(Seq(1L, 2L)), GroupStateTimeout.ProcessingTimeTimeout(),
      5000L, JOpt.empty[Long](), true)
    assert(fn((0, "x"), Iterator.empty, expired).isEmpty)
    assert(expired.isRemoved, "expired bucket must be evicted")
    // live bucket: new doc pairs with the survivors, state grows,
    // horizon re-arms at batchProcessingTime + ttl
    val live = TestGroupState.create[Seq[Long]](
      JOpt.of(Seq(1L)), GroupStateTimeout.ProcessingTimeTimeout(),
      5000L, JOpt.empty[Long](), false)
    assert(fn((0, "x"), Iterator((2L, 0, "x")), live).toSet ===
      Set((1L, 2L)))
    assert(live.isUpdated && live.get === Seq(1L, 2L))
    assert(live.getTimeoutTimestampMs.get === (5000L + ttl),
      "every update must re-arm the idle horizon")
    // the None path (the oracled s03/s04 replay semantics) must not
    // arm a timer — NoTimeout state would throw on setTimeoutDuration
    val noTtl = TestGroupState.create[Seq[Long]](
      JOpt.empty[Seq[Long]](), GroupStateTimeout.NoTimeout(),
      0L, JOpt.empty[Long](), false)
    assert(EventStreams.bucketPairFn(None)(
      (0, "x"), Iterator((1L, 0, "x"), (2L, 0, "x")), noTtl).toSet ===
      Set((1L, 2L)))
    assert(!noTtl.getTimeoutTimestampMs.isPresent)
  }

  test("nearDupPairs with a generous TTL carries bucket state across " +
      "micro-batches through the real engine") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Int, String)]
    // NOTE: processAllAvailable never quiesces once a processing-time
    // timer is armed (the engine keeps scheduling timer-check
    // batches) — poll the sink for the expected rows instead
    val q = EventStreams.nearDupPairs(input.toDS(), Some(3600000L))
      .writeStream.outputMode("append")
      .format("memory").queryName("neardup_ttl_engine").start()
    def pollUntil(want: Set[(Long, Long)]): Set[(Long, Long)] = {
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      var got = Set.empty[(Long, Long)]
      while (got != want && System.nanoTime() < deadline) {
        Thread.sleep(100)
        got = spark.table("neardup_ttl_engine")
          .as[(Long, Long)].collect().toSet
      }
      got
    }
    try {
      input.addData((1L, 0, "x"), (2L, 0, "x"))
      assert(pollUntil(Set((1L, 2L))) === Set((1L, 2L)))
      // batch 2: doc 3 joins the same bucket — pairs with BOTH
      // batch-1 docs only if state survived (TTL ≫ test duration)
      input.addData((3L, 0, "x"))
      val all = Set((1L, 2L), (1L, 3L), (2L, 3L))
      assert(pollUntil(all) === all,
        "bucket state must survive across batches under a long TTL")
    } finally q.stop()
  }

  test("native session_window agrees with the q22 lag/sum sessionization") {
    val native = Tables.events(spark, sf)
      .filter(col("user_id") < 50)
      .groupBy(col("user_id"),
        session_window(col("ts"), "30 minutes"))
      .count()
      .groupBy("user_id").agg(count(lit(1)).as("n_sessions"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val handRolled = Relational.q22Sessionize(spark, sf)
      .collect().map(r => r.getAs[Long]("user_id") ->
        r.getAs[Long]("n_sessions")).toMap
    assert(native === handRolled,
      "session_window and lag/cumsum sessionization must agree")
  }

  test("foreachBatch republishes a layer per micro-batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val published = new java.util.concurrent.atomic.AtomicLong(-1)
    val publishCount = new java.util.concurrent.atomic.AtomicLong(0)
    val q = EventStreams.publishOnEvents(input.toDF(),
      (_, batchId) => { published.set(batchId); publishCount
        .incrementAndGet() })
    def ts(min: Long) = new Timestamp(1700000000000L + min * 60000L)
    try {
      input.addData(Event(1, ts(0), 1L, "click", 1.0))
      q.processAllAvailable()
      assert(publishCount.get === 1)
      input.addData(Event(2, ts(1), 1L, "view", 2.0))
      q.processAllAvailable()
      assert(publishCount.get === 2, "second batch must republish")
      assert(published.get >= 1)
    } finally q.stop()
  }

  /** Spark jobs started while `f` runs, stream jobs included (a stream
    * sets its own job group, so the window is bounded by two marker
    * jobs instead: the bus delivers in order).
    */
  private def jobsDuring(f: => Unit): Int = jobPropertiesDuring(f).size

  /** The local properties of every job [[jobsDuring]] counts. */
  private def jobPropertiesDuring(f: => Unit)
      : Seq[java.util.Properties] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    val jobs =
      new java.util.concurrent.ConcurrentLinkedQueue[java.util.Properties]
    @volatile var counting = false
    val (opened, closed) = (new CountDownLatch(1), new CountDownLatch(1))
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some("graft-jobs-open") => counting = true; opened.countDown()
          case Some("graft-jobs-close") => counting = false; closed.countDown()
          case _ => if (counting) jobs.add(
            Option(e.properties).getOrElse(new java.util.Properties))
        }
    }
    val sc = spark.sparkContext
    def marker(group: String, latch: CountDownLatch): Unit = {
      sc.setJobGroup(group, group)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(latch.await(60, TimeUnit.SECONDS))
    }
    sc.addSparkListener(listener)
    try {
      marker("graft-jobs-open", opened)
      f
      marker("graft-jobs-close", closed)
    } finally sc.removeSparkListener(listener)
    scala.jdk.CollectionConverters.IterableHasAsScala(jobs).asScala.toSeq
  }

  test("SparkEntry's s05 and s08 skip the spec path's per-batch count: " +
      "three jobs fewer per data batch") {
    // a first run stages the memoized inputs and the band index
    val nS05 = EventStreams.replayIngestDedupWithStats(spark, sf)._3.length
    val s05Entry =
      jobsDuring(SparkEntry.queries("s05_stream_ingest_dedup")(spark, sf))
    val s05Spec = jobsDuring(EventStreams.replayIngestDedupWithStats(spark, sf))
    info(s"s05: $s05Entry entry jobs, $s05Spec spec jobs, $nS05 data batches")
    val nS08 = EventStreams.replayEvalSampleWithStats(spark, sf)._3.toInt
    val s08Entry =
      jobsDuring(SparkEntry.queries("s08_stream_eval_sample")(spark, sf))
    val s08Spec = jobsDuring(EventStreams.replayEvalSampleWithStats(spark, sf))
    info(s"s08: $s08Entry entry jobs, $s08Spec spec jobs, $nS08 data batches")
    // each count re-reads the batch's output: one footer-inference
    // job, then the count's map and result jobs
    assert(nS05 > 1)
    assert(s05Spec - s05Entry === 3 * nS05)
    assert(nS08 > 1)
    assert(s08Spec - s08Entry === 3 * nS08)
  }

  test("s21 runs at most two jobs per micro-batch: the one-bucket " +
      "merge reads the committed artifact under the schema it wrote") {
    // a first run stages the memoized doc slices and merge rules
    EventStreams.replayVocabMaintainWithStats(spark, sf)
    // a stream job carries its micro-batch id as a local property
    val perBatch = jobPropertiesDuring(
        EventStreams.replayVocabMaintainWithStats(spark, sf))
      .flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
      .groupBy(identity).map { case (b, js) => b.toLong -> js.size }
    info(s"s21 jobs per micro-batch: ${perBatch.toSeq.sorted}")
    assert(perBatch.size === 4)
    // the touched-bucket probe and the staged write: the prior
    // artifact is read under the schema the loop wrote, so no batch
    // runs a footer-inference job
    assert(perBatch.values.max <= 2, perBatch)
  }

  test("s05 ingest loop: drops equal the sequential batch chain, the " +
      "state store stays empty, and index deltas are batch-sized") {
    import graft.queries.TextOps
    val (drops, stateRows, deltaRows) =
      EventStreams.replayIngestDedupWithStats(spark, sf)
    val got = drops.collect()
      .map(r => (r.getInt(0), r.getLong(1))).sorted.toSeq

    // dedup state lives in the stored band index, NOT the state store —
    // this is the bounded-state answer to s03's O(corpus) caveat
    assert(stateRows === 0L, "foreachBatch loop must keep no state rows")

    // sequential twin via the batch API (the TextSpec 3-batch chain):
    // same drop set, same batch attribution
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val bounds = TextOps.IngestBatchBounds
    var index = TextOps.portableBandTable(
      docs.filter(col("doc_id") < TextOps.IncrementalCorpusMaxId))
    val expected = scala.collection.mutable.ArrayBuffer[(Int, Long)]()
    val expectedDeltas = scala.collection.mutable.ArrayBuffer[Long]()
    bounds.indices.foreach { i =>
      val span0 = docs.filter(col("doc_id") >= bounds(i))
      val span = if (i + 1 < bounds.length)
        span0.filter(col("doc_id") < bounds(i + 1)) else span0
      val spanIds = span.select("doc_id").collect()
        .map(_.getLong(0)).toSet
      if (spanIds.nonEmpty) {
        val kept = TextOps.dedupIncrementalIndexed(index, span, docs, 0.5)
        val keptIds = kept.collect().map(_.getLong(0)).toSet
        (spanIds -- keptIds).toSeq.sorted.foreach(id =>
          expected += ((i, id)))
        index = TextOps.updateBandIndex(index, span.join(kept, "doc_id"))
        expectedDeltas += 8L * keptIds.size
      }
    }
    assert(got === expected.sorted.toSeq)
    // each persisted delta is exactly the kept docs' bands — O(batch)
    // growth, never a corpus-index rewrite
    assert(deltaRows === expectedDeltas.toList)
  }

  test("streaming sessionization agrees with batch q22 for sampled users") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // replay real events for users < 10 through the stateful operator
    val events = Tables.events(spark, sf)
      .filter(col("user_id") < 10)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .as[Event].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val input = MemoryStream[Event]
    val q = EventStreams.sessionize(input.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_real").start()
    try {
      input.addData(events.toSeq)
      q.processAllAvailable()
    } finally q.stop()
    val streamedCounts = spark.table("sess_real").as[SessionUpdate]
      .collect().groupBy(_.user_id)
      .view.mapValues(_.map(_.sessionCount).max).toMap
    val batch = Relational.q22Sessionize(spark, sf)
      .filter(col("user_id") < 10).collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("n_sessions"))
      .toMap
    assert(streamedCounts === batch)
  }

  test("a mixed-encoding events drop (raw nanos long + native " +
      "timestamp under one glob) fails LOUDLY at readEvents' footer " +
      "probe instead of silently mis-shimming either file") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-mixed-enc").toFile
    try {
      val base = dir.getAbsolutePath
      // file A: the round-<=8 legacy encoding — ts as a raw INT64
      // nanos column
      Seq((1L, 1704067200000000000L, 10L, "click", 1.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value",
          "props")
        .write.parquet(s"$base/events_a.parquet")
      // file B: the round-9+ encoding — ts as a native timestamp
      Seq((2L, java.sql.Timestamp.valueOf("2024-01-01 01:00:00"),
          11L, "view", 2.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value",
          "props")
        .write.parquet(s"$base/events_b.parquet")
      val e = intercept[Exception] {
        EventStreams.readEvents(spark, base)
      }
      // pin the failure surface: the merged-footer probe must name
      // the incompatible merge (and thereby the offending column),
      // not return a schema that would shim only one of the files
      val chain = Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null).map(t => Option(t.getMessage)
          .getOrElse("")).mkString("\n")
      assert(chain.toLowerCase.contains("merge"),
        s"expected a loud schema-merge failure, got:\n$chain")
      assert(chain.contains("LongType") ||
        chain.toLowerCase.contains("timestamp") || chain.contains("ts"),
        s"the failure must identify the conflicting ts types:\n$chain")
    } finally EventStreams.deleteRecursively(dir)
  }

  /** Commit `df` (partitioned by `bkt`) as generation 0 of the
    * swap-managed artifact `live`: staged, then swapped in as a
    * non-streaming commit, so no batch marker and no history
    * snapshot pins its generations.
    */
  private def seedGeneration0(df: org.apache.spark.sql.DataFrame,
      live: String): Unit = {
    val stage = EventStreams.stageDirFor(live)
    df.repartition(col("bkt")).write.partitionBy("bkt").parquet(stage)
    EventStreams.swapPartitionDirs(stage, live, Seq.empty,
      batchId = -1L, genOverride = Some(0L))
  }

  test("swapPartitionDirs: the full touched set is replaced — a " +
      "touched bucket whose merge result is EMPTY stages no dir and " +
      "its stale live partition must still go (ADVICE r13)") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-swap").toFile
    try {
      val live = s"${dir.getAbsolutePath}/state"
      val stage = s"$live-stage"
      // live v1: buckets 0, 1, 2
      seedGeneration0(Seq((10L, 0), (11L, 1), (12L, 2)).toDF("k", "bkt"),
        live)
      // merge of a batch touching {0, 1, 2}: bucket 2's result is
      // empty (an evicting merge), so the stage holds only 0 and 1
      Seq((20L, 0), (21L, 1)).toDF("k", "bkt")
        .repartition(col("bkt"))
        .write.partitionBy("bkt").parquet(stage)
      EventStreams.swapPartitionDirs(stage, live,
        Seq("bkt=0", "bkt=1", "bkt=2"), batchId = 1L)
      val got = EventStreams.readCommitted(spark, live).get
        .select("k").as[Long].collect().sorted.toSeq
      assert(got === Seq(20L, 21L),
        "stale bkt=2 must leave the committed view even with " +
          "nothing staged")
      assert(!new java.io.File(stage).exists(), "stage dir committed")
      assert(!new java.io.File(live,
        EventStreams.SwapManifestName).exists(), "manifest committed")
      // reader snapshot isolation (review r15): the PRE-swap
      // generations survive the swap as the grace copies a reader
      // that resolved the old snapshot may still be scanning — only
      // the snapshot stops referencing them...
      assert(new java.io.File(live, "bkt=2").isDirectory,
        "the evicted partition's grace generation must survive " +
          "the swap itself")
      val snap = EventStreams.readSnapshot(live).get.entries
      assert(snap.keySet === Set("bkt=0", "bkt=1"),
        s"committed snapshot must drop the evicted partition: $snap")
      // ...and loop-start GC collects them
      EventStreams.gcUnreferencedGenerations(live)
      assert(!new java.io.File(live, "bkt=2").exists(),
        "GC must collect the evicted partition")
      assert(EventStreams.readCommitted(spark, live).get
        .select("k").as[Long].collect().sorted.toSeq ===
        Seq(20L, 21L), "GC must not touch the committed view")
    } finally EventStreams.deleteRecursively(dir)
  }

  test("swapPartitionDirs: a crash between partition applies leaves " +
      "a journaled torn commit that recoverTornSwap rolls FORWARD " +
      "to the new consistent version (r13 VERDICT item 3)") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-torn").toFile
    try {
      val live = s"${dir.getAbsolutePath}/state"
      val stage = s"$live-stage"
      seedGeneration0(Seq((10L, 0), (11L, 1), (12L, 2)).toDF("k", "bkt"),
        live)
      Seq((20L, 0), (21L, 1)).toDF("k", "bkt")
        .repartition(col("bkt"))
        .write.partitionBy("bkt").parquet(stage)
      // inject the crash AFTER the first applied partition: bkt=0 is
      // swapped, bkt=1 still staged, bkt=2's bare delete pending —
      // exactly the mixed-version artifact the manifest exists for
      val boom = intercept[RuntimeException] {
        EventStreams.swapPartitionDirs(stage, live,
          Seq("bkt=0", "bkt=1", "bkt=2"), batchId = 1L,
          onPartitionApplied =
            n => if (n == "bkt=1") throw new RuntimeException("torn"))
      }
      assert(boom.getMessage === "torn")
      // torn state is DETECTABLE: the journal is still in place
      assert(new java.io.File(live,
        EventStreams.SwapManifestName).isFile,
        "manifest must survive a mid-apply crash")
      // reader snapshot isolation (review r15): with the artifact
      // torn mid-APPLY — bkt=0 and bkt=1 already replaced on disk,
      // bkt=2's eviction pending — a committed read still returns
      // EXACTLY the pre-swap artifact, because APPLY never touches
      // the generations the committed snapshot references
      assert(EventStreams.readCommitted(spark, live).get
        .select("k").as[Long].collect().sorted.toSeq ===
        Seq(10L, 11L, 12L),
        "a reader mid-APPLY must see the pre-swap snapshot")
      // loop start heals it: replay is idempotent per partition
      EventStreams.recoverTornSwap(live)
      val got = EventStreams.readCommitted(spark, live).get
        .select("k").as[Long].collect().sorted.toSeq
      assert(got === Seq(20L, 21L),
        "recovery must complete the commit (new versions + eviction)")
      assert(!new java.io.File(stage).exists())
      assert(!new java.io.File(live,
        EventStreams.SwapManifestName).exists())
      // recovery ends with GC, so the live tree and the committed
      // view coincide again: a plain listing read agrees
      assert(spark.read.parquet(live)
        .select("k").as[Long].collect().sorted.toSeq ===
        Seq(20L, 21L),
        "post-GC the live tree holds only committed generations")
      // recovery is also safe when nothing is torn, and clears a
      // stray stage leftover from a crash between COMMIT's deletes
      new java.io.File(stage).mkdirs()
      EventStreams.recoverTornSwap(live)
      assert(!new java.io.File(stage).exists())
      assert(EventStreams.readCommitted(spark, live).get
        .count() === 2L)
    } finally EventStreams.deleteRecursively(dir)
  }

  test("merge-loop exactly-once: a crash mid-swap is replayed ONCE — " +
      "recovery rolls the torn commit forward, the journaled batch " +
      "id turns the engine's replay of the uncheckpointed batch into " +
      "a no-op, and the restarted loop converges to the clean sums") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val dir = java.nio.file.Files
      .createTempDirectory("graft-e2e-torn").toFile
    try {
      val base = dir.getAbsolutePath
      val srcDir = s"$base/incoming"
      new java.io.File(srcDir).mkdirs()
      val schema = StructType(Seq(StructField("k", LongType),
        StructField("v", LongType)))
      // 4 batches over the same 8 keys: per-key sums are double-count
      // SENSITIVE — a replayed merge inflates every key in the batch
      val t0 = System.currentTimeMillis() - 3600L * 1000
      (0 until 4).foreach { i =>
        val stage = s"$base/in$i"
        (0L until 8L).map(k => (k, k * 10 + i + 1)).toDF("k", "v")
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
      def agg(df: DataFrame): DataFrame =
        df.groupBy("k").agg(sum("v").as("v"))
      val merge = EventStreams.ArtifactMerge("k", sum("v").as("v"))
      // run 1: crash inside batch 2's swap AFTER one partition has
      // been applied — a mixed-version artifact with the journal and
      // batch 2's offsets on disk, but no checkpoint commit for it
      val applied = new java.util.concurrent.atomic.AtomicInteger(0)
      val boom = intercept[Exception] {
        EventStreams.runArtifactMergeLoop(spark, base, srcDir, schema,
          nBuckets = 4,
          onSwapApply = (bid, _) =>
            if (bid == 2L && applied.incrementAndGet() == 2)
              throw new RuntimeException("crash mid-swap"))(agg, merge)
      }
      def causes(t: Throwable): Seq[String] =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
          .map(e => Option(e.getMessage).getOrElse("")).toSeq
      assert(causes(boom).exists(_.contains("crash mid-swap")),
        s"unexpected failure: ${causes(boom).mkString(" <- ")}")
      assert(new java.io.File(s"$base/state",
        EventStreams.SwapManifestName).isFile,
        "the torn commit must leave its journal behind")
      // run 2, same base: recovery completes batch 2's commit, the
      // engine replays batch 2 (never checkpointed) as a marker-
      // gated no-op, batch 3 proceeds — sums come out exact. Without
      // the batch marker the replay re-merges batch 2 and every key
      // doubles its batch-2 contribution.
      val (artifact, _) = EventStreams.runArtifactMergeLoop(spark,
        base, srcDir, schema, nBuckets = 4)(
        agg, merge)
      val got = artifact.get.orderBy("k")
        .as[(Long, Long)].collect().toSeq
      val want = (0L until 8L).map(k => (k, 40 * k + 10))
      assert(got === want,
        "replayed batch must contribute exactly once")
    } finally EventStreams.deleteRecursively(dir)
  }

  test("keyed merge: the (key, bkt) merge the loop derives from one " +
      "declaration equals the direct per-key sums — batch 0 " +
      "included, where it folds the batch aggregate alone") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val dir = java.nio.file.Files
      .createTempDirectory("graft-keyed-merge").toFile
    try {
      val base = dir.getAbsolutePath
      val srcDir = s"$base/incoming"
      new java.io.File(srcDir).mkdirs()
      val schema = StructType(Seq(StructField("k", LongType),
        StructField("v", LongType)))
      val t0 = System.currentTimeMillis() - 3600L * 1000
      (0 until 4).foreach { i =>
        val st = s"$base/in$i"
        (0L until 8L).map(k => (k, k * 10 + i + 1)).toDF("k", "v")
          .coalesce(1).write.parquet(st)
        new java.io.File(st).listFiles()
          .filter(_.getName.endsWith(".parquet")).headOption
          .foreach { f =>
            val dst = new java.io.File(srcDir, f"b$i%02d.parquet")
            java.nio.file.Files.move(f.toPath, dst.toPath)
            dst.setLastModified(t0 + i * 60000L)
            ()
          }
      }
      def agg(df: DataFrame): DataFrame =
        df.groupBy("k").agg(sum("v").as("v"))
      val (artifact, _) = EventStreams.runArtifactMergeLoop(spark, base,
        srcDir, schema, nBuckets = 4)(
        agg, EventStreams.ArtifactMerge("k", sum("v").as("v")))
      val got = artifact.get.select("k", "v").orderBy("k")
        .as[(Long, Long)].collect().toSeq
      val want = (0L until 8L).map(k => (k, 40 * k + 10))
      assert(got === want, "the keyed merge must equal the direct sums")
    } finally EventStreams.deleteRecursively(dir)
  }

  test("merge-loop reader snapshot isolation: a committed read " +
      "CONCURRENT with a swap's APPLY phase returns exactly the " +
      "pre-swap artifact; the post-commit read returns the new " +
      "version (VERDICT r15 item 2)") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val dir = java.nio.file.Files
      .createTempDirectory("graft-snap-iso").toFile
    try {
      val base = dir.getAbsolutePath
      val srcDir = s"$base/incoming"
      new java.io.File(srcDir).mkdirs()
      val schema = StructType(Seq(StructField("k", LongType),
        StructField("v", LongType)))
      // 3 batches over the same 8 keys → 4 buckets, every batch
      // touches all of them, so every swap REPLACES partitions a
      // concurrent reader could be scanning
      val t0 = System.currentTimeMillis() - 3600L * 1000
      (0 until 3).foreach { i =>
        val stage = s"$base/in$i"
        (0L until 8L).map(k => (k, k * 10 + i + 1)).toDF("k", "v")
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
      def agg(df: DataFrame): DataFrame =
        df.groupBy("k").agg(sum("v").as("v"))
      val merge = EventStreams.ArtifactMerge("k", sum("v").as("v"))
      // cumulative per-key sum through batch j: (j+1)*10k + Σ(1..j+1)
      def through(j: Int): Seq[(Long, Long)] =
        (0L until 8L).map(k =>
          (k, (j + 1) * 10 * k + (j + 1).toLong * (j + 2) / 2))
      val midReads =
        scala.collection.mutable.ListBuffer[(Long, Seq[(Long, Long)])]()
      val (artifact, _) = EventStreams.runArtifactMergeLoop(spark,
        base, srcDir, schema, nBuckets = 4,
        // the hook runs BETWEEN partition applies — the live tree is
        // half old, half new at this instant, exactly the state a
        // listing-based reader would see torn
        onSwapApply = (bid, part) =>
          if (bid >= 1L && part == "bkt=1") {
            val got = EventStreams
              .readCommitted(spark, s"$base/state").get
              .select("k", "v").orderBy("k")
              .as[(Long, Long)].collect().toSeq
            midReads += bid -> got
          })(agg, merge)
      assert(midReads.map(_._1) === Seq(1L, 2L),
        "the probe must have read mid-APPLY of batches 1 and 2")
      midReads.foreach { case (bid, got) =>
        assert(got === through(bid.toInt - 1),
          s"mid-APPLY of batch $bid: the committed read must be " +
            "EXACTLY the artifact through batch " + (bid - 1))
      }
      assert(artifact.get.orderBy("k").as[(Long, Long)]
        .collect().toSeq === through(2),
        "the post-loop read must be the fully merged artifact")
    } finally EventStreams.deleteRecursively(dir)
  }

  test("merge-loop time travel: readCommittedAsOf serves any batch " +
      "inside the retention window, clamps to the as-of convention, " +
      "fails diagnosably beyond retention, and storage stays " +
      "bounded per partition") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val dir = java.nio.file.Files
      .createTempDirectory("graft-timetravel").toFile
    try {
      val base = dir.getAbsolutePath
      val srcDir = s"$base/incoming"
      new java.io.File(srcDir).mkdirs()
      val schema = StructType(Seq(StructField("k", LongType),
        StructField("v", LongType)))
      val t0 = System.currentTimeMillis() - 3600L * 1000
      (0 until 5).foreach { i =>
        val stage = s"$base/in$i"
        (0L until 8L).map(k => (k, k * 10 + i + 1)).toDF("k", "v")
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
      def agg(df: DataFrame): DataFrame =
        df.groupBy("k").agg(sum("v").as("v"))
      val merge = EventStreams.ArtifactMerge("k", sum("v").as("v"))
      def through(j: Int): Seq[(Long, Long)] =
        (0L until 8L).map(k =>
          (k, (j + 1) * 10 * k + (j + 1).toLong * (j + 2) / 2))
      EventStreams.runArtifactMergeLoop(spark, base, srcDir, schema,
        nBuckets = 4)(agg, merge)
      val state = s"$base/state"
      def asOf(b: Long): Seq[(Long, Long)] =
        EventStreams.readCommittedAsOf(spark, state, b).get
          .select("k", "v").orderBy("k")
          .as[(Long, Long)].collect().toSeq
      // retention = 2 superseded + current → batches 2, 3, 4 readable
      (2 to 4).foreach(j => assert(asOf(j) === through(j),
        s"as-of batch $j must serve the artifact through batch $j"))
      // the as-of convention: a future batch clamps to the latest
      assert(asOf(99L) === through(4))
      // beyond retention: diagnosable refusal naming the window
      val boom = intercept[IllegalStateException](asOf(1L))
      assert(boom.getMessage.contains("retention") &&
        boom.getMessage.contains("batch 2"),
        s"unexpected message: ${boom.getMessage}")
      // storage bound: ≤ retention + 2 generations per partition
      Option(new java.io.File(state).listFiles())
        .getOrElse(Array.empty)
        .filter(d => d.isDirectory && d.getName.startsWith("bkt="))
        .foreach { d =>
          val gens = d.listFiles().count(_.getName.startsWith("g"))
          assert(gens <= EventStreams.SnapshotHistoryRetention + 2,
            s"${d.getName} holds $gens generations")
        }
      // a restart's loop-start GC keeps every RETAINED version
      // servable (grace copies of expired snapshots go, history
      // stays)
      EventStreams.recoverTornSwap(state)
      (2 to 4).foreach(j => assert(asOf(j) === through(j),
        s"as-of batch $j must survive loop-start GC"))
    } finally EventStreams.deleteRecursively(dir)
  }

  test("s24 time travel: the declared as-of read resolves the " +
      "SECOND-newest committed snapshot (batch nBatches−2), and its " +
      "state is a strict prefix of the head — fewer events counted, " +
      "never more, with every user a subset of the head's") {
    import org.apache.spark.sql.functions.{col, sum => fsum}
    val (asOfDf, asOf) =
      EventStreams.replayTimeTravelCompactWithStats(spark, sf)
    assert(asOf === 8L,
      s"as-of target must be the superseded batch 8 of 10, got $asOf")
    val (headDf, _) =
      EventStreams.replayChangelogCompactWithStats(spark, sf)
    def totals(df: org.apache.spark.sql.DataFrame): Long =
      df.agg(fsum(col("n_events"))).collect()(0).getLong(0)
    val (nAsOf, nHead) = (totals(asOfDf), totals(headDf))
    // the as-of view never counts MORE events than the head; the
    // STRICT inequality additionally requires the post-prefix tail
    // (slices 9+ of the staged batches) to be non-empty, which the
    // fixture guarantees but a time-skewed events table need not
    // (ADVICE r17) — mirror the stager's lo/span arithmetic and
    // demand strictness only when the tail actually holds rows
    assert(nAsOf <= nHead, s"as-of=$nAsOf head=$nHead")
    locally {
      import org.apache.spark.sql.functions.{unix_timestamp, min => fmin, max => fmax}
      val ev = graft.Tables.events(spark, sf)
      val mm = ev.agg(fmin(unix_timestamp(col("ts"))),
        fmax(unix_timestamp(col("ts")))).head()
      val lo = mm.getLong(0); val hi = mm.getLong(1) + 1
      val span = math.max(1L, (hi - lo + 9) / 10)
      val tailRows = ev
        .filter(unix_timestamp(col("ts")) >= lo + 9L * span).count()
      if (tailRows > 0)
        assert(nAsOf < nHead,
          s"tail slice holds $tailRows rows yet as-of=$nAsOf " +
            s"equals head=$nHead")
    }
    // and per user the as-of counts never exceed the head's (state
    // only grows under the compaction merge)
    val joined = asOfDf.select(col("user_id"),
        col("n_events").as("n_asof"))
      .join(headDf.select(col("user_id"),
        col("n_events").as("n_head")), "user_id")
    assert(joined.filter(col("n_asof") > col("n_head")).count() === 0)
  }

  test("s26 version diff: every 'added' user is absent from the " +
      "event-time prefix, every 'changed' user strictly grew, and " +
      "the diff matches a direct prefix-vs-head recompute") {
    import org.apache.spark.sql.functions.{col, unix_timestamp,
      min => fmin, max => fmax}
    val (df, (bOld, nChanged)) =
      EventStreams.replayVersionDiffWithStats(spark, sf)
    assert(bOld === 8L)
    val rows = df.collect().map(r => (r.getLong(0), r.getString(1),
      r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty, "fixture populates the tail slice")
    assert(nChanged > 0, "head must have rewritten some buckets")
    rows.foreach { case (u, st, o, n) =>
      if (st == "added") assert(o === 0L, s"user $u")
      else { assert(st === "changed"); assert(n > o, s"user $u") }
    }
    // direct recompute: old = events in slices 0..8, new = all
    val ev = graft.Tables.events(spark, sf)
    val mm = ev.agg(fmin(unix_timestamp(col("ts"))),
      fmax(unix_timestamp(col("ts")))).head()
    val lo = mm.getLong(0); val hi = mm.getLong(1) + 1
    val span = math.max(1L, (hi - lo + 9) / 10)
    val oldN = ev.filter(unix_timestamp(col("ts")) < lo + 9L * span)
      .groupBy("user_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val newN = ev.groupBy("user_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = newN.toSeq.collect {
      case (u, n) if !oldN.contains(u) => (u, "added", 0L, n)
      case (u, n) if oldN(u) < n => (u, "changed", oldN(u), n)
    }.sortBy(_._1)
    assert(rows.toSeq === want)
  }

  test("s29 CDC composition: applying the adjacent retained version " +
      "diffs to the OLDEST retained snapshot reconstructs the head " +
      "EXACTLY — partition-level upserts compose byte-for-byte") {
    val (df, (b0, changedCounts, totalParts)) =
      EventStreams.replayCdcComposeWithStats(spark, sf)
    // 10 batches, retention 2: snapshots 7/8/9 readable, so the
    // consumer starts at 7 and applies diffs 7→8 and 8→9
    assert(b0 === 7L)
    assert(changedCounts.length === 2)
    assert(totalParts === 8)
    changedCounts.foreach { c =>
      assert(c > 0, "a committed batch must have rewritten buckets")
      assert(c <= totalParts)
    }
    val (headDf, _) =
      EventStreams.replayChangelogCompactWithStats(spark, sf)
    val got = df.collect().map(_.toSeq).toSeq
    assert(got.nonEmpty)
    assert(got === headDf.collect().map(_.toSeq).toSeq,
      "the diff-composed reconstruction must equal the head readout")
  }

  test("s30 schema evolution: a redeploy with an added column " +
      "stamps the snapshot, the head read null-fills pre-deploy " +
      "generations, time travel serves the OLD schema, and a diff " +
      "across the deploy serves each side as it was") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val dir = java.nio.file.Files
      .createTempDirectory("graft-s30-fix").toFile
    try {
      val base = dir.getAbsolutePath
      val srcDir = s"$base/incoming"
      new java.io.File(srcDir).mkdirs()
      val schema = StructType(Seq(StructField("k", LongType),
        StructField("v", LongType)))
      // batches 0,1 carry keys 0..7; batches 2,3 (post-deploy) only
      // keys 0..3 — so keys 4..7 must come out with a NULL vmax
      val t0 = System.currentTimeMillis() - 3600L * 1000
      def stage(i: Int, keys: Range): Unit = {
        val st = s"$base/in$i"
        keys.map(k => (k.toLong, k * 10L + i + 1)).toDF("k", "v")
          .coalesce(1).write.parquet(st)
        new java.io.File(st).listFiles()
          .filter(_.getName.endsWith(".parquet")).headOption
          .foreach { f =>
            val dst = new java.io.File(srcDir, f"b$i%02d.parquet")
            java.nio.file.Files.move(f.toPath, dst.toPath)
            dst.setLastModified(t0 + i * 60000L)
            ()
          }
      }
      def aggOld(df: DataFrame): DataFrame =
        df.groupBy("k").agg(sum("v").as("v"))
      val mergeOld = EventStreams.ArtifactMerge("k", sum("v").as("v"))
      def aggNew(df: DataFrame): DataFrame =
        df.groupBy("k").agg(sum("v").as("v"), max("v").as("vmax"))
      // a pre-deploy prev enters the loop's union with vmax
      // null-filled — null is the identity of max
      val mergeNew = EventStreams.ArtifactMerge("k", sum("v").as("v"),
        max("vmax").as("vmax"))
      stage(0, 0 until 8); stage(1, 0 until 8)
      EventStreams.runArtifactMergeLoop(spark, base, srcDir, schema,
        nBuckets = 4, stampSchema = true)(
        aggOld, mergeOld)
      stage(2, 0 until 4); stage(3, 0 until 4)
      val (artifact, _) = EventStreams.runArtifactMergeLoop(spark,
        base, srcDir, schema, nBuckets = 4,
        stampSchema = true)(aggNew, mergeNew)
      val stateDir = s"$base/state"
      // head: evolved schema, values exact, null-fill for keys with
      // no post-deploy events
      val head = artifact.get
      assert(head.columns.toSeq === Seq("k", "v", "vmax"))
      val got = head.orderBy("k")
        .select("k", "v", "vmax").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
      val want = (0L until 8L).map { k =>
        val batches = if (k < 4) Seq(1, 2, 3, 4) else Seq(1, 2)
        val vs = batches.map(b => k * 10 + b)
        (k, vs.sum, if (k < 4) vs.filter(b => b % 10 >= 3).max
          else -1L)
      }
      assert(got === want)
      // the head snapshot carries the evolved stamp
      val stamp = EventStreams.readSnapshot(stateDir)
        .flatMap(_.schema)
      assert(stamp.exists(_.contains("vmax")),
        s"head snapshot stamp missing the evolved column: $stamp")
      // time travel to the pre-deploy batch serves the OLD schema
      val asOf = EventStreams
        .readCommittedAsOf(spark, stateDir, 1L).get.drop("bkt")
      assert(asOf.columns.toSeq === Seq("k", "v"))
      assert(asOf.orderBy("k").as[(Long, Long)].collect().toSeq ===
        (0L until 8L).map(k => (k, (k * 10 + 1) + (k * 10 + 2))))
      // a version diff ACROSS the deploy serves each side as its
      // version was: old side without the column, new side with it
      val (oldSide, newSide, changed) =
        EventStreams.readVersionDiff(spark, stateDir, 1L, 3L)
      assert(changed.nonEmpty)
      assert(oldSide.get.columns.toSeq === Seq("k", "v", "bkt"))
      assert(newSide.get.columns.toSeq ===
        Seq("k", "v", "vmax", "bkt"))
    } finally EventStreams.deleteRecursively(dir)
  }

  test("s30 declared replay: the head serves the evolved schema, " +
      "the pre-deploy as-of read does not") {
    val (df, (headCols, asOfCols)) =
      EventStreams.replaySchemaEvolutionWithStats(spark, sf)
    assert(headCols.contains("max_cents"))
    assert(asOfCols.nonEmpty, "pre-deploy snapshot must be retained")
    assert(!asOfCols.contains("max_cents"),
      s"pre-deploy as-of read shows a phantom column: $asOfCols")
    val rows = df.collect()
    assert(rows.nonEmpty)
    // null ⟺ the user has no post-deploy events — asserted as a SET
    // equality against a recompute from the raw table (at the tiny
    // test SF every user may be post-deploy-active, so the null
    // class can legitimately be empty; the fixture test above pins a
    // populated null class deterministically)
    val ev = Tables.events(spark, sf)
      .select(col("user_id"),
        unix_timestamp(col("ts")).as("sec"), col("value"))
    val mm = ev.agg(min("sec"), max("sec")).head()
    val lo = mm.getLong(0); val hi = mm.getLong(1) + 1
    val span = math.max(1L, (hi - lo + 9) / 10)
    val activeSince = ev.filter(col("sec") >= lo + 8L * span)
      .select("user_id").distinct().collect()
      .map(_.get(0)).toSet
    val gotNull = rows.filter(_.isNullAt(3)).map(_.get(0)).toSet
    val gotAll = rows.map(_.get(0)).toSet
    assert(gotNull === gotAll -- activeSince,
      "null max_cents must mark exactly the users with no " +
        "post-deploy events")
    assert(rows.exists(!_.isNullAt(3)),
      "expected at least one post-deploy-active user")
  }

  test("s31 declared replay: compaction mid-lifecycle leaves the " +
      "head ≡ the uncompacted head, the batch clock untouched, and " +
      "the compacted snapshot on one generation id above the floor") {
    val (df, (headBefore, gensAfter, headAfter)) =
      EventStreams.replayCompactionWithStats(spark, sf)
    assert(headBefore === 6L,
      s"compaction must run at the 7-slice mark, got $headBefore")
    assert(headAfter === 9L,
      "the resumed deployment must commit the remaining slices — a " +
        s"moved marker would have skipped them, got $headAfter")
    assert(gensAfter.length === 1 &&
      gensAfter.head >= EventStreams.CompactionGenFloor,
      s"the compacted snapshot must reference ONE generation id " +
        s"from the compaction range, got $gensAfter")
    val (headDf, _) =
      EventStreams.replayChangelogCompactWithStats(spark, sf)
    assert(df.orderBy("user_id").collect().toSeq ===
      headDf.orderBy("user_id").collect().toSeq,
      "the compacted-then-resumed head must equal the plain s16 head")
  }

  // shared builder for the compaction format tests: a 4-bucket
  // artifact committed by `nBatches` streaming swaps whose staged
  // generations hold exactly FOUR files per partition (four
  // single-task appends into the stage) — the small-file shape a
  // real deployment's staged writes leave.
  private def buildMultiFileArtifact(base: String, nBatches: Int)
      : String = {
    import spark.implicits._
    val live = s"$base/state"
    (0 until nBatches).foreach { b =>
      val stage = EventStreams.stageDirFor(live)
      (0L until 4L).foreach { j =>
        (0L until 8L).map(k => (k, 100L * b + 10L * k + j))
          .toDF("k", "v")
          .withColumn("bkt", pmod(col("k"), lit(4)).cast("int"))
          .coalesce(1)
          .write.mode("append").partitionBy("bkt").parquet(stage)
      }
      EventStreams.swapPartitionDirs(stage, live,
        (0 until 4).map(i => s"bkt=$i"), batchId = b.toLong)
    }
    live
  }

  private def dataFiles(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith(".")).toSeq

  // the snapshot file format is a public on-disk contract
  // (batch=…, part=<name>\tgen=<id> lines) — parse it here so the
  // test observes the artifact exactly as an external tool would
  private def readSnapshotEntries(live: String)
      : Map[String, Long] =
    readSnapshotFileEntries(new java.io.File(live, "_snapshot"))

  private def readSnapshotFileEntries(f: java.io.File)
      : Map[String, Long] =
    new String(java.nio.file.Files.readAllBytes(f.toPath),
      java.nio.charset.StandardCharsets.UTF_8)
      .linesIterator.filter(_.startsWith("part="))
      .map { l =>
        val cols = l.split("\t")
        cols(0).stripPrefix("part=") ->
          cols(1).stripPrefix("gen=").toLong
      }.toMap

  test("compactArtifact: the head collapses to one single-file " +
      "generation per partition, retained as-of snapshots keep " +
      "resolving their ORIGINAL generations byte-for-byte, and " +
      "retention + loop-start GC release the superseded " +
      "generations on the ordinary schedule") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-s31-fmt").toFile
    try {
      val base = dir.getAbsolutePath
      val live = buildMultiFileArtifact(base, 2)
      def headRows(): Seq[(Long, Long)] =
        EventStreams.readCommitted(spark, live).get
          .select("k", "v").orderBy("k", "v")
          .as[(Long, Long)].collect().toSeq
      def asOfRows(b: Long): Seq[(Long, Long)] =
        EventStreams.readCommittedAsOf(spark, live, b).get
          .select("k", "v").orderBy("k", "v")
          .as[(Long, Long)].collect().toSeq
      val headBefore = headRows()
      val asOf0Before = asOfRows(0L)
      // the retained history files and the generation dirs they
      // reference, byte-for-byte, BEFORE the compaction
      val histFiles = Option(new java.io.File(live).listFiles())
        .getOrElse(Array.empty)
        .filter(_.getName.startsWith("_snapshot_v")).toSeq
      assert(histFiles.nonEmpty)
      val histBytes = histFiles.map(f => f.getName ->
        java.nio.file.Files.readAllBytes(f.toPath).toSeq).toMap
      val origGenFiles = histFiles.flatMap { h =>
        readSnapshotFileEntries(h).map { case (p, g) =>
          val d = new java.io.File(live, s"$p/g$g")
          (s"$p/g$g", dataFiles(d).map(_.getName).sorted)
        }
      }.toMap
      // pre-compaction committed generations hold the deployment's
      // small files — the shape compaction exists to fix
      readSnapshotEntries(live).foreach { case (p, g) =>
        val n = dataFiles(new java.io.File(live, s"$p/g$g")).size
        assert(n > 1, s"$p/g$g expected multi-file, got $n")
      }
      EventStreams.compactArtifact(spark, live)
      // (1) head content identical, layout collapsed: one
      // generation id across the artifact, one file per partition
      assert(headRows() === headBefore,
        "compaction must not change the head's rows")
      val snapAfter = readSnapshotEntries(live)
      assert(snapAfter.values.toSet.size === 1 &&
        snapAfter.values.forall(_ >= EventStreams.CompactionGenFloor))
      snapAfter.foreach { case (p, g) =>
        val n = dataFiles(new java.io.File(live, s"$p/g$g")).size
        assert(n === 1, s"$p/g$g expected 1 file after compaction, " +
          s"got $n")
      }
      // (2) retained snapshots untouched: same history bytes, same
      // original generation dirs with the same files, same as-of rows
      histFiles.foreach { f =>
        assert(java.nio.file.Files.readAllBytes(f.toPath).toSeq ===
          histBytes(f.getName),
          s"${f.getName} must not be rewritten by compaction")
      }
      origGenFiles.foreach { case (leaf, files) =>
        assert(dataFiles(new java.io.File(live, leaf))
          .map(_.getName).sorted === files,
          s"retained generation $leaf must keep its original files")
      }
      assert(asOfRows(0L) === asOf0Before,
        "as-of reads must resolve the original generations")
      // (3) the batch clock did not move — a resumed deployment
      // continues from batch 2, and its swaps pass the mixed-mode
      // guard because compaction generations live above the floor
      assert(EventStreams.lastCommittedBatch(live) === 1L)
      (2 until 5).foreach { b =>
        val stage = EventStreams.stageDirFor(live)
        (0L until 8L).flatMap(k => (0L until 4L).map(j =>
          (k, 100L * b + 10L * k + j)))
          .toDF("k", "v")
          .withColumn("bkt", pmod(col("k"), lit(4)).cast("int"))
          .repartition(4, col("v"))
          .write.partitionBy("bkt").parquet(stage)
        EventStreams.swapPartitionDirs(stage, live,
          (0 until 4).map(i => s"bkt=$i"), batchId = b.toLong)
      }
      assert(EventStreams.lastCommittedBatch(live) === 4L)
      // (4) retention rolled past both the pre-compaction and the
      // compaction generations; loop-start GC releases them — the
      // generation sprawl is gone, not just hidden
      EventStreams.recoverTornSwap(live)
      val gensLeft = Option(new java.io.File(live).listFiles())
        .getOrElse(Array.empty)
        .filter(d => d.isDirectory && d.getName.startsWith("bkt="))
        .flatMap(d => Option(d.listFiles()).getOrElse(Array.empty))
        .map(_.getName).toSet
      assert(gensLeft === Set("g2", "g3", "g4"),
        s"only the retained streaming generations may remain, got " +
          s"$gensLeft")
    } finally EventStreams.deleteRecursively(dir)
  }

  test("compactArtifact: a crash mid-rewrite leaves every committed " +
      "snapshot readable with its pre-compaction content, and " +
      "recovery at the next loop start COMPLETES the compaction") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-s31-crash").toFile
    try {
      val base = dir.getAbsolutePath
      val live = buildMultiFileArtifact(base, 2)
      def headRows(): Seq[(Long, Long)] =
        EventStreams.readCommitted(spark, live).get
          .select("k", "v").orderBy("k", "v")
          .as[(Long, Long)].collect().toSeq
      val headBefore = headRows()
      val snapBefore = readSnapshotEntries(live)
      val asOf0Before = EventStreams
        .readCommittedAsOf(spark, live, 0L).get
        .select("k", "v").orderBy("k", "v")
        .as[(Long, Long)].collect().toSeq
      // crash after the SECOND partition apply: the live tree holds
      // a mix of compacted and uncompacted partitions, the manifest
      // is still in place, the snapshot still points at the old gens
      var applied = 0
      val boom = intercept[RuntimeException](
        EventStreams.compactArtifact(spark, live,
          onPartitionApplied = _ => {
            applied += 1
            if (applied == 2) throw new RuntimeException("crash")
          }))
      assert(boom.getMessage === "crash")
      // every committed snapshot still serves its pre-crash content
      // (APPLY never touches a retained generation; the current
      // snapshot is only rewritten at COMMIT, which never ran)
      assert(readSnapshotEntries(live) === snapBefore,
        "a torn compaction must not have committed")
      assert(headRows() === headBefore)
      assert(EventStreams.readCommittedAsOf(spark, live, 0L).get
        .select("k", "v").orderBy("k", "v")
        .as[(Long, Long)].collect().toSeq === asOf0Before)
      // recovery completes the interrupted compaction from its
      // journal: same head, compacted layout, journal + stage gone
      EventStreams.recoverTornSwap(live)
      assert(headRows() === headBefore,
        "recovery must complete the rewrite without changing rows")
      val snapAfter = readSnapshotEntries(live)
      assert(snapAfter.values.toSet.size === 1 &&
        snapAfter.values.forall(_ >= EventStreams.CompactionGenFloor),
        s"recovery must land the compacted snapshot, got $snapAfter")
      assert(!new java.io.File(live, "_swap_manifest").exists())
      assert(!new java.io.File(
        EventStreams.stageDirFor(live)).exists())
    } finally EventStreams.deleteRecursively(dir)
  }

  test("s32 declared replay: the respec re-stamps the spec line, " +
      "widens the layout, and the redeployed loop's head equals " +
      "the plain s16 head") {
    val (df, (before, after)) =
      EventStreams.replayRebucketWithStats(spark, sf)
    assert(before._1 === Some(8),
      s"pre-respec spec must be the deploy's 8 buckets, got $before")
    assert(after._1 === Some(16),
      s"post-respec spec must be 16, got $after")
    assert(after._2 >= before._2 && after._2 <= 16,
      s"respec must not lose partitions: $before -> $after")
    val (headDf, _) =
      EventStreams.replayChangelogCompactWithStats(spark, sf)
    assert(df.orderBy("user_id").collect().toSeq ===
      headDf.orderBy("user_id").collect().toSeq,
      "the rebucketed-then-resumed head must equal the plain s16 head")
  }

  test("rebucketArtifact: the head survives both respec directions " +
      "byte-equal, retained as-of reads keep the OLD layout, a " +
      "mismatched redeploy refuses loudly, and a matching one " +
      "resumes on the new layout") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val dir = java.nio.file.Files
      .createTempDirectory("graft-s32-fmt").toFile
    try {
      val base = dir.getAbsolutePath
      val srcDir = s"$base/incoming"
      new java.io.File(srcDir).mkdirs()
      val schema = StructType(Seq(StructField("k", LongType),
        StructField("v", LongType)))
      val t0 = System.currentTimeMillis() - 3600L * 1000
      def stageBatch(i: Int): Unit = {
        val stage = s"$base/in$i"
        (0L until 8L).map(k => (k, k * 10 + i + 1)).toDF("k", "v")
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
      (0 until 3).foreach(stageBatch)
      def agg(df: DataFrame): DataFrame =
        df.groupBy("k").agg(sum("v").as("v"))
      val merge = EventStreams.ArtifactMerge("k", sum("v").as("v"))
      def run(n: Int): Unit = {
        EventStreams.runArtifactMergeLoop(spark, base, srcDir,
          schema, nBuckets = n)(agg, merge)
        ()
      }
      run(4)
      val state = s"$base/state"
      def rows(df: DataFrame): Seq[(Long, Long)] =
        df.select("k", "v").orderBy("k")
          .as[(Long, Long)].collect().toSeq
      def headRows(): Seq[(Long, Long)] =
        rows(EventStreams.readCommitted(spark, state).get)
      def through(j: Int): Seq[(Long, Long)] =
        (0L until 8L).map(k =>
          (k, (j + 1) * 10 * k + (j + 1).toLong * (j + 2) / 2))
      assert(EventStreams.readSnapshot(state).flatMap(_.spec) === Some(4),
        "every bucketed commit must stamp its layout")
      val head0 = headRows()
      assert(head0 === through(2))
      val asOf1 = rows(EventStreams
        .readCommittedAsOf(spark, state, 1L).get)
      val histFiles = Option(new java.io.File(state).listFiles())
        .getOrElse(Array.empty)
        .filter(_.getName.startsWith("_snapshot_v")).toSeq
      val histBytes = histFiles.map(f => f.getName ->
        java.nio.file.Files.readAllBytes(f.toPath).toSeq).toMap
      // GROW 4 → 8
      EventStreams.rebucketArtifact(spark, state, "k", 8,
        lockBase = Some(base))
      assert(EventStreams.readSnapshot(state).flatMap(_.spec) === Some(8))
      assert(headRows() === head0,
        "a respec moves rows, never changes them")
      histFiles.foreach(f => assert(
        java.nio.file.Files.readAllBytes(f.toPath).toSeq ===
          histBytes(f.getName),
        s"${f.getName} must not be rewritten by a respec"))
      assert(rows(EventStreams
        .readCommittedAsOf(spark, state, 1L).get) === asOf1,
        "retained as-of reads must keep serving the OLD layout")
      // a redeploy still configured with the old count REFUSES
      val boom = intercept[IllegalStateException](run(4))
      assert(boom.getMessage.contains("spec") &&
        boom.getMessage.contains("nBuckets=4") &&
        boom.getMessage.contains("rebucketArtifact"),
        s"unexpected message: ${boom.getMessage}")
      // ...and a matching redeploy resumes ON the new layout: one
      // more batch merges correctly through the 8-bucket routing
      stageBatch(3)
      run(8)
      assert(headRows() === through(3),
        "the resumed loop must merge correctly on the new layout")
      // SHRINK 8 → 2: orphaned partitions leave the snapshot
      EventStreams.rebucketArtifact(spark, state, "k", 2,
        lockBase = Some(base))
      assert(EventStreams.readSnapshot(state).flatMap(_.spec) === Some(2))
      val snapParts = readSnapshotEntries(state).keySet
      assert(snapParts.subsetOf(Set("bkt=0", "bkt=1")) &&
        snapParts.nonEmpty,
        s"shrunk snapshot must hold only the 2-spec buckets, got " +
          s"$snapParts")
      assert(headRows() === through(3),
        "the shrink direction must preserve every row too")
    } finally EventStreams.deleteRecursively(dir)
  }

  test("s33 declared replay: the manifest is exactly the retained " +
      "window (last retention+1 batches), ordered, with prefix-" +
      "monotone footer counts and at least one footer per snapshot") {
    val (df, (snaps, nFiles)) =
      EventStreams.replayArtifactManifestWithStats(spark, sf)
    val rows = df.collect().map(r => (r.getLong(0), r.getLong(1)))
    val expect = ((9L - EventStreams.SnapshotHistoryRetention)
      to 9L).toSeq
    assert(snaps === expect,
      s"retained snapshot set must be $expect, got $snaps")
    assert(rows.map(_._1).toSeq === expect,
      "one manifest row per retained snapshot, ordered")
    val counts = rows.map(_._2)
    assert(counts.forall(_ > 0))
    assert(counts.zip(counts.tail).forall(p => p._1 <= p._2),
      s"prefix state can only grow, got ${counts.toSeq}")
    assert(nFiles >= rows.length,
      "every snapshot resolves at least one footer")
  }

  test("manifestFromFooters: footer counts equal the as-of data " +
      "scans for every retained snapshot (counts chosen to differ " +
      "per snapshot, so a wrong generation resolve cannot hide), " +
      "and a compaction rewrites the head without changing one " +
      "manifest number") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-s33-fmt").toFile
    try {
      val base = dir.getAbsolutePath
      val live = s"$base/state"
      // batch b replaces every partition with 8 × (b+1) rows — each
      // snapshot has a DIFFERENT total, so footer-vs-scan equality
      // below is a per-snapshot identity, not a shared constant
      (0 until 3).foreach { b =>
        val stage = EventStreams.stageDirFor(live)
        (0 to b).foreach { j =>
          (0L until 8L).map(k => (k, 100L * b + 10L * k + j))
            .toDF("k", "v")
            .withColumn("bkt", pmod(col("k"), lit(4)).cast("int"))
            .coalesce(1)
            .write.mode("append").partitionBy("bkt").parquet(stage)
        }
        EventStreams.swapPartitionDirs(stage, live,
          (0 until 4).map(i => s"bkt=$i"), batchId = b.toLong)
      }
      val (m1, snaps1, files1) =
        EventStreams.manifestFromFooters(spark, live)
      val rows1 = m1.collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(snaps1 === Seq(0L, 1L, 2L))
      assert(rows1.map(_._2) === Seq(8L, 16L, 24L),
        s"per-snapshot totals must differ by design, got $rows1")
      rows1.foreach { case (b, n) =>
        assert(n === EventStreams
          .readCommittedAsOf(spark, live, b).get.count(),
          s"footer count for snapshot $b must equal the data scan")
      }
      val snapBefore = readSnapshotEntries(live)
      EventStreams.compactArtifact(spark, live)
      assert(readSnapshotEntries(live) !== snapBefore,
        "the compaction must have moved the head's generations")
      val (m2, snaps2, files2) =
        EventStreams.manifestFromFooters(spark, live)
      val rows2 = m2.collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(rows2 === rows1 && snaps2 === snaps1 &&
        files2 === files1,
        "the manifest is a statement about RETAINED snapshots — a " +
          "head rewrite (batchId = -1, no history commit) must not " +
          "change a row, an id, or a footer of it")
    } finally EventStreams.deleteRecursively(dir)
  }

  test("s26 pruned read: a version diff scans ONLY the bucket " +
      "partitions whose generation changed between the two " +
      "snapshots — a final batch touching one bucket yields a " +
      "one-partition diff no matter how many buckets exist") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.{col, pmod, xxhash64, sum}
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val dir = java.nio.file.Files
      .createTempDirectory("graft-vdiff").toFile
    try {
      val base = dir.getAbsolutePath
      val srcDir = s"$base/incoming"
      new java.io.File(srcDir).mkdirs()
      val schema = StructType(Seq(StructField("k", LongType),
        StructField("v", LongType)))
      // the loop's bucket rule: bkt = pmod(xxhash64(k), 4)
      val bktOf = (0L until 16L).toDF("k")
        .select(col("k"), pmod(xxhash64(col("k")), lit(4)).as("b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val oneBucket = bktOf.collect {
        case (k, b) if b == bktOf(0L) => k }.toSeq.sorted
      assert(oneBucket.size > 1 && oneBucket.size < 16,
        s"fixture needs a proper bucket subset, got $oneBucket")
      // batches 0-2 touch all 16 keys; batch 3 ONLY bucket
      // bktOf(0)'s keys
      val t0 = System.currentTimeMillis() - 3600L * 1000
      val batches: Seq[Seq[Long]] = Seq(
        (0L until 16L).toSeq, (0L until 16L).toSeq,
        (0L until 16L).toSeq, oneBucket)
      batches.zipWithIndex.foreach { case (ks, i) =>
        val stage = s"$base/in$i"
        ks.map(k => (k, k * 10 + i + 1)).toDF("k", "v")
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
      def agg(df: DataFrame): DataFrame =
        df.groupBy("k").agg(sum("v").as("v"))
      EventStreams.runArtifactMergeLoop(spark, base, srcDir, schema,
        nBuckets = 4)(
        agg, EventStreams.ArtifactMerge("k", sum("v").as("v")))
      val state = s"$base/state"
      assert(EventStreams.lastCommittedBatch(state) === 3L)
      val (oldSide, newSide, changed) =
        EventStreams.readVersionDiff(spark, state, 2L, 3L)
      // ONE changed partition out of four — the other three buckets
      // kept their generation and are never scanned
      assert(changed === Seq(s"bkt=${bktOf(0L)}"),
        s"changed partitions: $changed")
      // both sides hold exactly that bucket's keys, and the diff
      // (merge only adds) is exactly batch 3's contribution
      val oldKeys = oldSide.get.select("k").as[Long].collect().sorted
      val newKeys = newSide.get.select("k").as[Long].collect().sorted
      assert(oldKeys.toSeq === oneBucket)
      assert(newKeys.toSeq === oneBucket)
      val grown = newSide.get.select(col("k"), col("v"))
        .as[(Long, Long)].collect().toMap
      val prior = oldSide.get.select(col("k"), col("v"))
        .as[(Long, Long)].collect().toMap
      oneBucket.foreach { k =>
        assert(grown(k) - prior(k) === k * 10 + 4,
          s"key $k must have gained exactly batch 3's value")
      }
    } finally EventStreams.deleteRecursively(dir)
  }

  test("readVersionDiff surfaces a bare-DELETED partition on the " +
      "old side only — the removed class is recoverable from the " +
      "generic diff API even though the compaction readout never " +
      "produces one") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-vdiff-del").toFile
    try {
      val base = dir.getAbsolutePath
      val live = s"$base/state"
      // batch 0 commits two buckets
      val stage0 = s"$base/stage0"
      Seq((0L, 10L, 0), (1L, 20L, 1)).toDF("k", "v", "bkt")
        .write.partitionBy("bkt").parquet(stage0)
      EventStreams.swapPartitionDirs(stage0, live,
        Seq("bkt=0", "bkt=1"), 0L)
      // batch 1 bare-deletes bkt=0 (touched, nothing staged)
      val stage1 = s"$base/stage1"
      new java.io.File(stage1).mkdirs()
      EventStreams.swapPartitionDirs(stage1, live, Seq("bkt=0"), 1L)
      val (oldSide, newSide, changed) =
        EventStreams.readVersionDiff(spark, live, 0L, 1L)
      assert(changed === Seq("bkt=0"))
      assert(oldSide.get.select("k").as[Long].collect().toSeq ===
        Seq(0L))
      assert(newSide.isEmpty,
        "the deleted partition must not read on the new side")
      // and the head read serves only the surviving bucket
      val head = EventStreams.readCommitted(spark, live).get
      assert(head.select("k").as[Long].collect().toSeq === Seq(1L))
    } finally EventStreams.deleteRecursively(dir)
  }

  test("merge-loop concurrent-reader stress: a reader thread " +
      "hammering readCommitted during the whole loop only ever " +
      "sees COMMITTED artifact versions, in monotonic order, with " +
      "no failed reads") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val dir = java.nio.file.Files
      .createTempDirectory("graft-reader-stress").toFile
    try {
      val base = dir.getAbsolutePath
      val srcDir = s"$base/incoming"
      new java.io.File(srcDir).mkdirs()
      val schema = StructType(Seq(StructField("k", LongType),
        StructField("v", LongType)))
      val t0 = System.currentTimeMillis() - 3600L * 1000
      val nBatches = 6
      (0 until nBatches).foreach { i =>
        val stage = s"$base/in$i"
        (0L until 8L).map(k => (k, k * 10 + i + 1)).toDF("k", "v")
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
      def agg(df: DataFrame): DataFrame =
        df.groupBy("k").agg(sum("v").as("v"))
      val merge = EventStreams.ArtifactMerge("k", sum("v").as("v"))
      def through(j: Int): Seq[(Long, Long)] =
        (0L until 8L).map(k =>
          (k, (j + 1) * 10 * k + (j + 1).toLong * (j + 2) / 2))
      val versions = (0 until nBatches)
        .map(j => through(j) -> j).toMap
      val state = s"$base/state"
      val seen = scala.collection.mutable.ListBuffer[Int]()
      @volatile var readFailure: Option[Throwable] = None
      @volatile var running = true
      val reader = new Thread(() => {
        while (running && readFailure.isEmpty) {
          try {
            EventStreams.readCommitted(spark, state).foreach { df =>
              val got = df.select("k", "v").orderBy("k")
                .as[(Long, Long)].collect().toSeq
              versions.get(got) match {
                case Some(j) => seen.synchronized { seen += j; () }
                case None => readFailure = Some(
                  new AssertionError(
                    s"read a non-committed artifact state: $got"))
              }
            }
          } catch {
            case t: Throwable => readFailure = Some(t)
          }
        }
      })
      reader.start()
      try
        EventStreams.runArtifactMergeLoop(spark, base, srcDir,
          schema, nBuckets = 4)(agg, merge)
      finally { running = false; reader.join() }
      readFailure.foreach(t => fail(
        s"concurrent reader failed: ${t.getMessage}", t))
      val observed = seen.synchronized(seen.toList)
      assert(observed.nonEmpty,
        "the reader must have completed reads during the loop")
      assert(observed === observed.sorted,
        s"committed reads must be monotonic, got $observed")
    } finally EventStreams.deleteRecursively(dir)
  }

  test("merge-loop resume: a second invocation on the same base " +
      "continues from the committed artifact instead of restarting " +
      "the merge at zero") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val dir = java.nio.file.Files
      .createTempDirectory("graft-merge-resume").toFile
    try {
      val base = dir.getAbsolutePath
      val srcDir = s"$base/incoming"
      new java.io.File(srcDir).mkdirs()
      val schema = StructType(Seq(StructField("k", LongType),
        StructField("v", LongType)))
      val t0 = System.currentTimeMillis() - 3600L * 1000
      def stageBatch(i: Int): Unit = {
        val stage = s"$base/in$i"
        (0L until 8L).map(k => (k, k * 10 + i + 1)).toDF("k", "v")
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
      def agg(df: DataFrame): DataFrame =
        df.groupBy("k").agg(sum("v").as("v"))
      val merge = EventStreams.ArtifactMerge("k", sum("v").as("v"))
      (0 until 2).foreach(stageBatch)
      // one bucket: every batch rewrites the whole artifact (s21's
      // shape)
      val (a1, _) = EventStreams.runArtifactMergeLoop(spark, base,
        srcDir, schema, nBuckets = 1)(agg, merge)
      assert(a1.get.orderBy("k").as[(Long, Long)].collect().toSeq ===
        (0L until 8L).map(k => (k, 20 * k + 3)))
      // two more files arrive; the re-invoked loop must merge into
      // the committed artifact (a restart at zero would leave only
      // batches 2 and 3 in the state)
      (2 until 4).foreach(stageBatch)
      val (a2, _) = EventStreams.runArtifactMergeLoop(spark, base,
        srcDir, schema, nBuckets = 1)(agg, merge)
      assert(a2.get.orderBy("k").as[(Long, Long)].collect().toSeq ===
        (0L until 8L).map(k => (k, 40 * k + 10)),
        "resumed chain must carry the first run's merges")
    } finally EventStreams.deleteRecursively(dir)
  }

  test("merge-loop single-writer guard: a second loop on a base " +
      "whose writer lock is held refuses to start, and the lock " +
      "releases cleanly for the next run (VERDICT r14 item 3)") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val dir = java.nio.file.Files
      .createTempDirectory("graft-writer-lock").toFile
    try {
      val base = dir.getAbsolutePath
      val srcDir = s"$base/incoming"
      new java.io.File(srcDir).mkdirs()
      val schema = StructType(Seq(StructField("k", LongType),
        StructField("v", LongType)))
      val stage = s"$base/in0"
      (0L until 4L).map(k => (k, k + 1)).toDF("k", "v")
        .coalesce(1).write.parquet(stage)
      new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).headOption
        .foreach { f =>
          java.nio.file.Files.move(f.toPath,
            new java.io.File(srcDir, "b00.parquet").toPath)
          ()
        }
      def agg(df: DataFrame): DataFrame =
        df.groupBy("k").agg(sum("v").as("v"))
      val merge = EventStreams.ArtifactMerge("k", sum("v").as("v"))
      // another loop owns the base: this one must fail FAST (before
      // recovery, staging, or any stream start) with a message that
      // names the conflict
      val held = EventStreams.acquireWriterLock(base)
      val boom = intercept[IllegalStateException] {
        EventStreams.runArtifactMergeLoop(spark, base, srcDir,
          schema, nBuckets = 4)(agg, merge)
      }
      assert(boom.getMessage.contains("single-writer"),
        s"unexpected message: ${boom.getMessage}")
      assert(Option(new java.io.File(s"$base/state").listFiles())
        .getOrElse(Array.empty).isEmpty,
        "the refused loop must not have touched the artifact")
      held.close()
      // with the lock released, the same call runs to completion —
      // i.e. a finished (or crashed — the OS drops a dead process's
      // lock) run never blocks its successor
      val (artifact, _) = EventStreams.runArtifactMergeLoop(spark,
        base, srcDir, schema, nBuckets = 4)(agg, merge)
      assert(artifact.get.orderBy("k").as[(Long, Long)]
        .collect().toSeq === (0L until 4L).map(k => (k, k + 1)))
    } finally EventStreams.deleteRecursively(dir)
  }

  test("merge-loop lifecycle guard: a checkpoint reset against a " +
      "stale artifact base fails loudly instead of silently " +
      "skipping every replayed batch (ADVICE r14)") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ckpt-reset").toFile
    try {
      val base = dir.getAbsolutePath
      val srcDir = s"$base/incoming"
      new java.io.File(srcDir).mkdirs()
      val schema = StructType(Seq(StructField("k", LongType),
        StructField("v", LongType)))
      val t0 = System.currentTimeMillis() - 3600L * 1000
      (0 until 2).foreach { i =>
        val stage = s"$base/in$i"
        (0L until 4L).map(k => (k, k * 10 + i + 1)).toDF("k", "v")
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
      def agg(df: DataFrame): DataFrame =
        df.groupBy("k").agg(sum("v").as("v"))
      val merge = EventStreams.ArtifactMerge("k", sum("v").as("v"))
      // a clean 2-batch run commits the artifact through batch 1
      EventStreams.runArtifactMergeLoop(spark, base, srcDir, schema,
        nBuckets = 4)(agg, merge)
      assert(EventStreams.lastCommittedBatch(s"$base/state") === 1L)
      // the ckpt dir ALONE is deleted — batch ids restart at 0
      // against a marker that says batch 1 committed. Every replayed
      // batch would sit at-or-below the stale mark and be silently
      // dropped; the guard turns that into a diagnosable failure.
      EventStreams.deleteRecursively(new java.io.File(s"$base/ckpt"))
      val boom = intercept[Exception] {
        EventStreams.runArtifactMergeLoop(spark, base, srcDir, schema,
          nBuckets = 4)(agg, merge)
      }
      val chain = Iterator.iterate(boom: Throwable)(_.getCause)
        .takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
      assert(chain.contains("checkpoint was reset"),
        s"expected the lifecycle-mismatch failure, got:\n$chain")
      // an EMPTY batch 0 must not slip past the guard (review r15:
      // the check used to sit inside the isEmpty gate, and no later
      // batch carries id 0)
      val base3 = s"$base/empty0"
      val src3 = s"$base3/incoming"
      new java.io.File(src3).mkdirs()
      val t1 = System.currentTimeMillis() - 3600L * 1000
      Seq("b00" -> spark.emptyDataset[(Long, Long)].toDF("k", "v"),
          "b01" -> (0L until 4L).map(k => (k, k + 1)).toDF("k", "v"))
        .zipWithIndex.foreach { case ((name, df), i) =>
          val stage = s"$base3/in$i"
          df.coalesce(1).write.parquet(stage)
          new java.io.File(stage).listFiles()
            .filter(_.getName.endsWith(".parquet")).headOption
            .foreach { f =>
              val dst = new java.io.File(src3, s"$name.parquet")
              java.nio.file.Files.move(f.toPath, dst.toPath)
              dst.setLastModified(t1 + i * 60000L)
              ()
            }
        }
      EventStreams.runArtifactMergeLoop(spark, base3, src3, schema,
        nBuckets = 4)(agg, merge)
      assert(EventStreams.lastCommittedBatch(s"$base3/state") === 1L)
      EventStreams.deleteRecursively(new java.io.File(s"$base3/ckpt"))
      val boom3 = intercept[Exception] {
        EventStreams.runArtifactMergeLoop(spark, base3, src3, schema,
          nBuckets = 4)(agg, merge)
      }
      val chain3 = Iterator.iterate(boom3: Throwable)(_.getCause)
        .takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
      assert(chain3.contains("checkpoint was reset"),
        "an empty batch 0 bypassed the reset guard — expected the " +
          s"lifecycle-mismatch failure, got:\n$chain3")
      // the REVERSE split (review r15): the state dir alone is
      // deleted against a live checkpoint. The engine never replays
      // checkpointed batches, so without the sentinel the loop would
      // silently rebuild an incomplete artifact from nothing; the
      // expected-commit sentinel beside the checkpoint survives the
      // state deletion and fails the run at loop start.
      val base4 = s"$base/staterot"
      val src4 = s"$base4/incoming"
      new java.io.File(src4).mkdirs()
      (0 until 2).foreach { i =>
        java.nio.file.Files.copy(
          new java.io.File(srcDir, f"b$i%02d.parquet").toPath,
          new java.io.File(src4, f"b$i%02d.parquet").toPath)
        ()
      }
      EventStreams.runArtifactMergeLoop(spark, base4, src4, schema,
        nBuckets = 4)(agg, merge)
      assert(EventStreams.expectedCommit(base4) === 1L,
        "every commit must advance the sentinel")
      EventStreams.deleteRecursively(new java.io.File(s"$base4/state"))
      val boom4 = intercept[IllegalStateException] {
        EventStreams.runArtifactMergeLoop(spark, base4, src4, schema,
          nBuckets = 4)(agg, merge)
      }
      assert(boom4.getMessage.contains("reset against a live"),
        s"expected the state-loss failure, got: ${boom4.getMessage}")
    } finally EventStreams.deleteRecursively(dir)
  }

  test("recoverTornSwap: a corrupted manifest fails diagnosably — " +
      "naming the manifest path and the offending line — instead of " +
      "an opaque parse error blocking restart (ADVICE r14)") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-bad-manifest").toFile
    try {
      val live = new java.io.File(dir, "state")
      live.mkdirs()
      val manifest = new java.io.File(live,
        EventStreams.SwapManifestName)
      def check(body: String, wantInMsg: String): Unit = {
        java.nio.file.Files.write(manifest.toPath, body.getBytes(
          java.nio.charset.StandardCharsets.UTF_8))
        val e = intercept[IllegalStateException] {
          EventStreams.recoverTornSwap(live.getAbsolutePath)
        }
        assert(e.getMessage.contains(manifest.getAbsolutePath),
          s"message must name the manifest: ${e.getMessage}")
        assert(e.getMessage.contains(wantInMsg),
          s"message must name the offending content: ${e.getMessage}")
      }
      check("", "stage=")
      check("garbage first line\nbatch=1", "garbage first line")
      check("stage=/tmp/x\nbatch=notanumber", "batch=notanumber")
      check("stage=/tmp/x\nbatch=1\npart=bkt=0", "part=bkt=0")
      check("stage=/tmp/x\nbatch=1\npart=bkt=0\tstaged=weird",
        "staged=weird")
      // every swap journals its generation: a manifest without one
      // is corrupted like any other
      check("stage=/tmp/x\nbatch=1\npart=bkt=0\tstaged=1", "gen=")
      // the whole manifest is validated BEFORE the first apply: a
      // malformed line AFTER a valid one must leave the valid line's
      // live partition untouched (r15 review — apply-then-throw
      // would leave a half-swapped artifact while claiming nothing
      // was mutated)
      val stage = new java.io.File(dir, "state-stage")
      new java.io.File(stage, "bkt=0").mkdirs()
      val livePart = new java.io.File(live, "bkt=0")
      livePart.mkdirs()
      val keep = new java.io.File(livePart, "keep.parquet")
      java.nio.file.Files.write(keep.toPath, Array[Byte](1))
      check(s"stage=${stage.getAbsolutePath}\nbatch=1\n" +
        "part=bkt=0\tstaged=1\npart=bkt=1 staged", "part=bkt=1")
      assert(keep.isFile,
        "a manifest rejected during validation must mutate nothing")
    } finally EventStreams.deleteRecursively(dir)
  }

  test("readCommitted on a fresh artifact whose first swap is " +
      "mid-APPLY returns None: nothing is committed until the " +
      "snapshot is") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft-structural").toFile
    def put(f: java.io.File, s: String): Unit = {
      f.getParentFile.mkdirs()
      java.nio.file.Files.write(f.toPath, s.getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
      ()
    }
    try {
      // manifest present, partitions hold only generation dirs, no
      // snapshot yet — None (not an error) is the contract the
      // concurrent-reader stress test relies on
      val fresh = s"${root.getAbsolutePath}/fresh"
      Seq((9L, 0)).toDF("k", "bkt").repartition(col("bkt"))
        .write.partitionBy("bkt").parquet(fresh)
      val g = new java.io.File(fresh, "bkt=0/g0")
      g.mkdirs()
      Option(new java.io.File(fresh, "bkt=0").listFiles())
        .getOrElse(Array.empty).filter(_.isFile)
        .foreach(f => java.nio.file.Files.move(f.toPath,
          new java.io.File(g, f.getName).toPath))
      put(new java.io.File(fresh, EventStreams.SwapManifestName),
        s"stage=${EventStreams.stageDirFor(fresh)}\nbatch=0\n" +
          "gen=0\npart=bkt=0\tstaged=1")
      assert(EventStreams.readCommitted(spark, fresh).isEmpty)
    } finally EventStreams.deleteRecursively(root)
  }

  test("swap protocol sweep: from a crash at EVERY point of " +
      "PREPARE→APPLY→COMMIT, recovery converges to the committed " +
      "state, and recovery itself is idempotent") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-swap-sweep").toFile
    def put(f: java.io.File, s: String): Unit = {
      f.getParentFile.mkdirs()
      java.nio.file.Files.write(f.toPath, s.getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
      ()
    }
    def read(f: java.io.File): String = new String(
      java.nio.file.Files.readAllBytes(f.toPath),
      java.nio.charset.StandardCharsets.UTF_8)
    // the committed state: bkt=0/1 replaced, bkt=2 evicted (touched
    // with nothing staged), marker advanced 6 → 7, journal and stage
    // dir gone. The swap machinery never reads the payload bytes, so
    // plain files stand in for parquet partitions and the whole
    // sweep runs as pure-FS cases.
    def setup(name: String): String = {
      val live = new java.io.File(root, s"$name/state")
      val stage = new java.io.File(EventStreams.stageDirFor(
        live.getAbsolutePath))
      // the prior version, committed as generation 0 by a
      // non-streaming swap (no history snapshot pins it)
      Seq("0" -> "old0", "1" -> "old1", "2" -> "old2").foreach {
        case (b, v) => put(new java.io.File(stage, s"bkt=$b/d.parquet"), v)
      }
      EventStreams.swapPartitionDirs(stage.getAbsolutePath,
        live.getAbsolutePath, Seq.empty, batchId = -1L,
        genOverride = Some(0L))
      put(new java.io.File(live, EventStreams.CommitMarkerName), "6")
      put(new java.io.File(stage, "bkt=0/d.parquet"), "new0")
      put(new java.io.File(stage, "bkt=1/d.parquet"), "new1")
      live.getAbsolutePath
    }
    // resolve a partition's data file the way a reader does: through
    // the committed snapshot's generation entry
    def committedFile(live: String, part: String): java.io.File = {
      val gen = EventStreams.readSnapshot(live)
        .flatMap(_.entries.get(part))
        .getOrElse(fail(s"$part missing from the snapshot of $live"))
      new java.io.File(live, s"$part/g$gen/d.parquet")
    }
    def assertCommitted(live: String, label: String): Unit = {
      assert(read(committedFile(live, "bkt=0")) == "new0"
          && read(committedFile(live, "bkt=1")) == "new1",
        s"$label: replaced partitions must hold the new version")
      assert(!EventStreams.readSnapshot(live).get.entries
        .contains("bkt=2"),
        s"$label: the evicted partition must leave the snapshot")
      assert(!new java.io.File(live, "bkt=2").exists(),
        s"$label: the evicted partition must be gone after " +
          "recovery's GC")
      assert(EventStreams.lastCommittedBatch(live) === 7L,
        s"$label: the marker must record the swapped batch")
      assert(!new java.io.File(live,
        EventStreams.SwapManifestName).exists(), s"$label: manifest")
      assert(!new java.io.File(EventStreams.stageDirFor(live)).exists(),
        s"$label: stage dir")
    }
    val touched = Seq("bkt=0", "bkt=1", "bkt=2")
    try {
      // point 0 — crash after PREPARE, before the first apply: the
      // journal (in its documented format) is on disk, nothing moved
      val live0 = setup("p0")
      put(new java.io.File(live0, EventStreams.SwapManifestName),
        s"stage=${EventStreams.stageDirFor(live0)}\nbatch=7\ngen=7\n" +
          "part=bkt=0\tstaged=1\npart=bkt=1\tstaged=1\n" +
          "part=bkt=2\tstaged=0")
      EventStreams.recoverTornSwap(live0)
      assertCommitted(live0, "crash after PREPARE")
      // points 1..3 — crash after the nth partition apply (n=3 is
      // after the last apply, before COMMIT writes the marker)
      (1 to 3).foreach { n =>
        val live = setup(s"p$n")
        var applied = 0
        intercept[RuntimeException] {
          EventStreams.swapPartitionDirs(
            EventStreams.stageDirFor(live), live, touched,
            batchId = 7L, onPartitionApplied = _ => {
              applied += 1
              if (applied == n) throw new RuntimeException("boom")
            })
        }
        assert(EventStreams.lastCommittedBatch(live) === 6L,
          s"mid-APPLY($n): the marker must still name the pre-swap " +
            "batch (the torn batch is NOT yet claimed committed)")
        EventStreams.recoverTornSwap(live)
        assertCommitted(live, s"crash after $n applies")
        EventStreams.recoverTornSwap(live) // and again: idempotent
        assertCommitted(live, s"re-recovery after $n applies")
      }
      // point 4 — crash after the marker write, before the manifest
      // delete: every staged dir is consumed, the journal lingers;
      // recovery must take the already-applied branch for all parts
      val live4 = setup("p4")
      EventStreams.swapPartitionDirs(
        EventStreams.stageDirFor(live4), live4, touched, batchId = 7L)
      put(new java.io.File(live4, EventStreams.SwapManifestName),
        s"stage=${EventStreams.stageDirFor(live4)}\nbatch=7\ngen=7\n" +
          "part=bkt=0\tstaged=1\npart=bkt=1\tstaged=1\n" +
          "part=bkt=2\tstaged=0")
      EventStreams.recoverTornSwap(live4)
      assertCommitted(live4, "crash between COMMIT's marker and " +
        "manifest delete")
      // point 5 — crash between the manifest delete and the stage-dir
      // delete: no journal, a stray (already-consumed) stage dir
      val live5 = setup("p5")
      EventStreams.swapPartitionDirs(
        EventStreams.stageDirFor(live5), live5, touched, batchId = 7L)
      new java.io.File(EventStreams.stageDirFor(live5)).mkdirs()
      EventStreams.recoverTornSwap(live5)
      assertCommitted(live5, "crash between COMMIT's two deletes")
    } finally EventStreams.deleteRecursively(root)
  }
}
