package graft

import graft.queries.Relational
import org.apache.spark.sql.functions.{col, count, lit}

/** Physical-plan quality gates (builder prompt: "explain the plan and
  * iterate until it's the plan you'd want"). These assert the
  * scale-critical plan properties hold, so a regression that silently
  * drops a pushdown or broadcasts the wrong side fails CI.
  */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf)
      .queryExecution.executedPlan.toString

  test("m01/m03/m04/m05/m06/m07: real-format decode plans are " +
      "map-side — one presentation-sort exchange, no join or " +
      "aggregation shuffle") {
    Seq("m01_media_meta", "m03_frame_sample", "m04_audio_stats",
      "m05_image_stats", "m06_video_frame_stats", "m07_resize",
      "m08_audio_resample", "m09_crop", "m10_mixdown_mono",
      "m11_video_trim", "m12_normalize_peak", "m14_grayscale")
      .foreach { q =>
        val p = plan(q)
        // encode → decode → stats all stay inside the row (m03's frame
        // explode is a Generate, row-multiplying but shuffle-free): the
        // ONLY exchange allowed is the rangepartitioning of the final
        // orderBy. A hash exchange would mean a decode stage leaked
        // into a shuffle (the 100 TB anti-shape for per-blob work).
        val exchanges = "Exchange ".r.findAllIn(p).length
        assert(exchanges == 1, s"$q: expected 1 exchange, got " +
          s"$exchanges:\n$p")
        assert(p.contains("Exchange rangepartitioning"),
          s"$q: sole exchange must be the presentation sort:\n$p")
        assert(!p.contains("hashpartitioning"),
          s"$q: per-blob decode must not shuffle:\n$p")
      }
  }

  test("q54: the shard layout is ONE hash exchange on the shard key " +
      "plus an in-partition sort — every row moves at most once, " +
      "nothing materializes on the driver") {
    val df = Relational.shardLayoutOf(Tables.documents(spark, sf))
    val p = df.queryExecution.executedPlan.toString
    val exchanges = "Exchange ".r.findAllIn(p).length
    assert(exchanges == 1,
      s"expected exactly 1 exchange, got $exchanges:\n$p")
    assert(p.contains("hashpartitioning(shard"),
      s"the sole exchange must partition by the shard key:\n$p")
    assert(!p.contains("rangepartitioning"),
      s"the sort must stay within partitions (no global sort):\n$p")
  }

  test("v12: integer IVF probes via a broadcast cell join, prunes " +
      "top-1 before the qid shuffle, and pushes the query-set filter " +
      "into the scan") {
    val p = plan("v12_ann_ivf_int")
    // the corpus side must STREAM through the cell join (queries ×
    // probed cells broadcast) — a shuffle of the corpus on cell, or
    // any non-equi join, would be the wrong 100 TB shape
    assert(p.contains("BroadcastHashJoin [cell"),
      s"cell join must broadcast the probe side:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"all-pairs join in integer IVF:\n$p")
    // rank-1 selection must prune map-side before the qid exchange
    assert(p.contains("WindowGroupLimit"),
      s"top-1 window not partially evaluated before the shuffle:\n$p")
    assert(p.contains("LessThan(vec_id,50)"),
      s"query-set filter not pushed into the parquet scan:\n$p")
  }

  test("v24: the serve plan reads the graph artifact ONCE, " +
      "partition-pruned to the queries' cells; the walk itself adds " +
      "no corpus shuffle beyond the single cell grouping") {
    val df = SparkEntry.queries("v24_graph_beam_serve")(spark, sf)
    val inner = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive
          .AdaptiveSparkPlanExec => a.inputPlan
      case other => other
    }
    val scans = inner.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    // ONE pruned artifact read: the stored node+adjacency artifact is
    // the plan's only file source (queries were resolved driver-side,
    // bounded), and its scan selects at most one cell partition per
    // query instead of the whole graph
    assert(scans.length === 1,
      s"expected exactly one file scan, got ${scans.length}:\n$inner")
    assert(scans.head.relation.location.rootPaths
      .exists(_.toString.contains("knn_graph_adj")),
      s"the sole scan must read the serve artifact:\n$inner")
    val pruned = scans.head.selectedPartitions.partitionCount
    assert(pruned >= 1 && pruned <= 3,
      s"scan must touch at most one cell per query (3 queries), " +
        s"read $pruned partitions:\n$inner")
    val p = inner.toString
    assert(p.contains("PartitionFilters: [cell") && p.contains(" IN ("),
      s"cell pruning must land in PartitionFilters:\n$p")
    // the search is in-memory per cell group: at most one hash
    // exchange (the groupByKey on cell — elided entirely when the
    // pruned read is already narrow enough) and no join of any kind
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 1,
      s"the walk must not shuffle beyond the cell grouping:\n$p")
    assert(!p.contains("Join"),
      s"the serve path must not join — adjacency is co-located:\n$p")
  }

  test("t47: fuzzy-resolution candidates come from the two block-key " +
      "equi-joins — no all-pairs join, best-match top-1 pruned " +
      "before the final pick") {
    val p = plan("t47_fuzzy_resolve")
    // entity resolution degrades to a cross join the moment blocking
    // is lost to a plan change — the gate that keeps the 100 TB
    // shape honest (refinement cost must stay inside candidate
    // blocks)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"all-pairs join in fuzzy resolution:\n$p")
    // the (distance, clean_id) pick must partially evaluate before
    // the dirty_id exchange
    assert(p.contains("WindowGroupLimit"),
      s"best-match top-1 not partially evaluated:\n$p")
    // hot-block skew defense (review r15): the candidate joins must
    // key on the COMPOSITE (block, length-band) — length as a mere
    // post-join filter would leave a zipfian-hot prefix on a single
    // shuffle key, single-task and quadratic in the block size
    assert(p.contains("blen"),
      s"length band missing from the candidate join keys:\n$p")
    // hot-cell escalation (review r16): the candidate joins must key
    // on the ROUTED bkey (3-char key for cold cells, 4- or 5-char
    // for hot ones) so a prefix-AND-length-concentrated cell splits
    // at the 4th/5th character instead of landing on one shuffle
    // key...
    assert(p.contains("bkey"),
      s"adaptive hot-cell key missing from the candidate joins:\n$p")
    // ...the final SALT rung (review r17) must be a join key too —
    // a cell unsplittable by any key rung becomes nsalt bounded
    // shuffle keys instead of one quadratic single-task key
    assert(p.contains("salt"),
      s"salt shard missing from the candidate join keys:\n$p")
    // ...and the hot-cell sets (bounded aggregates: at most
    // |corpus|/budget cells each) must reach both sides as
    // broadcasts, never a shuffle of the big sides on the cell key
    assert(p.contains("BroadcastHashJoin"),
      s"hot-cell tag join must broadcast the bounded cell set:\n$p")
  }

  test("v13: integer LSH candidates come from the bucket equi-join — " +
      "no all-pairs, top-1 pruned before the qid shuffle") {
    val p = plan("v13_ann_lsh_int")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"all-pairs join in integer LSH:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"top-1 window not partially evaluated before the shuffle:\n$p")
  }

  test("v14: integer IVF+PQ candidates via a broadcast probe join, " +
      "shortlist pruned before the qid shuffle, no all-pairs") {
    val p = plan("v14_ann_ivfpq_int")
    // the encoded corpus must STREAM through the probe join ((qid,
    // cell) pairs broadcast) — shuffling the codes on cell, or any
    // non-equi join, would be the wrong 100 TB shape
    assert(p.contains("BroadcastHashJoin [cell"),
      s"probe join must broadcast the (qid, cell) pairs:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"all-pairs join in integer IVF+PQ:\n$p")
    // both rank windows (ADC shortlist, exact rerank) must prune
    // map-side before their qid exchanges
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2,
      s"shortlist/rerank windows not partially evaluated:\n$p")
  }

  test("q37/q38: portable HLL register tables partial-aggregate " +
      "map-side; no all-pairs anywhere") {
    Seq("q37_portable_hll", "q38_portable_hll_union").foreach { q =>
      val p = plan(q)
      // the register table is a mergeable sketch: max(rho) must
      // combine map-side before the (group, register) exchange
      assert(p.contains("partial_max") || p.contains("partial"),
        s"$q: register agg not partial:\n$p")
      assert(!p.contains("CartesianProduct"),
        s"$q: cartesian product:\n$p")
      // the exact-count join is a small-side broadcast
      assert(p.contains("BroadcastHashJoin"),
        s"$q: exact-count join should broadcast:\n$p")
    }
  }

  test("q39/q40: histogram counts partial-aggregate map-side; the " +
      "first exchange is sketch-keyed; no cartesian product") {
    Seq("q39_portable_hist_quantiles", "q40_portable_hist_merge")
      .foreach { q =>
        val p = plan(q)
        // bin counting must combine map-side: the (group, bin)
        // exchange moves ≤ groups × 1024 rows per task, never data
        assert(p.contains("partial_count") || p.contains("partial"),
          s"$q: histogram agg not partial:\n$p")
        assert(p.contains("hashpartitioning(l_returnflag"),
          s"$q: expected a sketch-keyed exchange:\n$p")
        assert(!p.contains("CartesianProduct") &&
          !p.contains("BroadcastNestedLoopJoin"),
          s"$q: unexpected all-pairs join:\n$p")
        // the cumulative walk and the quantile pick are windows/aggs
        // over the SKETCH (≤1024 rows per group) — everything after
        // the first aggregate exchange is sketch-sized, so any sort
        // the windows need is cheap; what must NOT appear is a
        // data-sized join back to lineitem
        assert(!p.contains("SortMergeJoin"),
          s"$q: no join belongs in a histogram sketch plan:\n$p")
      }
  }

  test("t25: bigrams are an in-row generator, count joins stay keyed, " +
      "the only nested-loop is the 1-row V broadcast") {
    val p = plan("t25_lm_quality")
    assert(p.contains("Generate"),
      s"bigram construction must be a generator, not a self-join:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian product:\n$p")
    // the V cross-join is the t12/t13 1-row global-stats broadcast
    // pattern; any OTHER nested loop would be an all-pairs accident
    val bnl = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(bnl <= 1, s"unexpected nested-loop joins ($bnl):\n$p")
    assert(p.contains("partial"), s"count tables not partial-agged:\n$p")
  }

  test("t29: the repeat table broadcasts into the fact scan and the " +
      "epoch expansion is a generator — no data-sized shuffle join") {
    val p = plan("t29_mixture_upsample")
    assert(p.contains("Generate"),
      s"epoch expansion must be a generator explode:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the |langs|-row repeat table must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"no data-sized shuffle join belongs here:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian product:\n$p")
    // the global-max cross-join is the 1-row broadcast pattern; any
    // other nested loop would be an accident
    val bnl = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(bnl <= 1, s"unexpected nested-loop joins ($bnl):\n$p")
    assert(p.contains("partial"),
      s"per-lang counts not partial-agged:\n$p")
  }

  test("t30: chunking is pure map-side — tokenize, window-count, " +
      "generator, slice all in-row; only the presentation exchange") {
    val p = plan("t30_chunking")
    assert(p.contains("Generate"),
      s"chunk expansion must be a generator explode:\n$p")
    val exchanges = "Exchange ".r.findAllIn(p).length
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n$p")
    assert(p.contains("Exchange rangepartitioning"),
      s"sole exchange must be the presentation sort:\n$p")
    assert(!p.contains("Join"), s"no join belongs in a chunker:\n$p")
  }

  test("t31: the per-stratum rank prunes to k map-side " +
      "(WindowGroupLimit) before the stratum exchange — the shuffle " +
      "moves O(strata × k), not the corpus") {
    val p = plan("t31_eval_sample")
    assert(p.contains("WindowGroupLimit"),
      s"rank ≤ k not partially evaluated before the shuffle:\n$p")
    assert(!p.contains("Join"), s"no join belongs in a sampler:\n$p")
  }

  test("t32: span corruption is pure in-row higher-order-function " +
      "work — no explode, no shuffle, one presentation exchange") {
    val p = plan("t32_span_mask")
    assert(!p.contains("Generate"),
      s"masking must not explode the corpus:\n$p")
    val exchanges = "Exchange ".r.findAllIn(p).length
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n$p")
    assert(p.contains("Exchange rangepartitioning"),
      s"sole exchange must be the presentation sort:\n$p")
    assert(!p.contains("Join"), s"no join belongs here:\n$p")
  }

  test("t41/t44: encode is one map-side corpus pass — the merge list " +
      "is a driver-side model artifact, so the plan has no join and " +
      "only the presentation-sort exchange") {
    Seq("t41_bpe_encode", "t44_bpe_char_encode").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Join"), s"$q: encode must not join:\n$p")
      val exchanges = "Exchange ".r.findAllIn(p).length
      assert(exchanges == 1,
        s"$q: expected 1 exchange, got $exchanges:\n$p")
      assert(p.contains("Exchange rangepartitioning"),
        s"$q: sole exchange must be the presentation sort:\n$p")
    }
  }

  test("t42: vocab cut is TakeOrderedAndProject over the token-keyed " +
      "aggregate — id assignment never sees a corpus-sized frame") {
    val p = plan("t42_vocab_build")
    assert(p.contains("TakeOrderedAndProject"),
      s"vocab cap must be a per-partition heap cut, not a full sort:\n$p")
    assert(p.contains("partial"),
      s"token counts must partial-aggregate map-side:\n$p")
    assert(!p.contains("Join"), s"no join belongs here:\n$p")
  }

  test("t43: OOV audit is one map-side corpus pass — both model " +
      "artifacts (rules + capped vocab) are driver-side, so no " +
      "join, no explode, only the presentation sort") {
    val p = plan("t43_oov_audit")
    assert(!p.contains("Join"), s"audit must not join:\n$p")
    assert(!p.contains("Generate"),
      s"membership must be counted in-row, not exploded:\n$p")
    val exchanges = "Exchange ".r.findAllIn(p).length
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n$p")
  }

  test("g10: PIP join candidates come from the (gx, gy) cell " +
      "equi-join — polygons replicate to covered cells in-row, " +
      "never a nested loop over points × polygons") {
    val p = plan("g10_pip_join")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"all-pairs join in PIP join:\n$p")
    assert(p.contains("gx") && p.contains("gy"),
      s"candidate join not keyed on the grid cell:\n$p")
    assert(p.contains("Generate"),
      s"polygon cell-cover must be the in-row generator:\n$p")
  }

  test("g11: overlap join is the cell-keyed self equi-join with " +
      "in-row reference-point dedup — no nested loop, no distinct " +
      "shuffle") {
    val p = plan("g11_overlap_join")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"all-pairs join in overlap join:\n$p")
    assert(p.contains("gx") && p.contains("gy"),
      s"candidate join not keyed on the grid cell:\n$p")
    assert(p.contains("Generate"),
      s"bbox cell-cover must be the in-row generator:\n$p")
    // the reference-point rule dedups as a FILTER; a Deduplicate /
    // distinct aggregate over the pair set would be the extra
    // pair-keyed shuffle the rule exists to avoid
    assert(!p.contains("Deduplicate"),
      s"pair dedup must be the reference-point filter:\n$p")
  }

  test("g12: radius-join candidates come from the 3x3 neighbor-cell " +
      "equi-join — probe side explodes in-row, no nested loop, no " +
      "pair dedup pass") {
    val p = plan("g12_radius_join")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"all-pairs join in radius join:\n$p")
    assert(p.contains("gx") && p.contains("gy"),
      s"candidate join not keyed on the grid cell:\n$p")
    assert(p.contains("Generate"),
      s"neighbor-cell replication must be the in-row generator:\n$p")
    // ordered pairs are unique by construction, so the ONLY
    // aggregation is the per-point count (partial + final = 2
    // HashAggregate nodes); a dropDuplicates/distinct pass over the
    // pair set would add its own aggregate pair here
    val aggs = "HashAggregate".r.findAllIn(p).length
    assert(aggs == 2,
      s"expected exactly the count agg pair, got $aggs aggregates " +
        s"(a pair-dedup pass crept in?):\n$p")
  }

  test("m18: cross-modal pair join is doc_id-keyed with no broadcast " +
      "hint — narrow decoded frames meet, never the blobs") {
    val p = plan("m18_pair_curation")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"pair join must be the keyed equi-join:\n$p")
    assert(p.contains("doc_id"), s"join not keyed on doc_id:\n$p")
    // two-scan shape (review r17 item 2): the media side is its own
    // staged parquet table, so the plan must hold TWO distinct
    // parquet scans — the blob table and the caption table — not one
    // documents scan re-derived on both sides...
    val fmt = SparkEntry.queries("m18_pair_curation")(spark, sf)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString(
          "formatted"))
    val scans = "Scan parquet".r.findAllIn(fmt).length
    assert(scans >= 2, s"expected 2 parquet scans, got $scans:\n$fmt")
    assert(fmt.contains("m18-media"),
      s"media side must read the staged blob artifact:\n$fmt")
    // ...and the blob column must be dead before every Exchange: the
    // wide binary rows decode to integers inside the media scan's
    // stage, never crossing a shuffle
    val lines = fmt.linesIterator.toVector
    lines.zipWithIndex
      .filter(_._1.trim.matches("""\(\d+\) Exchange.*"""))
      .foreach { case (_, i) =>
        val input = lines.drop(i + 1)
          .find(_.trim.startsWith("Input"))
        assert(input.forall(!_.contains("blob")),
          s"blob column crosses an exchange: ${input.getOrElse("")}")
      }
    // both sides are corpus-sized at 100 TB: disabling the size
    // threshold must degrade the join to a shuffle join (a surviving
    // BroadcastHashJoin would mean a forced per-blob-table hint)
    val conf = spark.conf
    val saved = conf.get("spark.sql.autoBroadcastJoinThreshold")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val pNoB = plan("m18_pair_curation")
      assert(!pNoB.contains("BroadcastHashJoin"),
        s"pair join is hint-forced broadcast:\n$pNoB")
    } finally conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("m02: feature rollup partial-aggregates map-side and shuffles " +
      "only the (lang, bin) counts") {
    val p = plan("m02_media_features")
    assert(p.contains("partial"),
      s"no map-side partial aggregation:\n$p")
    // one hash exchange for the groupBy + the presentation sort; the
    // mapPartitions decode itself must not shuffle blobs anywhere
    val exchanges = "Exchange ".r.findAllIn(p).length
    assert(exchanges == 2, s"expected 2 exchanges, got $exchanges:\n$p")
    assert(p.contains("MapPartitions"),
      s"feature extraction must be the mapPartitions batch path:\n$p")
  }

  test("q01: filter and projection push into the parquet scan") {
    val p = plan("q01_pruned_scan")
    assert(p.contains("PushedFilters: ["), s"no pushed filters:\n$p")
    assert(p.contains("GreaterThan(l_quantity"), s"quantity not pushed:\n$p")
    // projection pruning: scan must not read the unused discount column
    assert(!p.contains("l_discount"), s"scan reads unused columns:\n$p")
  }

  test("q05: star joins broadcast the dimension sides at bench SFs") {
    val p = plan("q05_star_join")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).length
    assert(broadcasts >= 3,
      s"expected >=3 broadcast joins (customer/nation/region):\n$p")
  }

  test("q03/q04/q05: SF-proportional tables carry no broadcast HINT — " +
      "with the size threshold disabled their joins degrade to shuffle " +
      "joins while the fixed-cardinality nation/region hints survive") {
    // A static broadcast() hint bypasses autoBroadcastJoinThreshold, so
    // disabling the threshold is the detector: any join that STAYS a
    // BroadcastHashJoin under threshold=-1 is hint-forced. customer
    // (150k×SF) and part (200k×SF) must degrade; q05's nation (25) and
    // region (5) are fixed-cardinality and deliberately hinted.
    val conf = spark.conf
    val saved = conf.get("spark.sql.autoBroadcastJoinThreshold")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p3 = plan("q03_join_agg")
      assert(!p3.contains("BroadcastHashJoin"),
        s"q03: customer join is hint-forced broadcast:\n$p3")
      val p4 = plan("q04_broadcast_join")
      assert(!p4.contains("BroadcastHashJoin"),
        s"q04: part join is hint-forced broadcast:\n$p4")
      val p5 = plan("q05_star_join")
      val b5 = "BroadcastHashJoin".r.findAllIn(p5).length
      assert(b5 == 2,
        s"q05: expected exactly the 2 hinted fixed-cardinality dim " +
          s"broadcasts (nation/region), got $b5:\n$p5")
    } finally conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("q51: the date window resolves as PartitionFilters — the scan " +
      "reads the 10 matching dt directories, not the whole log") {
    val df = SparkEntry.queries("q51_partition_pruned")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [") &&
      p.contains("isnotnull(dt"),
      s"date window not applied at the partition level:\n$p")
    // the pruned scan must report exactly the selected partition
    // count (unwrap AQE — the file scan lives in the input plan)
    val inner = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive
          .AdaptiveSparkPlanExec => a.inputPlan
      case other => other
    }
    val pruned = inner.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.partitionCount
    }
    assert(pruned.contains(10),
      s"expected 10 of 30 partitions read, got $pruned:\n$p")
  }

  test("q52: the dim filter prunes the fact scan's partitions AT " +
      "RUNTIME — dynamicpruningexpression in PartitionFilters") {
    val df = SparkEntry.queries("q52_dynamic_pruning")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("dynamicpruning"),
      s"no dynamic partition pruning on the fact scan:\n$p")
    assert(!p.contains("CartesianProduct"), s"unkeyed join:\n$p")
  }

  test("q53: the correlated scalar subquery DECORRELATES — one " +
      "keyed aggregate joined back, no per-row subplan") {
    val p = plan("q53_correlated_subquery")
    assert(!p.toLowerCase.contains("subquery"),
      s"per-row subquery survived the rewrite:\n$p")
    assert(p.contains("Join"),
      s"decorrelation must produce the agg-joined-back shape:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"decorrelated join must stay keyed:\n$p")
  }

  test("runtime bloom-filter join: in the shuffle-join regime (the " +
      "100 TB case where the filtered dim no longer broadcasts) " +
      "Catalyst injects might_contain on the fact side") {
    // q52 demonstrated runtime PARTITION pruning; this is its
    // row-level sibling: the selective dim side builds a bloom
    // filter that prunes fact rows before the join shuffle. At bench
    // scale the dim broadcasts (no bloom needed — row pruning
    // happens in the hash join itself), so the gate pins the
    // shuffle-join regime explicitly.
    val conf = spark.conf
    val kScan = "spark.sql.optimizer.runtime.bloomFilter" +
      ".applicationSideScanSizeThreshold"
    val kBjt = "spark.sql.autoBroadcastJoinThreshold"
    val kOn = "spark.sql.optimizer.runtime.bloomFilter.enabled"
    val (savedScan, savedBjt) = (conf.get(kScan), conf.get(kBjt))
    val savedOn = conf.get(kOn)
    conf.set(kScan, "0") // fact side is tiny at test scale
    conf.set(kBjt, "-1") // force the shuffle-join regime
    conf.set(kOn, "true") // self-contained: don't rely on defaults
    try {
      val li = Tables.lineitem(spark, sf)
      val o = Tables.orders(spark, sf)
        .filter(col("o_totalprice") > 400000)
        .select("o_orderkey")
      val p = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"))
        .queryExecution.executedPlan.toString
      assert(p.contains("might_contain"),
        s"no runtime bloom filter on the fact side:\n$p")
      assert(p.contains("SortMergeJoin") ||
        p.contains("ShuffledHashJoin"),
        s"gate must pin the shuffle-join regime:\n$p")
    } finally {
      conf.set(kScan, savedScan)
      conf.set(kBjt, savedBjt)
      conf.set(kOn, savedOn)
    }
  }

  test("q02: partial aggregation before the shuffle") {
    val p = plan("q02_agg_pushdown")
    assert(p.contains("partial_sum") || p.contains("partial"),
      s"no map-side partial aggregation:\n$p")
  }

  test("q11: global top-k is TakeOrderedAndProject, not a full sort") {
    val p = plan("q11_topk_orders")
    assert(p.contains("TakeOrderedAndProject"), s"full sort for top-k:\n$p")
  }

  test("q06: semi join stays a semi join (no payload join)") {
    val p = plan("q06_semi_join")
    assert(p.contains("LeftSemi"), s"semi join lost:\n$p")
  }

  test("t06: signature aggregation is map-side partial and the verify " +
      "joins broadcast the small sides") {
    val df = SparkEntry.queries("t06_minhash_lsh")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("partial_min") || p.contains("partial"),
      s"signature mins must partial-aggregate map-side:\n$p")
    assert(p.contains("InMemoryTableScan"),
      s"bands frame must be persisted (self-join reuse):\n$p")
  }

  test("t15: corpus side is the stored band index, never re-signed") {
    val df = SparkEntry.queries("t15_incremental_dedup")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // the corpus bands must come from the persisted index parquet...
    assert(p.contains("graft-band-index"),
      s"no stored-index file scan in the t15 plan:\n$p")
    // ...the signature pipeline must be fed by the BATCH-only scan...
    assert(p.contains("GreaterThanOrEqual(doc_id,400)"),
      s"batch-side doc_id >= 400 pushdown missing:\n$p")
    // ...and NO corpus-filtered scan may exist anywhere (pushed or
    // residual): corpus rows may only enter via the index scan or the
    // unfiltered id-keyed text lookups of the verify stage
    assert(!p.contains("LessThan(doc_id,400)") && !p.contains("< 400"),
      s"a doc_id < 400 scan exists — the corpus is being re-signed:\n$p")
    // the batch bands must BROADCAST into the index join so the
    // corpus-sized index streams map-side and never shuffles
    assert(p.contains("BroadcastHashJoin"),
      s"index-side candidate join must broadcast the batch bands:\n$p")
  }

  test("t18: rolling fingerprint profile is map-side — one exchange " +
      "(the presentation sort), no gram shuffle") {
    val p = plan("t18_rolling_fingerprint")
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 1, s"expected only the orderBy exchange:\n$p")
    assert(!p.contains("HashAggregate"),
      s"per-doc profile must be array ops, not an aggregate:\n$p")
  }

  test("q36: bucketed join reads both sides shuffle-free") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = SparkEntry.queries("q36_bucketed_join")(spark, sf)
      df.collect()
      // AQE plan strings append the initial plan — assert on the FINAL
      val p = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(p.contains("SortMergeJoin"), s"expected SMJ:\n$p")
      val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(exchanges <= 1,
        s"bucketed join inputs must not shuffle (only the post-join agg " +
          s"may):\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("g07: bbox predicates push into the z-ordered parquet scan") {
    val p = plan("g07_zorder_scan")
    assert(p.contains("zorder_points"),
      s"no z-ordered file scan in the plan:\n$p")
    assert(p.contains("GreaterThanOrEqual(lon,-60.0)"),
      s"lon range not pushed to the scan:\n$p")
  }

  test("q35: the salt actually enters the phase-1 grouping") {
    val p = plan("q35_salted_agg")
    assert(p.contains("__salt"),
      s"salted grouping column missing from the plan:\n$p")
    val aggs = "HashAggregate".r.findAllIn(p).length
    assert(aggs >= 4,
      s"expected two partial+final aggregate pairs (salted then merge):\n$p")
  }

  test("v09: ANN serve path scans the stored code index") {
    val df = SparkEntry.queries("v09_ann_ivfpq_indexed")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ivfpq_codes"),
      s"no stored-index (codes) file scan in the v09 plan:\n$p")
  }

  test("t21: the eval gram table broadcasts — train grams never " +
      "shuffle before the join") {
    val p = plan("t21_decontaminate")
    val bhj = p.indexOf("BroadcastHashJoin")
    assert(bhj >= 0,
      s"eval side must broadcast into the contamination join:\n$p")
    // the streamed (train) branch prints between the join node and its
    // BroadcastExchange build side: corpus grams must flow from the
    // parquet scan into the join with NO exchange — the remaining
    // exchanges (eval-side agg, post-join hits agg) are hit-sized
    val streamed = p.substring(bhj, p.indexOf("BroadcastExchange", bhj))
    assert(!streamed.contains("Exchange hashpartitioning"),
      s"train grams must not shuffle before the join:\n$p")
    assert(streamed.contains("FileScan parquet"),
      s"train side must stream straight from the scan:\n$p")
  }

  test("t26: eval grams broadcast into the span-strike join — corpus " +
      "grams never shuffle") {
    val p = plan("t26_span_decontaminate")
    val bhj = p.indexOf("BroadcastHashJoin")
    assert(bhj >= 0,
      s"eval side must broadcast into the strike join:\n$p")
    // the streamed (train-gram) branch prints between the join node
    // and its BroadcastExchange build side: corpus grams must flow
    // from the scan into the join with NO exchange (t21's invariant —
    // the remaining exchanges are hit-sized or per-doc)
    val streamed = p.substring(bhj, p.indexOf("BroadcastExchange", bhj))
    assert(!streamed.contains("Exchange hashpartitioning"),
      s"train grams must not shuffle before the strike join:\n$p")
    assert(streamed.contains("FileScan parquet"),
      s"train side must stream straight from the scan:\n$p")
  }

  test("t28: the running token total is the two-level prefix sum — " +
      "corpus window parallel by shard, SinglePartition only on the " +
      "shard totals, offsets broadcast back") {
    val p = plan("t28_sequence_pack")
    // the corpus-sized window must partition by the shard key
    assert("""Window \[sum\(n_tokens[^\n]*\], \[shard""".r
        .findFirstIn(p).isDefined,
      s"corpus running sum is not shard-partitioned:\n$p")
    // exactly one single-partition exchange, and it carries the
    // per-shard totals (two longs per shard), never the corpus
    val singles = "Exchange SinglePartition".r.findAllIn(p).length
    assert(singles == 1,
      s"expected exactly one SinglePartition exchange (shard totals), " +
        s"got $singles:\n$p")
    assert(p.contains("BroadcastHashJoin [shard"),
      s"shard offsets must broadcast back into the corpus:\n$p")
  }

  test("t08: winnowing is the linear kernel — no per-position explode, " +
      "no window sort, one presentation exchange") {
    val df = SparkEntry.queries("t08_winnow_fingerprint")(spark, sf)
    df.collect()
    // AQE renders the initial plan after the final one — count only the
    // final plan section
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(p.contains("winnow_mins") && p.contains("rolling_hashes"),
      s"kernel expressions missing from the plan:\n$p")
    assert("\\bWindow\\b".r.findAllIn(p).isEmpty,
      s"window-sort plan leaked back into the declared path:\n$p")
    // the r4 plan exploded one row per character position before
    // hashing; the kernel path explodes only the final fingerprints
    assert(!p.contains("sequence(1"),
      s"per-position explode in the declared plan:\n$p")
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 1, s"expected only the orderBy exchange:\n$p")
  }

  test("t19: pair graph reads the stored band index, never re-signs " +
      "the corpus") {
    val df = graft.queries.TextOps.indexedVerifiedPairs(spark, sf,
      Tables.documents(spark, sf).select("doc_id", "text"), 0.5)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("graft-band-index"),
      s"no stored-index file scan in the t19 pair plan:\n$p")
    // the signature pipeline (gram explode + 32-way min aggregation)
    // must not appear — bands come from the index parquet only
    assert(!p.contains("partial_min") && !p.contains("sequence(1"),
      s"corpus re-sign inside the t19 pair plan:\n$p")
  }

  test("t27: cluster resolution joins quality by doc_id with no " +
      "all-pairs and no corpus gram explode (pair sourcing from the " +
      "stored index is t19's gate — the components loop checkpoints, " +
      "so the final plan starts from the materialized groups)") {
    val df = SparkEntry.queries("t27_cluster_keep_best")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("sequence(1"),
      s"corpus re-sign inside the t27 plan:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"all-pairs join in cluster resolution:\n$p")
    // the per-group argmax must partially evaluate before the shuffle
    assert(p.contains("partial_count"),
      s"group resolution not partial-aggregated:\n$p")
  }

  test("t37: overlap matrix never re-signs the corpus and never " +
      "hint-broadcasts a per-document table (pair sourcing from the " +
      "stored index is t19's gate; the source-label joins are " +
      "doc_id-keyed)") {
    import org.apache.spark.sql.execution.joins.{
      BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    val df = SparkEntry.queries("t37_source_overlap")(spark, sf)
    val ps = df.queryExecution.executedPlan.toString
    assert(!ps.contains("partial_min") && !ps.contains("sequence(1"),
      s"corpus re-sign inside the t37 plan:\n$ps")
    // the retrieval-family rule, extended to the dedup-audit family: a
    // build side still carrying a per-document id (doc_id, or its d1/d2
    // renames) has one row per corpus document — a HINT-forced broadcast
    // of it is the 100 TB OOM shape. Size-driven broadcasts adapt at
    // scale, so plan with the auto threshold OFF first.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = SparkEntry.queries("t37_source_overlap")(spark, sf)
        .queryExecution.sparkPlan
      val perDoc = Set("doc_id", "d1", "d2")
      val offenders = p.collect {
        case j: BroadcastHashJoinExec =>
          j.buildSide match { case BuildLeft => j.left
                              case BuildRight => j.right }
        case j: BroadcastNestedLoopJoinExec =>
          j.buildSide match { case BuildLeft => j.left
                              case BuildRight => j.right }
      }.filter(_.output.exists(a => perDoc(a.name)))
      assert(offenders.isEmpty,
        s"a per-document table is hint-broadcast in t37:\n$p")
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("t05: PPJoin joins on the rare-token prefix, not all tokens") {
    val df = SparkEntry.queries("t05_word_jaccard")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the prefix filter (rk <= sz - ceil(t*sz) + 1) must sit below the
    // candidate self-join
    assert(p.contains("CEIL") || p.contains("ceil"),
      s"prefix-length filter missing from the plan:\n$p")
  }

  test("v17: range search is one corpus pass — 3-row query side " +
      "broadcast, threshold filter map-side (no top-k Window), only " +
      "the presentation-sort shuffle") {
    val p = plan("v17_range_search")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"),
      s"query side must broadcast into the corpus scan:\n$p")
    assert(!p.contains("Window"),
      s"radius search must not carry per-query ranking state:\n$p")
    val shuffles = "(?<!Broadcast)Exchange".r.findAllIn(p).length
    assert(shuffles <= 1,
      s"expected only the presentation-sort shuffle:\n$p")
  }

  test("v10: SQ8 quantization is map-side — one exchange " +
      "(the presentation sort), no per-element shuffle") {
    val p = plan("v10_sq8_quantization")
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 1, s"expected only the orderBy exchange:\n$p")
    assert(!p.contains("HashAggregate"),
      s"per-vector codes must be array ops, not an aggregate:\n$p")
  }

  test("t24: span dedup shuffles grams once (canonicalization window) " +
      "keyed by the 16-byte double gram hash, never joins text " +
      "against text") {
    val p = plan("t24_span_dedup")
    // duplicate detection must be the row_number window over the gram
    // hash — a sort-merge/nested-loop join of text columns would be the
    // all-pairs shape this operator exists to avoid
    assert(p.contains("row_number"), s"no canonicalization window:\n$p")
    // the exchange must carry the 16-byte (gh1, gh2) double-xxhash64
    // key, not the raw K-word gram string (~5 words/row of shuffle
    // bytes); gh2 mixes a salt BEFORE the gram (xxhash64(1, g)) so the
    // two 64-bit hashes are genuinely independent and false strikes
    // stay ~n²/2¹²⁹ even at production gram counts
    assert(p.contains("hashpartitioning(gh1"),
      s"canonicalization exchange not keyed by the gram hash:\n$p")
    assert(p.contains("gh2"),
      s"second hash column missing from the plan:\n$p")
    assert(!p.contains("hashpartitioning(gram"),
      s"exchange still keyed by raw gram text:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"all-pairs join in span dedup:\n$p")
    // rebuild joins are keyed by (doc_id, pos) / doc_id only
    assert(!p.contains("SortMergeJoin [gram"),
      s"payload join keyed on gram text:\n$p")
  }

  test("t12/t13/t25: the retrieval family never statically broadcasts " +
      "a per-document aggregate (corpus-sized build side)") {
    import org.apache.spark.sql.execution.joins.{
      BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    // a table whose OUTPUT still carries doc_id has one row per corpus
    // document — a HINT-forced broadcast of it is the 100 TB OOM shape
    // (the r7 t13 defect: broadcast(dl)). Query-bounded tables (per-term
    // dfreq, 1-row global stats) carry no doc_id and remain legitimately
    // broadcastable. Size-driven broadcasts (static threshold or AQE)
    // adapt at scale and are fine — so we plan with the auto threshold
    // OFF, leaving only hint-forced broadcasts in the static plan.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try Seq("t12_tfidf", "t13_bm25", "t25_lm_quality").foreach { q =>
      val p = SparkEntry.queries(q)(spark, sf).queryExecution.sparkPlan
      val offenders = p.collect {
        case j: BroadcastHashJoinExec =>
          j.buildSide match { case BuildLeft => j.left
                              case BuildRight => j.right }
        case j: BroadcastNestedLoopJoinExec =>
          j.buildSide match { case BuildLeft => j.left
                              case BuildRight => j.right }
      }.filter(_.output.exists(_.name == "doc_id"))
      assert(offenders.isEmpty,
        s"$q: a per-document table is hint-broadcast:\n$p")
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("v15: the metadata predicate applies AT the broadcast join — " +
      "below the scorer and the top-k window, not as a post-filter") {
    val p = plan("v15_knn_filtered")
    // the label equality must be a join KEY of the broadcast join (the
    // hybrid-search contract: candidates shrink by selectivity before
    // any distance math); post-filtering the ranked k-list would both
    // waste distance work and return short lists
    assert("""BroadcastHashJoin \[[^\]]*label""".r.findFirstIn(p)
        .isDefined,
      s"label predicate is not a key of the broadcast join:\n$p")
    // top-down: the Window (top-k) sits ABOVE the join, so every row
    // it ranks already passed the filter
    assert(p.indexOf("Window") < p.indexOf("BroadcastHashJoin"),
      s"top-k window must consume the filtered join:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"all-pairs join in filtered knn:\n$p")
  }

  test("v18: the shortlist window ranks NARROW rows — the 64-double " +
      "vector payload rejoins only after the cut") {
    val p = plan("v18_ann_matryoshka")
    // the prefilter window must not carry the vector columns through
    // its ranking exchange: at scale that would shuffle the whole
    // embedding matrix instead of (qid, vec_id, pre_sim) triples
    val w = """Window \[row_number\(\)[^\n]*pre_sim[^\n]*""".r
      .findFirstIn(p)
    assert(w.isDefined, s"prefilter window missing:\n$p")
    assert(!w.get.contains("qv#") && !w.get.contains("v#"),
      s"shortlist window carries the vector payload:\n${w.get}")
    // the exhaustive prefilter IS a broadcast nested loop (50-row query
    // side, corpus streamed once — the v01 shape); what must not appear
    // is an unbroadcast cartesian
    assert(!p.contains("CartesianProduct"),
      s"unbroadcast cartesian in matryoshka plan:\n$p")
  }

  test("v23: the MMR shortlist pass is one corpus scan against the " +
      "broadcast query set with the per-query top-k pruned MAP-SIDE " +
      "— the greedy rerank then only ever sees the bounded " +
      "shortlist") {
    val p = graft.queries.VectorOps.mmrShortlist(spark, sf)
      .queryExecution.executedPlan.toString
    // the scorer is the v01/v06 bounded-query shape: tiny query side
    // broadcast into the corpus stream (a BNLJ is correct here; an
    // unbroadcast cartesian is not)
    assert(p.contains("BroadcastExchange IdentityBroadcastMode"),
      s"query set must broadcast into the corpus pass:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"unbroadcast cartesian in the shortlist pass:\n$p")
    // the rank prune must run BEFORE the qid exchange (Partial
    // WindowGroupLimit below, Final above): only shortlist-sized
    // rows per query cross the shuffle, not the scored corpus
    val exch = p.indexOf("Exchange hashpartitioning(qid")
    val partial = p.indexOf("row_number(), 32, Partial")
    assert(exch >= 0 && partial > exch,
      s"per-query top-k not pruned map-side before the exchange:\n$p")
    // the query-set predicate reaches the parquet scan
    assert(p.contains("LessThan(vec_id,4)"),
      s"query-set filter not pushed to the scan:\n$p")
  }

  test("t35: the per-language running total is the two-level prefix " +
      "sum — corpus window parallel by (lang, shard), shard totals " +
      "walked per language, offsets broadcast back; the only " +
      "SinglePartition is the 1-row budget") {
    val p = plan("t35_mixture_budget")
    assert("""Window \[sum\(n_tokens[^\n]*\], \[lang[^,\]]*, shard""".r
        .findFirstIn(p).isDefined,
      s"corpus running sum is not (lang, shard)-partitioned:\n$p")
    assert("""Window \[sum\(st[^\n]*\], \[lang""".r
        .findFirstIn(p).isDefined,
      s"shard-totals walk is not per-language:\n$p")
    val singles = "Exchange SinglePartition".r.findAllIn(p).length
    assert(singles == 1,
      s"expected exactly one SinglePartition exchange (the 1-row " +
        s"budget), got $singles:\n$p")
    assert(p.contains("BroadcastHashJoin [lang"),
      s"shard offsets must broadcast back into the corpus:\n$p")
  }

  test("t33: the snapshot diff shuffles fingerprints, never text — " +
      "md5 projects below the doc_id exchanges, full-outer SMJ on " +
      "unique keys, no all-pairs") {
    val p = plan("t33_snapshot_diff")
    assert(p.contains("SortMergeJoin") && p.contains("FullOuter"),
      s"diff must be a keyed full-outer join:\n$p")
    // plans print top-down: every reference to the text column must
    // sit BELOW the join (in the map-side fingerprint projections) —
    // text crossing a shuffle is the 100 TB anti-shape for CDC
    assert(p.indexOf("text#") > p.indexOf("SortMergeJoin"),
      s"text column above the diff join — payload crossed a shuffle:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"all-pairs join in the snapshot diff:\n$p")
  }

  test("t34: the cutoff walk runs over the (source, q) histogram, " +
      "not corpus rows — histogram partial-aggregated, windows " +
      "partitioned by source over sketch-sized frames, cutoffs " +
      "broadcast back") {
    val p = plan("t34_quantile_curate")
    assert(p.contains("partial_count"),
      s"histogram not partial-aggregated:\n$p")
    // both windows must run over the histogram subtree (above the
    // (source, q) aggregate), partitioned by source
    assert(p.contains("windowspecdefinition(source"),
      s"cumulative walk not partitioned by source:\n$p")
    // top-down print order: the Window nodes sit ABOVE the histogram's
    // (source, q) partial aggregate — they walk aggregated counts, not
    // corpus rows (the final rollup's partial pass prints first, so
    // anchor on the LAST partial_count, which is the histogram's)
    assert(p.indexOf("Window") >= 0 &&
      p.indexOf("Window") < p.lastIndexOf("partial_count"),
      s"window must consume the histogram aggregate:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"cutoffs must broadcast back to the corpus scan:\n$p")
    assert(!p.contains("hashpartitioning(doc_id"),
      s"keep filter must be map-side — no per-doc shuffle:\n$p")
  }

  test("t48: the hashed models are one collected bounded artifact " +
      "broadcast to the gram scans (never re-derived in-plan, never " +
      "a corpus-sized build side); the cutoff walks the weight " +
      "histogram, not corpus rows") {
    val p = plan("t48_dsir_select")
    // the smoothed model enters the plan as a literal LocalTableScan
    // (collected once under the bounded-model rule) — a HashAggregate
    // under the model-side BroadcastExchange would mean each scoring
    // branch re-aggregates the corpus
    assert(p.contains("LocalTableScan"),
      s"model must be the pre-collected bounded artifact:\n$p")
    assert(p.contains("BroadcastHashJoin [b#"),
      s"grams must probe the BROADCAST model on the bucket key:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"all-pairs join in DSIR scoring:\n$p")
    // the cumulative walk is keyed by the weight and consumes the
    // (w -> count) histogram aggregate printed below it
    val w = p.indexOf("windowspecdefinition(w#")
    assert(w >= 0, s"cutoff walk not keyed by the weight:\n$p")
    assert(p.indexOf("knownfloatingpointnormalized", w) > w,
      s"cutoff window must consume the weight histogram:\n$p")
  }

  test("m13: perceptual near-dup candidates come from the " +
      "(band, byte) equi-join — no all-pairs, hash verify after " +
      "candidate generation") {
    val p = plan("m13_image_neardup")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"all-pairs join in perceptual near-dup:\n$p")
    // candidate generation must key on the band identity, not doc_id
    assert(p.contains("band"), s"band key missing from the plan:\n$p")
  }

  test("q44: attribution pairs come from the user_id equi-join with " +
      "the 24h band as a post-join filter — never a time cross-join") {
    val p = plan("q44_attribution")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"all-pairs/time-cross join in attribution:\n$p")
    // the join must be KEYED on user_id (the equi key that carries
    // the shuffle/broadcast); the time band rides as the join's
    // residual condition. At test SF the small conv side broadcasts
    // (BroadcastHashJoin [user_id...]); at scale the same plan
    // shuffles both sides on user_id (SortMergeJoin [user_id...]) —
    // both are the keyed shape, unkeyed would be a nested loop.
    assert(p.contains("HashJoin [user_id") ||
      p.contains("SortMergeJoin [user_id"),
      s"join not keyed on user_id:\n$p")
  }

  test("q45: the 7-day fanout is a generator explode feeding one " +
      "distinct aggregate — no range join, no self-join of events") {
    val p = plan("q45_rolling_actives")
    assert(p.contains("Generate"),
      s"window-day fanout must be a generator explode:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"all-pairs join in rolling actives:\n$p")
    // the only join is the observed-day restriction — a day-dimension
    // equi-join, never a data-sized sort-merge of events × events
    assert(!p.contains("SortMergeJoin [day") &&
      !p.contains("SortMergeJoin [user_id"),
      s"events self-join shape leaked into rolling actives:\n$p")
  }

  test("v18: the cheap pass scans the staged narrow prefix artifact " +
      "— a 16-dim (vec_id, v_prefix) file, not the 64-dim corpus") {
    val p = plan("v18_ann_matryoshka")
    // the shortlist side must read the mrl_prefix artifact with ONLY
    // the narrow columns — the "reads 4× less" claim as a plan fact
    assert(p.contains("mrl_prefix"),
      s"cheap pass not scanning the staged prefix artifact:\n$p")
    assert(p.contains("ReadSchema: struct<vec_id:bigint," +
      "v_prefix:array<double>>"),
      s"prefix scan must be the narrow 2-column schema:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian product:\n$p")
  }

  test("q46: changelog compaction is one keyed hash aggregate — " +
      "struct-max latest-wins, never a window sort of the log") {
    val p = plan("q46_changelog_compact")
    assert(!p.contains("Window"),
      s"latest-wins must be the struct-max aggregate, not a " +
        s"row_number window sort:\n$p")
    assert(p.contains("partial_"),
      s"compaction aggregate must partial-aggregate map-side:\n$p")
    // exactly one data shuffle: the user_id aggregation exchange
    // (plus the presentation sort's range exchange)
    val shuffles = "hashpartitioning\\(user_id".r
      .findAllIn(p).length
    assert(shuffles >= 1 && !p.contains("Join"),
      s"compaction must be a single keyed aggregation, no join:\n$p")
  }

  test("t38: merge-pair mining is in-row pair generation + top-k — " +
      "a Generate feeding TakeOrderedAndProject, no positional " +
      "self-join, no full sort") {
    val p = plan("t38_merge_pairs")
    assert(p.contains("Generate"),
      s"pair fanout must be a generator explode:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-50 must be per-partition heaps + driver merge:\n$p")
    assert(!p.contains("Join"),
      s"adjacent pairs must come from the in-row zip, not a " +
        s"positional self-join:\n$p")
  }

  test("q47: unpivot is the single-scan Expand — one lineitem read, " +
      "no union of re-scans, no join") {
    val p = plan("q47_unpivot_melt")
    assert(p.contains("Expand"),
      s"melt must lower to the in-row Expand operator:\n$p")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1,
      s"melt must read the table ONCE (got $scans scans — the " +
        s"UNION ALL shape re-reads per measure):\n$p")
    assert(!p.contains("Join"), s"no join belongs in a melt:\n$p")
  }

  test("v20: neighbor candidates come from the cell equi-join with a " +
      "map-side per-node rank prune — no all-pairs join") {
    // the declared query localCheckpoints (lineage cut) — gate the
    // pre-checkpoint edge-build plan it wraps
    val (out, assigned) =
      graft.queries.VectorOps.knnGraphRanked(spark, sf)
    val p = out.queryExecution.executedPlan.toString
    assigned.unpersist()
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"all-pairs join in knn graph:\n$p")
    assert(p.contains("Join [cell") || p.contains("Join cell") ||
      p.contains("[cell"), s"candidate join not keyed on cell:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"per-node top-k must prune map-side before the rank shuffle:\n$p")
  }

  test("q48: the salted join keys on (suppkey, __salt) with the " +
      "right side replicated by a generator — hot keys split across " +
      "buckets") {
    val p = plan("q48_salted_join")
    assert(p.contains("__salt"),
      s"join must carry the salt in its key:\n$p")
    assert(p.contains("Generate"),
      s"right-side replication must be the explode generator:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"salted join degenerated to an unkeyed join:\n$p")
  }

  test("g09: spatial kNN candidates come from the grid-cell " +
      "equi-join with a map-side per-point rank prune — no " +
      "all-pairs join") {
    val p = plan("g09_knn_join")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"all-pairs join in spatial knn:\n$p")
    assert(p.contains("cx") && p.contains("cy"),
      s"candidate join not keyed on the grid cell:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"per-point top-k must prune map-side:\n$p")
  }

  test("incremental-merge read-side pruning: pruneToPartitions " +
      "lands as a static IN PartitionFilter and the scan reads " +
      "ONLY the touched partition dirs (r13 VERDICT item 2)") {
    // the exact read shape of runArtifactMergeLoop's bucketed mode
    // and s17's graph/assignment slices: a bkt/cell-partitioned
    // parquet artifact pruned to the batch's bounded touched set.
    // The previous broadcast-left-semi shape passed row-level tests
    // while scanning EVERY partition (DPP never fires without a
    // selective build-side filter) — at 100 TB that is a full
    // artifact scan per micro-batch, so the pruned READ is gated
    // here as a plan property, not an intention.
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-prune").toFile
    try {
      val art = s"${dir.getAbsolutePath}/state"
      val stage = graft.streaming.EventStreams.stageDirFor(art)
      // the artifact as the merge loop leaves it: staged, then
      // committed by the swap at batch 0 (one generation dir per
      // partition, a _snapshot naming them)
      (0 until 1024).map(i => (i.toLong, i % 16))
        .toDF("k", "bkt")
        .repartition(col("bkt"))
        .write.partitionBy("bkt").parquet(stage)
      graft.streaming.EventStreams.swapPartitionDirs(stage, art,
        Seq.empty, batchId = 0L)
      val touched = Seq(3, 7, 11)
      val pruned = graft.streaming.EventStreams.pruneToPartitions(
        spark.read.parquet(art), "bkt", touched)
      pruned.write.format("noop").mode("overwrite").save()
      val p = pruned.queryExecution.executedPlan.toString
      assert(p.contains("PartitionFilters: [") && p.contains(" IN ("),
        s"touched set not applied as a partition filter:\n$p")
      val inner = pruned.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive
            .AdaptiveSparkPlanExec => a.executedPlan
        case other => other
      }
      val partCount = inner.collectLeaves().collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.selectedPartitions.partitionCount
      }
      assert(partCount.contains(touched.size),
        s"expected ${touched.size} of 16 partitions read, got " +
          s"$partCount:\n$p")
      // the empty-batch guard must also prune to zero, not scan
      val none = graft.streaming.EventStreams.pruneToPartitions(
        spark.read.parquet(art), "bkt", Seq.empty)
      assert(none.count() === 0L)
      // the SNAPSHOT-resolved read (review r15: readers resolve the
      // committed generation leaf dirs, not the live listing) must
      // keep the same static pruning: swap one bucket at batch 1 and
      // the pruned committed read still selects only the touched
      // partitions
      Seq((9999L, 3)).toDF("k", "bkt")
        .repartition(col("bkt"))
        .write.partitionBy("bkt").parquet(stage)
      graft.streaming.EventStreams.swapPartitionDirs(stage, art,
        Seq("bkt=3"), batchId = 1L)
      val snapPruned = graft.streaming.EventStreams.pruneToPartitions(
        graft.streaming.EventStreams.readCommitted(spark, art).get,
        "bkt", touched)
      snapPruned.write.format("noop").mode("overwrite").save()
      val innerSnap = snapPruned.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive
            .AdaptiveSparkPlanExec => a.executedPlan
        case other => other
      }
      val snapCount = innerSnap.collectLeaves().collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.selectedPartitions.partitionCount
      }
      assert(snapCount.contains(touched.size),
        s"snapshot-resolved read must still prune to " +
          s"${touched.size} of 16 partitions, got $snapCount")
      assert(snapPruned.filter(col("bkt") === 3).count() === 1L,
        "the committed read must serve the swapped generation")
    } finally
      graft.streaming.EventStreams.deleteRecursively(dir)
  }

  test("whole-stage codegen covers the q02 agg pipeline") {
    // AQE hides codegen markers until the final plan materializes —
    // execute first, then inspect; codegen'd stages render as "*(n)"
    val df = SparkEntry.queries("q02_agg_pushdown")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*("), s"no codegen spans:\n$p")
  }
}
