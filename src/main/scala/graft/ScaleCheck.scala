package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.queries.TextOps

/** Empirical scale probe for the two 100 TB claims the dedup family
  * makes (run it: `sbt "runMain graft.ScaleCheck"`; env
  * SPARK_GRAFT_SF_DIR / SPARK_GRAFT_SCALE_KS to vary):
  *
  *  1. Near-dup detection (the t06 MinHash-LSH core) scales ~linearly
  *     in corpus size: candidate generation is a bucket-keyed
  *     equi-join, so doubling the corpus doubles grams, signatures,
  *     and (for a fixed duplication profile) pairs — never O(n²).
  *  2. Stored-index incremental ingest (the t15/s05 core) costs
  *     ~constant per FIXED batch as the corpus index grows: the batch
  *     signs only itself and broadcasts into a narrow index scan.
  *
  * The k× corpus is k id-shifted replicas with a per-replica word
  * suffix, so every replica keeps the original's internal near-dup
  * structure (pairs scale exactly ×k) but replicas never cross-match
  * (all char-grams differ). Prints one JSON line per measurement.
  */
object ScaleCheck {

  private val Alphabet = "abcdefghijklmnopqrstuvwxyz"

  /** One rotated copy of the corpus: ids offset by 10M per replica
    * (assumes base doc_id < 10M — testdata tops out around 5k), the
    * alphabet rotated by r (`translate` — a bijection on characters,
    * so every within-replica gram-equality relation, and hence every
    * pairwise Jaccard, is EXACTLY preserved, while grams never
    * collide across replicas), any `passthrough` columns carried
    * unchanged. r=0 is the untouched original. An additive per-word
    * tag was tried first and rejected: a suffix shared by every token
    * ADDS common grams between all docs of a replica and inflates
    * similarity quadratically.
    */
  private def replica(docs: DataFrame, r: Int,
      passthrough: Seq[String] = Nil): DataFrame = {
    val rot = Alphabet.drop(r % 26) + Alphabet.take(r % 26)
    val text =
      if (r % 26 == 0) col("text")
      else translate(col("text"), Alphabet, rot)
    docs.select((col("doc_id") + lit(r * 10000000L)).as("doc_id") +:
      text.as("text") +: passthrough.map(col): _*)
  }

  private def scaled(docs: DataFrame, k: Int,
      passthrough: Seq[String] = Nil): DataFrame =
    (0 until k).map(replica(docs, _, passthrough))
      .reduce(_ unionByName _)

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val ks = sys.env.getOrElse("SPARK_GRAFT_SCALE_KS", "1,4,16")
      .split(",").map(_.trim.toInt).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // probe selection (r18): SPARK_GRAFT_PROBES=fuzzy_conc4,... runs
    // only the named probes — re-taking one receipt no longer costs
    // the whole sweep. Default (unset) runs everything.
    val KnownProbes = Set("scale", "knn_graph", "spatial_grid",
      "knn_graph_incr", "fuzzy_skew", "fuzzy_conc", "fuzzy_conc4",
      "fuzzy_conc5", "dsir", "bloom_decon", "compaction_fanin",
      "stream_width")
    val probeSet = sys.env.get("SPARK_GRAFT_PROBES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // a typo'd probe name must fail loudly, not run an empty sweep
    // that a re-take could mistake for a completed receipt — and so
    // must a set-but-empty value (an unset shell substitution like
    // SPARK_GRAFT_PROBES=$PROBES), which would otherwise select
    // nothing and exit 0 (review r18, second pass)
    probeSet.filter(_.isEmpty).foreach { _ =>
      throw new IllegalArgumentException(
        "SPARK_GRAFT_PROBES is set but names no probes — unset it " +
          s"for the full sweep, or name: ${KnownProbes.mkString(", ")}")
    }
    probeSet.map(_ -- KnownProbes).filter(_.nonEmpty).foreach { bad =>
      throw new IllegalArgumentException(
        s"unknown probe name(s) ${bad.mkString(", ")} in " +
          s"SPARK_GRAFT_PROBES — known: ${KnownProbes.mkString(", ")}")
    }
    def probeOn(name: String): Boolean =
      probeSet.forall(_.contains(name))

    val base = Tables.documents(spark, sfDir).select("doc_id", "text")
    // warmup: JIT + codegen for the signature AND incremental plans
    if (probeOn("scale")) {
      TextOps.minHashPairsPortable(base.limit(200), 0.5).count()
      TextOps.dedupIncrementalIndexed(
        TextOps.portableBandTable(base.limit(200)),
        base.limit(50), base.limit(250), 0.5).count()
      ()
    }

    (if (probeOn("scale")) ks else Seq.empty[Int]).foreach { k =>
      val docs = scaled(base, k)
        .repartition(spark.sparkContext.defaultParallelism)
        .persist()
      val nDocs = docs.count() // materialize outside the timed region

      // claim 1: near-dup over the whole k× corpus
      val (pairs, tPairs) = timed {
        TextOps.minHashPairsPortable(docs, 0.5).count()
      }

      // claim 2: FIXED 500-doc batch against a k×-corpus band index
      // (index build outside the timed region — it is the stored
      // artifact; the serve path is what must stay flat). Rotation 21
      // is outside the replica range, so the batch is genuinely novel.
      val index = TextOps.portableBandTable(docs).persist()
      index.count()
      val batch = replica(base.limit(500), 21)
        .select((col("doc_id") + lit(990000000L)).as("doc_id"),
          col("text"))
      val texts = docs.unionByName(batch)
      val (kept, tIngest) = timed {
        TextOps.dedupIncrementalIndexed(index, batch, texts, 0.5)
          .count()
      }

      println(
        f"""{"probe":"scale","k":$k,"n_docs":$nDocs,"neardup_pairs":$pairs,"neardup_sec":$tPairs%.2f,"ingest_batch":500,"ingest_kept":$kept,"ingest_sec":$tIngest%.2f}""")
      docs.unpersist()
      index.unpersist()
    }

    // claim (t49, VERDICT r19 item 4): the Bloom decontamination
    // gate's behavior is corpus-size-invariant — (a) the map-side
    // pruning ratio stays ~(1 − overlap-share − fpp) at every k
    // (replicas never cross-match, so overlap share is constant by
    // construction), (b) the survivor set — the only rows the
    // corpus-scaled shuffle ever carries — tracks the TRUE overlap
    // plus an fpp-bounded sliver, and (c) the sketch build + gate is
    // one reference scan + one candidate scan (~linear seconds).
    // The sketch is sized through the PROVIDED item count (the
    // table-statistics path a 100 TB deployment uses), not a
    // counting pass — the probe passes the occurrence count it
    // already took for the receipt columns.
    if (probeOn("bloom_decon")) locally {
      val (r0, c0) = TextOps.bloomRefCand(base.limit(200))
      TextOps.bloomSurvivors(spark, r0, c0, Some(1000L)).count()
      ()
    }
    (if (probeOn("bloom_decon")) ks else Seq.empty[Int]).foreach { k =>
      val docs = scaled(base, k)
        .repartition(spark.sparkContext.defaultParallelism)
        .persist()
      val nDocs = docs.count()
      val (ref, cand) = TextOps.bloomRefCand(docs)
      val refP = ref.persist()
      val candP = cand.persist()
      val nRefOcc = refP.count() // ← becomes the provided item count
      val nCand = candP.count()
      // exact overlap, outside the timed region: the floor the
      // survivor set must sit just above
      val overlap = candP
        .join(refP.select("g").distinct(), "g").count()
      val (survivors, tGate) = timed {
        TextOps.bloomSurvivors(spark, refP, candP, Some(nRefOcc))
          .count()
      }
      val prune = 1.0 - survivors.toDouble / math.max(1L, nCand)
      println(
        f"""{"probe":"bloom_decon","k":$k,"n_docs":$nDocs,"ref_grams":$nRefOcc,"cand_grams":$nCand,"true_overlap":$overlap,"survivors":$survivors,"fp_sliver":${survivors - overlap},"prune_ratio":$prune%.4f,"build_gate_sec":$tGate%.2f}""")
      docs.unpersist(); refP.unpersist(); candP.unpersist()
      ()
    }

    // claim (s31, round 20): compaction cost and the artifact's
    // retained footprint are functions of STATE, not of artifact
    // AGE. The same events table is merged through n ∈ {10, 20, 40}
    // batches — the final state is identical in all three runs — and
    // the probe receipts (a) the retained generation-dir count on
    // disk stays retention-bounded (flat in n, never one dir per
    // batch: retention prunes at COMMIT), (b) the compaction rewrite
    // is one O(state) job (~flat seconds in n — it reads the
    // committed head, never the history), (c) the compacted head
    // resolves ONE generation id across the artifact with one file
    // per partition (the read fan-in the 100 TB claim names), and
    // (d) the head readout is row-identical across the rewrite
    // (enforced by require — a lossy rewrite aborts the probe). A
    // compaction that secretly scanned history, or a retention that
    // leaked generations with age, would bend (a)/(b) upward and
    // refute the claim.
    (if (probeOn("compaction_fanin")) Seq(10, 20, 40)
     else Seq.empty[Int]).foreach { n =>
      import graft.streaming.EventStreams
      // the s16 user-state shape, restated here because the probe
      // owns its own merge contract (any associative agg works; this
      // one matches the declared lifecycle ops so the timings are
      // like-for-like with s31's bench entry)
      val preAgg = (df: DataFrame) => df.groupBy(col("user_id"))
        .agg(max(struct(col("ts"), col("event_id"),
          col("event_type"), col("value"))).as("last"),
          count(lit(1)).as("n_events"),
          sum(round(col("value") * 100).cast("long")).as("cents"))
      val mergeAgg = EventStreams.ArtifactMerge("user_id",
        max(col("last")).as("last"), sum(col("n_events")).as("n_events"),
        sum(col("cents")).as("cents"))
      val work = java.nio.file.Files
        .createTempDirectory(s"graft-cfanin$n").toFile
      try {
        val srcDir = EventStreams.stagedEventBatches(spark, sfDir, n)
        EventStreams.runArtifactMergeLoop(spark,
          work.getAbsolutePath, srcDir,
          EventStreams.stagedEventSchema,
          nBuckets = Some(8))(preAgg, mergeAgg)
        val live = s"${work.getAbsolutePath}/state"
        def genDirs(): Int =
          Option(new java.io.File(live).listFiles())
            .getOrElse(Array.empty)
            .filter(d => d.isDirectory && d.getName.startsWith("bkt="))
            .map(d => Option(d.listFiles()).getOrElse(Array.empty)
              .count(g => g.isDirectory && g.getName.startsWith("g")))
            .sum
        def headRows(): Seq[String] =
          EventStreams.readCommitted(spark, live).get
            .drop("bkt").orderBy("user_id")
            .collect().map(_.toString).toSeq
        val (rowsBefore, tReadB) = timed(headRows())
        val gensBefore = genDirs()
        val (_, tCompact) = timed(
          EventStreams.compactArtifact(spark, live,
            lockBase = Some(work.getAbsolutePath)))
        val (rowsAfter, tReadA) = timed(headRows())
        val snap = EventStreams.readSnapshot(live).get._2
        val headGens = snap.values.toSet.size
        val headFiles = snap.map { case (p, g) =>
          Option(new java.io.File(live, s"$p/g$g").listFiles())
            .getOrElse(Array.empty)
            .count(EventStreams.isDataFile)
        }.sum
        require(rowsAfter == rowsBefore,
          s"compaction_fanin n=$n: the head changed across the " +
            "rewrite — the compaction lost or invented rows")
        println(
          f"""{"probe":"compaction_fanin","n_batches":$n,"rows":${rowsBefore.size},"gen_dirs_before":$gensBefore,"gen_dirs_after":${genDirs()},"head_gens_after":$headGens,"head_files_after":$headFiles,"compact_sec":$tCompact%.2f,"read_before_sec":$tReadB%.2f,"read_after_sec":$tReadA%.2f}""")
      } finally EventStreams.deleteRecursively(work)
      ()
    }

    // claim 3: the v20/s17 kNN-graph build stays ~linear when nlist
    // grows with the corpus (constant cell width), vs the quadratic
    // blow-up of a FIXED nlist. The k× embedding corpus is k
    // id-shifted replicas separated by a large dim-0 grid offset, so
    // each replica keeps the original's internal neighbor structure
    // but replicas are linearly separable — exactly the regime where
    // proportional nlist keeps cells replica-local and constant-width.
    val vks = sys.env.getOrElse("SPARK_GRAFT_VSCALE_KS", "1,2,4")
      .split(",").map(_.trim.toInt).toSeq
    val febase = graft.queries.VectorOps.fixedEmbFrame(spark, sfDir)
    def vreplica(r: Int): org.apache.spark.sql.DataFrame =
      febase.select(
        (col("vec_id") + lit(r * 10000000L)).as("vec_id"),
        expr(s"transform(qv, (x, i) -> CASE WHEN i = 0 " +
          s"THEN x + ${r}L * 50000000L ELSE x END)").as("qv"))
    // warmup: JIT the edge-build plan once (and release its persisted
    // cell-assignment frame so no cached partitions linger into the
    // timed probes)
    if (probeOn("knn_graph")) locally {
      val (out, asg) = graft.queries.VectorOps
        .knnGraphRankedOf(vreplica(0).limit(200), 4, 2)
      out.count()
      asg.unpersist()
    }
    (if (probeOn("knn_graph")) vks else Seq.empty[Int]).foreach { k =>
      val fe = (0 until k).map(vreplica).reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
        .persist()
      val nVecs = fe.count()
      val (eProp, tProp) = timed {
        val (out, asg) = graft.queries.VectorOps
          .knnGraphRankedOf(fe, 16 * k, 2)
        val n = out.count(); asg.unpersist(); n
      }
      val (eFix, tFix) = timed {
        val (out, asg) = graft.queries.VectorOps
          .knnGraphRankedOf(fe, 16, 2)
        val n = out.count(); asg.unpersist(); n
      }
      println(
        f"""{"probe":"knn_graph","k":$k,"n_vecs":$nVecs,"nlist_prop":${16 * k},"edges_prop":$eProp,"sec_prop":$tProp%.2f,"nlist_fixed":16,"edges_fixed":$eFix,"sec_fixed":$tFix%.2f}""")
      fe.unpersist()
      ()
    }

    // claim 4: g09's spatial-grid kNN join stays ~linear when the
    // grid refines with density (gridCols' derived width) vs the
    // quadratic cell self-join of the old FIXED 30° grid. Replica r
    // shifts the point lattice by (7r, 11r), so each replica adds a
    // full corpus-density layer into the same lon/lat window —
    // exactly the densification regime the derived width absorbs by
    // halving the cell.
    def gpts(r: Int): org.apache.spark.sql.DataFrame =
      Tables.customer(spark, sfDir).select(
        (col("c_custkey") + lit(r * 10000000L)).as("c_custkey"),
        (((col("c_custkey") * 37 + r * 7) % 360) - 180 + lit(0.5))
          .cast("double").as("lon"),
        (((col("c_custkey") * 53 + r * 11) % 180) - 90 + lit(0.5))
          .cast("double").as("lat"))
    // warmup: JIT the cell-join plan once
    if (probeOn("spatial_grid")) {
      graft.queries.GeoOps.knnJoinCellRanked(gpts(0).limit(200), 12)
        .count()
      ()
    }
    (if (probeOn("spatial_grid")) vks else Seq.empty[Int])
      .foreach { k =>
      val pts = (0 until k).map(gpts).reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
        .persist()
      val nPts = pts.count()
      val kDerived = graft.queries.GeoOps.gridCols(nPts)
      val (eProp, tProp) = timed {
        graft.queries.GeoOps.knnJoinCellRanked(pts, kDerived).count()
      }
      val (eFix, tFix) = timed {
        graft.queries.GeoOps.knnJoinCellRanked(pts, 12).count()
      }
      println(
        f"""{"probe":"spatial_grid","k":$k,"n_pts":$nPts,"cols_derived":$kDerived,"edges_derived":$eProp,"sec_derived":$tProp%.2f,"cols_fixed":12,"edges_fixed":$eFix,"sec_fixed":$tFix%.2f}""")
      pts.unpersist()
      ()
    }

    // claim 5: s17's cell-partitioned incremental merge rewrites only
    // the TOUCHED cells per batch, not the whole graph artifact.
    // Under cell-grouped arrival (batch i = cell-group i) the touched
    // sets are disjoint, so per-batch rewritten rows must stay ~flat
    // while the cumulative graph grows ~linearly — a full-artifact
    // rewrite would instead grow rewrittenRows with graphRowsTotal.
    if (probeOn("knn_graph_incr")) locally {
      val stats = graft.streaming.VectorStreams
        .replayKnnGraphIngestInstrumented(spark, sfDir,
          nBatches = 4, cellGrouped = true, collectStats = true)
        .stats
      val rw = stats.map(_.rewrittenRows)
      val tot = stats.map(_.graphRowsTotal)
      val tc = stats.map(_.touchedCells)
      // READ-side twin (r14): the pruned prior-graph scan must select
      // only the touched partitions — partitions_read tracks
      // touched_cells while partitions_total grows with the corpus
      val pr = stats.map(_.partitionsRead)
      val pt = stats.map(_.partitionsTotal)
      println(
        s"""{"probe":"knn_graph_incr","batches":${stats.length},"touched_cells":[${tc.mkString(",")}],"rewritten_rows":[${rw.mkString(",")}],"graph_rows_total":[${tot.mkString(",")}],"partitions_read":[${pr.mkString(",")}],"partitions_total":[${pt.mkString(",")}]}""")
    }
    // claim 6: t47's fuzzy entity resolution under a ZIPFIAN prefix
    // distribution (review r15): 30% of registry names share one hot
    // 3-char block — the reference's analogue is utility names all
    // starting "Alaska …". With flat prefix blocking the hot block is
    // ONE shuffle key whose refinement runs single-task and quadratic
    // in the block size; the composite (block, length-band) key
    // splits it across the corpus's length spread. Both variants must
    // return identical matches (the band can never prune a ≤2 pair).
    locally {
      val fks = sys.env.getOrElse("SPARK_GRAFT_FUZZY_KS", "1,2,4")
        .split(",").map(_.trim.toInt).toSeq
      // the k×-replicated registry both fuzzy probes share: doc_id
      // keys shifted by r·10⁷ per replica (single-sourced so the
      // skew and concentration probes can never drift onto
      // different corpora), names remapped hot by the probe's
      // predicate
      def fuzzyRegWith(k: Int, tag: String = "zzz")(
          hot: org.apache.spark.sql.Column): DataFrame = {
        val keys = (0 until k).map(r =>
          Tables.documents(spark, sfDir)
            .select((col("doc_id") + lit(r * 10000000L)).as("k")))
          .reduce(_ unionByName _)
        TextOps.fuzzyRegistryOf(keys).select(col("k"),
          when(hot, concat(lit(tag), col("name")))
            .otherwise(col("name")).as("name"),
          col("wlen"))
      }
      // 30% of names into one hot prefix; their tails keep the
      // registry's natural length spread, as real corpora do
      def fuzzyReg(k: Int): DataFrame =
        fuzzyRegWith(k)(pmod(col("k"), lit(10)) < 3)
      val anyFuzzy = Seq("fuzzy_skew", "fuzzy_conc", "fuzzy_conc4",
        "fuzzy_conc5").exists(probeOn)
      // warmup: JIT all three join shapes once
      if (anyFuzzy) locally {
        val r0 = fuzzyReg(1).limit(300).persist()
        r0.count()
        val d0 = TextOps.fuzzyDirtyOf(r0)
        TextOps.fuzzyResolveOf(r0, d0, hotBudget = 1).count()
        TextOps.fuzzyResolveOf(r0, d0,
          hotBudget = Int.MaxValue).count()
        TextOps.fuzzyResolveOf(r0, d0, lengthBand = false).count()
        r0.unpersist()
        ()
      }
      def noBroadcast[A](f: => A): A = {
        val bcast = spark.conf.get(
          "spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try f
        finally spark.conf
          .set("spark.sql.autoBroadcastJoinThreshold", bcast)
      }
      (if (probeOn("fuzzy_skew")) fks else Seq.empty[Int])
          .foreach { k =>
        val reg = fuzzyReg(k)
          .repartition(spark.sparkContext.defaultParallelism)
          .persist()
        val nNames = reg.count()
        val dirty = TextOps.fuzzyDirtyOf(reg).persist()
        dirty.count()
        val (mBand, tBand) = timed {
          TextOps.fuzzyResolveOf(reg, dirty,
            hotBudget = Int.MaxValue).count()
        }
        val (mFlat, tFlat) = timed {
          TextOps.fuzzyResolveOf(reg, dirty, lengthBand = false)
            .count()
        }
        // the DEPLOYMENT regime: a registry too large to broadcast
        // joins sort-merge/shuffled-hash — there the flat form's hot
        // prefix is a single shuffle key (one task, quadratic in the
        // block), while the composite key splits it across the
        // length spread, and the escalated key (r17, the default)
        // additionally lengthens any still-hot cell's key to 4
        // chars. At probe sizes the broadcast regime above keeps
        // even the flat form parallel, so the skew cost only shows
        // once broadcast is off. NOTE the hot-cell TAG join stays a
        // broadcast by explicit hint even with the threshold off —
        // exactly as it would at 100 TB.
        val (mBandS, tBandS) = noBroadcast(timed {
          TextOps.fuzzyResolveOf(reg, dirty,
            hotBudget = Int.MaxValue).count()
        })
        val (mFlatS, tFlatS) = noBroadcast(timed {
          TextOps.fuzzyResolveOf(reg, dirty, lengthBand = false)
            .count()
        })
        val (mEscS, tEscS) = noBroadcast(timed {
          TextOps.fuzzyResolveOf(reg, dirty).count()
        })
        assert(mBand == mFlat && mBandS == mBand && mFlatS == mBand
            && mEscS == mBand,
          s"banded/flat/escalated outputs diverged: $mBand $mFlat " +
            s"$mBandS $mFlatS $mEscS")
        println(
          f"""{"probe":"fuzzy_skew","k":$k,"n_names":$nNames,"hot_frac":0.3,"matches":$mBand,"sec_banded_bcast":$tBand%.2f,"sec_flat_bcast":$tFlat%.2f,"sec_banded_smj":$tBandS%.2f,"sec_flat_smj":$tFlatS%.2f,"sec_esc_smj":$tEscS%.2f}""")
        reg.unpersist()
        dirty.unpersist()
        ()
      }
      // claim 6b (review r16): the residual case the composite key
      // cannot split — one prefix AND one length. The hot subset is
      // confined to a single (pre3, blen) cell (names "zzz"+w1-w2-k
      // with both words length 6 and 8-digit keys: one shared
      // 3-char prefix, one shared length 25, ~34% of the corpus —
      // dominant, as a real "Alaska …" registry's hot block is),
      // the exact corpus shape where banded blocking degenerates to
      // one shuffle key whose refinement is quadratic AND
      // single-task. The escalated key splits the cell at the 4th
      // character (12 distinct w1 first letters), cutting in-cell
      // candidate pairs ~12× and restoring parallelism; the match
      // set is provably unchanged (any cross-w1 pair is ≥ 3 edits
      // away — word list min pairwise distance 3, plus the
      // always-distinct key digits — so escalation can only prune
      // pairs the ≤2 threshold would reject). The remaining growth
      // term in BOTH variants is the registry's natural cells
      // (every name of a (w1, length) cell shares its first SIX
      // chars, so pre4 cannot subdivide them — the synthetic
      // worst case for any fixed-depth key). Sizes via
      // SPARK_GRAFT_FUZZYC_KS.
      if (probeOn("fuzzy_conc")) locally {
        val cks = sys.env.getOrElse("SPARK_GRAFT_FUZZYC_KS", "4,8,16")
          .split(",").map(_.trim.toInt).toSeq
        def concReg(k: Int): DataFrame =
          fuzzyRegWith(k)(pmod(col("k"), lit(10)) < 6 &&
            col("wlen") === 12 && length(col("name")) === 22)
        cks.foreach { k =>
          val reg = concReg(k)
            .repartition(spark.sparkContext.defaultParallelism)
            .persist()
          val nNames = reg.count()
          val hotCell = reg.filter(col("name").startsWith("zzz"))
            .count()
          val dirty = TextOps.fuzzyDirtyOf(reg).persist()
          dirty.count()
          val (mBandC, tBandC) = noBroadcast(timed {
            TextOps.fuzzyResolveOf(reg, dirty,
              hotBudget = Int.MaxValue).count()
          })
          val (mEscC, tEscC) = noBroadcast(timed {
            TextOps.fuzzyResolveOf(reg, dirty).count()
          })
          assert(mBandC == mEscC,
            s"banded/escalated outputs diverged: $mBandC $mEscC")
          println(
            f"""{"probe":"fuzzy_conc","k":$k,"n_names":$nNames,"hot_cell":$hotCell,"matches":$mBandC,"sec_banded_smj":$tBandC%.2f,"sec_esc_smj":$tEscC%.2f}""")
          reg.unpersist()
          dirty.unpersist()
          ()
        }
      }
      // claim 6c (review r17 item 1): the corpus the key4 rung
      // cannot split — names sharing FOUR leading chars at one
      // length ("zzzz" tag). The key5 rung splits it at the 5th
      // character (the 12 distinct w1 first letters), and the salt
      // rung then shards any per-letter cell still above budget.
      // Regimes priced: r17's ladder (key4 only — on this corpus it
      // degenerates to one shuffle key), key5 without salt, and the
      // full ladder. Cross-w1 pairs are ≥ 3 edits apart (word-list
      // min pairwise distance 3) so every regime returns the same
      // matches.
      if (probeOn("fuzzy_conc4")) locally {
        val cks = sys.env.getOrElse("SPARK_GRAFT_FUZZYC4_KS",
          "4,8,16").split(",").map(_.trim.toInt).toSeq
        def conc4Reg(k: Int): DataFrame =
          fuzzyRegWith(k, "zzzz")(pmod(col("k"), lit(10)) < 6 &&
            col("wlen") === 12 && length(col("name")) === 22)
        cks.foreach { k =>
          val reg = conc4Reg(k)
            .repartition(spark.sparkContext.defaultParallelism)
            .persist()
          val nNames = reg.count()
          val hotCell = reg.filter(col("name").startsWith("zzzz"))
            .count()
          val dirty = TextOps.fuzzyDirtyOf(reg).persist()
          dirty.count()
          // Beyond k=16 only the headline regimes are priced (VERDICT
          // r18 item 6 — the asymptote receipt): the truncated-ladder
          // rungs exist to DEMONSTRATE their degeneration, which the
          // committed k ≤ 16 rows already do (esc4 grows 30→208 s
          // for 4×); at k=32 the quadratic esc4 regime alone would
          // cost ~15 box-minutes to restate a known number. The r19
          // k=32/64 run of the salt-final ladder (sec_full_smj
          // 267.9/694.6 — committed in scalecheck_r18+19) showed the
          // SALT rung is not an asymptote on this corpus: the 16
          // word-prefix mega-cells grow with the corpus and their
          // pair mass is quadratic however well spread. sec_max_smj
          // prices the maximal-prefix rung that splits them; the
          // salt-final regime beyond k=16 is the committed history,
          // re-priced here only while it stays affordable (k ≤ 32).
          val priceDegenerate = k <= 16
          val priceSaltFinal = k <= 32
          val (mEsc4, tEsc4) =
            if (priceDegenerate) noBroadcast(timed {
              TextOps.fuzzyResolveOf(reg, dirty,
                deepKey = false, saltHot = false,
                maxKey = false).count()
            }) else (-1L, Double.NaN)
          val (mEsc5, tEsc5) =
            if (priceDegenerate) noBroadcast(timed {
              TextOps.fuzzyResolveOf(reg, dirty,
                saltHot = false, maxKey = false).count()
            }) else (-1L, Double.NaN)
          val (mFull, tFull) =
            if (priceSaltFinal) noBroadcast(timed {
              TextOps.fuzzyResolveOf(reg, dirty,
                maxKey = false).count()
            }) else (-1L, Double.NaN)
          val (mMax, tMax) = noBroadcast(timed {
            TextOps.fuzzyResolveOf(reg, dirty).count()
          })
          if (priceDegenerate)
            assert(mEsc4 == mEsc5 && mEsc5 == mFull,
              s"ladder regimes diverged: $mEsc4 $mEsc5 $mFull")
          if (priceSaltFinal)
            assert(mFull == mMax,
              s"maximal rung changed matches: $mFull vs $mMax")
          // the corpus invariant every committed row shows: each
          // replica name resolves into exactly one match row
          assert(mMax == nNames,
            s"full ladder matched $mMax of $nNames names")
          def sec(t: Double): String =
            if (t.isNaN) "null" else f"$t%.2f"
          println(
            s"""{"probe":"fuzzy_conc4","k":$k,"n_names":$nNames,"hot_cell":$hotCell,"matches":$mMax,"sec_esc4_smj":${sec(tEsc4)},"sec_esc5_smj":${sec(tEsc5)},"sec_full_smj":${sec(tFull)},"sec_max_smj":${sec(tMax)}}""")
          reg.unpersist()
          dirty.unpersist()
          ()
        }
      }
      // claim 6d: the corpus NO key rung can split — names sharing
      // FIVE leading chars at one length ("zzzzz" tag). key5 leaves
      // one cell; only the salt rung helps, by converting the one
      // quadratic single-task shuffle key into ceil(n/budget)
      // budget-wide shards refined in parallel. The candidate set
      // is identical with and without salt (salting re-partitions,
      // never prunes), which the match-count assert re-proves.
      if (probeOn("fuzzy_conc5")) locally {
        val cks = sys.env.getOrElse("SPARK_GRAFT_FUZZYC5_KS",
          "4,8").split(",").map(_.trim.toInt).toSeq
        def conc5Reg(k: Int): DataFrame =
          fuzzyRegWith(k, "zzzzz")(pmod(col("k"), lit(10)) < 6 &&
            col("wlen") === 12 && length(col("name")) === 22)
        cks.foreach { k =>
          val reg = conc5Reg(k)
            .repartition(spark.sparkContext.defaultParallelism)
            .persist()
          val nNames = reg.count()
          val hotCell = reg.filter(col("name").startsWith("zzzzz"))
            .count()
          val dirty = TextOps.fuzzyDirtyOf(reg).persist()
          dirty.count()
          // the two salt-pricing regimes pin maxKey=false — this
          // probe prices SALT on the key-unsplittable cell, and the
          // maximal rung (r19) would reroute it first; sec_max_smj
          // prices the production ladder for the same corpus (the
          // "zzzzz" tag shares 5 leading chars, but pre_{blen−7}
          // reaches the word region beyond the tag and splits)
          val (mNoSalt, tNoSalt) = noBroadcast(timed {
            TextOps.fuzzyResolveOf(reg, dirty,
              saltHot = false, maxKey = false).count()
          })
          val (mSalt, tSalt) = noBroadcast(timed {
            TextOps.fuzzyResolveOf(reg, dirty,
              maxKey = false).count()
          })
          val (mMax5, tMax5) = noBroadcast(timed {
            TextOps.fuzzyResolveOf(reg, dirty).count()
          })
          assert(mNoSalt == mSalt && mSalt == mMax5,
            s"regimes changed the match set: $mNoSalt $mSalt $mMax5")
          println(
            f"""{"probe":"fuzzy_conc5","k":$k,"n_names":$nNames,"hot_cell":$hotCell,"matches":$mSalt,"sec_nosalt_smj":$tNoSalt%.2f,"sec_salt_smj":$tSalt%.2f,"sec_max_smj":$tMax5%.2f}""")
          reg.unpersist()
          dirty.unpersist()
          ()
        }
      }
    }

    // ---- t48 DSIR scoring linearity + bounded-model receipt ----
    // The claim: corpus growth moves only the three linear scans —
    // the model stays ≤ DsirBuckets rows (feature hashing is what
    // makes DSIR 100 TB-feasible) and the cutoff walk stays
    // histogram-sized, so end-to-end time tracks corpus size ~1:1
    // while model_rows and the weight-grid size stay flat.
    if (probeOn("dsir")) locally {
      val dks = sys.env.getOrElse("SPARK_GRAFT_DSIR_KS", "1,2,4")
        .split(",").map(_.trim.toInt).toSeq
      val full = Tables.documents(spark, sfDir)
        .select("doc_id", "text", "lang", "source")
      def dsirScaled(k: Int): DataFrame =
        scaled(full, k, Seq("lang", "source"))
      // warmup: JIT + codegen for the gram/score plans
      TextOps.dsirScoredOf(full.limit(200)).count()
      dks.foreach { k =>
        val docs = dsirScaled(k)
          .repartition(spark.sparkContext.defaultParallelism)
          .persist()
        val nDocs = docs.count()
        val (res, t) = timed {
          val m = TextOps.dsirModelOf(docs)
          val scored = TextOps.dsirScoreWith(docs, m)
          // guard the primitive accessor (ADVICE r18): a corpus with
          // no scorable docs makes the min-over-empty cutoff NULL and
          // getDouble would NPE undiagnostically — same failure class
          // the s27 gate guards with isNullAt
          val cutRow = TextOps.dsirCutOf(scored).collect()(0)
          require(!cutRow.isNullAt(0),
            s"dsir probe k=$k: no scorable docs — cutoff is NULL")
          val cutoff = cutRow.getDouble(0)
          val admitted = TextOps.dsirScoreWith(docs, m)
            .filter(col("w") >= lit(cutoff)).count()
          (m.rows.size, admitted)
        }
        val (modelRows, admitted) = res
        println(
          f"""{"probe":"dsir","k":$k,"n_docs":$nDocs,"model_rows":$modelRows,"admitted":$admitted,"sec":$t%.2f}""")
        docs.unpersist()
        ()
      }
    }
    // stream_width (r21, VERDICT r20 item 6): the streaming width
    // derivation at scale. Two receipts:
    //  (a) the pure derivation — synthetic byte counts through
    //      streamShufflePartitions — showing width is a function of
    //      INPUT BYTES (ceil(bytes/32 MB), clamped), with the session
    //      core count nowhere in the formula (`cpus` is printed on
    //      every row so two runs at different SPARK_GRAFT_CPUS show
    //      identical widths);
    //  (b) empirical — the events slice replicated k×, staged as 4
    //      single-file micro-batches, run through a watermarked
    //      tumbling-window count on the derived width: state rows and
    //      the per-run state-commit sum track the DATA (more bytes ⇒
    //      wider state ⇒ flat-per-partition commits), not the session
    //      width that would have fixed 32 state partitions per store
    //      regardless of input (the r20 C1 finding).
    if (probeOn("stream_width")) locally {
      import graft.streaming.EventStreams
      Seq(1L << 20, 32L << 20, 1L << 30, 100L << 30, 1L << 40,
        100L << 40).foreach { b =>
        println(s"""{"probe":"stream_width","cpus":$cpus,"bytes":$b,"derived_width":${EventStreams.streamShufflePartitions(b)}}""")
      }
      val wks = sys.env.getOrElse("SPARK_GRAFT_WIDTH_KS", "1,4,16")
        .split(",").map(_.trim.toInt).toSeq
      val ev = Tables.events(spark, sfDir)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
      wks.foreach { k =>
        val work = java.nio.file.Files
          .createTempDirectory("graft-swidth").toFile
        try {
          // k× replication with DISTINCT user ids per replica so the
          // state (users × hours) grows with the data, as a real
          // backlog's would
          val rep = (0 until k).map(r => ev
              .withColumn("user_id",
                col("user_id") + lit(r.toLong * 1000000000L)))
            .reduce(_.unionByName(_))
          val src = new java.io.File(EventStreams.stageSlices(rep,
            pmod(col("event_id"), lit(4)), 4, work.getAbsolutePath))
          val bytes = EventStreams.stagedBytes(src.getAbsolutePath)
          val width = EventStreams.streamShufflePartitions(bytes)
          val commits = scala.collection.mutable.ArrayBuffer[Long]()
          val rows = scala.collection.mutable.ArrayBuffer[Long]()
          val ((), t) = timed {
            val qn = s"swidth_k$k"
            val q = EventStreams.withStreamShuffle(spark, bytes) {
              spark.readStream
                .schema(rep.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src.getAbsolutePath)
                .withWatermark("ts", "35 days")
                .groupBy(window(col("ts"), "1 hour"), col("user_id"))
                .agg(count(lit(1)).as("n"))
                .select(col("user_id"), col("n"))
                .writeStream
                .outputMode(org.apache.spark.sql.streaming
                  .OutputMode.Append())
                .trigger(org.apache.spark.sql.streaming
                  .Trigger.AvailableNow())
                .format("noop").queryName(qn).start()
            }
            EventStreams.drain(q)
            q.recentProgress.foreach { p =>
              p.stateOperators.foreach { s =>
                commits += s.commitTimeMs; rows += s.numRowsTotal
              }
            }
          }
          println(f"""{"probe":"stream_width","k":$k,"cpus":$cpus,"bytes":$bytes,"derived_width":$width,"state_rows":${rows.lastOption.getOrElse(0L)},"commit_ms_sum":${commits.sum},"batches":${commits.size},"sec":$t%.2f}""")
        } finally {
          def rm(f: java.io.File): Unit = {
            Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
            f.delete(); ()
          }
          rm(work)
        }
      }
    }
    spark.stop()
  }
}
