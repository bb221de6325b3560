package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextHash

/** Similarity search over the `embeddings` table (builder-prompt
  * mandate): brute-force cosine top-k as the correctness baseline and a
  * random-hyperplane LSH bucketed variant as the 100 TB scale path.
  *
  * Vector math runs in primitive-loop Scala UDFs (cosine, norm,
  * hyperplane buckets) — map-side, no driver loops; Catalyst HOFs were
  * measurably slower (interpreted lambda per element).
  */
object VectorOps {

  private type Q = (SparkSession, String) => DataFrame

  private val Dim = 64

  /** Embeddings with the float array upcast to double once — all
    * downstream arithmetic is then exact-ulp identical to the DuckDB
    * oracle's CAST(... AS DOUBLE).
    */
  private def emb(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).select(
      col("vec_id"), col("label"),
      transform(col("embedding"), x => x.cast("double")).as("v"))

  // Tight-loop kernels instead of zip_with/aggregate HOFs: Catalyst
  // higher-order functions evaluate an interpreted lambda per element,
  // which dominates wall-clock on wide candidate sets; a primitive loop
  // UDF is ~10× cheaper and keeps the identical left-fold float
  // semantics the DuckDB oracle matches.
  private val cosUdf = udf { (a: Seq[Double], b: Seq[Double]) =>
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  private val normUdf = udf { (a: Seq[Double]) =>
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * a(i); i += 1 }
    math.sqrt(s)
  }

  private def norm(a: Column): Column = normUdf(a)

  /** v01 — brute-force cosine top-k for a fixed query set. The query side
    * is tiny → broadcast; the corpus side streams through one pass with a
    * per-partition top-k (TakeOrdered-like via window over qid). At scale
    * this is the exact-rerank stage of any ANN pipeline. Ranking is over
    * the ROUNDED similarity (+ id tiebreak) so both engines rank
    * identically despite last-ulp float-sum differences.
    */
  val v01KnnBrute: Q = (s, d) => {
    val e = emb(s, d)
    val q = e.filter(col("vec_id").isin(0, 1, 2))
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        round(cosUdf(col("qv"), col("v")), 4).as("cos_sim"))
    val w = Window.partitionBy("qid")
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select("qid", "rk", "vec_id", "cos_sim")
      .orderBy("qid", "rk")
  }

  /** v15 — FILTERED vector search (the "hybrid search" every vector
    * store advertises: nearest neighbors among vectors satisfying a
    * metadata predicate — here, the query's own label; think "similar
    * documents within my category"). Same brute exact-rerank shape as
    * v01 with the predicate applied AT THE JOIN, before any distance
    * math or the top-k window: candidates per query shrink by the
    * filter's selectivity (~1/|labels| here), which is precisely why
    * production systems push filters below the scorer instead of
    * post-filtering a k-list that may then come up short. Broadcast
    * query side carries (qid, qv, qlabel); ranking over the rounded
    * similarity + id tiebreak (the v01 cross-engine contract).
    */
  val v15KnnFiltered: Q = (s, d) => {
    val e = emb(s, d)
    val q = e.filter(col("vec_id").isin(0, 1, 2))
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("label").as("qlabel"))
    val scored = e.join(broadcast(q),
        col("vec_id") =!= col("qid") && col("label") === col("qlabel"))
      .select(col("qid"), col("qlabel"), col("vec_id"),
        round(cosUdf(col("qv"), col("v")), 4).as("cos_sim"))
    val w = Window.partitionBy("qid")
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select("qid", "qlabel", "rk", "vec_id", "cos_sim")
      .orderBy("qid", "rk")
  }

  /** v17's similarity floor. 0.25 sits near the p99 of the synthetic
    * corpus's cosine distribution — a radius set of ~1% of the corpus
    * per query, the "all plausibly-related documents" shape. The
    * oracle SQL pins the same value independently.
    */
  val RangeSearchTau = 0.25

  /** v17 — RANGE (radius) search: ALL vectors within a similarity
    * floor of each query, not a fixed k — the retrieval mode dedup
    * sweeps and recall-oriented RAG use when the answer set size is
    * data-dependent ("every document at least this related"). Same
    * broadcast-query scan as v01 but with NO top-k window: the
    * threshold filter is applied map-side to the rounded similarity,
    * so the whole plan is one corpus pass with zero shuffles before
    * the presentation sort — strictly cheaper than top-k at scale
    * (no per-query ranking state). Both engines filter on the SAME
    * rounded value, so the boundary is deterministic cross-engine.
    */
  val v17RangeSearch: Q = (s, d) => {
    val e = emb(s, d)
    val q = e.filter(col("vec_id").isin(0, 1, 2))
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        round(cosUdf(col("qv"), col("v")), 4).as("cos_sim"))
      .filter(col("cos_sim") >= RangeSearchTau)
      .orderBy("qid", "vec_id")
  }

  /** v18's truncation depth and shortlist size. 16 of 64 dims in the
    * cheap pass (4× less data touched), 64 candidates into the exact
    * rerank. The oracle pins both independently.
    */
  val MatryoshkaPrefixDim = 16
  val MatryoshkaShortlist = 64

  private val prefixCosUdf = udf { (a: Seq[Double], b: Seq[Double]) =>
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    val n = math.min(MatryoshkaPrefixDim, math.min(a.length, b.length))
    while (i < n) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    // eps-guard (the ADC convention): an all-zero prefix must score a
    // deterministic 0.0 in BOTH engines, not Spark-NaN vs DuckDB-NULL
    dot / math.max(math.sqrt(na) * math.sqrt(nb), 1e-12)
  }

  /** The staged narrow Matryoshka artifact: (vec_id, v_prefix) with
    * v_prefix = the first [[MatryoshkaPrefixDim]] dims. StageCache'd
    * next to the IVF+PQ index (content-fingerprinted, rebuilt only
    * when the corpus changes), so v18's cheap pass physically scans a
    * file 4× narrower than the embeddings — the "reads 4× less" claim
    * as an on-disk fact, not a projection the reader may or may not
    * prune (PlanSpec gates the scan schema).
    */
  def ensureMatryoshkaPrefix(s: SparkSession, d: String): DataFrame = {
    import graft.pipeline.StageCache
    val cache = new StageCache(s, StageCache.indexRoot)
    val ver = cache.versionHash(Seq("mrl_prefix", "v1",
      s"dim=$MatryoshkaPrefixDim"))
    cache.stage("mrl_prefix", ver, Seq(s"$d/embeddings.parquet")) {
      emb(s, d).select(col("vec_id"),
        slice(col("v"), 1, MatryoshkaPrefixDim).as("v_prefix"))
    }
  }

  /** v18 — MATRYOSHKA (truncated-dimension) ANN: score every corpus
    * vector with the cosine over only the first [[MatryoshkaPrefixDim]]
    * dims — the cheap pass; with Matryoshka-style embeddings the
    * leading dims carry the coarse geometry, and the prefix lives as
    * its own narrow artifact ([[ensureMatryoshkaPrefix]]) so this scan
    * physically reads 4× less — shortlist the top
    * [[MatryoshkaShortlist]] per query on the ROUNDED prefix
    * similarity (round-6 + id tiebreak, the oracle-stable contract),
    * then exact full-dim rerank to the reported top-1 (round-4). Same
    * two-stage cheap-filter → exact-rerank shape as PQ's ADC, with
    * dimension truncation instead of quantization as the compression
    * axis. Fully hash-oracled: every stage is plain float arithmetic
    * under rounded-ranking contracts.
    */
  val v18AnnMatryoshka: Q = (s, d) => {
    val e = emb(s, d)
    val pre = ensureMatryoshkaPrefix(s, d)
    val qp = pre.filter(col("vec_id") < IvfIntMaxQid)
      .select(col("vec_id").as("qid"), col("v_prefix").as("qpv"))
    val q = e.filter(col("vec_id") < IvfIntMaxQid)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    // narrow (qid, vec_id, pre_sim) rows through the shortlist window —
    // the full vectors rejoin only for shortlist×query rows (the v07
    // rerank shape; shuffling 64-double payloads through the ranking
    // exchange would dominate at scale)
    val scored = pre.join(broadcast(qp), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        round(prefixCosUdf(col("qpv"), col("v_prefix")), 6)
          .as("pre_sim"))
    val wPre = Window.partitionBy("qid")
      .orderBy(col("pre_sim").desc, col("vec_id").asc)
    val short = scored.withColumn("rk", row_number().over(wPre))
      .filter(col("rk") <= MatryoshkaShortlist)
      .select("qid", "vec_id")
    val w = Window.partitionBy("qid")
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
    short
      .join(e.select(col("vec_id"), col("v")), "vec_id")
      .join(broadcast(q), "qid")
      .select(col("qid"), col("vec_id"),
        round(cosUdf(col("qv"), col("v")), 4).as("cos_sim"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("qid"), col("vec_id").as("ann_nid"), col("cos_sim"))
      .orderBy("qid")
  }

  /** v02 — per-label centroid (first 4 dims): posexplode the vector and
    * aggregate by (label, dim) — the distributed layout for any
    * vector-wide statistic; no vector ever has to fit a single reducer.
    */
  val v02LabelCentroids: Q = (s, d) =>
    emb(s, d)
      .select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
      .filter(col("pos") < 4)
      .groupBy(col("label"), (col("pos") + 1).as("dim"))
      .agg(round(avg("x"), 5).as("centroid"), count(lit(1)).as("n_vecs"))
      .orderBy("label", "dim")

  /** v03 — ANN via multi-table random-hyperplane LSH (Charikar'02):
    * deterministic pseudo-random planes hash each vector into one
    * bucket per table (posexplode, same banding layout as MinHash-LSH);
    * a candidate is any vector sharing (table, bucket) with the query;
    * exact cosine reranks candidates. Shuffles only on (table, bucket)
    * keys — never all-pairs. Rows-only — graded against v01 brute-force
    * recall in VectorSpec.
    */
  val v03AnnLsh: Q = (s, d) => annLsh(emb(s, d), maxQid = 50)

  /** 24 tables × 6 planes: tuned for this corpus, whose true nearest
    * neighbors sit at cos≈0.36 (near-random vectors — hit prob ≈0.75
    * there). On genuinely clustered data (cos ≥ 0.8) the same config
    * gives recall ≈1 with far fewer junk candidates; at 100 TB, table
    * count scales candidate volume linearly, so it's the knob to trade
    * recall vs. rerank cost.
    */
  private val Tables_ = 24
  private val PlanesPerTable = 6

  def annLsh(e0: DataFrame, maxQid: Int): DataFrame = {
    // Spread the corpus across all cores before the bucketing stage: a
    // single input file arrives as ONE partition locally, serializing
    // the signature work (on a real cluster the input has many splits
    // and this repartition is a cheap no-op-sized shuffle).
    val e = e0.repartition(e0.sparkSession.sparkContext.defaultParallelism)
    // GRID-SEEDED bucketing (r10): md5-derived integer hyperplanes (the
    // v13 machinery, at v03's 24-table depth) dotted with fixed-point
    // vectors — every sign decision is exact BIGINT arithmetic, so the
    // bucket tables and the candidate set are DuckDB-recomputable.
    // Scoring below stays the float exact-cosine serve path.
    val planes: Array[Array[Array[Long]]] =
      Array.tabulate(Tables_, PlanesPerTable, Dim)(lshIntCoord)
    val bcPlanes = e0.sparkSession.sparkContext.broadcast(planes)
    val bucketsUdf = udf { (v: Seq[Double]) =>
      val vg = Array.tabulate(v.length)(j => snapLong(v(j)))
      (0 until Tables_).map { t =>
        var b = 0
        var p = 0
        while (p < PlanesPerTable) {
          val pc = bcPlanes.value(t)(p)
          var acc = 0L
          var j = 0
          while (j < Dim && j < vg.length) { acc += pc(j) * vg(j); j += 1 }
          if (acc >= 0L) b |= (1 << p)
          p += 1
        }
        b
      }
    }
    // Persist: referenced by both sides of the candidate join (see
    // minHashPairs — same double-eval hazard for the bucketing UDF).
    // Narrow columns only — persisting the vector payload here would
    // copy it once per (table, bucket) row.
    val bucketed = e
      .select(col("vec_id"),
        posexplode(bucketsUdf(col("v"))).as(Seq("tbl", "bucket")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val q = bucketed.filter(col("vec_id") < maxQid)
      .select(col("vec_id").as("qid"),
        col("tbl").as("qtbl"), col("bucket").as("qbucket"))
    // Dedup candidate (qid, vec_id) pairs on narrow keys BEFORE joining
    // the wide vector payload back — at scale this is the difference
    // between shuffling ids and shuffling the whole embedding matrix.
    // Eager localCheckpoint materializes the small candidate set off
    // the warm bucket cache so `bucketed` can be unpersisted HERE
    // (repeated invocations otherwise accumulate cached copies);
    // checkpoint blocks are ContextCleaner-managed.
    val candIds = bucketed.join(q,
        col("tbl") === col("qtbl") && col("bucket") === col("qbucket") &&
          col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"))
      .distinct()
      .localCheckpoint()
    bucketed.unpersist()
    val cand = candIds
      .join(e.select(col("vec_id").as("qid"), col("v").as("qv")), "qid")
      .join(e.select(col("vec_id"), col("v")), "vec_id")
      .select(col("qid"), col("vec_id"),
        round(cosUdf(col("qv"), col("v")), 4).as("cos_sim"))
    val w = Window.partitionBy("qid")
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
    cand.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("qid"), col("vec_id").as("ann_nid"), col("cos_sim"))
      .orderBy("qid")
  }

  /** v05 — ANN via IVF (inverted-file index, the FAISS IVF-Flat shape):
    * a deterministic k-means coarse quantizer (Lloyd's on a driver-side
    * sample — the ONLY driver-side step, and it touches `nlist*40`
    * vectors regardless of corpus size), broadcast centroids, map-side
    * cell assignment, and a probe of the `nprobe` nearest cells per
    * query. Shuffle is keyed by cell id; rerank is exact cosine over
    * probed cells only — corpus_fraction ≈ nprobe/nlist.
    */
  val v05AnnIvf: Q = (s, d) => annIvf(emb(s, d), maxQid = IvfIntMaxQid,
    nlist = IvfIntNlist, nprobe = IvfIntNprobe)

  def annIvf(e0: DataFrame, maxQid: Int, nlist: Int,
      nprobe: Int): DataFrame = {
    val e = e0.repartition(e0.sparkSession.sparkContext.defaultParallelism)

    // --- coarse quantizer: GRID-SEEDED like trainIvfPq (r10) — the
    // v12 integer Lloyd's on the shared fixed-point grid, so routing
    // and the probe sets are integer-exact (DuckDB-recomputable and
    // bit-identical to v12's `asg`/`prb` CTEs); SCORING below stays
    // the float exact-cosine serve path, which the oracle recomputes
    // under the round-4 ranking contract. ---
    val sample = intTrainSampleOf(e0, nlist * 40)
    val centsInt = intKmeansFit(sample, nlist, IvfIntIters)
    val bc = e0.sparkSession.sparkContext.broadcast(centsInt)

    val cellUdf = udf { (v: Seq[Double]) =>
      val vg = Array.tabulate(v.length)(j => snapLong(v(j)))
      nearestCellInt(bc.value, vg)
    }
    val probeUdf = udf { (v: Seq[Double]) =>
      val vg = Array.tabulate(v.length)(j => snapLong(v(j)))
      bc.value.indices
        .map(c => (dist2Int(bc.value(c), vg), c))
        .sorted.take(nprobe).map(_._2)
    }

    val assigned = e.withColumn("cell", cellUdf(col("v")))
    val q = assigned.filter(col("vec_id") < maxQid)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        explode(probeUdf(col("v"))).as("cell"))
    val cand = assigned.join(q,
        Seq("cell")).filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        round(cosUdf(col("qv"), col("v")), 4).as("cos_sim"))
    val w = Window.partitionBy("qid")
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
    cand.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("qid"), col("vec_id").as("ann_nid"), col("cos_sim"))
      .orderBy("qid")
  }

  /** v07 — ANN via product quantization (Jégou et al., TPAMI 2011 — the
    * FAISS PQ shape): the vector splits into M=8 subspaces, each with a
    * K=16-centroid codebook trained on the same bounded driver sample
    * IVF uses; the corpus encodes to M BYTE codes (64×8-byte doubles →
    * 8 bytes: 64× compression — at 100 TB the difference between a
    * RAM-resident index and a disk-bound one). Queries score encoded
    * vectors with asymmetric distance: a per-query M×K lookup table of
    * partial dot products (built once, broadcast), so scoring never
    * decodes a vector; the ADC top-`rerank` then re-rank with exact
    * cosine over the full-precision vectors. Composable with IVF
    * (probe cells, then ADC within them) — kept exhaustive here so the
    * PQ error is measured in isolation. Fully hash-oracled since r10:
    * grid-seeded codebooks + integer-exact encoding, float ADC
    * recomputed by the oracle's reconstruction form; recall is
    * additionally graded vs brute force in VectorSpec.
    */
  val v07AnnPq: Q = (s, d) =>
    annPq(emb(s, d), maxQid = IvfIntMaxQid, m = PqIntM, k = PqIntK,
      rerank = IvfPqRerank)

  def annPq(e0: DataFrame, maxQid: Int, m: Int, k: Int,
      rerank: Int): DataFrame = {
    require(Dim % m == 0, s"dim $Dim not divisible by $m subspaces")
    val sub = Dim / m
    val spark = e0.sparkSession
    val e = e0.repartition(spark.sparkContext.defaultParallelism)

    // --- train per-subspace codebooks on the bounded hash-stratified
    // sample (driver; size independent of corpus, like IVF's).
    // GRID-SEEDED like trainIvfPq (r10): integer Lloyd's on the shared
    // fixed-point grid, scaled back to exact doubles — codebook
    // training and code assignment are DuckDB-recomputable, so v07
    // carries a full hash oracle; ADC scoring stays float. ---
    val sampleInt = intTrainSampleOf(e0, k * 40)
    val cbInt: Array[Array[Array[Long]]] = Array.tabulate(m) { mi =>
      intKmeansFit(sampleInt.map(_.slice(mi * sub, (mi + 1) * sub)), k,
        IvfIntIters)
    }
    val codebooks: Array[Array[Array[Double]]] =
      cbInt.map(_.map(_.map(_.toDouble / FixScale)))
    val bcCb = spark.sparkContext.broadcast(codebooks)
    val bcCbInt = spark.sparkContext.broadcast(cbInt)

    // map-side byte encoding on the integer grid — the compressed
    // index representation, bit-identical to the oracle's `enc` CTE
    val encodeUdf = udf { (v: Seq[Double]) =>
      val cb = bcCbInt.value
      val vg = Array.tabulate(v.length)(j => snapLong(v(j)))
      Array.tabulate(m)(mi => nearestCellInt(cb(mi),
        vg.slice(mi * sub, (mi + 1) * sub)).toByte)
    }
    val coded = e.select(col("vec_id"), encodeUdf(col("v")).as("codes"))

    // --- per-query ADC tables: table(q)(mi)(code) = dot(q_sub, centroid),
    // plus the squared norm each code contributes (for the approximate
    // cosine denominator). Queries are a bounded set (like v01/v05). ---
    val queries = e0.filter(col("vec_id") < maxQid)
      .select("vec_id", "v").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    val codeNorm2: Array[Array[Double]] = Array.tabulate(m) { mi =>
      Array.tabulate(k) { c =>
        var s2 = 0.0
        bcCb.value(mi)(c).foreach(x => s2 += x * x)
        s2
      }
    }
    val qTables: Map[Long, Array[Array[Double]]] = queries.map {
      case (qid, qv) =>
        qid -> Array.tabulate(m) { mi =>
          Array.tabulate(k) { c =>
            var dot = 0.0
            var j = 0
            while (j < sub) {
              dot += qv(mi * sub + j) * bcCb.value(mi)(c)(j); j += 1
            }
            dot
          }
        }
    }.toMap
    val bcQ = spark.sparkContext.broadcast((qTables, codeNorm2))

    // ADC scores for every query per encoded row → explode; the shuffle
    // downstream carries only (qid, vec_id, score)
    val adcUdf = udf { (vecId: Long, codes: Array[Byte]) =>
      val (tables, norms) = bcQ.value
      tables.iterator.collect {
        case (qid, t) if qid != vecId =>
          var dot = 0.0; var n2 = 0.0
          var mi = 0
          while (mi < m) {
            val c = codes(mi) & 0xff
            dot += t(mi)(c); n2 += norms(mi)(c); mi += 1
          }
          (qid, dot / math.max(math.sqrt(n2), 1e-12))
      }.toSeq
    }
    val adc = coded
      .select(col("vec_id"),
        explode(adcUdf(col("vec_id"), col("codes"))).as("s"))
      .select(col("s._1").as("qid"), col("vec_id"),
        col("s._2").as("adc_score"))
    // rounded-score ranking + id tiebreak (the v01 cross-engine
    // contract) so the shortlist is oracle-stable
    val wAdc = Window.partitionBy("qid")
      .orderBy(round(col("adc_score"), 6).desc, col("vec_id").asc)
    val candIds = adc.withColumn("rk", row_number().over(wAdc))
      .filter(col("rk") <= rerank)
      .select("qid", "vec_id")

    // exact-cosine rerank of the ADC shortlist (full-precision vectors
    // touched only for rerank+query rows)
    val qDf = e0.filter(col("vec_id") < maxQid)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val reranked = candIds
      .join(e0.select(col("vec_id"), col("v")), "vec_id")
      .join(broadcast(qDf), "qid")
      .select(col("qid"), col("vec_id"),
        round(cosUdf(col("qv"), col("v")), 4).as("cos_sim"))
    val w = Window.partitionBy("qid")
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
    reranked.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("qid"), col("vec_id").as("ann_nid"), col("cos_sim"))
      .orderBy("qid")
  }

  /** v08 — IVF + residual PQ composed (the FAISS IVFPQ deployment
    * shape): the coarse quantizer routes every vector to a cell; PQ
    * codebooks train on RESIDUALS (v − cell centroid), so the byte
    * codes spend their 8 bits on the within-cell detail; queries probe
    * the `nprobe` nearest cells and ADC-score only those cells' codes
    * through per-cell broadcast lookup tables (dot(q, c_cell) and the
    * norm cross-terms fold in analytically); the shortlist reranks with
    * exact cosine. Touched fraction ≈ nprobe/nlist AND what is touched
    * is 32×-compressed — the two multipliers a 100 TB index needs.
    * Fully hash-oracled since r10: the coarse quantizer, residual
    * codebooks, byte codes and probe sets are grid-seeded
    * (bit-identical to v14's integer machinery), the float ADC +
    * rerank recomputed by the oracle; recall + determinism are
    * additionally graded in VectorSpec.
    */
  /** Shortlist size shared by the Scala plan and the v08/v09 oracle. */
  private val IvfPqRerank = 32

  val v08AnnIvfPq: Q = (s, d) =>
    annIvfPq(emb(s, d), maxQid = IvfIntMaxQid, nlist = IvfIntNlist,
      nprobe = IvfIntNprobe, m = PqIntM, k = PqIntK,
      rerank = IvfPqRerank)

  /** v09 — the STORED-INDEX IVF+PQ query path (the ANN twin of t15's
    * stored band index): the coarse centroids + PQ codebooks + encoded
    * byte codes are built ONCE and persisted as parquet via StageCache
    * (targets-style memoization keyed by the embeddings fingerprint);
    * the per-query job loads the tiny model, probes cells, and
    * ADC-scores the 32×-compressed codes read straight from the index
    * files — no training, no corpus re-encode per query batch, which is
    * what makes an ANN serve path viable at 100 TB. Identical results
    * to v08 by construction (the stored artifacts ARE v08's
    * intermediates) — VectorSpec asserts id equality.
    */
  val v09AnnIvfPqIndexed: Q = (s, d) => {
    val (model, codes) = ensureIvfPqIndex(s, d)
    queryIvfPq(emb(s, d), codes, model, maxQid = IvfIntMaxQid,
      nprobe = IvfIntNprobe, rerank = IvfPqRerank)
  }

  /** Trained IVF+PQ model: coarse centroids + per-subspace codebooks.
    * The derived ADC norm tables are recomputed on demand (cheap,
    * deterministic) rather than stored.
    */
  case class IvfPqModel(coarse: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]]) {
    def nlist: Int = coarse.length
    def m: Int = codebooks.length
    def k: Int = codebooks(0).length
    def sub: Int = codebooks(0)(0).length
    /** ||c_cell||² per cell. */
    def cellN2: Array[Double] = coarse.map(c => c.map(x => x * x).sum)
    /** per-(cell, mi, code) norm cross-term: 2·dot(c_sub, cb) + ||cb||². */
    def crossN: Array[Array[Array[Double]]] = Array.tabulate(nlist) { ci =>
      Array.tabulate(m) { mi =>
        Array.tabulate(k) { co =>
          var s2 = 0.0; var dc = 0.0
          var j = 0
          while (j < sub) {
            val cb = codebooks(mi)(co)(j)
            s2 += cb * cb; dc += coarse(ci)(mi * sub + j) * cb
            j += 1
          }
          2.0 * dc + s2
        }
      }
    }
  }

  /** Driver-side bounded training (sample ≤ nlist×40 rows regardless of
    * corpus size — as v05/v07).
    *
    * GRID-SEEDED (round 10, per the r9 verdict's carry-over item): the
    * coarse quantizer and residual codebooks train with the INTEGER
    * Lloyd's of v12/v14 on the shared fixed-point grid
    * (round(x·10⁴) as BIGINT — the "shared deterministic seed"), then
    * scale back to doubles (exact: BIGINT/10⁴ is one IEEE division).
    * Training, cell routing, byte codes, and probe sets are therefore
    * DuckDB-recomputable — which is what lets v08/v09 carry full hash
    * oracles — while ADC scoring and the cosine rerank remain the
    * genuine float serve path. The grid costs ≤0.5·10⁻⁴ per coordinate
    * (vs typical |x| ≈ 0.1): recall is indistinguishable from the old
    * float-trained model (VectorSpec grades it against brute force).
    */
  def trainIvfPq(e0: DataFrame, nlist: Int, m: Int, k: Int): IvfPqModel = {
    require(Dim % m == 0)
    val sub = Dim / m
    val sample = intTrainSampleOf(e0, nlist * 40)
    val coarseInt = intKmeansFit(sample, nlist, IvfIntIters)
    val residuals = sample.map { v =>
      val c = coarseInt(nearestCellInt(coarseInt, v))
      Array.tabulate(Dim)(j => v(j) - c(j))
    }
    val cbInt: Array[Array[Array[Long]]] = Array.tabulate(m) { mi =>
      intKmeansFit(residuals.map(_.slice(mi * sub, (mi + 1) * sub)), k,
        IvfIntIters)
    }
    IvfPqModel(
      coarseInt.map(_.map(_.toDouble / FixScale)),
      cbInt.map(_.map(_.map(_.toDouble / FixScale))))
  }

  /** A model's parameters back on the integer grid. EXACT round-trip:
    * every stored double is cbInt/10⁴ with |cbInt| ≪ 2⁵³, so
    * round(x·10⁴) recovers the BIGINT bit-for-bit.
    */
  private def toIntModel(model: IvfPqModel)
      : (Array[Array[Long]], Array[Array[Array[Long]]]) =
    (model.coarse.map(_.map(x => snapLong(x))),
      model.codebooks.map(_.map(_.map(x => snapLong(x)))))

  /** Fixed-point training sample over the double-vector frame `e0`
    * (column `v`) — same grid, same portable-bucket ordering as
    * [[intTrainSample]], parameterized by sample size.
    */
  private def intTrainSampleOf(e0: DataFrame, n: Int): Array[Array[Long]] =
    e0.orderBy(graft.operators.Sampling.portableBucket(col("vec_id")),
        col("vec_id"))
      .limit(n)
      .select(expr(
        s"transform(v, x -> CAST(round(x * $FixScale.0D) AS BIGINT))"))
      .collect().map(_.getSeq[Long](0).toArray)

  /** Map-side index build: cell routing + residual byte codes.
    *
    * Routing and code assignment run on the fixed-point grid against
    * the integer model (exact round-trip from the stored doubles), so
    * every (cell, codes) row is integer-exact and matches v14's
    * assignment CTEs in the DuckDB oracle. Only SCORING over the codes
    * (the ADC tables in [[queryIvfPq]]) is float.
    */
  def encodeIvfPq(e: DataFrame, model: IvfPqModel): DataFrame = {
    val (coarseInt, cbInt) = toIntModel(model)
    val bc = e.sparkSession.sparkContext.broadcast((coarseInt, cbInt))
    val m = model.m; val sub = model.sub
    val encodeUdf = udf { (v: Seq[Double]) =>
      val (ci, cb) = bc.value
      val vg = Array.tabulate(v.length)(j => snapLong(v(j)))
      val cell = nearestCellInt(ci, vg)
      val c = ci(cell)
      val codes = Array.tabulate(m) { mi =>
        val r = Array.tabulate(sub)(j =>
          vg(mi * sub + j) - c(mi * sub + j))
        nearestCellInt(cb(mi), r).toByte
      }
      (cell, codes)
    }
    e.select(col("vec_id"), encodeUdf(col("v")).as("enc"))
      .select(col("vec_id"), col("enc._1").as("cell"),
        col("enc._2").as("codes"))
  }

  /** Flatten a model to rows for parquet persistence. */
  def modelToRows(s: SparkSession, model: IvfPqModel): DataFrame = {
    import s.implicits._
    val coarseRows = for {
      ci <- model.coarse.indices; j <- model.coarse(ci).indices
    } yield ("coarse", ci, 0, j, model.coarse(ci)(j))
    val cbRows = for {
      mi <- 0 until model.m; co <- 0 until model.k; j <- 0 until model.sub
    } yield ("codebook", mi, co, j, model.codebooks(mi)(co)(j))
    (coarseRows ++ cbRows).toDF("part", "i1", "i2", "i3", "value")
  }

  /** Rebuild the model from its persisted row form (small, bounded:
    * nlist×Dim + m×k×sub doubles).
    */
  def modelFromRows(rows: DataFrame): IvfPqModel = {
    val all = rows.collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getDouble(4)))
    val coarseVals = all.filter(_._1 == "coarse")
    val nlist = coarseVals.map(_._2).max + 1
    val dim = coarseVals.map(_._4).max + 1
    val coarse = Array.ofDim[Double](nlist, dim)
    coarseVals.foreach { case (_, ci, _, j, v) => coarse(ci)(j) = v }
    val cbVals = all.filter(_._1 == "codebook")
    val m = cbVals.map(_._2).max + 1
    val k = cbVals.map(_._3).max + 1
    val sub = cbVals.map(_._4).max + 1
    val codebooks = Array.ofDim[Double](m, k, sub)
    cbVals.foreach { case (_, mi, co, j, v) => codebooks(mi)(co)(j) = v }
    IvfPqModel(coarse, codebooks)
  }

  /** Build-or-reuse the persisted IVF+PQ index for sf-dir `d`
    * (StageCache keyed by the embeddings parquet fingerprint): two
    * stages — the tiny model rows and the corpus-sized (vec_id, cell,
    * codes) frame. Both are read back from parquet, so query plans see
    * file scans of the stored artifacts.
    */
  /** Serve processes keep the (tiny) model RESIDENT: nlist×Dim +
    * m×k×sub doubles, memoized per JVM keyed by the artifact's
    * content-fingerprinted path — a changed corpus changes the key and
    * reloads. Without this every query batch pays a driver collect of
    * the model rows, which is pure overhead on a serve path.
    */
  private val modelMemo =
    new java.util.concurrent.ConcurrentHashMap[String, IvfPqModel]()

  def ensureIvfPqIndex(s: SparkSession, d: String)
      : (IvfPqModel, DataFrame) = {
    import graft.pipeline.StageCache
    val cache = new StageCache(s, StageCache.indexRoot)
    // v3: grid-seeded integer training (r10) — bump invalidates indexes
    // built from the old float-Lloyd model
    val ver = cache.versionHash(Seq("ivfpq", "v3", "nlist=16", "m=8",
      "k=16", s"dim=$Dim"))
    val inputs = Seq(s"$d/embeddings.parquet")
    lazy val model0 = trainIvfPq(emb(s, d), nlist = 16, m = 8, k = 16)
    val modelKey =
      s"${StageCache.indexRoot}/ivfpq_model-$ver-" +
        StageCache.fingerprint(inputs)
    val model = modelMemo.computeIfAbsent(modelKey, _ =>
      modelFromRows(cache.stage("ivfpq_model", ver, inputs) {
        modelToRows(s, model0)
      }))
    val codes = cache.stage("ivfpq_codes", ver, inputs) {
      encodeIvfPq(
        emb(s, d).repartition(s.sparkContext.defaultParallelism), model)
    }
    (model, codes)
  }

  def annIvfPq(e0: DataFrame, maxQid: Int, nlist: Int, nprobe: Int,
      m: Int, k: Int, rerank: Int): DataFrame = {
    val spark = e0.sparkSession
    val e = e0.repartition(spark.sparkContext.defaultParallelism)
    val model = trainIvfPq(e0, nlist, m, k)
    queryIvfPq(e0, encodeIvfPq(e, model), model, maxQid, nprobe, rerank)
  }

  /** The serve-path query over a prebuilt (model, codes) index: probe
    * cells, ADC-score only their codes, exact-rerank the shortlist.
    */
  def queryIvfPq(e0: DataFrame, indexed: DataFrame, model: IvfPqModel,
      maxQid: Int, nprobe: Int, rerank: Int): DataFrame = {
    val spark = e0.sparkSession
    val coarse = model.coarse
    val codebooks = model.codebooks
    val m = model.m; val k = model.k; val sub = model.sub
    val bc = spark.sparkContext.broadcast(
      (coarse, codebooks, model.cellN2, model.crossN))

    // per-query ADC tables over the probed cells only
    val queries = e0.filter(col("vec_id") < maxQid)
      .select("vec_id", "v").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    // qid → (probed cells, dot(q, c_cell) per cell, t(mi)(code) residual dots)
    // probe set on the integer grid (ties broken by cell index, the
    // v12 oracle's `ORDER BY d2, cell` contract) — deterministic and
    // DuckDB-recomputable, unlike a float-distance argsort
    val (coarseInt, _) = toIntModel(model)
    val qMeta: Map[Long, (Array[Int], Array[Double],
        Array[Array[Double]])] = queries.map { case (qid, qv) =>
      val qg = Array.tabulate(qv.length)(j => snapLong(qv(j)))
      val probed = coarseInt.indices
        .map(ci => (dist2Int(coarseInt(ci), qg), ci))
        .sorted.take(nprobe).map(_._2).toArray
      val qDotC = coarse.map(c => c.indices.map(j => c(j) * qv(j)).sum)
      val t = Array.tabulate(m) { mi =>
        Array.tabulate(k) { co =>
          var dot = 0.0
          var j = 0
          while (j < sub) {
            dot += qv(mi * sub + j) * codebooks(mi)(co)(j); j += 1
          }
          dot
        }
      }
      qid -> ((probed, qDotC, t))
    }.toMap
    val bcQ = spark.sparkContext.broadcast(qMeta)

    val adcUdf = udf { (vecId: Long, cell: Int, codes: Array[Byte]) =>
      val (_, _, cellN2v, crossNv) = bc.value
      bcQ.value.iterator.collect {
        case (qid, (probed, qDotC, t))
            if qid != vecId && probed.contains(cell) =>
          var dot = qDotC(cell)
          var n2 = cellN2v(cell)
          var mi = 0
          while (mi < codes.length) {
            val co = codes(mi) & 0xff
            dot += t(mi)(co); n2 += crossNv(cell)(mi)(co); mi += 1
          }
          (qid, dot / math.max(math.sqrt(math.max(n2, 0.0)), 1e-12))
      }.toSeq
    }
    val adc = indexed
      .select(col("vec_id"),
        explode(adcUdf(col("vec_id"), col("cell"), col("codes")))
          .as("s"))
      .select(col("s._1").as("qid"), col("vec_id"),
        col("s._2").as("adc_score"))
    // shortlist ranks over the ROUNDED ADC score + id tiebreak (the
    // v01 cross-engine contract): both engines' float sums agree to
    // well inside 1e-6, so the shortlist is oracle-stable
    val wAdc = Window.partitionBy("qid")
      .orderBy(round(col("adc_score"), 6).desc, col("vec_id").asc)
    val candIds = adc.withColumn("rk", row_number().over(wAdc))
      .filter(col("rk") <= rerank)
      .select("qid", "vec_id")
    val qDf = e0.filter(col("vec_id") < maxQid)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val reranked = candIds
      .join(e0.select(col("vec_id"), col("v")), "vec_id")
      .join(broadcast(qDf), "qid")
      .select(col("qid"), col("vec_id"),
        round(cosUdf(col("qv"), col("v")), 4).as("cos_sim"))
    val w = Window.partitionBy("qid")
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
    reranked.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("qid"), col("vec_id").as("ann_nid"), col("cos_sim"))
      .orderBy("qid")
  }

  // (The float trainingSample/kmeansFit/nearestCell/dist2 helpers
  // retired in round 10 when the whole float family moved to the
  // grid-seeded integer training below — `git log` has them.)

  // --- v12: integer-exact IVF (the fully hash-oracled IVF family
  // member — v10/v11's fixed-point trick applied to the coarse
  // quantizer, per the round-6 verdict) ---

  /** Fixed-point grid for v12: x → round(x·10⁴) as BIGINT. One global
    * grid (unlike v10's per-vector SQ8 range) so integer L2 distances
    * between DIFFERENT vectors are meaningful; SQL round() agrees
    * bit-for-bit across Spark and DuckDB (both half-away-from-zero),
    * so every downstream comparison is exact integer arithmetic.
    * Scala-side snaps MUST use [[snapLong]], not math.round: math.round
    * rounds ties toward +inf, which diverges from both engines on
    * negative dyadic ties (-0.03125·10⁴ = -312.5 → -312, not -313).
    */
  private val FixScale = 10000

  /** x → round(x·FixScale) with half-AWAY-FROM-ZERO ties — the exact
    * rounding Spark SQL round() and DuckDB round() apply, so every
    * Scala-side grid path (routing, encoding, training samples) lands
    * on the same integer as the SQL-side grids.
    */
  private def snapLong(x: Double): Long = {
    val s = x * FixScale
    (math.signum(s) * math.floor(math.abs(s) + 0.5)).toLong
  }

  private def fixedEmb(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).select(
      col("vec_id"),
      expr(s"transform(embedding, x -> " +
        s"CAST(round(CAST(x AS DOUBLE) * $FixScale.0D) AS BIGINT))")
        .as("qv"))

  /** v20's trained integer coarse quantizer (the v12/v16 model) — the
    * fixed model s17's streaming graph maintenance encodes against.
    */
  private[graft] def intCoarseModel(s: SparkSession, d: String)
      : Array[Array[Long]] =
    intKmeansFit(intTrainSample(fixedEmb(s, d)), IvfIntNlist, IvfIntIters)

  /** Map-side fixed-grid snap + cell assignment under a FIXED model:
    * (vec_id, v: array<double>) → (vec_id, qv, cell). The snap is the
    * same SQL round (half away from zero) [[fixedEmb]] applies, so a
    * streamed vector lands on exactly the batch grid.
    */
  private[graft] def assignIntCells(df: DataFrame,
      cents: Array[Array[Long]]): DataFrame = {
    val bc = df.sparkSession.sparkContext.broadcast(cents)
    val cellUdf = udf { (v: Seq[Long]) =>
      nearestCellInt(bc.value, v.toArray)
    }
    df.withColumn("qv", expr(s"transform(v, x -> " +
        s"CAST(round(CAST(x AS DOUBLE) * $FixScale.0D) AS BIGINT))"))
      .withColumn("cell", cellUdf(col("qv")))
      .select(col("vec_id"), col("qv"), col("cell"))
  }

  /** Exact integer squared-L2 over two snapped vectors (v20/s17). */
  private[graft] val intD2Udf = udf { (x: Seq[Long], y: Seq[Long]) =>
    var i = 0; var s2 = 0L
    while (i < x.length) { val t = x(i) - y(i); s2 += t * t; i += 1 }
    s2
  }

  /** v20's graph degree, shared with the s17 maintenance loop. */
  private[graft] def knnGraphDegree: Int = KnnGraphK

  private def dist2Int(a: Array[Long], b: Array[Long]): Long = {
    var s = 0L; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** Lowest-index argmin under integer distance — the tie-break the
    * oracle's `ORDER BY d2, cell` window replicates.
    */
  private def nearestCellInt(cents: Array[Array[Long]],
      v: Array[Long]): Int = {
    var best = 0; var bestD = Long.MaxValue
    var c = 0
    while (c < cents.length) {
      val d = dist2Int(cents(c), v)
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Integer Lloyd's (stride init, per-point argmin assignment): sums
    * are Long accumulators and the centroid update is TRUNCATING
    * integer division (Scala `/` ≡ DuckDB `//`, both toward zero) —
    * every intermediate is a BIGINT both engines compute identically,
    * so the trained centroids (and therefore cell assignment and the
    * probe set) are DuckDB-recomputable. A FIXED iteration count keeps
    * the oracle a finite CTE chain. Since r10 this is THE quantizer
    * trainer for the whole vector family (float paths scale its
    * centroids back to exact doubles).
    */
  private def intKmeansFit(points: Array[Array[Long]], k: Int,
      iters: Int): Array[Array[Long]] = {
    val dim = points.head.length
    var cents = Array.tabulate(k)(i =>
      points((i * points.length) / k).clone())
    for (_ <- 0 until iters) {
      val sums = Array.fill(k)(new Array[Long](dim))
      val counts = new Array[Int](k)
      points.foreach { v =>
        val c = nearestCellInt(cents, v)
        var j = 0
        while (j < dim) { sums(c)(j) += v(j); j += 1 }
        counts(c) += 1
      }
      cents = Array.tabulate(k)(c =>
        if (counts(c) == 0) cents(c)
        else Array.tabulate(dim)(j => sums(c)(j) / counts(c)))
    }
    cents
  }

  private val IvfIntNlist = 16
  private val IvfIntNprobe = 4
  private val IvfIntIters = 2
  private val IvfIntMaxQid = 50

  /** Bounded deterministic training sample for the integer quantizer
    * family (v12/v14/v16/v19): rows rank by the layout-independent
    * [[graft.operators.Sampling.portableBucket]] of vec_id (md5-derived
    * uniform bucket; vec_id tiebreak) rather than "lowest n ids", so
    * the same representative rows select on any partition layout. Cost:
    * a TakeOrderedAndProject top-n + a driver collect bounded at
    * [[IvfIntNlist]]·40 rows regardless of corpus size.
    */
  private def intTrainSample(fe: DataFrame): Array[Array[Long]] =
    fe.orderBy(graft.operators.Sampling.portableBucket(col("vec_id")),
        col("vec_id"))
      .limit(IvfIntNlist * 40)
      .select("qv").collect().map(_.getSeq[Long](0).toArray)

  /** v12 — IVF with an integer-exact coarse quantizer: fixed-point
    * vectors, integer k-means (bounded hash-stratified sample, stride
    * init, [[IvfIntIters]] Lloyd iterations), map-side cell assignment
    * against broadcast centroids, nprobe-cell probe, and integer
    * squared-L2 scoring — the SAME plan shape as v05 (shuffle keyed by
    * cell id, corpus fraction ≈ nprobe/nlist) but with every number a
    * BIGINT, so the ENTIRE path — training, assignment, probe set,
    * final ranking — hash-matches a DuckDB oracle. v05 measures the
    * float IVF's recall; v12 pins the IVF semantics themselves.
    */
  val v12AnnIvfInt: Q = (s, d) => {
    val fe = fixedEmb(s, d)
    val sample = intTrainSample(fe)
    val cents = intKmeansFit(sample, IvfIntNlist, IvfIntIters)
    val bc = s.sparkContext.broadcast(cents)

    val cellUdf = udf { (v: Seq[Long]) =>
      nearestCellInt(bc.value, v.toArray)
    }
    val probeUdf = udf { (v: Seq[Long]) =>
      val va = v.toArray
      bc.value.indices
        .map(c => (dist2Int(bc.value(c), va), c))
        .sorted.take(IvfIntNprobe).map(_._2)
    }
    val d2Udf = udf { (a: Seq[Long], b: Seq[Long]) =>
      dist2Int(a.toArray, b.toArray)
    }

    val e = fe.repartition(s.sparkContext.defaultParallelism)
    val assigned = e.withColumn("cell", cellUdf(col("qv")))
    val q = assigned.filter(col("vec_id") < IvfIntMaxQid)
      .select(col("vec_id").as("qid"), col("qv").as("qqv"),
        explode(probeUdf(col("qv"))).as("cell"))
    val cand = assigned.join(q, Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        d2Udf(col("qqv"), col("qv")).as("d2"))
    val w = Window.partitionBy("qid")
      .orderBy(col("d2").asc, col("vec_id").asc)
    cand.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("qid"), col("vec_id").as("ann_nid"), col("d2"))
      .orderBy("qid")
  }

  /** v21 — ANN RECALL EVALUATION as a first-class distributed op (the
    * eval harness every index deployment runs before trusting an
    * approximate search): per query, recall@10 of the integer IVF
    * search (v12's probe-cell candidates under the same trained
    * quantizer) against the EXACT top-10 from a full brute-force pass
    * — both sides integer-exact on the fixed grid with the
    * deterministic (d², id) rank, so hits and recall hash-match the
    * oracle bit-for-bit. Shapes: the ANN side is v12's cell-keyed
    * candidate join + per-query WindowGroupLimit; the exact side
    * broadcasts the 50-row query set into one corpus pass (the
    * v01/v06 bounded-query rule — the corpus never self-joins); the
    * intersection is a (qid, vec_id)-keyed join of two ≤10-row-per-
    * query frames. At 100 TB the eval cost is one brute pass over a
    * sampled query set — exactly how production recall audits run.
    */
  val v21AnnRecall: Q = (s, d) => {
    val fe = fixedEmb(s, d)
    val cents = intKmeansFit(intTrainSample(fe), IvfIntNlist, IvfIntIters)
    val bc = s.sparkContext.broadcast(cents)
    val cellUdf = udf { (v: Seq[Long]) =>
      nearestCellInt(bc.value, v.toArray)
    }
    val probeUdf = udf { (v: Seq[Long]) =>
      val va = v.toArray
      bc.value.indices
        .map(c => (dist2Int(bc.value(c), va), c))
        .sorted.take(IvfIntNprobe).map(_._2)
    }
    val e = fe.repartition(s.sparkContext.defaultParallelism)
    val assigned = e.withColumn("cell", cellUdf(col("qv"))).persist()
    val queries = assigned.filter(col("vec_id") < IvfIntMaxQid)
      .select(col("vec_id").as("qid"), col("qv").as("qqv"))
    val w = Window.partitionBy("qid")
      .orderBy(col("d2").asc, col("vec_id").asc)
    def top10(cand: DataFrame): DataFrame = cand
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 10)
      .select("qid", "vec_id")
    val annTop = top10(assigned
      .join(queries.select(col("qid"), col("qqv"),
        explode(probeUdf(col("qqv"))).as("cell")), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        intD2Udf(col("qqv"), col("qv")).as("d2")))
    val exactTop = top10(e
      .join(broadcast(queries), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        intD2Udf(col("qqv"), col("qv")).as("d2")))
    val hits = annTop.join(exactTop, Seq("qid", "vec_id"))
      .groupBy("qid").agg(count(lit(1)).as("n_hits"))
    val out = queries.select("qid")
      .join(hits, Seq("qid"), "left")
      .na.fill(0L, Seq("n_hits"))
      .withColumn("recall_at_10",
        round(col("n_hits") / lit(10).cast("double"), 4))
      .orderBy("qid")
    val res = out.localCheckpoint()
    assigned.unpersist()
    res
  }

  /** v19 — K-MEANS CLUSTERING as a first-class output (not just the
    * internal quantizer): the v12 integer Lloyd's trains on the shared
    * grid sample, every corpus vector routes map-side to its cluster,
    * and the result is the per-cluster PROFILE — size, label purity
    * (distinct labels), the lowest member id, and the exact integer
    * inertia (Σ squared-L2 to the centroid, the k-means objective).
    * The shape is broadcast-centroids + one partial-agg'd groupBy on
    * cell — no shuffle of the vectors themselves — and every number is
    * a BIGINT, so training, assignment, and all four profile columns
    * hash-match the oracle. At 100 TB this is the embedding-corpus
    * cartography step (cluster sizes/purity drive curation decisions,
    * SemDeDup cell choice, mixture design).
    */
  val v19ClusterProfile: Q = (s, d) => {
    val fe = fixedEmb(s, d)
    val sample = intTrainSample(fe)
    val cents = intKmeansFit(sample, IvfIntNlist, IvfIntIters)
    val bc = s.sparkContext.broadcast(cents)
    val cellD2Udf = udf { (v: Seq[Long]) =>
      val va = v.toArray
      val cell = nearestCellInt(bc.value, va)
      (cell, dist2Int(bc.value(cell), va))
    }
    val labels = Tables.embeddings(s, d).select("vec_id", "label")
    fe.withColumn("cd", cellD2Udf(col("qv")))
      .select(col("vec_id"), col("cd._1").as("cell"),
        col("cd._2").as("d2"))
      .join(labels, "vec_id")
      .groupBy("cell")
      .agg(count(lit(1)).as("n_vecs"),
        countDistinct("label").as("n_labels"),
        min("vec_id").as("first_member"),
        sum("d2").as("inertia"))
      .orderBy("cell")
  }

  // --- v13: integer-exact LSH (the hyperplane twin of v12 — the
  // second ANN family branch converted from golden-pinned to
  // hash-oracled) ---

  private val LshIntTables = 8
  private val LshIntPlanes = 6

  /** md5-derived integer hyperplane coordinate, centered on zero:
    * h48("pl:t:p:j") mod 1024 − 512 ∈ [−512, 511]. Integer coords ×
    * fixed-point vectors give EXACT BIGINT dot products (|dot| ≤
    * 512·|qx|·64 ≪ 2⁶³), so the sign — and therefore every bucket —
    * is engine-independent; DuckDB regenerates the same planes from
    * the same md5 strings.
    */
  private def lshIntCoord(t: Int, p: Int, j: Int): Long =
    graft.functions.Md5Hash48.hash48(
      org.apache.spark.unsafe.types.UTF8String
        .fromString(s"pl:$t:$p:$j")) % 1024 - 512

  /** v13 — random-hyperplane LSH ANN with integer-exact buckets: the
    * v03 plan shape (bucket-keyed candidate join, never all-pairs)
    * with v12's fixed-point arithmetic, so bucket assignment, the
    * candidate set, and the integer-L2 ranking ALL hash-match the
    * DuckDB oracle — v03 measures the float LSH's recall, v13 pins
    * the LSH semantics themselves. 8 tables × 6 planes (the oracle
    * recomputes 3 072 plane coordinates from md5, then every dot).
    */
  val v13AnnLshInt: Q = (s, d) => {
    val planes: Array[Array[Array[Long]]] =
      Array.tabulate(LshIntTables, LshIntPlanes, Dim)(lshIntCoord)
    val bc = s.sparkContext.broadcast(planes)
    val bucketUdf = udf { (v: Seq[Long]) =>
      val va = v.toArray
      (0 until LshIntTables).map { t =>
        var b = 0
        var p = 0
        while (p < LshIntPlanes) {
          val pc = bc.value(t)(p)
          var acc = 0L
          var j = 0
          while (j < Dim && j < va.length) { acc += pc(j) * va(j); j += 1 }
          if (acc >= 0L) b |= (1 << p)
          p += 1
        }
        b
      }
    }
    val d2Udf = udf { (a: Seq[Long], b: Seq[Long]) =>
      dist2Int(a.toArray, b.toArray)
    }
    val fe = fixedEmb(s, d)
      .repartition(s.sparkContext.defaultParallelism)
    // narrow bucket rows persist: both sides of the candidate join
    val bucketed = fe
      .select(col("vec_id"),
        posexplode(bucketUdf(col("qv"))).as(Seq("tbl", "bucket")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val q = bucketed.filter(col("vec_id") < IvfIntMaxQid)
      .select(col("vec_id").as("qid"),
        col("tbl").as("qtbl"), col("bucket").as("qbucket"))
    // eager localCheckpoint + immediate unpersist: same cache-lifetime
    // pattern as v03 above (VectorSpec runs twice, bench three times —
    // a leaked persist accumulates until an external clearCache)
    val candIds = bucketed.join(q,
        col("tbl") === col("qtbl") && col("bucket") === col("qbucket") &&
          col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"))
      .distinct()
      .localCheckpoint()
    bucketed.unpersist()
    val cand = candIds
      .join(fe.select(col("vec_id").as("qid"), col("qv").as("qqv")), "qid")
      .join(fe, "vec_id")
      .select(col("qid"), col("vec_id"),
        d2Udf(col("qqv"), col("qv")).as("d2"))
    val w = Window.partitionBy("qid")
      .orderBy(col("d2").asc, col("vec_id").asc)
    cand.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("qid"), col("vec_id").as("ann_nid"), col("d2"))
      .orderBy("qid")
  }

  // --- v14: integer-exact IVF+PQ (the PQ family's hash-oracled member
  // — v12's fixed-point training extended to the per-subspace
  // codebooks, per the round-7 verdict: integer centroid accumulators,
  // exact BIGINT ADC tables, deterministic rounding, so coarse
  // training, residual codebook training, code assignment, the ADC
  // shortlist, and the final rerank are ALL DuckDB-recomputable) ---

  private val PqIntM = 8         // subspaces (sub = Dim/M = 8 dims each)
  private val PqIntK = 16        // codes per subspace codebook
  private val PqIntShortlist = 10

  /** v14 — IVF+PQ with every number a BIGINT: the v08 architecture
    * (coarse quantizer → residual product quantization → ADC → exact
    * rerank) on v12's fixed-point grid. The coarse quantizer is
    * BIT-IDENTICAL to v12's (same sample, same integer Lloyd's); the
    * per-subspace codebooks train on integer residuals with the same
    * truncating-division centroid update; ADC lookup tables are exact
    * integer squared-L2 per (query, probed cell, subspace, code).
    * Plan shape: codebooks broadcast, encode map-side over narrow
    * (vec_id, cell, codes) rows — the 32×-compressed scan — candidates
    * from a broadcast (qid, cell) probe join, shortlist pruned
    * map-side by WindowGroupLimit, exact rerank only on the
    * shortlist×query join. v07/v08 measure the float PQ's recall; v14
    * pins the PQ semantics themselves against the oracle.
    */
  val v14AnnIvfPqInt: Q = (s, d) => {
    val sub = Dim / PqIntM
    val fe = fixedEmb(s, d)
    val sample = intTrainSample(fe) // IDENTICAL to v12's
    val cents = intKmeansFit(sample, IvfIntNlist, IvfIntIters)
    // integer residuals of the training rows under the trained coarse
    // quantizer (assignment of a sample row ≡ full-corpus assignment
    // restricted to it — same centroids, same tie-break)
    val sres = sample.map { v =>
      val c = cents(nearestCellInt(cents, v))
      Array.tabulate(Dim)(j => v(j) - c(j))
    }
    val codebooks: Array[Array[Array[Long]]] =
      Array.tabulate(PqIntM) { mi =>
        intKmeansFit(sres.map(_.slice(mi * sub, (mi + 1) * sub)),
          PqIntK, IvfIntIters)
      }
    val bc = s.sparkContext.broadcast((cents, codebooks))

    // map-side encode: cell routing + per-subspace residual codes
    val encodeUdf = udf { (v: Seq[Long]) =>
      val (cents2, cbs) = bc.value
      val va = v.toArray
      val cell = nearestCellInt(cents2, va)
      val c = cents2(cell)
      val codes = Array.tabulate(PqIntM) { mi =>
        val r = Array.tabulate(sub)(j =>
          va(mi * sub + j) - c(mi * sub + j))
        nearestCellInt(cbs(mi), r)
      }
      (cell, codes.toSeq)
    }
    val e = fe.repartition(s.sparkContext.defaultParallelism)
    val assigned = e
      .select(col("vec_id"), encodeUdf(col("qv")).as("enc"))
      .select(col("vec_id"), col("enc._1").as("cell"),
        col("enc._2").as("codes"))

    // bounded driver-side query prep (≤ IvfIntMaxQid rows regardless
    // of corpus size): probe sets + exact BIGINT ADC tables
    val queries = fe.filter(col("vec_id") < IvfIntMaxQid)
      .select("vec_id", "qv").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray)
    val qMeta: Map[Long, Map[Int, Array[Array[Long]]]] =
      queries.map { case (qid, qv) =>
        val probed = cents.indices
          .map(c => (dist2Int(cents(c), qv), c))
          .sorted.take(IvfIntNprobe).map(_._2)
        val luts = probed.map { cell =>
          val c = cents(cell)
          cell -> Array.tabulate(PqIntM) { mi =>
            Array.tabulate(PqIntK) { co =>
              var acc = 0L
              var j = 0
              while (j < sub) {
                val dd = qv(mi * sub + j) - c(mi * sub + j) -
                  codebooks(mi)(co)(j)
                acc += dd * dd; j += 1
              }
              acc
            }
          }
        }.toMap
        qid -> luts
      }.toMap
    val bcQ = s.sparkContext.broadcast(qMeta)

    import s.implicits._
    val qProbe = qMeta.toSeq
      .flatMap { case (qid, luts) => luts.keys.map(c => (qid, c)) }
      .sorted.toDF("qid", "cell")
    val adcUdf = udf { (qid: Long, cell: Int, codes: Seq[Int]) =>
      val lut = bcQ.value(qid)(cell)
      var acc = 0L
      var mi = 0
      while (mi < PqIntM) { acc += lut(mi)(codes(mi)); mi += 1 }
      acc
    }
    // each corpus vector lives in exactly one cell and (qid, cell) is
    // unique, so no candidate dedup is needed (v12's invariant)
    val adc = assigned.join(broadcast(qProbe), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        adcUdf(col("qid"), col("cell"), col("codes")).as("adc_d2"))
    val wAdc = Window.partitionBy("qid")
      .orderBy(col("adc_d2").asc, col("vec_id").asc)
    val shortlist = adc.withColumn("rk", row_number().over(wAdc))
      .filter(col("rk") <= PqIntShortlist)
      .select("qid", "vec_id")
    val d2Udf = udf { (a: Seq[Long], b: Seq[Long]) =>
      dist2Int(a.toArray, b.toArray)
    }
    val qDf = fe.filter(col("vec_id") < IvfIntMaxQid)
      .select(col("vec_id").as("qid"), col("qv").as("qqv"))
    val rer = shortlist.join(fe, "vec_id").join(broadcast(qDf), "qid")
      .select(col("qid"), col("vec_id"),
        d2Udf(col("qqv"), col("qv")).as("d2"))
    val w = Window.partitionBy("qid")
      .orderBy(col("d2").asc, col("vec_id").asc)
    rer.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("qid"), col("vec_id").as("ann_nid"), col("d2"))
      .orderBy("qid")
  }

  // --- v16: SemDeDup — semantic dedup inside the trained quantizer's
  // cells (Abbas et al., "SemDeDup", arXiv:2303.09540: cluster the
  // embedding space, then near-dup ONLY within clusters) ---

  /** v16 similarity threshold as an exact rational: τ = 7/20 = 0.35 —
    * the same cosine bar v06 uses, so the two operators' pair sets are
    * directly comparable (v16's ⊆ v06's restricted to shared cells).
    */
  private val SemDedupNum = 7L
  private val SemDedupDen = 20L

  /** cos(a,b) ≥ τ without division or floats: dot > 0 ∧
    * dot²·Den² ≥ Num²·‖a‖²·‖b‖². With [[FixScale]]=10⁴ and dim 64 the
    * squares exceed Long range (dot ≤ ~2·10⁹ → dot² ~4·10¹⁸, ×400
    * overflows), so the final comparison runs in BigInt — the oracle's
    * HUGEINT twin. Everything is exact integer arithmetic end-to-end.
    */
  private val semSimUdf = udf { (x: Seq[Long], y: Seq[Long]) =>
    var dot = 0L; var na = 0L; var nb = 0L; var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      dot += x(i) * y(i); na += x(i) * x(i); nb += y(i) * y(i); i += 1
    }
    dot > 0 && BigInt(dot) * BigInt(dot) * (SemDedupDen * SemDedupDen) >=
      BigInt(SemDedupNum * SemDedupNum) * BigInt(na) * BigInt(nb)
  }

  /** v16 — SemDeDup: semantic deduplication of the embedding corpus.
    * Train v12's integer-exact coarse quantizer, assign every vector a
    * cell map-side, emit near-dup edges ONLY within cells (exact
    * integer cosine test, τ = 0.35), resolve transitive duplicate
    * groups, and keep one representative (min vec_id) per group.
    *
    * This is the scale shape of the SemDeDup paper: the quadratic pair
    * stage is bounded by cell size — ONE shuffle keyed on cell, never a
    * corpus×corpus join — and cells shrink as nlist is raised with the
    * corpus (nlist ∝ N keeps cell size constant at 100 TB). Because
    * edges exist only within a cell, connected components never cross
    * cells either, so the group resolution ([[graft.operators
    * .Components]] min-label propagation) converges in a handful of
    * keyed-shuffle iterations. Training, assignment, the edge predicate
    * and the closure are all exact integer arithmetic, so the ENTIRE
    * pipeline — not just the final keep-list — hash-matches the DuckDB
    * oracle's recursive-CTE twin.
    */
  val v16Semdedup: Q = (s, d) => {
    val fe = fixedEmb(s, d)
    val cents = intKmeansFit(intTrainSample(fe), IvfIntNlist, IvfIntIters)
    val bc = s.sparkContext.broadcast(cents)
    val cellUdf = udf { (v: Seq[Long]) =>
      nearestCellInt(bc.value, v.toArray)
    }
    val assigned = fe.repartition(s.sparkContext.defaultParallelism)
      .withColumn("cell", cellUdf(col("qv")))
      .persist() // reused: pair build + final labeling
    val a = assigned.select(col("cell"), col("vec_id").as("d1"),
      col("qv").as("x1"))
    val b = assigned.select(col("cell"), col("vec_id").as("d2"),
      col("qv").as("x2"))
    val edges = a.join(b, Seq("cell"))
      .filter(col("d1") < col("d2"))
      .filter(semSimUdf(col("x1"), col("x2")))
      .select("d1", "d2")
    val comps = graft.operators.Components.connectedComponents(edges)
    val out = assigned
      .join(comps, col("vec_id") === col("node"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("component"), col("vec_id")).as("group_id"))
      .withColumn("kept",
        (col("group_id") === col("vec_id")).cast("int"))
    // eager cut: consume `assigned` while it is still cached, then
    // release it (same lifecycle the t19 family uses)
    val res = out.localCheckpoint()
    assigned.unpersist()
    res.orderBy("vec_id")
  }

  /** v20's graph degree: top-k neighbors kept per node. */
  private val KnnGraphK = 3

  /** v20 — k-NN GRAPH construction (cell-local): every corpus vector's
    * [[KnnGraphK]] nearest cell-mates under exact integer squared-L2
    * on the fixed-point grid — the neighborhood structure that
    * graph-based clustering, agglomerative dedup, and NN-Descent-style
    * index builds all start from, and the third consumer of the
    * trained integer coarse quantizer (v12 routes queries through it,
    * v16 dedups inside its cells, v20 materializes the neighbor
    * graph). Candidate generation is the v16 cell equi-join — never
    * all-pairs: at 100 TB, nlist grows ∝ corpus so cell size (and the
    * per-node candidate count) stays constant, and the per-node top-k
    * is a WindowGroupLimit rank over cell-mate rows only. Ranking is
    * (d², neighbor id) — exact BIGINT arithmetic end-to-end, so the
    * DuckDB oracle recomputes training, assignment, every distance,
    * and every rank bit-for-bit.
    */
  val v20KnnGraph: Q = (s, d) => {
    val (out, assigned) = knnGraphRanked(s, d)
    val res = out.localCheckpoint()
    assigned.unpersist()
    res.orderBy("vec_id", "rank")
  }

  /** v20's pre-checkpoint plan (the ranked edge build over the cached
    * cell assignment) — split out so PlanSpec can gate the REAL shape
    * (cell-keyed join + WindowGroupLimit), which the declared query's
    * localCheckpoint lineage cut would otherwise hide. Caller owns the
    * returned `assigned` cache.
    */
  private[graft] def knnGraphRanked(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val fe = fixedEmb(s, d)
    val cents = intKmeansFit(intTrainSample(fe), IvfIntNlist, IvfIntIters)
    val bc = s.sparkContext.broadcast(cents)
    val cellUdf = udf { (v: Seq[Long]) =>
      nearestCellInt(bc.value, v.toArray)
    }
    val d2Udf = udf { (x: Seq[Long], y: Seq[Long]) =>
      var i = 0; var s2 = 0L
      while (i < x.length) { val t = x(i) - y(i); s2 += t * t; i += 1 }
      s2
    }
    val assigned = fe.repartition(s.sparkContext.defaultParallelism)
      .withColumn("cell", cellUdf(col("qv")))
      .persist()
    val a = assigned.select(col("cell"), col("vec_id"),
      col("qv").as("x1"))
    val b = assigned.select(col("cell"),
      col("vec_id").as("neighbor_id"), col("qv").as("x2"))
    val w = Window.partitionBy("vec_id")
      .orderBy(col("d2"), col("neighbor_id"))
    val out = a.join(b, Seq("cell"))
      .filter(col("vec_id") =!= col("neighbor_id"))
      .withColumn("d2", d2Udf(col("x1"), col("x2")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= KnnGraphK)
      .select("vec_id", "rank", "neighbor_id", "d2")
    (out, assigned)
  }

  /** Power-iteration count for v22 — bounded so the oracle is a
    * generated fixed-depth CTE chain (the t41 pattern on graphs).
    */
  private val CentralityIters = 3

  /** v22 — GRAPH CENTRALITY over the kNN graph (PageRank-style power
    * iteration — the fourth consumer of the trained integer
    * quantizer, and the engine's iterative-graph-computation shape:
    * the importance scores graph-based curation uses to pick corpus
    * exemplars, computed on v20's neighbor edges). Each of the
    * [[CentralityIters]] supersteps is ONE edge-keyed join (push
    * rank/out_degree along every edge, Spark `DIV` = DuckDB `//`
    * truncation) plus one node-keyed sum, then the damped update
    * 150000 + (85·mass)//100 on the fixed 10⁶ integer scale — the
    * Pregel superstep expressed as DataFrame joins, all-integer so
    * every rank hash-matches the oracle's generated CTE chain.
    * Dangling mass (nodes alone in their cell emit no edges) is
    * dropped, the standard simplification.
    *
    * Scale shape: the edge list is built once (v20's cell-local
    * plan, lineage cut by localCheckpoint) and each superstep
    * shuffles only (edge endpoints × 8-byte ranks) — never
    * re-derives the graph; iterations are bounded, and at 100 TB
    * each superstep is the same two keyed exchanges regardless of
    * iteration count.
    */
  val v22GraphCentrality: Q = (s, d) => {
    val (edges0, assigned) = knnGraphRanked(s, d)
    val edges = edges0.select("vec_id", "neighbor_id")
      .localCheckpoint()
    assigned.unpersist()
    val nodes = fixedEmb(s, d).select("vec_id")
    val deg = edges.groupBy("vec_id").agg(count(lit(1)).as("deg"))
    val edgesDeg = edges.join(deg, "vec_id")
    var rank = nodes.withColumn("rank", lit(1000000L))
    (1 to CentralityIters).foreach { _ =>
      val contrib = edgesDeg.join(rank, "vec_id")
        .select(col("neighbor_id").as("vec_id"),
          expr("rank DIV deg").as("c"))
        .groupBy("vec_id").agg(sum("c").as("m"))
      rank = nodes.join(contrib, Seq("vec_id"), "left")
        .select(col("vec_id"),
          (lit(150000L) +
            expr("(85 * coalesce(m, CAST(0 AS BIGINT))) DIV 100"))
            .as("rank"))
    }
    val indeg = edges.groupBy(col("neighbor_id").as("vec_id"))
      .agg(count(lit(1)).as("in_degree"))
    rank.join(indeg, Seq("vec_id"), "left")
      .select(col("vec_id"), col("rank"),
        coalesce(col("in_degree"), lit(0L)).as("in_degree"))
      .orderBy("vec_id")
  }

  /** The kNN-graph edge CTEs shared by the v20 and v22 oracles:
    * cell-mate pairs, exact distances, the (d², neighbor) rank, and
    * the top-[[KnnGraphK]] edge list `g`.
    */
  private def knnGraphEdgeCtes: String =
    s"""pr AS (
       |  SELECT a.vec_id, b.vec_id AS neighbor_id
       |  FROM asg a JOIN asg b
       |    ON a.cell = b.cell AND a.vec_id <> b.vec_id),
       |dd AS (
       |  SELECT p.vec_id, p.neighbor_id,
       |    CAST(sum((fa.qx - fb.qx) * (fa.qx - fb.qx)) AS BIGINT)
       |      AS d2
       |  FROM pr p
       |  JOIN fx fa ON fa.vec_id = p.vec_id
       |  JOIN fx fb ON fb.vec_id = p.neighbor_id AND fb.i = fa.i
       |  GROUP BY 1, 2),
       |rk AS (
       |  SELECT vec_id, neighbor_id, d2, row_number() OVER (
       |    PARTITION BY vec_id ORDER BY d2, neighbor_id) AS rank
       |  FROM dd),
       |g AS (
       |  SELECT vec_id, neighbor_id FROM rk
       |  WHERE rank <= $KnnGraphK)""".stripMargin

  /** s25's oracle: the v20 graph recomputed over the ascending
    * vec_id PREFIX through batch `through` of `nBatches` (s17's
    * default arrival shape), under the SAME full-corpus-trained
    * quantizer CTEs the loop's fixed model mirrors. The span
    * arithmetic (`max // n + 1`, both truncating) pairs with the
    * stager's Long division, so "as of batch b" resolves to exactly
    * this vec_id bound in both engines.
    */
  private[graft] def knnGraphPrefixOracle(nBatches: Int,
      through: Int): String =
    s"""$ivfIntCoreCtes,
       |pb AS (
       |  SELECT (max(vec_id) // $nBatches + 1) * ${through + 1}
       |    AS bound FROM embeddings),
       |pasg AS (SELECT a.* FROM asg a, pb WHERE a.vec_id < pb.bound),
       |ppr AS (
       |  SELECT a.vec_id, b.vec_id AS neighbor_id
       |  FROM pasg a JOIN pasg b
       |    ON a.cell = b.cell AND a.vec_id <> b.vec_id),
       |pdd AS (
       |  SELECT p.vec_id, p.neighbor_id,
       |    CAST(sum((fa.qx - fb.qx) * (fa.qx - fb.qx)) AS BIGINT)
       |      AS d2
       |  FROM ppr p
       |  JOIN fx fa ON fa.vec_id = p.vec_id
       |  JOIN fx fb ON fb.vec_id = p.neighbor_id AND fb.i = fa.i
       |  GROUP BY 1, 2),
       |prk AS (
       |  SELECT vec_id, neighbor_id, d2, row_number() OVER (
       |    PARTITION BY vec_id ORDER BY d2, neighbor_id) AS rank
       |  FROM pdd)
       |SELECT vec_id, CAST(rank AS INT) AS rank, neighbor_id, d2
       |FROM prk WHERE rank <= $KnnGraphK
       |ORDER BY vec_id, rank""".stripMargin

  /** s28's oracle: the v20 full graph (rk, from the shared edge
    * CTEs) and its vec_id-prefix twin through batch `through` (the
    * s25 span arithmetic), each collapsed to one deterministic
    * `rank:neighbor:d2` signature per node, then diffed — a node
    * ships iff it is absent from the prefix graph (`added`) or its
    * signature moved (`changed`). This recomputes BOTH snapshot
    * sides from the raw table, so the hash-match proves the
    * engine's changed-partition-pruned two-snapshot read drops no
    * diff row and invents none.
    */
  private[graft] def knnGraphDiffOracle(nBatches: Int,
      through: Int): String =
    s"""$ivfIntCoreCtes,
       |$knnGraphEdgeCtes,
       |pb AS (
       |  SELECT (max(vec_id) // $nBatches + 1) * ${through + 1}
       |    AS bound FROM embeddings),
       |pasg AS (SELECT a.* FROM asg a, pb WHERE a.vec_id < pb.bound),
       |ppr AS (
       |  SELECT a.vec_id, b.vec_id AS neighbor_id
       |  FROM pasg a JOIN pasg b
       |    ON a.cell = b.cell AND a.vec_id <> b.vec_id),
       |pdd AS (
       |  SELECT p.vec_id, p.neighbor_id,
       |    CAST(sum((fa.qx - fb.qx) * (fa.qx - fb.qx)) AS BIGINT)
       |      AS d2
       |  FROM ppr p
       |  JOIN fx fa ON fa.vec_id = p.vec_id
       |  JOIN fx fb ON fb.vec_id = p.neighbor_id AND fb.i = fa.i
       |  GROUP BY 1, 2),
       |prk AS (
       |  SELECT vec_id, neighbor_id, d2, row_number() OVER (
       |    PARTITION BY vec_id ORDER BY d2, neighbor_id) AS rank
       |  FROM pdd),
       |osum AS (
       |  SELECT vec_id, CAST(count(*) AS INT) AS k_old,
       |    string_agg(rank || ':' || neighbor_id || ':' || d2,
       |      ' ' ORDER BY rank) AS sig_old
       |  FROM prk WHERE rank <= $KnnGraphK GROUP BY 1),
       |nsum AS (
       |  SELECT vec_id, CAST(count(*) AS INT) AS k_new,
       |    string_agg(rank || ':' || neighbor_id || ':' || d2,
       |      ' ' ORDER BY rank) AS sig_new
       |  FROM rk WHERE rank <= $KnnGraphK GROUP BY 1)
       |SELECT n.vec_id,
       |  CASE WHEN o.vec_id IS NULL THEN 'added'
       |       ELSE 'changed' END AS status,
       |  CAST(coalesce(o.k_old, 0) AS INT) AS k_old,
       |  n.k_new, n.sig_new
       |FROM nsum n LEFT JOIN osum o ON o.vec_id = n.vec_id
       |WHERE o.vec_id IS NULL OR n.sig_new <> o.sig_old
       |ORDER BY n.vec_id""".stripMargin

  /** v22's oracle: shared edge CTEs + one generated (contrib, rank)
    * CTE pair per power iteration.
    */
  private def graphCentralityOracle: String = {
    val iters = (1 to CentralityIters).map { i =>
      s"""cm$i AS (
         |  SELECT g.neighbor_id AS vec_id,
         |    CAST(sum(r.rank // d.deg) AS BIGINT) AS m
         |  FROM g JOIN rr${i - 1} r ON r.vec_id = g.vec_id
         |  JOIN deg d ON d.vec_id = g.vec_id
         |  GROUP BY 1),
         |rr$i AS (
         |  SELECT n.vec_id,
         |    CAST(150000 + (85 * coalesce(c.m, 0)) // 100 AS BIGINT)
         |      AS rank
         |  FROM nodes n LEFT JOIN cm$i c ON c.vec_id = n.vec_id)"""
        .stripMargin
    }.mkString(",\n")
    s"""$ivfIntCoreCtes,
       |$knnGraphEdgeCtes,
       |nodes AS (SELECT vec_id FROM asg),
       |deg AS (
       |  SELECT vec_id, CAST(count(*) AS BIGINT) AS deg
       |  FROM g GROUP BY 1),
       |rr0 AS (
       |  SELECT vec_id, CAST(1000000 AS BIGINT) AS rank FROM nodes),
       |$iters,
       |ind AS (
       |  SELECT neighbor_id AS vec_id,
       |    CAST(count(*) AS BIGINT) AS in_degree
       |  FROM g GROUP BY 1)
       |SELECT r.vec_id, r.rank,
       |  CAST(coalesce(i.in_degree, 0) AS BIGINT) AS in_degree
       |FROM rr$CentralityIters r LEFT JOIN ind i ON i.vec_id = r.vec_id
       |ORDER BY r.vec_id""".stripMargin
  }

  /** v04 — vector norm statistics per label (corpus sanity check every
    * embedding pipeline runs before indexing).
    */
  val v04NormStats: Q = (s, d) =>
    emb(s, d)
      .select(col("label"), norm(col("v")).as("nrm"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        round(avg("nrm"), 4).as("avg_norm"),
        round(min("nrm"), 4).as("min_norm"),
        round(max("nrm"), 4).as("max_norm"))
      .orderBy("label")

  /** v06 — embedding-cosine near-duplicate pairs (the vector-space
    * dedup mode of the mandate list): all pairs above a similarity
    * threshold within a bounded id range, exact and oracled. The
    * bounded quadratic candidate set is the correctness baseline; the
    * scale path for the full corpus is v03/v05 (LSH/IVF candidates +
    * this exact filter).
    */
  val v06EmbeddingNearDup: Q = (s, d) => {
    val e = emb(s, d).filter(col("vec_id") < 300)
    // spread the stream side: single-file input = one partition locally
    val a = e.select(col("vec_id").as("d1"), col("v").as("v1"))
      .repartition(s.sparkContext.defaultParallelism)
    val b = e.select(col("vec_id").as("d2"), col("v").as("v2"))
    a.join(broadcast(b), col("d1") < col("d2"))
      .select(col("d1"), col("d2"),
        round(cosUdf(col("v1"), col("v2")), 4).as("cos_sim"))
      .filter(col("cos_sim") >= 0.35)
      .orderBy("d1", "d2")
  }

  /** v10 — SQ8 scalar quantization (the Faiss `SQ8` / Milvus `SQ8`
    * compression mode): each vector is rewritten as 8-bit codes over
    * its own [min, max] range — code_i = round((x_i − lo) / scale),
    * scale = (hi − lo)/255 — a 4× memory cut over float32 that most
    * ANN deployments take before anything fancier (PQ, v07, is the
    * 64× sibling). Everything stays INSIDE the row as codegen'd array
    * ops (array_min/array_max/transform/aggregate): zero shuffle, one
    * corpus pass, trivially 100 TB-parallel. Outputs are exact
    * integers (plus the md5 of the code string), so the DuckDB twin
    * hash-verifies the entire quantization — no float-tolerance
    * hand-waving.
    */
  val v10Sq8Quantization: Q = (s, d) =>
    emb(s, d)
      .select(col("vec_id"), col("label"), col("v"),
        array_min(col("v")).as("lo"), array_max(col("v")).as("hi"))
      .withColumn("codes", expr(
        "transform(v, x -> IF(hi = lo, 0, " +
          "CAST(round((x - lo) / ((hi - lo) / 255.0D)) AS INT)))"))
      .select(col("vec_id"), col("label"),
        size(col("v")).as("n_dims"),
        array_min(col("codes")).as("code_min"),
        array_max(col("codes")).as("code_max"),
        expr("aggregate(codes, CAST(0 AS BIGINT), (a, c) -> a + c)")
          .as("code_sum"),
        md5(concat_ws(" ",
          expr("transform(codes, c -> CAST(c AS STRING))")).cast("binary"))
          .as("codes_md5"),
        round(col("lo"), 5).as("q_lo"),
        round(col("hi"), 5).as("q_hi"))
      .orderBy("vec_id")

  /** v11 — brute-force kNN over the SQ8-COMPRESSED corpus with
    * asymmetric distance (the Faiss ADC convention: queries stay
    * full-precision, the corpus is scored in its quantized form
    * lo + code·scale). This is the serve shape v10's compression
    * exists for — the corpus pass reads 8-bit codes (4× less IO than
    * v01's float scan) and never rehydrates the original vectors.
    * Because dequantization is exact double arithmetic on both
    * engines, this is the one ANN-family query with a FULL DuckDB
    * hash oracle (v03/v05/v07/v08 are golden-pinned; the float
    * ordering contract here is v01's: rank over ROUNDED similarity +
    * id tiebreak). VectorSpec grades its agreement against v01's
    * uncompressed ranking.
    */
  val v11Sq8AdcKnn: Q = (s, d) => {
    val e = emb(s, d)
    val dq = e
      .select(col("vec_id"), col("v"),
        array_min(col("v")).as("lo"), array_max(col("v")).as("hi"))
      .select(col("vec_id"), expr(
        "transform(v, x -> IF(hi = lo, lo, " +
          "lo + CAST(round((x - lo) / ((hi - lo) / 255.0D)) AS INT) " +
          "* ((hi - lo) / 255.0D)))").as("rv"))
    val q = e.filter(col("vec_id").isin(0, 1, 2))
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val scored = dq.join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        round(cosUdf(col("qv"), col("rv")), 4).as("cos_sim"))
    val w = Window.partitionBy("qid")
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select("qid", "rk", "vec_id", "cos_sim")
      .orderBy("qid", "rk")
  }

  // ----------------------------------------------------------------
  // v23 — MMR diversified rerank
  // ----------------------------------------------------------------

  /** v23 query-set bound (vec_id < this are the queries). */
  private val MmrNq = 4
  /** Relevance shortlist per query entering the greedy rerank. */
  private val MmrShortlist = 32
  /** Selected (diversified) results per query. */
  private val MmrK = 8

  /** v23 — MMR DIVERSIFIED RERANK (maximal marginal relevance,
    * Carbonell & Goldstein SIGIR 1998 — the result-diversification
    * pass a retrieval pipeline runs so a RAG corpus or eval set
    * isn't k near-copies of the best hit; the serving-side
    * complement of v16's SemDeDup, which dedups the INDEX while MMR
    * dedups each RESULT LIST). Per query: the exact top-
    * [[MmrShortlist]] by integer squared-L2 is the relevance
    * shortlist; the greedy loop then repeatedly takes the candidate
    * minimizing cost = d²(q, c) − min_{s ∈ selected} d²(c, s) (with
    * the first pick plain nearest, cost = d²) under the
    * deterministic (cost, vec_id) tie-break — equal-weight MMR with
    * distances standing in for relevance and dissimilarity, every
    * number an exact BIGINT on the v12 fixed-point grid, so
    * selection order hash-matches a generated fixed-depth CTE-chain
    * oracle (the t41 precedent: one chained CTE per greedy step).
    *
    * Scale shape — rerank-the-shortlist is how MMR actually
    * deploys: the DISTRIBUTED work is one corpus pass scoring all
    * queries at once (the bounded query set broadcasts into the
    * scan — the v01/v06 rule, corpus never self-joins) with a
    * per-query WindowGroupLimit pruning to the shortlist map-side;
    * the greedy loop then touches only queries × shortlist rows
    * (collected under the bounded-artifact rule — an O(k²·dim)
    * in-memory rerank per query, independent of corpus size). At
    * 100 TB the shortlist pass IS the ANN serve path (swap in
    * v09/v12's index probe for the brute pass unchanged); MMR adds
    * a constant per-query tail.
    */
  /** v23's distributed stage, exposed for the PlanSpec gate (the
    * declared query's returned frame is the driver-side rerank of
    * the collected shortlist — a LocalTableScan — so THIS is the
    * plan that must hold the scale properties): one corpus pass
    * scoring the broadcast query set, per-query top-shortlist
    * pruned by the rank window.
    */
  private[graft] def mmrShortlist(s: SparkSession,
      d: String): DataFrame = {
    val fe = fixedEmb(s, d)
    val qs = fe.filter(col("vec_id") < MmrNq)
      .select(col("vec_id").as("qid"), col("qv").as("qqv"))
    val d2Udf = udf { (a: Seq[Long], b: Seq[Long]) =>
      dist2Int(a.toArray, b.toArray)
    }
    val w = Window.partitionBy("qid")
      .orderBy(col("d2q").asc, col("vec_id").asc)
    fe.crossJoin(broadcast(qs))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        d2Udf(col("qqv"), col("qv")).as("d2q"), col("qv"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= MmrShortlist)
      .select("qid", "vec_id", "d2q", "qv")
  }

  val v23MmrRerank: Q = (s, d) => {
    // bounded rerank artifact: queries × shortlist rows with their
    // vectors — the greedy loop never sees corpus-sized data
    val byQ = mmrShortlist(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getSeq[Long](3).toArray))
      .groupBy(_._1)
    val picked = byQ.toSeq.flatMap { case (qid, cands) =>
      var selected = Vector.empty[(Long, Array[Long])]
      val remaining = scala.collection.mutable.LinkedHashMap(
        cands.map(c => c._2 -> c): _*)
      (1 to math.min(MmrK, cands.length)).map { step =>
        val (cost, vid, d2q) = remaining.values.map {
          case (_, vid, d2q, v) =>
            val cost =
              if (selected.isEmpty) d2q
              else d2q - selected.map(sv => dist2Int(v, sv._2)).min
            (cost, vid, d2q)
        }.minBy(t => (t._1, t._2))
        val v = remaining(vid)._4
        selected :+= (vid, v)
        remaining.remove(vid)
        (qid, step, vid, d2q, cost)
      }
    }
    import s.implicits._
    picked.toDF("qid", "rnk", "vec_id", "d2q", "cost")
      .orderBy("qid", "rnk")
  }

  /** v24 beam width (HNSW's efSearch), hop budget, result depth, and
    * query-set bound — each pinned independently by the oracle.
    */
  private[graft] val KnnBeamEf = 32
  private[graft] val KnnBeamHops = 3
  private[graft] val KnnBeamTopK = 3
  private val KnnBeamMaxQid = 3

  /** Build-or-reuse the persisted kNN-graph SERVE artifact for sf-dir
    * `d` (StageCache keyed by the embeddings fingerprint, like v09's
    * IVF+PQ index): one row per corpus node — its snapped grid vector,
    * its cell under the trained integer coarse quantizer, and its
    * ordered top-[[KnnGraphK]] adjacency list — partitioned by cell,
    * which is what lets a serve query read ONLY its own cell's
    * partition. This is the storage shape a graph-ANN serve tier
    * actually holds: vectors and adjacency co-located per shard.
    */
  private[graft] def ensureKnnGraphIndex(s: SparkSession, d: String)
      : DataFrame = {
    import graft.pipeline.StageCache
    val cache = new StageCache(s, StageCache.indexRoot)
    val ver = cache.versionHash(Seq("knngraph", "v1",
      s"nlist=$IvfIntNlist", s"k=$KnnGraphK", s"dim=$Dim"))
    val inputs = Seq(s"$d/embeddings.parquet")
    cache.stage("knn_graph_adj", ver, inputs,
        partitionCols = Seq("cell")) {
      val (edges, assigned) = knnGraphRanked(s, d)
      val adj = edges
        .groupBy("vec_id")
        .agg(array_sort(collect_list(struct(col("rank"),
          col("neighbor_id"), col("d2")))).as("rnbrs"))
        .select(col("vec_id"), transform(col("rnbrs"),
          x => struct(x.getField("neighbor_id").as("neighbor_id"),
            x.getField("d2").as("d2"))).as("nbrs"))
      val out = assigned.select("vec_id", "qv", "cell")
        .join(adj, Seq("vec_id"), "left")
        .localCheckpoint() // the cache's write re-reads `assigned`
      assigned.unpersist()
      out
    }
  }

  /** v24 — GRAPH-SERVE ANN: greedy beam search over the MAINTAINED
    * kNN graph (the HNSW-style serve shape that completes the graph
    * family — v20 builds it, s17 maintains it, s25/s28 time-travel
    * and diff it; this is the query that serves FROM it). Per query:
    * enter at the minimum vec_id of the query's cell, then
    * [[KnnBeamHops]] rounds of expand-and-prune — candidates are the
    * current beam plus every graph neighbor of a beam member, the
    * next beam is the top-[[KnnBeamEf]] by exact integer (d²,
    * vec_id) — and the answer is the beam's top-[[KnnBeamTopK]]
    * excluding the query itself. Every step is integer-exact and
    * deterministically tie-broken, so the DuckDB oracle replays the
    * whole search as a generated fixed-depth CTE chain (one
    * candidate/distance/rank block per hop — the v22/v23 pattern)
    * on top of the shared quantizer + graph CTEs.
    *
    * SCALE SHAPE — the distributed serve pattern every graph-ANN
    * system uses (route the query to its shard; the shard walks its
    * own subgraph in memory): the corpus side is ONE artifact read,
    * partition-PRUNED to the queries' cells (plan-gated in
    * PlanSpec); the walk runs inside `flatMapGroups` per cell, so
    * per-task state is one cell's nodes — constant width, since
    * nlist grows ∝ corpus (the v16/v20 receipt) — and the frontier
    * itself is bounded by ef, a config constant, per query. Edges
    * are intra-cell by construction, so a cell group is closed
    * under expansion: no hop ever needs data the pruned read did
    * not already co-locate. No driver round-trips, no per-hop
    * shuffles — one exchange to group the pruned cells, then pure
    * in-memory search.
    */
  val v24GraphBeamServe: Q = (s, d) => {
    import org.apache.spark.sql.{Encoders, Row}
    val idx = ensureKnnGraphIndex(s, d)
    val cents = intCoarseModel(s, d)
    // query meta (snap + route): driver-side and BOUNDED — the fixed
    // query set, never the corpus
    val qMeta: Seq[(Long, Int, Array[Long])] = fixedEmb(s, d)
      .filter(col("vec_id") < KnnBeamMaxQid)
      .select("vec_id", "qv").collect().toSeq
      .map { r =>
        val qv = r.getSeq[Long](1).toArray
        (r.getLong(0), nearestCellInt(cents, qv), qv)
      }
    val cells = qMeta.map(_._2).distinct.sorted
    // ONE pruned artifact read: only the queries' cell partitions
    val sub = graft.streaming.EventStreams
      .pruneToPartitions(idx, "cell", cells)
      .select("cell", "vec_id", "qv", "nbrs")
    val bcQ = s.sparkContext.broadcast(qMeta)
    val ef = KnnBeamEf; val hops = KnnBeamHops; val topK = KnnBeamTopK
    val served = sub
      .groupByKey((r: Row) => r.getInt(0))(Encoders.scalaInt)
      .flatMapGroups { (cell: Int, rows: Iterator[Row]) =>
        val nodes = rows.map { r =>
          val nbrs = Option(r.getSeq[Row](3)).getOrElse(Seq.empty)
            .map(_.getLong(0)).toArray
          (r.getLong(1), r.getSeq[Long](2).toArray, nbrs)
        }.toArray
        val byId = nodes.map(n => n._1 -> n).toMap
        val entry = nodes.iterator.map(_._1).min
        bcQ.value.iterator.filter(_._2 == cell).flatMap {
          case (qid, _, qv) =>
            def d2(x: Array[Long]): Long = {
              var i = 0; var acc = 0L
              while (i < qv.length) {
                val t = qv(i) - x(i); acc += t * t; i += 1
              }
              acc
            }
            var beam: Seq[Long] = Seq(entry)
            (1 to hops).foreach { _ =>
              val cand = (beam ++ beam.flatMap(id => byId(id)._3))
                .distinct
              beam = cand.map(id => (d2(byId(id)._2), id))
                .sorted.take(ef).map(_._2)
            }
            beam.map(id => (d2(byId(id)._2), id))
              .filter(_._2 != qid).sorted.take(topK)
              .zipWithIndex.map { case ((d, id), i) =>
                (qid, i + 1, id, d)
              }
        }
      }(Encoders.product[(Long, Int, Long, Long)])
      .toDF("qid", "rk", "vec_id", "d2")
    served.orderBy("qid", "rk")
  }

  /** v24's oracle: the shared quantizer + graph CTEs, entry points
    * (min vec_id per cell), then one generated
    * candidates/distances/beam CTE block per hop — SQL UNION dedups
    * exactly like the engine's `.distinct`, and every rank is over
    * the same BIGINT (d², vec_id) order — finishing with the
    * self-excluded top-[[KnnBeamTopK]].
    */
  private def knnBeamServeOracle: String = {
    val hops = (1 to KnnBeamHops).map { i =>
      s"""cnd$i AS (
         |  SELECT qid, node FROM bm${i - 1}
         |  UNION
         |  SELECT b.qid, g.neighbor_id AS node
         |  FROM bm${i - 1} b JOIN g ON g.vec_id = b.node),
         |cd$i AS (
         |  SELECT c.qid, c.node,
         |    CAST(sum((fa.qx - fb.qx) * (fa.qx - fb.qx)) AS BIGINT)
         |      AS d2
         |  FROM cnd$i c
         |  JOIN fx fa ON fa.vec_id = c.node
         |  JOIN fx fb ON fb.vec_id = c.qid AND fb.i = fa.i
         |  GROUP BY 1, 2),
         |bm$i AS (
         |  SELECT qid, node FROM (
         |    SELECT qid, node, row_number() OVER (
         |      PARTITION BY qid ORDER BY d2, node) AS rn
         |    FROM cd$i) WHERE rn <= $KnnBeamEf)""".stripMargin
    }.mkString(",\n")
    s"""$ivfIntCoreCtes,
       |$knnGraphEdgeCtes,
       |qc AS (
       |  SELECT vec_id AS qid, cell FROM asg
       |  WHERE vec_id < $KnnBeamMaxQid),
       |ent AS (SELECT cell, min(vec_id) AS entry FROM asg GROUP BY 1),
       |bm0 AS (
       |  SELECT q.qid, e.entry AS node
       |  FROM qc q JOIN ent e ON e.cell = q.cell),
       |$hops,
       |fin AS (
       |  SELECT b.qid, b.node,
       |    CAST(sum((fa.qx - fb.qx) * (fa.qx - fb.qx)) AS BIGINT)
       |      AS d2
       |  FROM bm$KnnBeamHops b
       |  JOIN fx fa ON fa.vec_id = b.node
       |  JOIN fx fb ON fb.vec_id = b.qid AND fb.i = fa.i
       |  WHERE b.node <> b.qid
       |  GROUP BY 1, 2)
       |SELECT qid, CAST(rn AS INT) AS rk, node AS vec_id, d2
       |FROM (
       |  SELECT qid, node, d2, row_number() OVER (
       |    PARTITION BY qid ORDER BY d2, node) AS rn
       |  FROM fin)
       |WHERE rn <= $KnnBeamTopK
       |ORDER BY qid, rk""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "v23_mmr_rerank" -> v23MmrRerank,
    "v24_graph_beam_serve" -> v24GraphBeamServe,
    "v17_range_search" -> v17RangeSearch,
    "v18_ann_matryoshka" -> v18AnnMatryoshka,
    "v19_cluster_profile" -> v19ClusterProfile,
    "v11_sq8_adc_knn" -> v11Sq8AdcKnn,
    "v10_sq8_quantization" -> v10Sq8Quantization,
    "v06_embedding_neardup" -> v06EmbeddingNearDup,
    "v01_knn_brute" -> v01KnnBrute,
    "v15_knn_filtered" -> v15KnnFiltered,
    "v02_label_centroids" -> v02LabelCentroids,
    "v03_ann_lsh" -> v03AnnLsh,
    "v04_norm_stats" -> v04NormStats,
    "v05_ann_ivf" -> v05AnnIvf,
    "v07_ann_pq" -> v07AnnPq,
    "v08_ann_ivfpq" -> v08AnnIvfPq,
    "v09_ann_ivfpq_indexed" -> v09AnnIvfPqIndexed,
    "v12_ann_ivf_int" -> v12AnnIvfInt,
    "v13_ann_lsh_int" -> v13AnnLshInt,
    "v14_ann_ivfpq_int" -> v14AnnIvfPqInt,
    "v16_semdedup" -> v16Semdedup,
    "v20_knn_graph" -> v20KnnGraph,
    "v22_graph_centrality" -> v22GraphCentrality,
    "v21_ann_recall" -> v21AnnRecall,
  )

  /** Shared oracle prefix for the integer IVF family (v12, v14): the
    * fixed-point grid, the md5-bucket training sample, stride init,
    * both truncating-division Lloyd iterations, full-corpus cell
    * assignment (`asg`), and the per-query probe sets (`prb`).
    */
  private lazy val ivfIntCoreCtes: String = {
    val scale = s"$FixScale.0"
    val n = IvfIntNlist * 40
    s"""WITH fx AS (
      |  SELECT vec_id,
      |    CAST(round(CAST(x AS DOUBLE) * $scale) AS BIGINT) AS qx, i
      |  FROM (SELECT vec_id, unnest(embedding) AS x,
      |          generate_subscripts(embedding, 1) AS i
      |        FROM embeddings)),
      |smp AS (
      |  SELECT vec_id, rn FROM (
      |    SELECT vec_id, row_number() OVER (ORDER BY
      |        CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 12)
      |          AS BIGINT) % 1000000, vec_id) AS rn
      |    FROM embeddings)
      |  WHERE rn <= $n),
      |nn AS (SELECT count(*) AS n FROM smp),
      |sfx AS (
      |  SELECT f.vec_id, f.i, f.qx
      |  FROM fx f JOIN smp ON smp.vec_id = f.vec_id),
      |c0 AS (
      |  SELECT g.c AS cell, f.i, f.qx AS cx
      |  FROM (SELECT unnest(range(0, $IvfIntNlist)) AS c) g
      |  CROSS JOIN nn
      |  JOIN smp ON smp.rn = (g.c * nn.n) // $IvfIntNlist + 1
      |  JOIN fx f ON f.vec_id = smp.vec_id),
      |d1 AS (
      |  SELECT s.vec_id, c.cell,
      |    sum((s.qx - c.cx) * (s.qx - c.cx)) AS d2
      |  FROM sfx s JOIN c0 c ON s.i = c.i GROUP BY 1, 2),
      |a1 AS (
      |  SELECT vec_id, cell FROM (
      |    SELECT vec_id, cell, row_number() OVER (
      |      PARTITION BY vec_id ORDER BY d2, cell) AS rk
      |    FROM d1) WHERE rk = 1),
      |u1 AS (
      |  SELECT a.cell, s.i, CAST(sum(s.qx) // count(*) AS BIGINT) AS cx
      |  FROM a1 a JOIN sfx s ON s.vec_id = a.vec_id GROUP BY 1, 2),
      |c1 AS (
      |  SELECT c0.cell, c0.i, coalesce(u.cx, c0.cx) AS cx
      |  FROM c0 LEFT JOIN u1 u ON u.cell = c0.cell AND u.i = c0.i),
      |d2_ AS (
      |  SELECT s.vec_id, c.cell,
      |    sum((s.qx - c.cx) * (s.qx - c.cx)) AS d2
      |  FROM sfx s JOIN c1 c ON s.i = c.i GROUP BY 1, 2),
      |a2 AS (
      |  SELECT vec_id, cell FROM (
      |    SELECT vec_id, cell, row_number() OVER (
      |      PARTITION BY vec_id ORDER BY d2, cell) AS rk
      |    FROM d2_) WHERE rk = 1),
      |u2 AS (
      |  SELECT a.cell, s.i, CAST(sum(s.qx) // count(*) AS BIGINT) AS cx
      |  FROM a2 a JOIN sfx s ON s.vec_id = a.vec_id GROUP BY 1, 2),
      |c2 AS (
      |  SELECT c1.cell, c1.i, coalesce(u.cx, c1.cx) AS cx
      |  FROM c1 LEFT JOIN u2 u ON u.cell = c1.cell AND u.i = c1.i),
      |dA AS (
      |  SELECT f.vec_id, c.cell,
      |    sum((f.qx - c.cx) * (f.qx - c.cx)) AS d2
      |  FROM fx f JOIN c2 c ON f.i = c.i GROUP BY 1, 2),
      |asg AS (
      |  SELECT vec_id, cell FROM (
      |    SELECT vec_id, cell, row_number() OVER (
      |      PARTITION BY vec_id ORDER BY d2, cell) AS rk
      |    FROM dA) WHERE rk = 1),
      |prb AS (
      |  SELECT vec_id AS qid, cell FROM (
      |    SELECT vec_id, cell, row_number() OVER (
      |      PARTITION BY vec_id ORDER BY d2, cell) AS rk
      |    FROM dA WHERE vec_id < $IvfIntMaxQid) WHERE rk <= $IvfIntNprobe)"""
      .stripMargin
  }

  /** Shared oracle CTE block for the integer PQ stage (v14 and the
    * grid-seeded float family v07/v08/v09), parameterized by the `res`
    * CTE: the per-(vec, subspace, dim) integer value the codebooks
    * train on and encode — residuals under the trained coarse
    * quantizer for the IVF+PQ family, raw grid values for flat PQ.
    * Then: the sample restriction (`sres`), stride init (`p0`), both
    * truncating-division Lloyd iterations (`p1`/`p2`), and the
    * full-corpus code assignment (`enc`). Extends [[ivfIntCoreCtes]]
    * (needs fx/smp/nn, plus c2/asg for the residual variant).
    */
  private def pqIntCodebookCtes(resDef: String): String = {
    s"""$resDef,
      |sres AS (
      |  SELECT r.vec_id, r.mi, r.jl, r.r
      |  FROM res r JOIN smp ON smp.vec_id = r.vec_id),
      |p0 AS (
      |  SELECT g.co, sr.mi, sr.jl, sr.r AS cb
      |  FROM (SELECT unnest(range(0, $PqIntK)) AS co) g
      |  CROSS JOIN nn
      |  JOIN smp ON smp.rn = (g.co * nn.n) // $PqIntK + 1
      |  JOIN sres sr ON sr.vec_id = smp.vec_id),
      |pd1 AS (
      |  SELECT sr.vec_id, sr.mi, p.co,
      |    sum((sr.r - p.cb) * (sr.r - p.cb)) AS d2
      |  FROM sres sr JOIN p0 p ON p.mi = sr.mi AND p.jl = sr.jl
      |  GROUP BY 1, 2, 3),
      |pa1 AS (
      |  SELECT vec_id, mi, co FROM (
      |    SELECT vec_id, mi, co, row_number() OVER (
      |      PARTITION BY vec_id, mi ORDER BY d2, co) AS rk
      |    FROM pd1) WHERE rk = 1),
      |pu1 AS (
      |  SELECT a.co, sr.mi, sr.jl,
      |    CAST(sum(sr.r) // count(*) AS BIGINT) AS cb
      |  FROM pa1 a JOIN sres sr
      |    ON sr.vec_id = a.vec_id AND sr.mi = a.mi
      |  GROUP BY 1, 2, 3),
      |p1 AS (
      |  SELECT p0.co, p0.mi, p0.jl, coalesce(u.cb, p0.cb) AS cb
      |  FROM p0 LEFT JOIN pu1 u
      |    ON u.co = p0.co AND u.mi = p0.mi AND u.jl = p0.jl),
      |pd2 AS (
      |  SELECT sr.vec_id, sr.mi, p.co,
      |    sum((sr.r - p.cb) * (sr.r - p.cb)) AS d2
      |  FROM sres sr JOIN p1 p ON p.mi = sr.mi AND p.jl = sr.jl
      |  GROUP BY 1, 2, 3),
      |pa2 AS (
      |  SELECT vec_id, mi, co FROM (
      |    SELECT vec_id, mi, co, row_number() OVER (
      |      PARTITION BY vec_id, mi ORDER BY d2, co) AS rk
      |    FROM pd2) WHERE rk = 1),
      |pu2 AS (
      |  SELECT a.co, sr.mi, sr.jl,
      |    CAST(sum(sr.r) // count(*) AS BIGINT) AS cb
      |  FROM pa2 a JOIN sres sr
      |    ON sr.vec_id = a.vec_id AND sr.mi = a.mi
      |  GROUP BY 1, 2, 3),
      |p2 AS (
      |  SELECT p1.co, p1.mi, p1.jl, coalesce(u.cb, p1.cb) AS cb
      |  FROM p1 LEFT JOIN pu2 u
      |    ON u.co = p1.co AND u.mi = p1.mi AND u.jl = p1.jl),
      |ed AS (
      |  SELECT r.vec_id, r.mi, p.co,
      |    sum((r.r - p.cb) * (r.r - p.cb)) AS d2
      |  FROM res r JOIN p2 p ON p.mi = r.mi AND p.jl = r.jl
      |  GROUP BY 1, 2, 3),
      |enc AS (
      |  SELECT vec_id, mi, co FROM (
      |    SELECT vec_id, mi, co, row_number() OVER (
      |      PARTITION BY vec_id, mi ORDER BY d2, co) AS rk
      |    FROM ed) WHERE rk = 1)""".stripMargin
  }

  /** `res` variant for the IVF+PQ family: integer residuals under the
    * trained coarse quantizer (full corpus).
    */
  private lazy val pqResidualRes: String = {
    val sub = Dim / PqIntM
    s"""res AS (
      |  SELECT f.vec_id, (f.i - 1) // $sub AS mi,
      |    (f.i - 1) % $sub AS jl, f.qx - c.cx AS r
      |  FROM fx f
      |  JOIN asg a ON a.vec_id = f.vec_id
      |  JOIN c2 c ON c.cell = a.cell AND c.i = f.i)""".stripMargin
  }

  /** `res` variant for flat PQ (v07): the raw grid values. */
  private lazy val pqRawRes: String = {
    val sub = Dim / PqIntM
    s"""res AS (
      |  SELECT f.vec_id, (f.i - 1) // $sub AS mi,
      |    (f.i - 1) % $sub AS jl, f.qx AS r
      |  FROM fx f)""".stripMargin
  }

  /** v07 oracle — grid-seeded flat PQ: codebooks train on the raw
    * fixed-point subvectors (no coarse stage), the full corpus encodes
    * to byte codes (`enc`, integer-exact), and the float ADC scores the
    * reconstruction ṽ (codebook doubles alone — flat PQ has no cell
    * term) against every query EXHAUSTIVELY; shortlist ranking over
    * round(score, 6) + id tiebreak, exact-cosine rerank, top-1.
    */
  private lazy val pqFlatFloatOracle: String = {
    val sub = Dim / PqIntM
    s"""$ivfIntCoreCtes,
      |${pqIntCodebookCtes(pqRawRes)},
      |dv AS (
      |  SELECT vec_id, CAST(x AS DOUBLE) AS v, i
      |  FROM (SELECT vec_id, unnest(embedding) AS x,
      |          generate_subscripts(embedding, 1) AS i
      |        FROM embeddings)),
      |pf AS (SELECT co, mi, jl, cb / $FixScale.0 AS b FROM p2),
      |av AS (
      |  SELECT e.vec_id, p.mi * $sub + p.jl + 1 AS i, p.b
      |  FROM enc e JOIN pf p ON p.mi = e.mi AND p.co = e.co),
      |adcf AS (
      |  SELECT q.vec_id AS qid, v.vec_id,
      |    sum(q.v * v.b) /
      |      greatest(sqrt(sum(v.b * v.b)), 0.000000000001) AS score
      |  FROM dv q
      |  JOIN av v ON v.i = q.i AND v.vec_id <> q.vec_id
      |  WHERE q.vec_id < $IvfIntMaxQid
      |  GROUP BY 1, 2),
      |shrt AS (
      |  SELECT qid, vec_id FROM (
      |    SELECT qid, vec_id, row_number() OVER (
      |      PARTITION BY qid ORDER BY round(score, 6) DESC, vec_id) AS rk
      |    FROM adcf) WHERE rk <= $IvfPqRerank),
      |cd AS (
      |  SELECT s.qid, s.vec_id,
      |    round(sum(q.v * t.v) / (sqrt(sum(q.v * q.v))
      |      * sqrt(sum(t.v * t.v))), 4) AS cos_sim
      |  FROM shrt s
      |  JOIN dv q ON q.vec_id = s.qid
      |  JOIN dv t ON t.vec_id = s.vec_id AND t.i = q.i
      |  GROUP BY 1, 2)
      |SELECT qid, vec_id AS ann_nid, cos_sim
      |FROM (
      |  SELECT qid, vec_id, cos_sim, row_number() OVER (
      |    PARTITION BY qid ORDER BY cos_sim DESC, vec_id) AS rk
      |  FROM cd) WHERE rk = 1
      |ORDER BY qid""".stripMargin
  }

  /** v08/v09 oracle — the grid-seeded float IVF+PQ serve path: the
    * integer CTE chain (training, routing, codes, probes — all BIGINT,
    * bit-identical to v14's) feeds a FLOAT ADC stage recomputed in
    * doubles. The model scales back to IEEE doubles (exact: BIGINT/10⁴)
    * and the oracle scores via the RECONSTRUCTED approximate vector
    * ṽ = c_cell + cb_code: dot(q, ṽ)/‖ṽ‖ is term-for-term the same sum
    * as the engine's ADC lookup-table decomposition (qDotC + Σt over
    * cellN2 + ΣcrossN), differing only in float summation order — which
    * the round(score, 6) + id-tiebreak shortlist ranking absorbs (the
    * v01 contract; noise ≪ 1e-6). The reconstruction form keeps the
    * DuckDB join tree small — the 7-way lookup-table join planned
    * catastrophically. The exact-cosine rerank reports round(cos, 4).
    * One SQL string serves both queries: v09 is the stored-index serve
    * path over artifacts that ARE v08's intermediates.
    */
  private lazy val ivfPqFloatOracle: String = {
    val sub = Dim / PqIntM
    s"""$ivfIntCoreCtes,
      |${pqIntCodebookCtes(pqResidualRes)},
      |dv AS (
      |  SELECT vec_id, CAST(x AS DOUBLE) AS v, i
      |  FROM (SELECT vec_id, unnest(embedding) AS x,
      |          generate_subscripts(embedding, 1) AS i
      |        FROM embeddings)),
      |cf AS (SELECT cell, i, cx / $FixScale.0 AS c FROM c2),
      |pf AS (SELECT co, mi, jl, cb / $FixScale.0 AS b FROM p2),
      |av AS (
      |  SELECT a.vec_id, c.i, c.c + p.b AS av
      |  FROM asg a
      |  JOIN cf c ON c.cell = a.cell
      |  JOIN enc e ON e.vec_id = a.vec_id AND e.mi = (c.i - 1) // $sub
      |  JOIN pf p ON p.mi = e.mi AND p.co = e.co
      |    AND p.jl = (c.i - 1) % $sub),
      |adcf AS (
      |  SELECT p.qid, a.vec_id,
      |    sum(q.v * v.av) /
      |      greatest(sqrt(sum(v.av * v.av)), 0.000000000001) AS score
      |  FROM prb p
      |  JOIN asg a ON a.cell = p.cell AND a.vec_id <> p.qid
      |  JOIN av v ON v.vec_id = a.vec_id
      |  JOIN dv q ON q.vec_id = p.qid AND q.i = v.i
      |  GROUP BY 1, 2),
      |shrt AS (
      |  SELECT qid, vec_id FROM (
      |    SELECT qid, vec_id, row_number() OVER (
      |      PARTITION BY qid ORDER BY round(score, 6) DESC, vec_id) AS rk
      |    FROM adcf) WHERE rk <= $IvfPqRerank),
      |cd AS (
      |  SELECT s.qid, s.vec_id,
      |    round(sum(q.v * t.v) / (sqrt(sum(q.v * q.v))
      |      * sqrt(sum(t.v * t.v))), 4) AS cos_sim
      |  FROM shrt s
      |  JOIN dv q ON q.vec_id = s.qid
      |  JOIN dv t ON t.vec_id = s.vec_id AND t.i = q.i
      |  GROUP BY 1, 2)
      |SELECT qid, vec_id AS ann_nid, cos_sim
      |FROM (
      |  SELECT qid, vec_id, cos_sim, row_number() OVER (
      |    PARTITION BY qid ORDER BY cos_sim DESC, vec_id) AS rk
      |  FROM cd) WHERE rk = 1
      |ORDER BY qid""".stripMargin
  }

  /** Shared LSH bucket CTE block (v13 and, since r10, the grid-seeded
    * float v03 at its own 24-table depth): the fixed-point grid, every
    * md5-derived integer plane coordinate, integer dot signs → bucket
    * tables, and the DISTINCT bucket-collision candidate set for
    * qid < [[IvfIntMaxQid]].
    */
  private def lshIntBucketCtes(tables: Int): String = {
    val scale = s"$FixScale.0"
    s"""WITH fx AS (
      |  SELECT vec_id,
      |    CAST(round(CAST(x AS DOUBLE) * $scale) AS BIGINT) AS qx, i
      |  FROM (SELECT vec_id, unnest(embedding) AS x,
      |          generate_subscripts(embedding, 1) AS i
      |        FROM embeddings)),
      |pl AS (
      |  SELECT t, p, j,
      |    CAST('0x' || substr(md5('pl:' || CAST(t AS VARCHAR) || ':' ||
      |      CAST(p AS VARCHAR) || ':' || CAST(j AS VARCHAR)),
      |      1, 12) AS BIGINT) % 1024 - 512 AS c
      |  FROM (SELECT unnest(range(0, $tables)) AS t) a
      |  CROSS JOIN (SELECT unnest(range(0, $LshIntPlanes)) AS p) b
      |  CROSS JOIN (SELECT unnest(range(0, $Dim)) AS j) cd),
      |dots AS (
      |  SELECT f.vec_id, pl.t, pl.p, sum(pl.c * f.qx) AS dot
      |  FROM fx f JOIN pl ON pl.j = f.i - 1
      |  GROUP BY 1, 2, 3),
      |bk AS (
      |  SELECT vec_id, t,
      |    CAST(sum(CASE WHEN dot >= 0 THEN 1 << p ELSE 0 END)
      |      AS INT) AS bucket
      |  FROM dots GROUP BY 1, 2),
      |cnd AS (
      |  SELECT DISTINCT q.vec_id AS qid, b.vec_id
      |  FROM bk q JOIN bk b
      |    ON q.t = b.t AND q.bucket = b.bucket
      |      AND b.vec_id <> q.vec_id
      |  WHERE q.vec_id < $IvfIntMaxQid)""".stripMargin
  }

  /** v03 oracle — grid-seeded float LSH: v13's integer bucket/candidate
    * machinery at 24 tables, float exact-cosine scoring under the
    * round-4 ranking contract.
    */
  private lazy val lshFloatOracle: String =
    s"""${lshIntBucketCtes(Tables_)},
      |dv AS (
      |  SELECT vec_id, CAST(x AS DOUBLE) AS v, i
      |  FROM (SELECT vec_id, unnest(embedding) AS x,
      |          generate_subscripts(embedding, 1) AS i
      |        FROM embeddings)),
      |cd AS (
      |  SELECT c.qid, c.vec_id,
      |    round(sum(q.v * t.v) / (sqrt(sum(q.v * q.v))
      |      * sqrt(sum(t.v * t.v))), 4) AS cos_sim
      |  FROM cnd c
      |  JOIN dv q ON q.vec_id = c.qid
      |  JOIN dv t ON t.vec_id = c.vec_id AND t.i = q.i
      |  GROUP BY 1, 2)
      |SELECT qid, vec_id AS ann_nid, cos_sim
      |FROM (
      |  SELECT qid, vec_id, cos_sim, row_number() OVER (
      |    PARTITION BY qid ORDER BY cos_sim DESC, vec_id) AS rk
      |  FROM cd) WHERE rk = 1
      |ORDER BY qid""".stripMargin

  /** v05 oracle — grid-seeded float IVF: v12's integer training /
    * assignment / probe CTEs, float exact-cosine scoring of the probed
    * cells under the round-4 ranking contract.
    */
  private lazy val ivfFloatOracle: String =
    s"""$ivfIntCoreCtes,
      |dv AS (
      |  SELECT vec_id, CAST(x AS DOUBLE) AS v, i
      |  FROM (SELECT vec_id, unnest(embedding) AS x,
      |          generate_subscripts(embedding, 1) AS i
      |        FROM embeddings)),
      |cnd AS (
      |  SELECT p.qid, a.vec_id
      |  FROM prb p JOIN asg a ON a.cell = p.cell AND a.vec_id <> p.qid),
      |cd AS (
      |  SELECT c.qid, c.vec_id,
      |    round(sum(q.v * t.v) / (sqrt(sum(q.v * q.v))
      |      * sqrt(sum(t.v * t.v))), 4) AS cos_sim
      |  FROM cnd c
      |  JOIN dv q ON q.vec_id = c.qid
      |  JOIN dv t ON t.vec_id = c.vec_id AND t.i = q.i
      |  GROUP BY 1, 2)
      |SELECT qid, vec_id AS ann_nid, cos_sim
      |FROM (
      |  SELECT qid, vec_id, cos_sim, row_number() OVER (
      |    PARTITION BY qid ORDER BY cos_sim DESC, vec_id) AS rk
      |  FROM cd) WHERE rk = 1
      |ORDER BY qid""".stripMargin

  /** s12 oracle — full recompute of the stored-index code rows: the
    * shared integer chain (training, routing, residual codebooks, code
    * assignment) folded to one (vec_id, cell, codes_str) row per
    * vector. The streaming ingest's append-only union over batches is
    * provably this same table (model-fixed encode is per-row pure).
    */
  lazy val indexCodesOracleSql: String =
    s"""$ivfIntCoreCtes,
      |${pqIntCodebookCtes(pqResidualRes)}
      |SELECT a.vec_id, CAST(a.cell AS INT) AS cell,
      |  string_agg(CAST(e.co AS VARCHAR), ' ' ORDER BY e.mi) AS codes_str
      |FROM asg a JOIN enc e ON e.vec_id = a.vec_id
      |GROUP BY 1, 2
      |ORDER BY a.vec_id""".stripMargin

  val oracles: Map[String, String] = Map(
    // v23: the oracle re-derives the fixed grid, the exact per-query
    // shortlist, ALL shortlist pairwise distances, and then replays
    // the greedy MMR selection as a generated fixed-depth CTE chain
    // — one CTE per step (the t41 precedent), each picking the
    // (cost, vec_id)-minimal remaining candidate against the
    // running selection. Every number is BIGINT, so selection ORDER
    // hash-matches, not just the selected set. AS MATERIALIZED is
    // load-bearing: each step references its predecessor three
    // times, and DuckDB's default CTE inlining re-expands the whole
    // chain per reference — exponential in the step count (measured:
    // the un-hinted chain ran minutes; materialized, ~2 s).
    "v23_mmr_rerank" -> {
      val steps = (2 to MmrK).map { i =>
        s"""sel$i AS MATERIALIZED (
           |  SELECT * FROM sel${i - 1}
           |  UNION ALL
           |  SELECT qid, $i AS rnk, vec_id, d2q, cost FROM (
           |    SELECT c.qid, c.vec_id, c.d2q,
           |      c.d2q - md.mind AS cost,
           |      row_number() OVER (PARTITION BY c.qid
           |        ORDER BY c.d2q - md.mind, c.vec_id) AS rk
           |    FROM sh c
           |    JOIN (SELECT p.qid, p.v1 AS vec_id,
           |            min(p.d2) AS mind
           |          FROM pd p JOIN sel${i - 1} s
           |            ON s.qid = p.qid AND s.vec_id = p.v2
           |          GROUP BY 1, 2) md
           |      ON md.qid = c.qid AND md.vec_id = c.vec_id
           |    WHERE NOT EXISTS (SELECT 1 FROM sel${i - 1} s2
           |      WHERE s2.qid = c.qid AND s2.vec_id = c.vec_id)
           |  ) WHERE rk = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH fx AS MATERIALIZED (
         |  SELECT vec_id,
         |    CAST(round(CAST(x AS DOUBLE) * $FixScale.0) AS BIGINT)
         |      AS qx, i
         |  FROM (SELECT vec_id, unnest(embedding) AS x,
         |          generate_subscripts(embedding, 1) AS i
         |        FROM embeddings)),
         |d2q AS MATERIALIZED (
         |  SELECT q.vec_id AS qid, t.vec_id,
         |    CAST(sum((q.qx - t.qx) * (q.qx - t.qx)) AS BIGINT)
         |      AS d2q
         |  FROM fx q JOIN fx t
         |    ON t.i = q.i AND t.vec_id <> q.vec_id
         |  WHERE q.vec_id < $MmrNq
         |  GROUP BY 1, 2),
         |sh AS MATERIALIZED (
         |  SELECT qid, vec_id, d2q FROM (
         |    SELECT qid, vec_id, d2q, row_number() OVER (
         |      PARTITION BY qid ORDER BY d2q, vec_id) AS rk
         |    FROM d2q) WHERE rk <= $MmrShortlist),
         |pd AS MATERIALIZED (
         |  SELECT a.qid, a.vec_id AS v1, b.vec_id AS v2,
         |    CAST(sum((x.qx - y.qx) * (x.qx - y.qx)) AS BIGINT)
         |      AS d2
         |  FROM sh a JOIN sh b
         |    ON b.qid = a.qid AND b.vec_id <> a.vec_id
         |  JOIN fx x ON x.vec_id = a.vec_id
         |  JOIN fx y ON y.vec_id = b.vec_id AND y.i = x.i
         |  GROUP BY 1, 2, 3),
         |sel1 AS MATERIALIZED (
         |  SELECT qid, 1 AS rnk, vec_id, d2q, d2q AS cost FROM (
         |    SELECT qid, vec_id, d2q, row_number() OVER (
         |      PARTITION BY qid ORDER BY d2q, vec_id) AS rk
         |    FROM sh) WHERE rk = 1),
         |$steps
         |SELECT qid, rnk, vec_id, d2q, CAST(cost AS BIGINT) AS cost
         |FROM sel$MmrK ORDER BY qid, rnk""".stripMargin
    },
    // v19: the oracle retrains the quantizer (the shared integer CTE
    // chain), reassigns the corpus (`asg`), and recomputes all four
    // profile columns — the per-(vec, cell) distances come from the
    // same dA frame the assignment argmin ranks
    "v19_cluster_profile" ->
      s"""$ivfIntCoreCtes
        |SELECT CAST(a.cell AS INT) AS cell,
        |  CAST(count(*) AS BIGINT) AS n_vecs,
        |  CAST(count(DISTINCT e.label) AS BIGINT) AS n_labels,
        |  min(a.vec_id) AS first_member,
        |  CAST(sum(d.d2) AS BIGINT) AS inertia
        |FROM asg a
        |JOIN dA d ON d.vec_id = a.vec_id AND d.cell = a.cell
        |JOIN embeddings e ON e.vec_id = a.vec_id
        |GROUP BY 1 ORDER BY cell""".stripMargin,
    // v18: the oracle recomputes the truncated-dim prefilter (first
    // PrefixDim dims, round-6 shortlist ranking) and the exact
    // full-dim rerank — all float under the rounded-ranking contracts.
    "v18_ann_matryoshka" ->
      s"""WITH dv AS (
        |  SELECT vec_id, CAST(x AS DOUBLE) AS v, i
        |  FROM (SELECT vec_id, unnest(embedding) AS x,
        |          generate_subscripts(embedding, 1) AS i
        |        FROM embeddings)),
        |pre AS (
        |  SELECT q.vec_id AS qid, t.vec_id,
        |    round(sum(q.v * t.v) / greatest(sqrt(sum(q.v * q.v))
        |      * sqrt(sum(t.v * t.v)), 1e-12), 6) AS pre_sim
        |  FROM dv q
        |  JOIN dv t ON t.i = q.i AND t.vec_id <> q.vec_id
        |  WHERE q.vec_id < $IvfIntMaxQid
        |    AND q.i <= $MatryoshkaPrefixDim AND t.i <= $MatryoshkaPrefixDim
        |  GROUP BY 1, 2),
        |shrt AS (
        |  SELECT qid, vec_id FROM (
        |    SELECT qid, vec_id, row_number() OVER (
        |      PARTITION BY qid ORDER BY pre_sim DESC, vec_id) AS rk
        |    FROM pre) WHERE rk <= $MatryoshkaShortlist),
        |cd AS (
        |  SELECT s.qid, s.vec_id,
        |    round(sum(q.v * t.v) / (sqrt(sum(q.v * q.v))
        |      * sqrt(sum(t.v * t.v))), 4) AS cos_sim
        |  FROM shrt s
        |  JOIN dv q ON q.vec_id = s.qid
        |  JOIN dv t ON t.vec_id = s.vec_id AND t.i = q.i
        |  GROUP BY 1, 2)
        |SELECT qid, vec_id AS ann_nid, cos_sim
        |FROM (
        |  SELECT qid, vec_id, cos_sim, row_number() OVER (
        |    PARTITION BY qid ORDER BY cos_sim DESC, vec_id) AS rk
        |  FROM cd) WHERE rk = 1
        |ORDER BY qid""".stripMargin,
    "v03_ann_lsh" -> lshFloatOracle,
    "v05_ann_ivf" -> ivfFloatOracle,
    "v07_ann_pq" -> pqFlatFloatOracle,
    "v08_ann_ivfpq" -> ivfPqFloatOracle,
    "v09_ann_ivfpq_indexed" -> ivfPqFloatOracle,
    // v13: the oracle regenerates every integer plane coordinate from
    // md5, recomputes every dot sign → bucket, the bucket-collision
    // candidate set, and the integer-L2 ranking. fx's i is 1-based
    // (generate_subscripts), plane dim j is 0-based → join on j = i−1.
    "v13_ann_lsh_int" -> {
      s"""${lshIntBucketCtes(LshIntTables)},
        |cd AS (
        |  SELECT c.qid, c.vec_id,
        |    sum((q.qx - x.qx) * (q.qx - x.qx)) AS d2
        |  FROM cnd c
        |  JOIN fx q ON q.vec_id = c.qid
        |  JOIN fx x ON x.vec_id = c.vec_id AND x.i = q.i
        |  GROUP BY 1, 2)
        |SELECT qid, vec_id AS ann_nid, CAST(d2 AS BIGINT) AS d2
        |FROM (
        |  SELECT qid, vec_id, d2, row_number() OVER (
        |    PARTITION BY qid ORDER BY d2, vec_id) AS rk
        |  FROM cd) WHERE rk = 1
        |ORDER BY qid""".stripMargin
    },
    // v12: the oracle recomputes the ENTIRE integer IVF — fixed-point
    // grid, md5-bucket sample order, stride init, both Lloyd
    // iterations (truncating // division ≡ Scala Long /), full-corpus
    // assignment, probe set, and integer-L2 ranking. Every
    // intermediate is BIGINT, so this hash-verifies coarse-quantizer
    // training itself, not just the final rerank. The CTE chain
    // through `prb` is shared with v14 (ivfIntCoreCtes).
    // v16: the oracle retrains the coarse quantizer (the shared v12
    // CTE chain through `asg`), rebuilds the within-cell edge set with
    // the HUGEINT square comparison, closes it transitively with the
    // t19 recursive-CTE pattern, and labels every vector — training,
    // assignment, edges, groups and keep flags all hash-verified.
    "v16_semdedup" -> {
      val n2 = SemDedupNum * SemDedupNum
      val d2 = SemDedupDen * SemDedupDen
      s"""${ivfIntCoreCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},
        |nrm2 AS (
        |  SELECT vec_id, sum(CAST(qx AS HUGEINT) * qx) AS n2
        |  FROM fx GROUP BY 1),
        |pr AS (
        |  SELECT a.vec_id AS d1, b.vec_id AS d2
        |  FROM asg a JOIN asg b
        |    ON a.cell = b.cell AND a.vec_id < b.vec_id),
        |dt AS (
        |  SELECT p.d1, p.d2,
        |    sum(CAST(f1.qx AS HUGEINT) * f2.qx) AS dot
        |  FROM pr p
        |  JOIN fx f1 ON f1.vec_id = p.d1
        |  JOIN fx f2 ON f2.vec_id = p.d2 AND f2.i = f1.i
        |  GROUP BY 1, 2),
        |ed AS (
        |  SELECT dt.d1, dt.d2 FROM dt
        |  JOIN nrm2 a ON a.vec_id = dt.d1
        |  JOIN nrm2 b ON b.vec_id = dt.d2
        |  WHERE dot > 0 AND dot * dot * $d2 >= $n2 * a.n2 * b.n2),
        |edges AS (
        |  SELECT d1 AS a, d2 AS b FROM ed
        |  UNION SELECT d2, d1 FROM ed),
        |reach(a, b) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |grp AS (
        |  SELECT a AS vec_id, least(a, min(b)) AS group_id
        |  FROM reach GROUP BY a)
        |SELECT s.vec_id, CAST(s.cell AS INT) AS cell,
        |  coalesce(g.group_id, s.vec_id) AS group_id,
        |  CAST(coalesce(g.group_id, s.vec_id) = s.vec_id AS INT)
        |    AS kept
        |FROM asg s LEFT JOIN grp g ON g.vec_id = s.vec_id
        |ORDER BY s.vec_id""".stripMargin
    },
    // v20: the same trained-quantizer core, then directed cell-mate
    // pairs, exact BIGINT squared-L2 per pair, and the per-node
    // (d2, neighbor) rank — every edge of the graph recomputed
    "v20_knn_graph" ->
      s"""$ivfIntCoreCtes,
        |$knnGraphEdgeCtes
        |SELECT vec_id, CAST(rank AS INT) AS rank, neighbor_id, d2
        |FROM rk WHERE rank <= $KnnGraphK
        |ORDER BY vec_id, rank""".stripMargin,
    // v22: the shared edge CTEs, then the generated fixed-iteration
    // power-iteration layers — all-integer arithmetic (// truncation
    // pairs with Spark's DIV), recomputed from scratch
    "v22_graph_centrality" -> graphCentralityOracle,
    // v24: the shared quantizer + graph CTEs, then the generated
    // per-hop beam blocks — the whole greedy search (entry points,
    // every candidate set, every beam cut, the final self-excluded
    // top-k) recomputed from the raw table
    "v24_graph_beam_serve" -> knnBeamServeOracle,
    // v21: v12's candidate/rank CTEs widened to top-10, an exact
    // brute top-10 per query, and the (qid, vec_id)-keyed hit count —
    // recall recomputed bit-for-bit
    "v21_ann_recall" ->
      s"""$ivfIntCoreCtes,
        |cnd AS (
        |  SELECT p.qid, a.vec_id
        |  FROM prb p JOIN asg a ON a.cell = p.cell AND a.vec_id <> p.qid),
        |cd AS (
        |  SELECT c.qid, c.vec_id,
        |    sum((q.qx - t.qx) * (q.qx - t.qx)) AS d2
        |  FROM cnd c
        |  JOIN fx q ON q.vec_id = c.qid
        |  JOIN fx t ON t.vec_id = c.vec_id AND t.i = q.i
        |  GROUP BY 1, 2),
        |annt AS (
        |  SELECT qid, vec_id FROM (
        |    SELECT qid, vec_id, row_number() OVER (
        |      PARTITION BY qid ORDER BY d2, vec_id) AS rk
        |    FROM cd) WHERE rk <= 10),
        |qs AS (
        |  SELECT DISTINCT vec_id AS qid FROM embeddings
        |  WHERE vec_id < $IvfIntMaxQid),
        |ext AS (
        |  SELECT q.qid, t.vec_id,
        |    sum((a.qx - b.qx) * (a.qx - b.qx)) AS d2
        |  FROM qs q
        |  JOIN embeddings t ON t.vec_id <> q.qid
        |  JOIN fx a ON a.vec_id = q.qid
        |  JOIN fx b ON b.vec_id = t.vec_id AND b.i = a.i
        |  GROUP BY 1, 2),
        |extt AS (
        |  SELECT qid, vec_id FROM (
        |    SELECT qid, vec_id, row_number() OVER (
        |      PARTITION BY qid ORDER BY d2, vec_id) AS rk
        |    FROM ext) WHERE rk <= 10),
        |hits AS (
        |  SELECT a.qid, count(*) AS n FROM annt a
        |  JOIN extt e ON e.qid = a.qid AND e.vec_id = a.vec_id
        |  GROUP BY 1)
        |SELECT q.qid, CAST(coalesce(h.n, 0) AS BIGINT) AS n_hits,
        |  round(coalesce(h.n, 0) / CAST(10 AS DOUBLE), 4)
        |    AS recall_at_10
        |FROM qs q LEFT JOIN hits h ON h.qid = q.qid
        |ORDER BY q.qid""".stripMargin,
    "v12_ann_ivf_int" ->
      s"""$ivfIntCoreCtes,
        |cnd AS (
        |  SELECT p.qid, a.vec_id
        |  FROM prb p JOIN asg a ON a.cell = p.cell AND a.vec_id <> p.qid),
        |cd AS (
        |  SELECT c.qid, c.vec_id,
        |    sum((q.qx - t.qx) * (q.qx - t.qx)) AS d2
        |  FROM cnd c
        |  JOIN fx q ON q.vec_id = c.qid
        |  JOIN fx t ON t.vec_id = c.vec_id AND t.i = q.i
        |  GROUP BY 1, 2)
        |SELECT qid, vec_id AS ann_nid, CAST(d2 AS BIGINT) AS d2
        |FROM (
        |  SELECT qid, vec_id, d2, row_number() OVER (
        |    PARTITION BY qid ORDER BY d2, vec_id) AS rk
        |  FROM cd) WHERE rk = 1
        |ORDER BY qid""".stripMargin,
    // v14: v12's oracle extended through the PQ stage — integer
    // residuals under the trained coarse quantizer, per-subspace
    // codebook training as the SAME two-iteration truncating-division
    // Lloyd's with the subspace as a grouping key, full-corpus code
    // assignment, exact BIGINT ADC tables per (query, probed cell,
    // subspace, code), the ADC shortlist, and the exact integer
    // rerank. Every intermediate is BIGINT: the oracle hash-verifies
    // codebook TRAINING and ADC scoring, not just the final ranking.
    "v14_ann_ivfpq_int" -> {
      val sub = Dim / PqIntM
      s"""$ivfIntCoreCtes,
        |${pqIntCodebookCtes(pqResidualRes)},
        |lut AS (
        |  SELECT p.qid, p.cell, cb.mi, cb.co,
        |    sum((q.qx - c.cx - cb.cb) * (q.qx - c.cx - cb.cb)) AS l
        |  FROM prb p
        |  JOIN fx q ON q.vec_id = p.qid
        |  JOIN c2 c ON c.cell = p.cell AND c.i = q.i
        |  JOIN p2 cb ON cb.mi = (q.i - 1) // $sub
        |    AND cb.jl = (q.i - 1) % $sub
        |  GROUP BY 1, 2, 3, 4),
        |adc AS (
        |  SELECT p.qid, a.vec_id, sum(l.l) AS adc_d2
        |  FROM prb p
        |  JOIN asg a ON a.cell = p.cell AND a.vec_id <> p.qid
        |  JOIN enc e ON e.vec_id = a.vec_id
        |  JOIN lut l ON l.qid = p.qid AND l.cell = p.cell
        |    AND l.mi = e.mi AND l.co = e.co
        |  GROUP BY 1, 2),
        |shrt AS (
        |  SELECT qid, vec_id FROM (
        |    SELECT qid, vec_id, row_number() OVER (
        |      PARTITION BY qid ORDER BY adc_d2, vec_id) AS rk
        |    FROM adc) WHERE rk <= $PqIntShortlist),
        |cd AS (
        |  SELECT s.qid, s.vec_id,
        |    sum((q.qx - t.qx) * (q.qx - t.qx)) AS d2
        |  FROM shrt s
        |  JOIN fx q ON q.vec_id = s.qid
        |  JOIN fx t ON t.vec_id = s.vec_id AND t.i = q.i
        |  GROUP BY 1, 2)
        |SELECT qid, vec_id AS ann_nid, CAST(d2 AS BIGINT) AS d2
        |FROM (
        |  SELECT qid, vec_id, d2, row_number() OVER (
        |    PARTITION BY qid ORDER BY d2, vec_id) AS rk
        |  FROM cd) WHERE rk = 1
        |ORDER BY qid""".stripMargin
    },
    "v11_sq8_adc_knn" ->
      """WITH base AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |st AS (
        |  SELECT vec_id, v, list_min(v) AS lo, list_max(v) AS hi
        |  FROM base),
        |rq AS (
        |  SELECT vec_id,
        |    list_transform(v, x -> CASE WHEN hi = lo THEN lo
        |      ELSE lo + CAST(round((x - lo) / ((hi - lo) / 255.0)) AS INT)
        |           * ((hi - lo) / 255.0) END) AS rv
        |  FROM st),
        |re AS (SELECT vec_id, unnest(rv) AS x,
        |         generate_subscripts(rv, 1) AS i FROM rq),
        |qe AS (SELECT vec_id AS qid, unnest(v) AS x,
        |         generate_subscripts(v, 1) AS i
        |       FROM base WHERE vec_id IN (0, 1, 2)),
        |rnorm AS (SELECT vec_id, sqrt(sum(x*x)) AS nrm FROM re
        |          GROUP BY vec_id),
        |qnorm AS (SELECT qid, sqrt(sum(x*x)) AS nrm FROM qe
        |          GROUP BY qid),
        |dots AS (
        |  SELECT qe.qid, re.vec_id, sum(qe.x * re.x) AS dot
        |  FROM qe JOIN re ON qe.i = re.i WHERE re.vec_id <> qe.qid
        |  GROUP BY 1, 2),
        |scored AS (
        |  SELECT dots.qid, dots.vec_id,
        |    round(dot / (nq.nrm * ne.nrm), 4) AS cos_sim
        |  FROM dots
        |  JOIN qnorm nq ON nq.qid = dots.qid
        |  JOIN rnorm ne ON ne.vec_id = dots.vec_id),
        |ranked AS (
        |  SELECT qid, vec_id, cos_sim, row_number() OVER (
        |    PARTITION BY qid ORDER BY cos_sim DESC, vec_id ASC) AS rk
        |  FROM scored)
        |SELECT qid, CAST(rk AS INT) AS rk, vec_id, cos_sim FROM ranked
        |WHERE rk <= 5 ORDER BY qid, rk""".stripMargin,
    "v10_sq8_quantization" ->
      """WITH base AS (
        |  SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |st AS (
        |  SELECT vec_id, label, v,
        |    list_min(v) AS lo, list_max(v) AS hi
        |  FROM base),
        |c AS (
        |  SELECT vec_id, label, v, lo, hi,
        |    list_transform(v, x -> CASE WHEN hi = lo THEN 0
        |      ELSE CAST(round((x - lo) / ((hi - lo) / 255.0)) AS INT)
        |      END) AS codes
        |  FROM st)
        |SELECT vec_id, label,
        |  CAST(len(v) AS INT) AS n_dims,
        |  list_min(codes) AS code_min,
        |  list_max(codes) AS code_max,
        |  CAST(list_sum(codes) AS BIGINT) AS code_sum,
        |  md5(array_to_string(codes, ' ')) AS codes_md5,
        |  round(lo, 5) AS q_lo,
        |  round(hi, 5) AS q_hi
        |FROM c ORDER BY vec_id""".stripMargin,
    "v06_embedding_neardup" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
        |    generate_subscripts(embedding, 1) AS i
        |  FROM embeddings WHERE vec_id < 300),
        |norms AS (SELECT vec_id, sqrt(sum(x*x)) AS nrm FROM e
        |          GROUP BY vec_id),
        |dots AS (
        |  SELECT a.vec_id AS d1, b.vec_id AS d2, sum(a.x * b.x) AS dot
        |  FROM e a JOIN e b ON a.i = b.i AND a.vec_id < b.vec_id
        |  GROUP BY 1, 2)
        |SELECT d1, d2, round(dot / (na.nrm * nb.nrm), 4) AS cos_sim
        |FROM dots
        |JOIN norms na ON na.vec_id = d1
        |JOIN norms nb ON nb.vec_id = d2
        |WHERE round(dot / (na.nrm * nb.nrm), 4) >= 0.35
        |ORDER BY d1, d2""".stripMargin,
    // v17: v01's scoring stack with the radius filter in place of the
    // top-k window — both engines filter the identically-rounded value
    "v17_range_search" ->
      s"""WITH e AS (
        |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
        |    generate_subscripts(embedding, 1) AS i
        |  FROM embeddings),
        |norms AS (SELECT vec_id, sqrt(sum(x*x)) AS nrm FROM e
        |          GROUP BY vec_id),
        |q AS (SELECT vec_id AS qid, x, i FROM e WHERE vec_id IN (0, 1, 2)),
        |dots AS (
        |  SELECT q.qid, e.vec_id, sum(q.x * e.x) AS dot
        |  FROM q JOIN e ON q.i = e.i WHERE e.vec_id <> q.qid
        |  GROUP BY 1, 2)
        |SELECT qid, dots.vec_id,
        |  round(dot / (nq.nrm * ne.nrm), 4) AS cos_sim
        |FROM dots
        |JOIN norms nq ON nq.vec_id = qid
        |JOIN norms ne ON ne.vec_id = dots.vec_id
        |WHERE round(dot / (nq.nrm * ne.nrm), 4) >= $RangeSearchTau
        |ORDER BY qid, dots.vec_id""".stripMargin,
    "v01_knn_brute" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
        |    generate_subscripts(embedding, 1) AS i
        |  FROM embeddings),
        |norms AS (SELECT vec_id, sqrt(sum(x*x)) AS nrm FROM e
        |          GROUP BY vec_id),
        |q AS (SELECT vec_id AS qid, x, i FROM e WHERE vec_id IN (0, 1, 2)),
        |dots AS (
        |  SELECT q.qid, e.vec_id, sum(q.x * e.x) AS dot
        |  FROM q JOIN e ON q.i = e.i WHERE e.vec_id <> q.qid
        |  GROUP BY 1, 2),
        |scored AS (
        |  SELECT qid, dots.vec_id,
        |    round(dot / (nq.nrm * ne.nrm), 4) AS cos_sim
        |  FROM dots
        |  JOIN norms nq ON nq.vec_id = qid
        |  JOIN norms ne ON ne.vec_id = dots.vec_id),
        |ranked AS (
        |  SELECT qid, vec_id, cos_sim, row_number() OVER (
        |    PARTITION BY qid ORDER BY cos_sim DESC, vec_id ASC) AS rk
        |  FROM scored)
        |SELECT qid, CAST(rk AS INT) AS rk, vec_id, cos_sim FROM ranked
        |WHERE rk <= 5 ORDER BY qid, rk""".stripMargin,
    // v15: v01's oracle with the label predicate applied at the same
    // point — candidate set restricted to the query's label BEFORE
    // scoring and ranking
    "v15_knn_filtered" ->
      """WITH e AS (
        |  SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS x,
        |    generate_subscripts(embedding, 1) AS i
        |  FROM embeddings),
        |norms AS (SELECT vec_id, sqrt(sum(x*x)) AS nrm FROM e
        |          GROUP BY vec_id),
        |q AS (SELECT vec_id AS qid, label AS qlabel, x, i FROM e
        |      WHERE vec_id IN (0, 1, 2)),
        |dots AS (
        |  SELECT q.qid, q.qlabel, e.vec_id, sum(q.x * e.x) AS dot
        |  FROM q JOIN e ON q.i = e.i AND e.label = q.qlabel
        |  WHERE e.vec_id <> q.qid
        |  GROUP BY 1, 2, 3),
        |scored AS (
        |  SELECT qid, qlabel, dots.vec_id,
        |    round(dot / (nq.nrm * ne.nrm), 4) AS cos_sim
        |  FROM dots
        |  JOIN norms nq ON nq.vec_id = qid
        |  JOIN norms ne ON ne.vec_id = dots.vec_id),
        |ranked AS (
        |  SELECT qid, qlabel, vec_id, cos_sim, row_number() OVER (
        |    PARTITION BY qid ORDER BY cos_sim DESC, vec_id ASC) AS rk
        |  FROM scored)
        |SELECT qid, qlabel, CAST(rk AS INT) AS rk, vec_id, cos_sim
        |FROM ranked WHERE rk <= 5 ORDER BY qid, rk""".stripMargin,
    "v02_label_centroids" ->
      """SELECT label, CAST(i AS INT) AS dim,
        |  round(avg(CAST(x AS DOUBLE)), 5) AS centroid,
        |  count(*) AS n_vecs
        |FROM (SELECT label, CAST(unnest(embedding) AS DOUBLE) AS x,
        |        generate_subscripts(embedding, 1) AS i
        |      FROM embeddings)
        |WHERE i <= 4 GROUP BY label, i ORDER BY label, dim""".stripMargin,
    "v04_norm_stats" ->
      """WITH n AS (
        |  SELECT label, vec_id, sqrt(sum(x*x)) AS nrm
        |  FROM (SELECT label, vec_id, CAST(unnest(embedding) AS DOUBLE) AS x
        |        FROM embeddings)
        |  GROUP BY label, vec_id)
        |SELECT label, count(*) AS n_vecs,
        |  round(avg(nrm), 4) AS avg_norm,
        |  round(min(nrm), 4) AS min_norm,
        |  round(max(nrm), 4) AS max_norm
        |FROM n GROUP BY label ORDER BY label""".stripMargin,
  )
}
