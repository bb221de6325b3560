package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextHash

/** Training-data text pipeline operators (builder-prompt mandate):
  * token counting, quality scoring, language-ID, exact + near dedup
  * (MinHash-LSH, SimHash, n-gram Jaccard), and winnowing fingerprints,
  * all over the `documents` table.
  *
  * Scale design: every operator is a map-side projection or a key-bucketed
  * shuffle — no driver-side loops, no cross join of the full corpus. The
  * near-dup operators use the standard banding trick so candidate
  * generation shuffles on (band, bucket) keys instead of comparing all
  * pairs: at 100 TB that is the difference between feasible and O(n²).
  */
object TextOps {

  private type Q = (SparkSession, String) => DataFrame

  /** Bench-contract scope literals. The driver's DuckDB oracle SQL is
    * generated from these SAME constants (interpolated below), so the
    * Spark plan and the oracle cannot drift apart — but changing any of
    * them changes row counts and hashes on BOTH sides of the verify
    * gate, which is why they are named here rather than inlined.
    */
  /** t05 all-pairs-verify scope (the exact-Jaccard oracle is O(n²)). */
  val T05PairScopeMaxId = 200L
  /** t12/t13 TF-IDF / BM25 document scope. */
  val T12TfIdfScopeMaxId = 100L
  /** t15/t16/s05 stored-index split: ids below this are the
    * pre-existing corpus the band index covers; ids at or above it
    * arrive as ingest batches.
    */
  val IncrementalCorpusMaxId = 400L
  /** s05 ingest micro-batch id boundaries: batch i covers
    * [bounds(i), bounds(i+1)), the last batch open-ended. bounds(0)
    * must equal [[IncrementalCorpusMaxId]].
    */
  val IngestBatchBounds: Seq[Long] = Seq(400L, 450L, 500L)

  /** Per-language stopword markers, space-padded so they match whole
    * tokens. Single source of truth for BOTH the Spark plan and the
    * generated DuckDB oracle (t03).
    */
  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq(" the ", " and ", " of "),
    "es" -> Seq(" el ", " la ", " los "),
    "de" -> Seq(" der ", " und ", " die "),
    "fr" -> Seq(" le ", " et ", " les "),
    "zh" -> Seq("的", "是", "了"),
  )

  /** Occurrence-count SQL fragment, portable across Spark SQL and DuckDB:
    * both implement `replace` with identical left-to-right non-overlap
    * semantics, and the length delta is an exact multiple of the marker
    * length, so float division is exact.
    */
  /** Note: `CAST(n AS DOUBLE)` rather than an `n.0` literal — Spark SQL
    * parses `5.0` as DECIMAL(2,1) and the division would come out
    * DecimalType, while DuckDB yields DOUBLE; the cast keeps both double.
    */
  private def occExpr(m: String): String =
    s"(length(p) - length(replace(p, '$m', ''))) / " +
      s"CAST(${m.length} AS DOUBLE)"

  private def langScoreExpr(markers: Seq[String]): String =
    markers.map(occExpr).mkString(" + ")

  private val langCaseExpr: String = {
    val langs = langMarkers.map(_._1)
    val whens = langs.init.zipWithIndex.map { case (l, i) =>
      val rest = langs.drop(i + 1)
      val conds = rest.map(r => s"s_$l >= s_$r").mkString(" AND ")
      s"WHEN $conds THEN '$l'"
    }
    s"CASE ${whens.mkString(" ")} ELSE '${langs.last}' END"
  }

  /** t01 — token counting: whitespace tokenization, per document.
    * Pure map-side projection — trivially scales.
    */
  val t01TokenCounts: Q = (s, d) =>
    Tables.documents(s, d)
      .select(
        col("doc_id"), col("lang"),
        size(split(trim(col("text")), "\\s+")).as("n_tokens"),
        length(col("text")).as("n_chars_text"))
      .orderBy("doc_id")

  /** Portable BPE-ish pretokenizer classes (letters | digits |
    * punctuation runs): the GPT-2 pretokenizer's shape restricted to a
    * regex subset where Java (Spark) and RE2 (DuckDB) agree — disjoint
    * character classes with greedy runs, no lookarounds, no \p{L}
    * (ASCII classes keep both engines in lockstep; multi-byte runs fall
    * into the punctuation class as single tokens in BOTH engines).
    */
  private val BpeishPattern = """[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"""

  /** t17 — token counting, BPE-ish regex flavor (builder-prompt mandate:
    * "token counting (whitespace + a BPE-ish regex)"; t01 is the
    * whitespace half). Pretokenizer-style counts are the unit every
    * training-data budget is written in; pure map-side projection.
    */
  val t17RegexTokens: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).as("n_tokens_ws"),
        size(regexp_extract_all(col("text"), lit(BpeishPattern), lit(0)))
          .as("n_tokens_re"))
      .withColumn("tokens_per_word",
        round(col("n_tokens_re") / col("n_tokens_ws").cast("double"), 4))
      .orderBy("doc_id")

  /** t02 — document quality scoring: length, lexical diversity, average
    * word length, English-stopword ratio, and a keep/drop flag. The
    * standard cheap pre-filter before expensive dedup in a training-data
    * pipeline; all codegen'd built-ins, no UDF.
    */
  val t02QualityScore: Q = (s, d) =>
    Tables.documents(s, d)
      .withColumn("p", concat(lit(" "), trim(col("text")), lit(" ")))
      .selectExpr(
        "doc_id",
        "size(split(trim(text), '\\\\s+')) AS n_words",
        "size(array_distinct(split(trim(text), '\\\\s+'))) AS n_distinct",
        s"${langScoreExpr(langMarkers.head._2)} AS stop_hits",
        "length(text) AS n_chars_text")
      .selectExpr(
        "doc_id", "n_words", "n_distinct",
        "round(n_distinct / CAST(n_words AS DOUBLE), 4) AS lexical_diversity",
        "round(stop_hits / CAST(n_words AS DOUBLE), 4) AS stopword_ratio",
        "(n_words >= 20 AND n_distinct / CAST(n_words AS DOUBLE) >= 0.2) " +
          "AS keep_doc")
      .orderBy("doc_id")

  /** t03 — language identification via per-language stopword-marker
    * scoring (n-gram-profile heuristic, SQL-portable form). The marker
    * table generates both this plan and the DuckDB oracle.
    */
  val t03LangId: Q = (s, d) => {
    val scored = Tables.documents(s, d)
      .withColumn("p", concat(lit(" "), trim(col("text")), lit(" ")))
      .selectExpr(Seq("doc_id", "lang") ++
        langMarkers.map { case (l, ms) =>
          s"${langScoreExpr(ms)} AS s_$l"
        }: _*)
    scored
      .selectExpr(Seq("doc_id", "lang") ++
        langMarkers.map { case (l, _) => s"s_$l" } ++
        Seq(s"$langCaseExpr AS predicted_lang"): _*)
      .orderBy("doc_id")
  }

  /** t04 — exact dedup by content hash (reference A3 generalized): md5
    * over a 50-char prefix groups near-identical leads; keep-lowest id.
    * GroupBy on the hash = one shuffle keyed by digest — uniform
    * distribution, no skew, scales to any corpus.
    */
  val t04ExactDedup: Q = (s, d) =>
    Tables.documents(s, d)
      .groupBy(md5(substring(col("text"), 1, 50).cast("binary")).as("key"))
      .agg(count(lit(1)).as("n_dupes"), min("doc_id").as("keep_doc"))
      .filter(col("n_dupes") > 1)
      .orderBy("key")

  /** SQL-portable 48-bit hash: md5 hex prefix → bigint. The DuckDB twin
    * is `CAST('0x' || substr(md5(x), 1, 12) AS BIGINT)` — both engines
    * agree on md5 hex, and 48 bits stay exact through every numeric
    * path. Used by the DECLARED near-dup queries (t06/t07/t08) so the
    * whole MinHash/SimHash/winnowing pipeline is hash-verifiable against
    * the oracle; the splitmix kernels in [[graft.functions.TextHash]]
    * remain the fast single-pass production path (cross-checked in
    * TextSpec) — md5 costs more per gram but is still map-side linear.
    *
    * Since round 7 the Spark side evaluates through the native
    * [[graft.functions.Md5Hash48]] expression (thread-local digest,
    * bytes folded directly — no per-gram hex encode + conv reparse);
    * the VALUE and the DuckDB twin are unchanged, and the signature
    * stage of every band-table build got ~2× cheaper.
    */
  private def h48(s: SparkSession, c: Column): Column = {
    // registration must target the session that OWNS the plan being
    // built — SparkSession.active can be a different (or no) session
    // on foreign threads, yielding an unresolved-function error at
    // analysis time in multi-session processes
    graft.functions.Md5Hash48.registerAll(s)
    graft.functions.Md5Hash48.md5_hash48(c)
  }

  private val h48Sql = (x: String) =>
    s"CAST('0x' || substr(md5($x), 1, 12) AS BIGINT)"

  /** Affine permutation family for the portable MinHash: p_j(h) =
    * (a_j·h + b_j) mod 2^48 with ODD a_j < 2^15 — each map is a
    * bijection on [0, 2^48) (odd multiplier is invertible mod 2^48),
    * a_j·h + b_j < 2^63 so the arithmetic is exact BIGINT in BOTH
    * engines (no wrap, no HUGEINT), and it costs integer ops instead of
    * a per-seed md5 (the md5-per-seed form measured ~15 s at sf0.1;
    * this is the remaining single md5 per gram plus pennies).
    */
  private val minHashSeeds: Seq[(Int, Long, Long)] =
    (0 until 32).map { j =>
      (j, (16384L + (j * 997L % 16384L)) | 1L, j * 7919L + 13L)
    }
  private val Mask48 = (1L << 48) - 1

  /** DuckDB CTE chain computing the portable MinHash-LSH verified pairs
    * (`pairs(d1, d2, jaccard)`) over any (doc_id, text) relation —
    * the twin of [[minHashPairsPortable]] (same k=5 shingles, 32
    * affine permutations of one md5-derived gram hash, 8 bands × 4
    * rows, exact-Jaccard verify). Shared by the t06 and t11 oracles so
    * both stay in lockstep with the Spark plan's parameters.
    */
  /** DuckDB CTE chain (`g`, `gh`, `mh`, `bands`) computing the portable
    * MinHash band table over any (doc_id, text) relation — the twin of
    * [[portableBandTable]]. Split out of [[minHashCtes]] so the stored
    * dedup index (t16) can be oracled on its own.
    */
  private def minHashBandCtes(srcSql: String): String = {
    val seedRows = minHashSeeds
      .map { case (j, a, b) => s"($j, $a, $b)" }.mkString(", ")
    s"""g AS (
       |  SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 5) AS gram
       |  FROM (SELECT doc_id, text,
       |          unnest(range(1, length(text) - 3)) AS i
       |        FROM ($srcSql) WHERE length(text) >= 5)),
       |gh AS (SELECT doc_id, gram, ${h48Sql("gram")} AS h FROM g),
       |mh AS (
       |  SELECT doc_id, seed, min((a * h + b) & $Mask48) AS mh
       |  FROM gh CROSS JOIN (VALUES $seedRows) s(seed, a, b)
       |  GROUP BY 1, 2),
       |bands AS (
       |  SELECT doc_id, CAST(seed // 4 AS INT) AS band,
       |    concat_ws(',',
       |      max(CASE WHEN seed % 4 = 0 THEN mh END),
       |      max(CASE WHEN seed % 4 = 1 THEN mh END),
       |      max(CASE WHEN seed % 4 = 2 THEN mh END),
       |      max(CASE WHEN seed % 4 = 3 THEN mh END)) AS bucket
       |  FROM mh GROUP BY 1, 2)""".stripMargin
  }

  /** DuckDB SQL for the raw band-join candidate pairs over the full
    * documents table — the batch twin of the s03 streaming candidate
    * detector (used by SparkEntry's s03 oracle).
    */
  def bandCandidatePairsOracleSql: String =
    s"""WITH ${minHashBandCtes("SELECT doc_id, text FROM documents")}
       |SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |FROM bands a JOIN bands b
       |  ON a.band = b.band AND a.bucket = b.bucket
       |  AND a.doc_id < b.doc_id
       |ORDER BY d1, d2""".stripMargin

  /** DuckDB twin of the s05 streaming ingest-dedup loop
    * ([[graft.streaming.EventStreams.replayIngestDedupWithStats]]).
    * SEQUENTIAL multi-batch semantics are expressible as a fixed-depth
    * CTE chain (no recursion): within a batch, ANY lower-id verified partner
    * drops a doc (kept or not), so kept_i depends only on kept_{j<i}.
    * A batch-i doc is dropped iff a verified band-candidate pair links
    * it to the corpus (id < [[IncrementalCorpusMaxId]]), to a KEPT doc
    * of an earlier batch (dropped docs never enter the index), or to a
    * lower-id doc of its own batch. `pairs` is the same verified-pair
    * CTE machinery the t06/t11/t15 oracles share.
    */
  def ingestDedupOracleSql: String = {
    val bounds = IngestBatchBounds
    require(bounds.head == IncrementalCorpusMaxId)
    def span(lo: Long, hi: Option[Long], c: String): String =
      s"$c >= $lo" + hi.map(h => s" AND $c < $h").getOrElse("")
    val ctes = bounds.indices.map { i =>
      val lo = bounds(i)
      val hi = if (i + 1 < bounds.length) Some(bounds(i + 1)) else None
      val keptRefs = (0 until i)
        .map(j => s"\n    OR d1 IN (SELECT doc_id FROM kept$j)").mkString
      // d1 < d2 always, so a same-batch partner is exactly d1 >= lo
      // (d1 < hi follows from d1 < d2 < hi)
      s"""drop$i AS (
         |  SELECT DISTINCT d2 AS doc_id FROM pairs
         |  WHERE ${span(lo, hi, "d2")}
         |    AND (d1 < $IncrementalCorpusMaxId OR d1 >= $lo$keptRefs)),
         |kept$i AS (
         |  SELECT doc_id FROM documents
         |  WHERE ${span(lo, hi, "doc_id")}
         |    AND doc_id NOT IN (SELECT doc_id FROM drop$i))""".stripMargin
    }
    val dropUnion = bounds.indices
      .map(i => s"SELECT CAST($i AS INT) AS batch, doc_id FROM drop$i")
      .mkString("\n  UNION ALL ")
    s"""WITH ${minHashCtes("SELECT doc_id, text FROM documents", 0.5)},
       |${ctes.mkString(",\n")}
       |SELECT batch, doc_id FROM (
       |  $dropUnion)
       |ORDER BY doc_id""".stripMargin
  }

  private def minHashCtes(srcSql: String, thr: Double): String = {
    s"""${minHashBandCtes(srcSql)},
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bucket = b.bucket
       |    AND a.doc_id < b.doc_id),
       |sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
       |inter AS (
       |  SELECT d1, d2, count(*) AS i
       |  FROM cand
       |  JOIN g ga ON ga.doc_id = d1
       |  JOIN g gb ON gb.doc_id = d2 AND gb.gram = ga.gram
       |  GROUP BY 1, 2),
       |pairs AS (
       |  SELECT d1, d2,
       |    round(CAST(i AS DOUBLE) / (ca.n + cb.n - i), 4) AS jaccard
       |  FROM inter
       |  JOIN sz ca ON ca.doc_id = d1
       |  JOIN sz cb ON cb.doc_id = d2
       |  WHERE round(CAST(i AS DOUBLE) / (ca.n + cb.n - i), 4) >= $thr)""".stripMargin
  }

  /** t05 — exact word-set Jaccard pairs ≥ threshold via the PPJoin
    * prefix filter (declared plan since round 2 — the naive token join
    * is skew-prone at corpus scale; the prefix join concentrates the
    * join key on RARE tokens by construction, see
    * [[prefixJaccardPairs]]). Oracle: brute-force all-pairs SQL —
    * PPJoin is exact, so outputs coincide.
    */
  val t05WordJaccard: Q = (s, d) =>
    prefixJaccardPairs(
      Tables.documents(s, d).filter(col("doc_id") < T05PairScopeMaxId)
        .select("doc_id", "text"),
      0.6)

  /** Naive token-join form of t05 (pre-round-2 declared plan): kept as
    * the TextSpec cross-check baseline for [[prefixJaccardPairs]].
    * Consecutive-id pairs only; token-keyed shuffle is skewed by common
    * words at corpus scale.
    */
  def naiveConsecutiveJaccard(s: SparkSession, d: String): DataFrame = {
    def words: DataFrame = Tables.documents(s, d)
      .filter(col("doc_id") < T05PairScopeMaxId)
      .select(col("doc_id"),
        explode(array_distinct(split(trim(col("text")), "\\s+"))).as("word"))
    val cnt = words.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val a = words.withColumnRenamed("doc_id", "d1")
    val b = words.withColumnRenamed("doc_id", "d2")
      .withColumnRenamed("word", "word2")
    val inter = a.join(b,
        col("word") === col("word2") && col("d2") === col("d1") + 1)
      .groupBy("d1", "d2").agg(count(lit(1)).as("i"))
    val ca = cnt.withColumnRenamed("doc_id", "d1")
      .withColumnRenamed("n", "na")
    val cb = cnt.withColumnRenamed("doc_id", "d2")
      .withColumnRenamed("n", "nb")
    inter.join(ca, "d1").join(cb, "d2")
      .select(col("d1"), col("d2"),
        round(col("i") / (col("na") + col("nb") - col("i")), 4)
          .as("jaccard"))
      .orderBy("d1")
  }

  /** PPJoin-style prefix-filtered set-similarity join (Xiao et al.
    * WWW'08): EXACT all-pairs word-set Jaccard ≥ threshold without the
    * full token join. Tokens are ranked by ascending global frequency;
    * each doc only emits its first `|d| - ceil(t*|d|) + 1` rarest
    * tokens (any pair with J ≥ t MUST share one of these), so the join
    * key distribution concentrates on RARE tokens — the skew of t05's
    * naive token join disappears by construction. Candidates verify
    * with the exact jaccard kernel.
    */
  def prefixJaccardPairs(docs: DataFrame, threshold: Double): DataFrame = {
    val tokens = docs.select(col("doc_id"),
      explode(array_distinct(split(trim(col("text")), "\\s+")))
        .as("word"))
    val freq = tokens.groupBy("word").agg(count(lit(1)).as("freq"))
    val ranked = tokens.join(freq, "word")
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
          .orderBy(col("freq").asc, col("word").asc)))
      .withColumn("sz", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("doc_id")))
    val prefix = ranked.filter(
      col("rk") <= col("sz") - ceil(lit(threshold) * col("sz")) + 1)
    val cand = prefix.as("a")
      .join(prefix.as("b"),
        col("a.word") === col("b.word") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
    val jacUdf2 = udf { (ta: String, tb: String) =>
      val wa = ta.trim.split("\\s+").distinct.sorted
      val wb = tb.trim.split("\\s+").distinct.sorted
      var i = 0; var j = 0; var inter = 0
      while (i < wa.length && j < wb.length) {
        val c = wa(i).compareTo(wb(j))
        if (c == 0) { inter += 1; i += 1; j += 1 }
        else if (c < 0) i += 1 else j += 1
      }
      inter.toDouble / (wa.length + wb.length - inter)
    }
    val texts = docs.select(col("doc_id"), col("text"))
    pinVerifyParallelism(cand)
      .join(texts.withColumnRenamed("doc_id", "d1")
        .withColumnRenamed("text", "t1"), "d1")
      .join(texts.withColumnRenamed("doc_id", "d2")
        .withColumnRenamed("text", "t2"), "d2")
      .select(col("d1"), col("d2"),
        round(jacUdf2(col("t1"), col("t2")), 4).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .orderBy("d1", "d2")
  }

  /** t06 — MinHash + LSH near-duplicate detection (Broder '97 resemblance
    * + banding), SQL-portable declared form: distinct 5-char shingles,
    * 32 md5-derived permutations (h_j(g) = h48(j ':' g)), 8 bands × 4
    * rows, candidates from the (band, bucket) self-join, verified by
    * exact shingle-set Jaccard. Everything is codegen'd built-ins — the
    * per-seed explode inflates rows 32× but partial aggregation collapses
    * map-side to 32 rows/doc before the shuffle; candidate generation
    * never compares all pairs. The splitmix-kernel variant
    * ([[minHashPairs]]) is the fast path (one pass per doc, no row
    * inflation) and is recall-checked in TextSpec.
    */
  val t06MinHashLsh: Q = (s, d) =>
    minHashPairsPortable(
      Tables.documents(s, d).select("doc_id", "text"), 0.5)

  /** SQL-portable MinHash-LSH pair generator (see t06 doc).
    *
    * The nPerm signature slots are aggregate COLUMNS over the gram
    * frame, not an exploded (gram × seed) product — one 32-way min
    * aggregation touches each gram row once (one md5 + 32 affine maps),
    * so the shuffle stays at |grams| rows instead of 32×. (The
    * md5-per-(gram, seed) exploded form measured 24 s at sf0.1 vs ~3 s
    * for this shape; the DuckDB twin keeps a seeds-VALUES cross join —
    * same math, and the oracle isn't the scale path.)
    */
  def minHashPairsPortable(docs0: DataFrame, minJaccard: Double)
      : DataFrame = {
    // persist: this frame feeds the gram/signature stage AND both sides
    // of the verify text join — without it the upstream (which for the
    // dedup cascade is itself a join pipeline) recomputes three times
    val docs = docs0.repartition(
      docs0.sparkSession.sparkContext.defaultParallelism)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // persist: the self-join references bands on BOTH sides — without
    // materialization the whole gram/md5/signature pipeline (the
    // expensive part) runs twice. The frame is narrow: nBands rows/doc
    // of (id, band, bucket-string).
    val bands = portableBandTable(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cand = bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
    verifiedJaccardPairs(cand, docs, minJaccard)
      .orderBy("d1", "d2")
  }

  /** The portable MinHash band table of a (doc_id, text) frame:
    * one row per (doc, band) with the band's bucket key — the frame the
    * LSH candidate joins key on, and the frame a stored dedup INDEX
    * persists (see [[ensureBandIndex]]). k=5 shingles, 32 affine
    * permutations of one md5-derived gram hash, 8 bands × 4 rows;
    * matches the `bands` CTE of [[minHashBandCtes]] exactly.
    */
  def portableBandTable(docs: DataFrame): DataFrame = {
    val k = 5; val rowsPerBand = 4
    val nBands = minHashSeeds.length / rowsPerBand
    // NO distinct here: min() is duplicate-insensitive, so signatures
    // over the gram MULTISET equal signatures over the set — and the
    // distinct would be a full |grams|-row shuffle. With it gone, the
    // only wide exchange in the signature stage is the 32-column
    // map-side-combined groupBy: one row per (partition × doc).
    val grams = docs
      .filter(length(col("text")) >= k)
      .select(col("doc_id"),
        explode(sequence(lit(1), length(col("text")) - (k - 1))).as("p"),
        col("text"))
      .select(col("doc_id"), expr(s"substr(text, p, $k)").as("gram"))
    val mhCols = minHashSeeds.map { case (j, a, b) =>
      min(expr(s"($a * h + $b) & $Mask48")).as(s"mh$j")
    }
    val sigs = grams.withColumn("h", h48(docs.sparkSession, col("gram")))
      .groupBy("doc_id").agg(mhCols.head, mhCols.tail: _*)
    val bucketCols = (0 until nBands).map(b =>
      concat_ws(",", (0 until rowsPerBand).map(j =>
        col(s"mh${b * rowsPerBand + j}")): _*))
    sigs.select(col("doc_id"),
      posexplode(array(bucketCols: _*)).as(Seq("band", "bucket")))
  }

  /** JVM twin of [[portableBandTable]] for row-at-a-time contexts
    * (streaming state ops, where a groupBy signature stage can't
    * precede the stateful operator): same md5-derived h48, same 32
    * affine permutations, same 8×4 banding, same decimal bucket
    * strings — one doc's (band, bucket) rows. TextSpec pins kernel ≡
    * plan equality; s03 streams through it.
    */
  def portableBandsKernel(text: String): Seq[(Int, String)] = {
    val k = 5; val rowsPerBand = 4
    if (text == null) return Seq.empty
    // iterate CODE POINTS, not UTF-16 units: Spark's substr/length and
    // DuckDB both count code points, and stepping by chars would split
    // surrogate pairs into invalid grams with different md5 hashes
    val cpOffsets = {
      val buf = scala.collection.mutable.ArrayBuffer[Int]()
      var off = 0
      while (off < text.length) {
        buf += off; off += Character.charCount(text.codePointAt(off))
      }
      buf += text.length
      buf.toArray
    }
    val n = cpOffsets.length - 1 // code-point count
    if (n < k) return Seq.empty
    val nBands = minHashSeeds.length / rowsPerBand
    val mins = Array.fill(minHashSeeds.length)(Long.MaxValue)
    val md = java.security.MessageDigest.getInstance("MD5")
    var i = 0
    while (i + k <= n) {
      md.reset()
      val digest = md.digest(text
        .substring(cpOffsets(i), cpOffsets(i + k)).getBytes("UTF-8"))
      // first 12 hex chars = first 6 bytes, big-endian → 48-bit value
      var h = 0L
      var b = 0
      while (b < 6) { h = (h << 8) | (digest(b) & 0xffL); b += 1 }
      minHashSeeds.foreach { case (j, a, bb) =>
        val p = (a * h + bb) & Mask48
        if (p < mins(j)) mins(j) = p
      }
      i += 1
    }
    (0 until nBands).map(b =>
      (b, (0 until rowsPerBand).map(r => mins(b * rowsPerBand + r))
        .mkString(",")))
  }

  /** Exact-Jaccard verify per CANDIDATE pair over (small) id-keyed text
    * joins — candidates are rare after banding, so recomputing the two
    * gram sets per pair beats a cached per-doc gram-ARRAY frame: that
    * variant was tried in round 3 (array_distinct(transform(...)) per
    * doc, persisted, verified with array_intersect) and REJECTED on
    * measurement — it materializes gram arrays for every doc in
    * `texts`, i.e. O(corpus) work and cache where the UDF does
    * O(candidates × len) with zero extra exchanges (t15 went 6.8 s →
    * 11.3 s at sf0.1 because its `texts` is the unfiltered corpus;
    * t11/t14 regressed similarly). At 100 TB the same argument is
    * sharper: a per-batch full-corpus array materialization is exactly
    * the shape the stored band index exists to avoid. The DuckDB twin
    * keeps the relational gram-join form: same integers i/na/nb, same
    * double, same rounding. `texts` must be a 2-column (doc_id, text)
    * frame covering every id in `cand`.
    */
  /** Pin the parallelism of a CPU-dense candidate frame BEFORE its
    * exact-verify text joins. AQE coalesces shuffle reads by BYTES,
    * and when the text joins broadcast (the regime every corpus
    * below the broadcast threshold hits), the verify UDF runs at the
    * parallelism of the candidate exchange — narrow id pairs, a few
    * MB for ~33 µs/pair of kernel work — so byte-based coalescing
    * starves it of cores. Measured at sf0.1 ×4 replicas: the whole
    * t06 pipeline collapsed to 2 AQE-coalesced partitions (13.5 s,
    * vs 3.0 s with AQE off); with this explicit exchange the same
    * AQE-on plan runs the verify 32-wide (4.0 s end-to-end, receipt
    * in scalecheck_r15.json). repartition(N) is REPARTITION_BY_NUM,
    * which AQE never re-coalesces.
    *
    * Placement is deliberate and MEASURED (r15): pinning AFTER the
    * joins reads better on paper (join-strategy-independent) but
    * regresses to 13.8 s — ColumnPruning pushes the verify
    * projection, UDF included, below a trailing round-robin
    * repartition to shrink the shuffled rows, putting the kernel
    * right back in the coalesced stage. Pre-join, there is nothing
    * to push. In the sort-merge regime (texts too big to broadcast)
    * the pin is spent, but there the join exchanges carry the text
    * payloads, so partition BYTES track verify COST and AQE's
    * byte-based sizing is the appropriate policy anyway.
    */
  private def pinVerifyParallelism(cand: DataFrame): DataFrame =
    cand.repartition(
      cand.sparkSession.sparkContext.defaultParallelism)

  private def verifiedJaccardPairs(cand: DataFrame, texts: DataFrame,
      minJaccard: Double): DataFrame = {
    val jacUdf = udf { (ta: String, tb: String) =>
      TextHash.stringGramJaccard(ta, tb, 5)
    }
    pinVerifyParallelism(cand)
      .join(texts.toDF("d1", "t1"), "d1")
      .join(texts.toDF("d2", "t2"), "d2")
      .select(col("d1"), col("d2"),
        round(jacUdf(col("t1"), col("t2")), 4).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** Core MinHash-LSH pair generator over any (doc_id, text) frame. */
  def minHashPairs(docs0: DataFrame, minJaccard: Double): DataFrame = {
    // Single-file local inputs arrive as one partition — spread before
    // the signature stage so it parallelizes (no-op-sized on a cluster).
    val docs = docs0.repartition(
      docs0.sparkSession.sparkContext.defaultParallelism)
    val nPerm = 128; val bands = 16; val rowsPerBand = nPerm / bands
    val bandsUdf = udf { (text: String) =>
      val sig = TextHash.minHashSignature(
        TextHash.shingleHashes(text, 5), nPerm)
      (0 until bands).map { b =>
        var h = 0xcbf29ce484222325L ^ b.toLong
        var i = b * rowsPerBand
        while (i < (b + 1) * rowsPerBand) {
          h = TextHash.mix64(h ^ sig(i)); i += 1
        }
        h
      }
    }
    val jacUdf = udf { (ta: String, tb: String) =>
      TextHash.jaccard(
        TextHash.shingleHashes(ta, 5), TextHash.shingleHashes(tb, 5))
    }
    // Persist: the self-join references this frame on both sides —
    // without materialization the signature UDF (the most expensive map
    // stage at corpus scale) would run over the corpus twice. The frame
    // is narrow (id + two ints per band) and left to LRU eviction: the
    // returned DataFrame is lazy, so an eager unpersist would defeat
    // the cache before the caller materializes.
    val buckets = docs
      .select(col("doc_id"),
        posexplode(bandsUdf(col("text"))).as(Seq("band", "bucket")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cand = buckets.as("a")
      .join(buckets.as("b"),
        col("a.band") === col("b.band") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
    pinVerifyParallelism(cand)
      .join(docs.withColumnRenamed("doc_id", "d1")
        .withColumnRenamed("text", "text1"), "d1")
      .join(docs.withColumnRenamed("doc_id", "d2")
        .withColumnRenamed("text", "text2"), "d2")
      .select(col("d1"), col("d2"),
        round(jacUdf(col("text1"), col("text2")), 4).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
      .orderBy("d1", "d2")
  }

  /** t07 — SimHash near-dup (Charikar/Manku), SQL-portable declared
    * form: 48-bit signature from md5-hashed whitespace tokens (bit b set
    * iff the +1/−1 majority over token-hash bit b is positive), then the
    * 4×12-bit block trick — any pair within Hamming distance 3 shares at
    * least one exact block (pigeonhole), so candidates come from
    * equi-joins on (block_idx, block_value), never an O(n²) scan. Exact
    * Hamming via codegen'd bit_count. The bit explode inflates tokens
    * 48× but partial agg collapses to 48 rows/doc map-side. The 64-bit
    * splitmix kernel ([[simHashPairs]]) remains the fast path, TextSpec-
    * checked.
    */
  val t07SimHashBands: Q = (s, d) =>
    simHashPairsPortable(Tables.documents(s, d).select("doc_id", "text"), 3)

  /** SQL-portable SimHash block-join pair generator (see t07 doc). */
  def simHashPairsPortable(docs0: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming <= 3, "4-block LSH only exhaustive for hamming <= 3")
    val docs = docs0.repartition(
      docs0.sparkSession.sparkContext.defaultParallelism)
    val toks = docs
      .select(col("doc_id"),
        explode(split(trim(col("text")), "\\s+")).as("tok"))
      .select(col("doc_id"), h48(docs0.sparkSession, col("tok")).as("th"))
    val bits = toks
      .select(col("doc_id"), col("th"),
        explode(sequence(lit(0), lit(47))).as("b"))
      .groupBy("doc_id", "b")
      .agg(sum(expr(
        "CASE WHEN (th >> b) & 1 = 1 THEN 1 ELSE -1 END")).as("s"))
    val sig = bits.groupBy("doc_id")
      .agg(sum(when(col("s") > 0, expr("CAST(1 AS BIGINT) << b"))
        .otherwise(lit(0L))).as("sh"))
    val blocks = sig
      .select(col("doc_id"), col("sh"),
        explode(sequence(lit(0), lit(3))).as("blk"))
      .withColumn("blkval", expr("(sh >> (blk * 12)) & 4095"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    blocks.as("a")
      .join(blocks.as("b"),
        col("a.blk") === col("b.blk") &&
          col("a.blkval") === col("b.blkval") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        bit_count(col("a.sh").bitwiseXOR(col("b.sh"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .orderBy("d1", "d2")
  }

  /** Core SimHash block-join pair generator over any (doc_id, text)
    * frame. maxHamming must be ≤ 3 for the 4-block guarantee to be
    * exhaustive (pigeonhole: d ≤ 3 bit flips can't touch all 4 blocks).
    */
  def simHashPairs(docs0: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming <= 3, "4-block LSH only exhaustive for hamming <= 3")
    val docs = docs0.repartition(
      docs0.sparkSession.sparkContext.defaultParallelism)
    val shUdf = udf((t: String) => TextHash.simHash(t))
    val sigs = docs.select(col("doc_id"), shUdf(col("text")).as("sh"))
    val blocks = sigs.select(col("doc_id"), col("sh"),
      posexplode(array((0 until 4).map(b =>
        shiftrightunsigned(col("sh"), b * 16)
          .bitwiseAND(lit(0xffffL))): _*)).as(Seq("blk", "blkval")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    blocks.as("a")
      .join(blocks.as("b"),
        col("a.blk") === col("b.blk") &&
          col("a.blkval") === col("b.blkval") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        bit_count(col("a.sh").bitwiseXOR(col("b.sh"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .orderBy("d1", "d2")
  }

  /** t08 — winnowing document fingerprints (Schleimer et al. SIGMOD'03),
    * declared as the linear kernel path (round 5): gram hashes from the
    * codegen'd Rabin-Karp expression ([[graft.functions.RollingHash]] —
    * one O(n) rolling pass per doc vs O(n·k) bytes md5'd per gram) and
    * window minima from the O(n) monotonic-deque selection
    * ([[graft.functions.Winnow]] — each position enters/leaves the
    * deque once vs a per-doc gram SORT whose cost grows with document
    * length: a book-length doc was one partition's giant sort at
    * 100 TB). Both stay inside the row and inside whole-stage codegen —
    * zero shuffle except the presentation sort, and no per-position
    * explode (the r4 plan inflated each doc to one row per character).
    * The kernel returns the per-doc fingerprint set distinct + sorted,
    * so no dedup shuffle is needed after the explode.
    *
    * The positional-explode + min-over-window form remains the DuckDB
    * oracle twin (B=257 keeps the polynomial exact BIGINT, recomputable
    * gram-by-gram in plain SQL) — the same declared-kernel /
    * portable-twin split t18 made; TextSpec additionally pins the
    * kernel plan row-equal to an in-engine window-function twin over
    * the same rolling hashes.
    */
  val t08WinnowFingerprint: Q = (s, d) => {
    val k = 5; val w = 8
    graft.functions.RollingHash.registerAll(s)
    graft.functions.Winnow.registerAll(s)
    // fingerprints need one full window: n grams = len-k+1 >= w
    Tables.documents(s, d)
      .filter(length(col("text")) >= k + w - 1)
      .select(col("doc_id"),
        explode(graft.functions.Winnow.winnow_mins(
          graft.functions.RollingHash.rolling_hashes(col("text"), k), w))
          .as("fingerprint"))
      .orderBy("doc_id", "fingerprint")
  }

  /** t18 — rolling-hash document fingerprints (mandate: "document
    * fingerprinting (rolling hash)"): per-doc k-gram hash profile from
    * the native codegen'd Rabin-Karp expression
    * ([[graft.functions.RollingHash]]) — one O(n) pass per doc, inside
    * whole-stage codegen, vs the O(n·k) md5-per-gram the portable
    * LSH plans pay. B=257 > any byte keeps the polynomial exact BIGINT
    * and injective on ASCII grams, so the DuckDB twin recomputes the
    * SAME values with plain (non-rolling) arithmetic and the whole
    * fingerprint profile hash-verifies.
    */
  val t18RollingFingerprint: Q = (s, d) => {
    graft.functions.RollingHash.registerAll(s)
    // per-doc profile stays INSIDE the row as array ops (size /
    // array_min / array_distinct) — fully map-side, zero shuffle except
    // the final presentation sort, vs an explode + groupBy that would
    // shuffle every gram hash (PlanSpec gates the single exchange)
    Tables.documents(s, d)
      .filter(length(col("text")) >= 5)
      .select(col("doc_id"),
        graft.functions.RollingHash.rolling_hashes(col("text"), 5)
          .as("hs"))
      .select(col("doc_id"),
        size(col("hs")).cast("long").as("n_grams"),
        array_min(col("hs")).as("min_hash"),
        size(array_distinct(col("hs"))).cast("long").as("n_distinct"))
      .orderBy("doc_id")
  }

  /** The verified near-dup pair graph built from the STORED full-corpus
    * band index (round 5): candidates come from a (band, bucket)
    * self-join over the persisted (doc_id, band, bucket) parquet —
    * [[ensureBandIndex]], the same artifact family t15/t16 serve from —
    * so the corpus is never re-signed (no gram explode, no md5, no
    * signature aggregation anywhere in the plan; PlanSpec gates it).
    * Text is touched only by the id-keyed lookups of the exact-Jaccard
    * verify, which are candidate-driven. The pair SET is identical to
    * [[minHashPairsPortable]]'s (same bands, same verify), so t19's
    * oracle hash is unchanged — what changed is that the 100 TB cost is
    * now an index scan + bucket join instead of a full re-sign.
    */
  def indexedVerifiedPairs(s: SparkSession, d: String,
      docs: DataFrame, minJaccard: Double): DataFrame = {
    val index = ensureBandIndex(s, d, docs, "t19_corpus")
    val cand = index.as("a")
      .join(index.as("b"),
        col("a.band") === col("b.band") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
    verifiedJaccardPairs(cand, docs, minJaccard)
  }

  /** t19 — transitive duplicate GROUPS (mandate "transitive groups"):
    * near-duplication chains through A≈B≈C even when A and C never
    * pair, so group identity is connected components over the verified
    * pair graph — [[graft.operators.Components]]' iterative min-label
    * propagation (O(diameter) keyed-shuffle rounds; near-dup clusters
    * are shallow). The pair graph reads the stored band index
    * ([[indexedVerifiedPairs]]) rather than re-signing the corpus t06
    * already signs — t19's marginal cost over t06 is the components
    * loop. Oracled: DuckDB computes the same components with a
    * recursive transitive-closure CTE — closure is quadratic per
    * component and fine for an oracle, while the declared plan stays
    * the scalable label propagation.
    */
  /** The verify threshold the whole transitive-dedup family (t19's
    * rebuild, the persisted cluster map, t27's resolution) runs at.
    * The oracle SQL pins the same value independently, so a change
    * here that is not mirrored there fails the hash compare loudly.
    */
  val DedupGroupsThreshold = 0.5

  val t19DedupGroups: Q = (s, d) => {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val pairs = indexedVerifiedPairs(s, d, docs, DedupGroupsThreshold)
      .select("d1", "d2")
    graft.operators.Components.connectedComponents(pairs)
      .select(col("node").as("doc_id"), col("component").as("group_id"))
      .orderBy("doc_id")
  }

  /** The persisted CLUSTER MAP (doc_id → group_id): t19's component
    * output staged as an artifact, the way a production dedup pipeline
    * stores its cluster assignment so downstream jobs (resolution,
    * audits, re-curation) never re-run the O(diameter) label
    * propagation. Same StageCache family as the band index; t19 stays
    * the full rebuild twin that prices the propagation itself.
    */
  def ensureDedupGroups(s: SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val cache = new graft.pipeline.StageCache(s,
      graft.pipeline.StageCache.indexRoot)
    // the key is BUILT FROM the values the computation below actually
    // uses (threshold constant + the band-index version seed), so a
    // change to either cannot silently serve a stale cluster map
    cache.stage("t19_groups",
      cache.versionHash(Seq("dedup-groups", "v1",
        s"thr=$DedupGroupsThreshold", "minlabel-components") ++
        bandIndexVersionSeed),
      Seq(s"$d/documents.parquet")) {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val pairs = indexedVerifiedPairs(s, d, docs, DedupGroupsThreshold)
        .select("d1", "d2")
      graft.operators.Components.connectedComponents(pairs)
        .select(col("node").as("doc_id"),
          col("component").as("group_id"))
    }
  }

  /** t40 — LEAKAGE-SAFE train/val/test SPLIT (the contamination-aware
    * split every serious eval protocol requires): documents are
    * assigned to splits by the portable bucket of their near-dup
    * GROUP id, not their own id — so an entire duplicate cluster
    * lands in ONE split and a test document can never have a near-dup
    * twin in train (the leakage t20's per-doc split would permit).
    * Groups come from the PERSISTED cluster map
    * ([[ensureDedupGroups]], warmed with the other stored artifacts);
    * ungrouped documents are their own singleton group. Serve cost:
    * one doc_id-keyed join of two narrow tables + a map-side hash —
    * the O(diameter) label propagation is priced by its t19 rebuild
    * twin, exactly the t15/t27 stored-artifact contract. The oracle
    * independently recomputes the transitive closure (recursive CTE)
    * and the same md5-bucket arithmetic on group ids.
    */
  val t40LeakageSafeSplit: Q = (s, d) => {
    val groups = ensureDedupGroups(s, d)
    val bucket = graft.operators.Sampling.portableBucket(col("group_id"))
    Tables.documents(s, d).select("doc_id")
      .join(groups, Seq("doc_id"), "left")
      .withColumn("group_id", coalesce(col("group_id"), col("doc_id")))
      .withColumn("split",
        when(bucket < 800000, 0).when(bucket < 900000, 1).otherwise(2))
      .select("doc_id", "group_id", "split")
      .orderBy("doc_id")
  }

  /** t27 — near-dup cluster RESOLUTION keeping the highest-quality
    * member (the production decision: t04/t19 keep the lowest id,
    * which is arbitrary — a real curation run keeps the best document
    * of each duplicate cluster and drops the rest). Composes t19's
    * transitive groups (stored-index pair graph + distributed
    * min-label components) with t02's lexical-diversity quality
    * score: per group, the keeper is argmax(quality, tie → lowest
    * doc_id). Scale shape: quality is a map-side projection over the
    * corpus, the group join is keyed by doc_id (graph-node-sized),
    * and the per-group argmax is a group-keyed window — nothing
    * corpus-quadratic, nothing driver-side. One row per GROUP.
    * The group assignment comes from the persisted cluster map
    * ([[ensureDedupGroups]]) — resolution is a decision over a stored
    * artifact, the same serve/rebuild split as t15 vs t06; t19 remains
    * the propagation rebuild twin.
    */
  val t27ClusterKeepBest: Q = (s, d) => {
    // resolution runs over the PERSISTED cluster map (the t06-vs-t15
    // split applied to components: t19 prices the propagation rebuild,
    // t27 prices the resolution decision a downstream job makes over
    // the stored assignment; Bench warms the artifact untimed)
    val groups = ensureDedupGroups(s, d)
    // t02's lexical diversity, rounded to 4 so both engines compare
    // the same doubles
    val quality = Tables.documents(s, d)
      .selectExpr("doc_id",
        "size(split(trim(text), '\\\\s+')) AS n_words",
        "size(array_distinct(split(trim(text), '\\\\s+'))) AS n_distinct")
      .select(col("doc_id"),
        round(col("n_distinct").cast("double") / col("n_words"), 4)
          .as("q"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("group_id").orderBy(col("q").desc, col("doc_id").asc)
    groups.join(quality, "doc_id")
      .withColumn("rk", row_number().over(w))
      .groupBy("group_id")
      .agg(count(lit(1)).as("n_members"),
        (count(lit(1)) - 1).as("n_dropped"),
        min(when(col("rk") === 1, col("doc_id"))).as("kept_doc"),
        min(when(col("rk") === 1, col("q"))).as("kept_quality"))
      .orderBy("group_id")
  }

  /** t37 — cross-source duplicate OVERLAP MATRIX: for every unordered
    * source pair (a, b), the number of verified near-dup pairs with one
    * member in each (diagonal = within-source duplication). This is the
    * audit every multi-source corpus build runs before mixing — "how
    * much of source B is already in source A" decides dedup ORDER and
    * per-source keep policy (the CCNet/RefinedWeb snapshot-overlap
    * measurement, lifted to arbitrary source labels).
    *
    * Scale shape: the pair graph comes from the STORED band index
    * ([[indexedVerifiedPairs]] — no corpus re-sign, t19's gate), and
    * source labels attach via two doc_id-keyed joins (per-doc rows are
    * never broadcast, the retrieval-family rule). The matrix aggregate
    * is |sources|² rows — trivially partial-aggregated.
    */
  val t37SourceOverlap: Q = (s, d) => {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val src = Tables.documents(s, d).select("doc_id", "source")
    val pairs = indexedVerifiedPairs(s, d, docs, DedupGroupsThreshold)
      .select("d1", "d2")
    pairs
      .join(src.select(col("doc_id").as("d1"), col("source").as("sa")),
        "d1")
      .join(src.select(col("doc_id").as("d2"), col("source").as("sb")),
        "d2")
      .select(least(col("sa"), col("sb")).as("src_a"),
        greatest(col("sa"), col("sb")).as("src_b"))
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("src_a", "src_b")
  }

  /** t38 — MERGE-PAIR MINING (the statistic behind BPE training's
    * first merge step): the corpus-wide frequency of every ADJACENT
    * whitespace-token pair, top-50 by count with a full deterministic
    * tie order. A tokenizer-training pipeline runs exactly this scan
    * per merge round over the whole corpus, so its shape matters at
    * 100 TB: pair generation is IN-ROW (zip_with of the token array
    * against its own tail — no explode-then-self-join on position,
    * which would shuffle |tokens| rows twice), the count partial-
    * aggregates map-side, and the top-50 is TakeOrderedAndProject —
    * per-partition heaps + a 50-row driver merge, never a full sort
    * of the pair vocabulary.
    */
  val t38MergePairs: Q = (s, d) =>
    Tables.documents(s, d)
      .select(split(trim(col("text")), "\\s+").as("w"))
      .select(explode(expr(
        """filter(zip_with(w, slice(w, 2, size(w)),
          |  (a, b) -> named_struct('a', a, 'b', b)),
          |  p -> p.b IS NOT NULL)""".stripMargin)).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(desc("n_pairs"), asc("a"), asc("b"))
      .limit(50)

  /** Merge-list depth for t41 — bounded so the DuckDB oracle is a
    * fixed-depth CTE chain (one 3-window layer per merge rule).
    */
  private[graft] val BpeApplyDepth = 8

  /** t41 — BPE TOKENIZER APPLICATION (the serving half of t38's
    * mine→apply pair, r11 VERDICT gap #1): encode every document with
    * the learned merge list — the loader-visible artifact a training
    * pipeline materializes. The merge list is t38's top-
    * [[BpeApplyDepth]] pairs under the deterministic
    * (count DESC, a, b) total order; each rule is applied as one
    * left-to-right pass over the token sequence merging
    * non-overlapping occurrences (the standard BPE application order
    * — a run of consecutive matches, possible only when a rule's two
    * sides are equal, merges at run offsets 0, 2, 4…, which the
    * oracle replicates with gaps-and-islands run parity). Token ids
    * are content-addressed through the portable md5-48 family — no
    * corpus-wide vocabulary shuffle or broadcast, the 100 TB-safe id
    * scheme — and the emitted per-doc checksum Σ pos·(id mod 1000003)
    * pins the exact id SEQUENCE against the oracle.
    *
    * Scale shape: the merge list is a driver-side model artifact
    * (t38's TakeOrderedAndProject → 8 collected rows, like the IVF
    * centroids); the encode itself is one corpus scan, entirely
    * map-side (PlanSpec gates the single presentation-sort exchange).
    * The per-row merge loop is genuinely imperative (sequential
    * consume semantics), so it is a Scala UDF over the token array —
    * the documented exception to the no-UDF rule.
    */
  /** t41's per-row merge kernel: apply the ordered rule list, one
    * left-to-right non-overlapping pass per rule (sequential consume —
    * a matched pair's second token cannot start another match in the
    * same pass, which for a self-pair rule yields run-parity merging).
    * Pure so TextSpec can pin the semantics directly.
    */
  private[graft] def bpeApplyRules(toks: Array[String],
      rules: Seq[(String, String)], sep: String = " ")
      : Array[String] = {
    var cur = toks
    rules.foreach { case (a, b) =>
      val out = new scala.collection.mutable.ArrayBuffer[String](
        cur.length)
      var i = 0
      while (i < cur.length) {
        if (i + 1 < cur.length && cur(i) == a && cur(i + 1) == b) {
          out += cur(i) + sep + cur(i + 1); i += 2
        } else { out += cur(i); i += 1 }
      }
      cur = out.toArray
    }
    cur
  }

  /** t41's learned merge list — t38's top-[[BpeApplyDepth]] pairs,
    * collected as the driver-side model artifact a production
    * pipeline ships with its tokenizer (the IVF-centroid pattern).
    */
  private[graft] def bpeMergeRules(s: SparkSession, d: String)
      : Array[(String, String)] =
    t38MergePairs(s, d).limit(BpeApplyDepth).collect()
      .map(r => (r.getString(0), r.getString(1)))

  /** t41's encode pipeline over an arbitrary (doc_id, text, ...)
    * frame with a fixed merge list — per-document and map-side, so
    * the per-batch union equals the batch run (shared with s19's
    * streaming ingest-time encode). Unsorted; callers order.
    */
  private[graft] def bpeEncodeOf(s: SparkSession, docs: DataFrame,
      rules: Array[(String, String)]): DataFrame = {
    graft.functions.Md5Hash48.registerAll(s)
    val bcRules = s.sparkContext.broadcast(rules)
    val enc = udf { (toks: Seq[String]) =>
      bpeApplyRules(toks.toArray, bcRules.value.toSeq)
    }
    docs
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("w"))
      .withColumn("enc", enc(col("w")))
      .select(col("doc_id"),
        size(col("w")).as("n_raw"),
        size(col("enc")).as("n_tokens"),
        (size(col("w")) - size(col("enc"))).as("n_merges"),
        expr("""CAST(aggregate(zip_with(enc, sequence(1, size(enc)),
          |  (t, i) -> i * (md5_hash48(t) % 1000003)),
          |  CAST(0 AS BIGINT), (acc, x) -> acc + x) AS BIGINT)
          |""".stripMargin).as("ids_checksum"))
  }

  val t41BpeEncode: Q = (s, d) =>
    bpeEncodeOf(s, Tables.documents(s, d), bpeMergeRules(s, d))
      .orderBy("doc_id")

  /** t44's char-pair mining (t38's statistic at CHARACTER level —
    * the pair counts real byte/char-level BPE training starts from):
    * corpus-wide adjacent-char pair frequencies WITHIN words, top-
    * [[BpeApplyDepth]] under the (count DESC, a, b) total order,
    * collected as the driver-side model artifact. Pair generation is
    * in-row (zip_with of the char array against its own tail).
    */
  private[graft] def bpeCharRules(s: SparkSession, d: String)
      : Array[(String, String)] =
    Tables.documents(s, d)
      .select(explode(split(trim(col("text")), "\\s+")).as("w"))
      .filter(length(col("w")) >= 2)
      .select(explode(expr(
        """filter(zip_with(
          |  transform(sequence(1, length(w)),
          |    i -> substring(w, i, 1)),
          |  slice(transform(sequence(1, length(w)),
          |    i -> substring(w, i, 1)), 2, length(w)),
          |  (a, b) -> named_struct('a', a, 'b', b)),
          |  p -> p.b IS NOT NULL)""".stripMargin)).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(desc("n_pairs"), asc("a"), asc("b"))
      .limit(BpeApplyDepth)
      .collect().map(r => (r.getString(0), r.getString(1)))

  /** t44 — CHARACTER-LEVEL BPE ENCODE (the authentic BPE shape next
    * to t41's word-pair variant: real byte/char-level tokenizer
    * training starts from characters, and merges never cross word
    * boundaries): every word is split into characters, the mined
    * top-[[BpeApplyDepth]] char-pair rules apply in order with the
    * same left-to-right non-overlap pass semantics (shared
    * [[bpeApplyRules]] kernel, empty separator — merged tokens are
    * plain concatenations, inert to later single-char rules exactly
    * as t41's space-joined words are), and the per-doc output pins
    * the resulting subword stream: char count, token count, merge
    * count, and the position-weighted md5-48 id checksum over the
    * word-by-word token sequence. One map-side corpus pass after the
    * driver-side mining; the oracle replays the merge passes
    * partitioned by (doc_id, word index) so word boundaries are
    * structural, through the same generated CTE template as t41.
    */
  val t44BpeCharEncode: Q = (s, d) => {
    graft.functions.Md5Hash48.registerAll(s)
    val rules = bpeCharRules(s, d)
    val bcRules = s.sparkContext.broadcast(rules)
    val enc = udf { (words: Seq[String]) =>
      val rs = bcRules.value.toSeq
      words.iterator.flatMap { w =>
        bpeApplyRules(w.toCharArray.map(_.toString), rs, "")
      }.toArray
    }
    Tables.documents(s, d)
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("ws"))
      .withColumn("enc", enc(col("ws")))
      .select(col("doc_id"),
        expr("""CAST(aggregate(ws, 0, (acc, w) -> acc + length(w))
          | AS INT)""".stripMargin).as("n_chars"),
        size(col("enc")).as("n_tokens"),
        // the empty guard matters twice: an all-whitespace doc has
        // enc = [] (its one "" word holds zero chars), and Spark's
        // sequence(1, 0) would DESCEND to [1, 0] rather than be
        // empty — the checksum of an empty stream is 0, matching the
        // oracle's left-join coalesce (review r12)
        expr("""CASE WHEN size(enc) = 0 THEN CAST(0 AS BIGINT)
          |ELSE CAST(aggregate(zip_with(enc, sequence(1, size(enc)),
          |  (t, i) -> i * (md5_hash48(t) % 1000003)),
          |  CAST(0 AS BIGINT), (acc, x) -> acc + x) AS BIGINT)
          |END""".stripMargin).as("ids_checksum"))
      .select(col("doc_id"), col("n_chars"), col("n_tokens"),
        (col("n_chars") - col("n_tokens")).as("n_merges"),
        col("ids_checksum"))
      .orderBy("doc_id")
  }

  /** Merge budget for t45's iterative trainer — bounded so the
    * DuckDB oracle is a fixed-depth CTE chain (one count/select/merge
    * layer per step).
    */
  private[graft] val BpeTrainDepth = 6

  /** t45's trainer core over an arbitrary (doc_id, text, ...) frame —
    * exposed so TextSpec can pin the greedy semantics on a fixture
    * where iterative and static rankings provably diverge.
    */
  private[graft] def bpeTrainOf(s: SparkSession, docs: DataFrame,
      depth: Int): DataFrame = {
    // start state: the DISTINCT-WORD frequency table, not the
    // exploded corpus (r13 VERDICT item 1) — merges never cross word
    // boundaries, so the pair count over all occurrences equals the
    // n_occurrences-weighted pair count over distinct words, and
    // under Zipf the vocab is orders of magnitude smaller than the
    // corpus. ONE corpus aggregation here; every later round scans
    // only this vocab-sized frame. Single-char words can never host
    // a pair and merges never grow a word's token count, so they are
    // dropped once here and pruned again after every merge pass.
    var state = docs
      .select(explode(split(trim(col("text")), "\\s+")).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy("w")
      .agg(count(lit(1)).as("n"))
      .select(expr(
        "transform(sequence(1, length(w)), i -> substring(w, i, 1))")
        .as("toks"), col("n"))
      .localCheckpoint(true)
    val selected =
      scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    var step = 1
    var exhausted = false
    while (!exhausted && step <= depth) {
      // re-count: adjacent-pair frequencies of the CURRENT state,
      // weighted by each word's corpus occurrence count — in-row
      // zip_with (no positional self-join), map-side partial agg,
      // top-1 via TakeOrderedAndProject; the 1-row selection is a
      // driver-side model artifact (the IVF-centroid pattern)
      val top = state
        .select(explode(expr(
          """filter(zip_with(toks, slice(toks, 2, size(toks)),
            |  (a, b) -> named_struct('a', a, 'b', b)),
            |  p -> p.b IS NOT NULL)""".stripMargin)).as("p"),
          col("n"))
        .select(col("p.a").as("a"), col("p.b").as("b"), col("n"))
        .groupBy("a", "b")
        .agg(sum("n").as("n"))
        .orderBy(desc("n"), asc("a"), asc("b"))
        .limit(1)
        .collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, n) = (top.head.getString(0), top.head.getString(1),
          top.head.getLong(2))
        selected += ((step, a, b, n))
        // merge: ONE map-side left-to-right non-overlap pass of the
        // selected rule (the shared t41/t44 kernel, concatenating)
        // over the vocab-sized state; no re-grouping is needed —
        // concat(toks) always recovers the original word, so two
        // distinct rows can never merge into one (the map stays
        // injective). localCheckpoint cuts the lineage so step i+1's
        // scan reads materialized state, never a depth-i
        // re-derivation (the v22/Components bounded-iteration
        // pattern)
        val applyOne = udf { (toks: Seq[String]) =>
          bpeApplyRules(toks.toArray, Seq((a, b)), "")
        }
        state = state
          .withColumn("toks", applyOne(col("toks")))
          .filter(size(col("toks")) >= 2)
          .localCheckpoint(true)
        step += 1
      }
    }
    import s.implicits._
    selected.toSeq.toDF("step", "a", "b", "n_pairs").orderBy("step")
  }

  /** t45 — ITERATIVE GREEDY BPE TRAINER (the authentic
    * mine→merge→RE-COUNT loop t38/t44 start but never iterate —
    * r12 VERDICT gap #1): starting from t44's char-level state (one
    * token array per word, merges never cross word boundaries), each
    * of the [[BpeTrainDepth]] rounds re-counts the adjacent-pair
    * frequencies of the CURRENT corpus, selects the top pair under
    * the deterministic (count DESC, a, b) total order, and merges it
    * everywhere with the shared left-to-right non-overlap kernel —
    * exactly the greedy training loop of real BPE, where round i+1's
    * statistics see round i's merges (the counts in the emitted
    * merge list are the re-counted ones, which diverge from t38/t44's
    * single-pass static ranking as soon as a merge creates or
    * consumes pairs). Output: the ordered merge list
    * (step, a, b, n_pairs-at-selection) — the model artifact whose
    * rows feed the existing t41/t44 encoders unchanged.
    *
    * Scale shape: the corpus is scanned ONCE — the first aggregation
    * collapses it to the distinct-word frequency table (toks, n),
    * which under Zipf is orders of magnitude smaller than the corpus
    * (how real BPE trainers iterate). Each round then scans only the
    * vocab-sized state (in-row pair generation, n-weighted map-side
    * partial aggregation, TakeOrderedAndProject top-1 — never a full
    * pair-vocabulary sort), broadcasts one 2-string rule, and runs
    * ONE map-side merge pass; because concat(toks) always recovers
    * the word, the merge map is injective and the state needs no
    * per-round re-grouping. The state is localCheckpoint'd per round
    * so lineage depth stays 1 and single-token words are pruned as
    * they appear. The loop is driver-ITERATED but never
    * driver-SIZED: nothing corpus- or vocab-bound is ever collected.
    * The oracle deliberately stays at the OCCURRENCE level — a
    * generated fixed-depth CTE chain whose layer i re-derives plain
    * per-occurrence pair counts from the previous state, takes the
    * same top-1, and applies the same run-parity merge pass — so the
    * hash-match proves the n-weighted vocab loop equals the
    * occurrence-level definition rather than mirroring the engine's
    * own collapse.
    */
  val t45BpeTrain: Q = (s, d) =>
    bpeTrainOf(s, Tables.documents(s, d), BpeTrainDepth)

  /** t45's oracle: s0 is t44's per-(doc, word) char stream; layer i
    * re-counts adjacent pairs of s(i-1) via lead(), selects the
    * (count DESC, a, b) top-1, and replays the merge pass with the
    * shared template; the final select unions the per-step
    * selections. An exhausted corpus yields empty r-layers (no row,
    * no-op passes) — matching the engine's early stop.
    */
  private def bpeTrainOracle: String = {
    val layers = (1 to BpeTrainDepth).map { i =>
      s"""p$i AS (
         |  SELECT a, b, count(*) AS n FROM (
         |    SELECT tok AS a, lead(tok) OVER (
         |      PARTITION BY doc_id, widx ORDER BY pos) AS b
         |    FROM s${i - 1}) q
         |  WHERE b IS NOT NULL GROUP BY 1, 2),
         |r$i AS (
         |  SELECT a, b, n FROM p$i ORDER BY n DESC, a, b LIMIT 1),
         |""".stripMargin +
        bpeMergePassCte(i, Seq("doc_id", "widx"), "tok || nxt",
          s"SELECT a, b FROM r$i")
    }.mkString(",\n")
    val sel = (1 to BpeTrainDepth).map(i =>
      s"SELECT CAST($i AS INT) AS step, a, b, " +
        s"CAST(n AS BIGINT) AS n_pairs FROM r$i")
      .mkString("\nUNION ALL\n")
    s"""WITH tk AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l
       |  FROM documents),
       |w AS (
       |  SELECT doc_id, unnest(range(1, len(l) + 1)) AS widx,
       |    unnest(l) AS w
       |  FROM tk),
       |s0 AS (
       |  SELECT doc_id, widx,
       |    unnest(range(1, length(w) + 1)) AS pos,
       |    unnest(string_split(w, '')) AS tok
       |  FROM w WHERE length(w) >= 2),
       |$layers
       |SELECT * FROM ($sel) u
       |ORDER BY step""".stripMargin
  }

  /** t44's oracle: char-level rules mining, per-(doc, word) char
    * stream, the shared merge-pass template partitioned by
    * (doc_id, widx) with concatenating merges, then the global
    * per-doc rollup in (widx, pos) order.
    */
  private def bpeCharEncodeOracle: String = {
    val passes =
      bpeMergePassCtes(Seq("doc_id", "widx"), "tok || nxt")
    s"""WITH tk AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l
       |  FROM documents),
       |w AS (
       |  SELECT doc_id, unnest(range(1, len(l) + 1)) AS widx,
       |    unnest(l) AS w
       |  FROM tk),
       |rules AS (
       |  SELECT a, b,
       |    row_number() OVER (ORDER BY n_pairs DESC, a, b) AS r
       |  FROM (
       |    SELECT cl[i] AS a, cl[i + 1] AS b, count(*) AS n_pairs
       |    FROM (SELECT string_split(w, '') AS cl,
       |            unnest(range(1, length(w))) AS i
       |          FROM w WHERE length(w) > 1)
       |    GROUP BY 1, 2
       |    ORDER BY n_pairs DESC, a, b LIMIT $BpeApplyDepth)),
       |s0 AS (
       |  SELECT doc_id, widx,
       |    unnest(range(1, length(w) + 1)) AS pos,
       |    unnest(string_split(w, '')) AS tok
       |  FROM w),
       |$passes,
       |g AS (
       |  SELECT doc_id, row_number() OVER (
       |    PARTITION BY doc_id ORDER BY widx, pos) AS gpos, tok
       |  FROM s$BpeApplyDepth),
       |fin AS (
       |  SELECT doc_id, CAST(count(*) AS INT) AS n_tokens,
       |    CAST(sum(gpos * (${h48Sql("tok")} % 1000003)) AS BIGINT)
       |      AS ids_checksum
       |  FROM g GROUP BY doc_id),
       |nc AS (
       |  SELECT doc_id, CAST(sum(length(w)) AS INT) AS n_chars
       |  FROM w GROUP BY doc_id)
       |SELECT n.doc_id, n.n_chars,
       |  CAST(coalesce(f.n_tokens, 0) AS INT) AS n_tokens,
       |  CAST(n.n_chars - coalesce(f.n_tokens, 0) AS INT) AS n_merges,
       |  CAST(coalesce(f.ids_checksum, 0) AS BIGINT) AS ids_checksum
       |FROM nc n LEFT JOIN fin f ON f.doc_id = n.doc_id
       |ORDER BY n.doc_id""".stripMargin
  }

  /** Vocabulary cap for t42 — the top-N cut every production
    * tokenizer build applies. Far above this corpus' vocabulary, so
    * it never binds at test scale; at 100 TB it is the mechanism
    * that keeps the id-assignment frame bounded.
    */
  private[graft] val VocabCap = 32768

  /** t42 — TOKENIZER VOCABULARY BUILD (the third artifact of the
    * tokenizer triple: t38 mines the merges, t42 materializes the
    * vocab.json, t41/s19 encode with it): the distinct post-merge
    * tokens with corpus totals and dense ids under the deterministic
    * (count DESC, token) total order. Scale shape: the count rollup
    * is ONE token-keyed partial-aggregated shuffle (n_docs rides the
    * same shuffle — doc_ids within a token group count-distinct in
    * the agg); the top-[[VocabCap]] cut is TakeOrderedAndProject
    * (per-partition heaps, never a full vocab sort); only the final
    * id assignment runs a single-partition window, over the ≤cap
    * frame the cut already bounded — the q27 pattern, vocab-sized by
    * construction, never corpus-sized.
    */
  /** The (token, n_occurrences, n_docs) rollup of the post-merge
    * token stream over an arbitrary (doc_id, text) frame with a
    * fixed rule list — the encode+count stage shared by t42, t43's
    * vocab derivation, and s21's per-batch aggregation.
    */
  private[graft] def vocabCountsOf(s: SparkSession, docs: DataFrame,
      rules: Array[(String, String)]): DataFrame = {
    val bcRules = s.sparkContext.broadcast(rules)
    val enc = udf { (toks: Seq[String]) =>
      bpeApplyRules(toks.toArray, bcRules.value.toSeq)
    }
    docs
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("w"))
      .select(col("doc_id"), explode(enc(col("w"))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct("doc_id").as("n_docs"))
  }

  /** The rank/cap/id-assignment read-out of a vocabulary count frame
    * — shared by t42 and s21's artifact read-out so the s21 ≡ t42
    * equivalence holds by construction, not by duplicated code.
    * Unsorted; callers order by token_id.
    */
  private[graft] def vocabRankOf(counts: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    counts
      .orderBy(desc("n_occurrences"), asc("token"))
      .limit(VocabCap)
      .withColumn("token_id", row_number().over(
        Window.orderBy(desc("n_occurrences"), asc("token")))
        .cast("int"))
      .select("token_id", "token", "n_occurrences", "n_docs")
  }

  val t42VocabBuild: Q = (s, d) =>
    vocabRankOf(
      vocabCountsOf(s, Tables.documents(s, d), bpeMergeRules(s, d)))
      .orderBy("token_id")

  /** Budget-capped vocabulary size for t43's audit — small enough to
    * BIND on this corpus (vocab is 39 tokens, so ranks 21–39 are
    * out-of-vocabulary), the regime a production token budget
    * creates.
    */
  private[graft] val VocabAuditCap = 20

  /** OOV budget for t43's keep verdict: a document passes if at most
    * 3 in 10 of its encoded tokens fall outside the capped vocab —
    * sited at the corpus' median OOV rate (~33% under the cap of 20),
    * so the verdict genuinely splits the corpus (~32% kept at sf0.1)
    * instead of rubber-stamping one side.
    */
  private[graft] val OovBudgetNum = 3
  private[graft] val OovBudgetDenom = 10

  /** t43 — VOCABULARY COVERAGE / OOV AUDIT (the fourth artifact of
    * the tokenizer lifecycle: t38/t44 mine statically, t45 trains the
    * merges ITERATIVELY, t42 builds the vocab, t41/s19 encode, t43
    * audits what the encoder will mangle): every
    * document encoded with the fixed merge rules, its post-merge
    * tokens checked against the budget-capped top-[[VocabAuditCap]]
    * vocabulary, reporting token count, OOV count, and the
    * ≤[[OovBudgetNum]]/[[OovBudgetDenom]] OOV keep verdict — the
    * audit a pipeline runs before pointing a tokenizer at new data.
    *
    * Scale shape: BOTH model artifacts are driver-side and bounded —
    * the merge list (8 rules) and the capped vocab (≤[[VocabCap]]
    * strings, here 20) — so the whole audit is ONE map-side corpus
    * pass: encode in-row, count membership against the broadcast
    * vocab set in-row, no explode, no join, no aggregation shuffle
    * (PlanSpec gates the single presentation-sort exchange). The
    * t21 eval-gram broadcast pattern applied to the vocabulary.
    */
  val t43OovAudit: Q = (s, d) => {
    // rules mined ONCE and shared with the vocab derivation (review
    // r12: routing through t42VocabBuild re-mined them a second time)
    val rules = bpeMergeRules(s, d)
    val vocab: Array[String] =
      vocabRankOf(vocabCountsOf(s, Tables.documents(s, d), rules))
        .orderBy("token_id").limit(VocabAuditCap).collect()
        .map(_.getAs[String]("token"))
    val bcRules = s.sparkContext.broadcast(rules)
    val bcVocab = s.sparkContext.broadcast(vocab.toSet)
    val audit = udf { (toks: Seq[String]) =>
      val enc = bpeApplyRules(toks.toArray, bcRules.value.toSeq)
      val inVocab = bcVocab.value
      var oov = 0
      var i = 0
      while (i < enc.length) {
        if (!inVocab.contains(enc(i))) oov += 1
        i += 1
      }
      (enc.length, oov)
    }
    Tables.documents(s, d)
      .select(col("doc_id"),
        audit(split(trim(col("text")), "\\s+")).as("a"))
      .select(col("doc_id"),
        col("a._1").as("n_tokens"),
        col("a._2").as("n_oov"),
        (col("a._2") * OovBudgetDenom <=
          col("a._1") * OovBudgetNum).cast("int").as("keep"))
      .orderBy("doc_id")
  }

  /** t41's oracle: the t38 mining SQL ranked to the top-
    * [[BpeApplyDepth]] rules, then one generated CTE layer per rule
    * replaying the left-to-right non-overlapping merge pass —
    * match flags via lead(), run parity via gaps-and-islands
    * (consecutive matches only arise for a self-pair rule), consumed
    * successors dropped via lag(), positions renumbered. Fixed depth
    * is what keeps this a plain (non-recursive) CTE chain.
    */
  /** The shared CTE prefix of the t41/t42 oracles: tokenize, mine and
    * rank the merge rules, replay the [[BpeApplyDepth]] merge passes —
    * s$BpeApplyDepth is the final (doc_id, pos, tok) token stream.
    */
  /** The generated merge-pass layers shared by the word-level (t41,
    * partitioned by doc_id, space-joined merges) and char-level (t44,
    * partitioned by doc_id+widx so merges never cross word
    * boundaries, concatenated merges) oracles: s0 in → s`depth` out,
    * one match/parity/renumber block per rule.
    */
  private def bpeMergePassCtes(partCols: Seq[String],
      merged: String): String =
    (1 to BpeApplyDepth).map(i => bpeMergePassCte(i, partCols,
      merged, s"SELECT a, b FROM rules WHERE r = $i")).mkString(",\n")

  /** One merge-pass CTE block (s${i-1} → s$i) with the rule supplied
    * by an arbitrary 0-or-1-row subquery — the static `rules` table
    * for t41/t42/t44, the per-step re-counted top-1 for t45.
    */
  private def bpeMergePassCte(i: Int, partCols: Seq[String],
      merged: String, ruleSql: String): String = {
    val part = partCols.mkString(", ")
    val partS = partCols.map("s." + _).mkString(", ")
      // LEFT JOIN ON TRUE, not a cross join: on a corpus mining fewer
      // than `depth` rules the missing rule must be a NO-OP pass (the
      // engine simply applies a shorter list) — a cross join with an
      // empty 1-row frame would annihilate the whole token stream
      // instead (review r12)
      s"""m$i AS (
         |  SELECT s.*,
         |    CASE WHEN s.tok = ru.a AND lead(s.tok) OVER (
         |      PARTITION BY $partS ORDER BY s.pos) = ru.b
         |    THEN 1 ELSE 0 END AS m
         |  FROM s${i - 1} s LEFT JOIN
         |    ($ruleSql) ru ON TRUE),
         |i$i AS (
         |  SELECT *,
         |    pos - row_number() OVER (
         |      PARTITION BY $part, m ORDER BY pos) AS isl
         |  FROM m$i),
         |e$i AS (
         |  SELECT *,
         |    CASE WHEN m = 1 AND (row_number() OVER (
         |      PARTITION BY $part, m, isl ORDER BY pos)) % 2 = 1
         |    THEN 1 ELSE 0 END AS do_merge
         |  FROM i$i),
         |s$i AS (
         |  SELECT * EXCLUDE (pos, tok, m, isl, do_merge, nxt,
         |      prev_merge),
         |    row_number() OVER (PARTITION BY $part ORDER BY pos)
         |      AS pos,
         |    CASE WHEN do_merge = 1 THEN $merged
         |      ELSE tok END AS tok
         |  FROM (
         |    SELECT *,
         |      lead(tok) OVER (PARTITION BY $part ORDER BY pos)
         |        AS nxt,
         |      lag(do_merge) OVER (PARTITION BY $part ORDER BY pos)
         |        AS prev_merge
         |    FROM e$i)
         |  WHERE prev_merge IS NULL OR prev_merge = 0)""".stripMargin
  }

  private def bpePassCtes: String = {
    val passes =
      bpeMergePassCtes(Seq("doc_id"), "tok || ' ' || nxt")
    s"""toks AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l
       |  FROM documents),
       |rules AS (
       |  SELECT a, b,
       |    row_number() OVER (ORDER BY n_pairs DESC, a, b) AS r
       |  FROM (
       |    SELECT l[i] AS a, l[i + 1] AS b,
       |      count(*) AS n_pairs
       |    FROM (SELECT l, unnest(range(1, len(l))) AS i FROM toks
       |          WHERE len(l) > 1)
       |    GROUP BY 1, 2
       |    ORDER BY n_pairs DESC, a, b LIMIT $BpeApplyDepth)),
       |s0 AS (
       |  SELECT doc_id, unnest(range(1, len(l) + 1)) AS pos,
       |    unnest(l) AS tok
       |  FROM toks),
       |$passes""".stripMargin
  }

  private def bpeEncodeOracle: String =
    s"""WITH $bpePassCtes,
       |fin AS (
       |  SELECT doc_id, CAST(count(*) AS INT) AS n_tokens,
       |    CAST(sum(pos * (${h48Sql("tok")} % 1000003)) AS BIGINT)
       |      AS ids_checksum
       |  FROM s$BpeApplyDepth GROUP BY doc_id)
       |SELECT t.doc_id, CAST(len(t.l) AS INT) AS n_raw, f.n_tokens,
       |  CAST(len(t.l) - f.n_tokens AS INT) AS n_merges,
       |  f.ids_checksum
       |FROM toks t JOIN fin f ON t.doc_id = f.doc_id
       |ORDER BY t.doc_id""".stripMargin

  /** t42's oracle: the same pass chain, then the vocabulary rollup —
    * per-token totals, the deterministic (count DESC, token) rank as
    * the dense id, capped at [[VocabCap]].
    */
  /** t43's oracle: the same pass chain, the budget-capped vocab, and
    * the per-doc membership rollup via a left join (the engine's
    * broadcast-set lookup, re-derived relationally).
    */
  private def oovAuditOracle: String =
    s"""WITH $bpePassCtes,
       |v AS (
       |  SELECT tok AS token FROM s$BpeApplyDepth
       |  GROUP BY tok
       |  ORDER BY count(*) DESC, tok LIMIT $VocabAuditCap),
       |a AS (
       |  SELECT s.doc_id, CAST(count(*) AS INT) AS n_tokens,
       |    CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)
       |      AS INT) AS n_oov
       |  FROM s$BpeApplyDepth s LEFT JOIN v ON s.tok = v.token
       |  GROUP BY s.doc_id)
       |SELECT doc_id, n_tokens, n_oov,
       |  CAST(n_oov * $OovBudgetDenom <= n_tokens * $OovBudgetNum
       |    AS INT) AS keep
       |FROM a ORDER BY doc_id""".stripMargin

  private def vocabBuildOracle: String =
    s"""WITH $bpePassCtes,
       |v AS (
       |  SELECT tok AS token,
       |    CAST(count(*) AS BIGINT) AS n_occurrences,
       |    CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
       |  FROM s$BpeApplyDepth GROUP BY tok
       |  ORDER BY n_occurrences DESC, token LIMIT $VocabCap)
       |SELECT CAST(row_number() OVER (
       |    ORDER BY n_occurrences DESC, token) AS INT) AS token_id,
       |  token, n_occurrences, n_docs
       |FROM v ORDER BY token_id""".stripMargin

  /** t39 — QUALITY-FILTER CASCADE with reason codes (the C4/RefinedWeb
    * composed keep/drop decision a production pipeline actually
    * ships): each document runs the ordered rule chain — too_short
    * (t02's length floor) → low_diversity (t02's lexical-diversity
    * floor) → repetitive (t22's Gopher bigram/trigram bars) →
    * lang_mismatch (t03's marker-scored prediction vs the label) —
    * and reports keep plus the FIRST failing rule, the audit trail
    * curation dashboards read. Composition shape: the scalar rules
    * are one map-side projection over a single scan; only t22's gram
    * shares need their two (doc_id, gram)-keyed partial-aggregated
    * shuffles, joined back by doc_id (left — short docs have no gram
    * rows and fail earlier rules anyway). At 100 TB this is the same
    * cost as t22 alone; every added scalar rule is free.
    */
  val t39FilterCascade: Q = (s, d) =>
    filterCascadeOf(Tables.documents(s, d))

  /** t39's rule chain over an arbitrary (doc_id, lang, text, ...)
    * frame — shared with s18's streaming admission gate (every rule is
    * per-document, so the per-batch union equals the batch run).
    */
  private[graft] def filterCascadeOf(docs: DataFrame): DataFrame = {
    val base = docs
      .withColumn("p", concat(lit(" "), trim(col("text")), lit(" ")))
      .selectExpr(Seq(
        "doc_id", "lang",
        "size(split(trim(text), '\\\\s+')) AS n_words",
        "size(array_distinct(split(trim(text), '\\\\s+'))) AS n_distinct") ++
        langMarkers.map { case (l, ms) =>
          s"${langScoreExpr(ms)} AS s_$l"
        }: _*)
      .selectExpr("doc_id", "lang", "n_words", "n_distinct",
        s"$langCaseExpr AS predicted_lang")
    val toks = docs
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("t"))
    def gramStats(k: Int) = toks.filter(size(col("t")) >= k)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(t) - ${k - 1}), " +
          s"i -> concat_ws(' ', slice(t, i, $k)))")).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
    val bi = gramStats(2).groupBy("doc_id")
      .agg(round(max("c").cast("double") / sum("c"), 4)
        .as("top_bigram_share"))
    val tri = gramStats(3).groupBy("doc_id")
      .agg(round((sum("c") - count(lit(1))).cast("double") / sum("c"), 4)
        .as("dup_trigram_frac"))
    base.join(bi, Seq("doc_id"), "left").join(tri, Seq("doc_id"), "left")
      .withColumn("reason",
        when(col("n_words") < 20, "too_short")
          .when(col("n_distinct").cast("double") / col("n_words") < 0.2,
            "low_diversity")
          .when(coalesce(col("top_bigram_share"), lit(0.0)) > 0.05 ||
            coalesce(col("dup_trigram_frac"), lit(0.0)) > 0.02,
            "repetitive")
          .when(col("predicted_lang") =!= col("lang"), "lang_mismatch")
          .otherwise("kept"))
      .withColumn("keep", (col("reason") === "kept").cast("int"))
      .select("doc_id", "keep", "reason")
      .orderBy("doc_id")
  }

  /** s11's per-batch kernel: the overlap-matrix CONTRIBUTION of one
    * ingest batch — verified near-dup pairs whose LATER member is in
    * the batch (within-batch pairs + batch-vs-accumulated-index pairs),
    * rolled up per unordered source pair. Because every pair has a
    * unique later member, batch contributions are disjoint and their
    * sum is exactly [[t37SourceOverlap]]'s matrix — which is what lets
    * t37's DuckDB oracle verify the whole streaming loop.
    *
    * Scale shape: the accumulated index is scanned, the batch bands
    * broadcast into it (s05's candidate-join pattern — the batch side
    * is the small side by construction); the within-batch self-join is
    * batch-sized; text and label attachment are candidate-driven keyed
    * joins (no per-document broadcast, the t37 gate's rule).
    */
  def overlapBatchMatrix(index: DataFrame, batchBands: DataFrame,
      texts: DataFrame, labels: DataFrame, minJaccard: Double)
      : DataFrame = {
    val within = batchBands.as("a").join(batchBands.as("b"),
        col("a.band") === col("b.band") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
    // span-ordered ingest guarantees index ids < batch ids; the filter
    // keeps the kernel correct under any caller
    val cross = index.as("i").join(broadcast(batchBands.as("n")),
        col("i.band") === col("n.band") &&
          col("i.bucket") === col("n.bucket") &&
          col("i.doc_id") < col("n.doc_id"))
      .select(col("i.doc_id").as("d1"), col("n.doc_id").as("d2"))
    val cand = within.unionByName(cross).distinct()
    verifiedJaccardPairs(cand, texts, minJaccard)
      .join(labels.select(col("doc_id").as("d1"),
        col("source").as("sa")), "d1")
      .join(labels.select(col("doc_id").as("d2"),
        col("source").as("sb")), "d2")
      .select(least(col("sa"), col("sb")).as("src_a"),
        greatest(col("sa"), col("sb")).as("src_b"))
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Fixed training-sequence length for t28. Production packs 2k–8k
    * BPE tokens; 512 whitespace tokens is the proportional setting for
    * the synthetic corpus. Oracle SQL interpolates this constant.
    */
  val PackSeqLen = 512
  /** t28's prefix-sum shard width. Small here so the shard level is
    * actually exercised on test data; production sizes it so the
    * shard-total frame is ~√corpus (two window levels bound every
    * single-partition sort to ~√n rows).
    */
  val PackShardSize = 64L

  /** t28 — token-budget SEQUENCE PACKING layout (the concat-and-chunk
    * step every LM training run performs: documents are concatenated
    * in order and sliced into fixed-length training sequences; the
    * pipeline needs each document's sequence placement to audit
    * boundary-crossing rates and build attention-mask metadata).
    * Each document's tokens occupy [cum_before, cum_before+n): its
    * first/last sequence ids and intra-sequence offset are pure
    * integer arithmetic on the running token total.
    *
    * Scale shape: the global running sum is NOT a single-partition
    * window — that is the textbook anti-scale shape. It is the
    * standard two-level distributed prefix sum: a doc_id-monotone
    * shard key partitions the corpus, the within-shard running sum
    * windows BY SHARD (parallel), and only the per-shard TOTALS (a
    * √corpus-sized frame of two longs) pass through a global window
    * before broadcasting back as shard offsets.
    */
  val t28SequencePack: Q = (s, d) => {
    val L = PackSeqLen
    val t = Tables.documents(s, d)
      .select(col("doc_id"),
        expr(s"doc_id div $PackShardSize").as("shard"),
        size(split(trim(col("text")), "\\s+")).cast("long")
          .as("n_tokens"))
    val wShardTotals = org.apache.spark.sql.expressions.Window
      .orderBy("shard")
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, -1)
    val shardOffsets = t.groupBy("shard")
      .agg(sum("n_tokens").as("shard_tokens"))
      .withColumn("shard_before",
        coalesce(sum("shard_tokens").over(wShardTotals), lit(0L)))
      .select("shard", "shard_before")
    val wInShard = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, -1)
    t.withColumn("in_shard_before",
        coalesce(sum("n_tokens").over(wInShard), lit(0L)))
      .join(broadcast(shardOffsets), "shard")
      .withColumn("cum_before",
        col("shard_before") + col("in_shard_before"))
      .select(col("doc_id"), col("n_tokens"),
        expr(s"cum_before div $L").as("start_seq"),
        expr(s"(cum_before + n_tokens - 1) div $L").as("end_seq"),
        (col("cum_before") % L).as("seq_offset"),
        (expr(s"cum_before div $L") =!=
          expr(s"(cum_before + n_tokens - 1) div $L")).as("crosses"))
      .orderBy("doc_id")
  }

  /** Shard width in portable-bucket units for t35's per-language
    * two-level prefix sum: buckets span [0, 1e6), so this yields ≤1000
    * shards per language — the bounded frame the shard-totals walk
    * runs over. Oracle SQL needs no twin constant (its naive window
    * is shard-free; the sharding is pure plan shape).
    */
  val MixShardWidth = 1000L

  /** t35 — mixture DOWNSAMPLING to a token budget (the data-mixing
    * step a Pile/Dolma-style build runs after curation: balance the
    * training mixture by capping every language at the same token
    * budget, set here by the scarcest language). Documents are
    * considered in the layout-independent unbiased order
    * (portable bucket, doc_id) — the same deterministic coin t20/t31
    * flip — and a document is admitted iff its tokens START inside
    * the budget (cum_before < budget, one-sided so the rule stays
    * pure integer; the final admitted doc may overshoot by < its own
    * length, the standard take-until-crossed convention). The output
    * is the full per-document manifest with the admission verdict, so
    * the oracle re-verifies every cumulative position, not just the
    * per-language totals.
    *
    * Scale shape — t28's two-level prefix sum, keyed by language: the
    * corpus-sized running sum windows by (lang, shard) — parallel —
    * and only the per-(lang, shard) TOTALS (≤1000 rows per language)
    * pass through the per-language cumulative walk before
    * broadcasting back as offsets; the per-language token totals and
    * the global min are a two-stage partial aggregation ending in one
    * 1-row broadcast. No corpus-sized single-partition window, no
    * driver loop.
    */
  val t35MixtureBudget: Q = (s, d) => {
    val tok = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        size(split(trim(col("text")), "\\s+")).cast("long")
          .as("n_tokens"),
        graft.operators.Sampling.portableBucket(col("doc_id"))
          .as("bucket"))
      .withColumn("shard", expr(s"bucket div $MixShardWidth"))
    // the scarcest language's token total IS the per-language budget
    val budget = tok.groupBy("lang").agg(sum("n_tokens").as("lt"))
      .agg(min("lt").as("budget"))
    val wShardTot = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy("shard")
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, -1)
    val shardOffsets = tok.groupBy("lang", "shard")
      .agg(sum("n_tokens").as("st"))
      .withColumn("shard_before",
        coalesce(sum("st").over(wShardTot), lit(0L)))
      .select("lang", "shard", "shard_before")
    val wInShard = org.apache.spark.sql.expressions.Window
      .partitionBy("lang", "shard").orderBy("bucket", "doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, -1)
    tok
      .withColumn("in_shard_before",
        coalesce(sum("n_tokens").over(wInShard), lit(0L)))
      .join(broadcast(shardOffsets), Seq("lang", "shard"))
      .withColumn("cum_before",
        col("shard_before") + col("in_shard_before"))
      .crossJoin(broadcast(budget))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        col("cum_before"),
        (col("cum_before") < col("budget")).as("admitted"))
      .orderBy("doc_id")
  }

  /** t36 — gram NOVELTY scoring (unique-content yield: what fraction
    * of a document's distinct word n-grams appear FIRST in this
    * document — the signal dedup-aware samplers use to rank documents
    * by how much new text they actually contribute vs recombining
    * what the corpus already holds). Attribution is deterministic
    * first occurrence: the gram's owner is the minimum doc_id that
    * contains it.
    *
    * Scale shape: distinct (doc_id, gram) pairs and the per-gram
    * min-owner table are both partial-aggregated gram-keyed shuffles
    * (the t05/t21 cost shape — corpus-linear, no all-pairs); the
    * ownership join is keyed by gram, and the per-doc rollup by
    * doc_id. Nothing driver-side, nothing quadratic.
    */
  val t36GramNovelty: Q = (s, d) => {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val grams = wordGrams(docs, DecontamGramLen).distinct()
    val owners = grams.groupBy("g").agg(min("doc_id").as("first_doc"))
    grams.join(owners, "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("doc_id") === col("first_doc"), 1L).otherwise(0L))
          .as("n_owned"))
      .withColumn("novelty",
        round(col("n_owned").cast("double") / col("n_grams"), 4))
      .orderBy("doc_id")
  }

  /** t29's upsampling cap: no language repeats more than this many
    * epochs regardless of how rare it is (unbounded duplication of a
    * tiny slice degrades models faster than it balances them).
    */
  val MixtureMaxEpochs = 4L

  /** t29 — mixture upsampling (epoch weighting): rebalance the
    * training mixture by REPEATING documents from under-represented
    * languages — the standard multilingual recipe (low-resource
    * upsampling with a hard epoch cap). Each language's repeat count
    * is pure integer arithmetic: ceil(max_n / n) capped at
    * [[MixtureMaxEpochs]], so the dominant language runs 1 epoch and
    * rarer ones proportionally more. The output is the expanded
    * sampling manifest: one (doc_id, lang, epoch) row per scheduled
    * appearance — exactly what a data loader consumes.
    *
    * Scale shape: per-lang counts partial-aggregate to ~|langs| rows;
    * the global max is a 1-row broadcast; the repeat table (|langs|
    * rows) broadcasts into the fact scan, and the epoch expansion is
    * a map-side generator explode — no data-sized shuffle anywhere
    * except the presentation sort.
    */
  val t29MixtureUpsample: Q = (s, d) => {
    val docs = Tables.documents(s, d).select("doc_id", "lang")
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("n"))
    val mx = counts.agg(max("n").as("mx"))
    val reps = counts.crossJoin(broadcast(mx))
      .select(col("lang"),
        least(lit(MixtureMaxEpochs), expr("(mx + n - 1) div n"))
          .as("reps"))
    docs.join(broadcast(reps), "lang")
      .select(col("doc_id"), col("lang"),
        explode(sequence(lit(0L), col("reps") - 1)).as("epoch"))
      .orderBy("doc_id", "epoch")
  }

  /** t30 chunk geometry: 32-token windows advancing 24 tokens per
    * step (8-token overlap). Production chunkers run 256–1024 BPE
    * tokens with ~10–25% overlap; these are the proportional settings
    * for the synthetic corpus (docs average ~50 tokens, so multi-chunk
    * and single-chunk docs both occur). Oracle SQL interpolates both.
    */
  val ChunkLen = 32
  val ChunkStride = 24

  /** t30 — overlapping token-window CHUNKING (the splitter feeding
    * embedding/retrieval indexes and long-doc pretraining: fixed-size
    * windows with overlap so no boundary loses context). Chunk i of a
    * doc covers tokens [i·stride, i·stride + L); the chunk count is
    * the smallest k with (k−1)·stride + L ≥ n, i.e.
    * 1 + max(0, ⌈(n−L)/stride⌉) — all truncating integer arithmetic
    * shared by both engines. Output is one row per chunk with its
    * token span AND the reconstructed chunk text, so the oracle
    * verifies the actual payload a downstream embedder would see, not
    * just the geometry.
    *
    * Scale shape: tokenize + window-count + explode + slice are all
    * in-row (one generator, no join); the only exchange is the
    * presentation sort. The same plan chunked 100 TB would be a pure
    * map stage.
    */
  val t30Chunk: Q = (s, d) => {
    val (l, st) = (ChunkLen, ChunkStride)
    Tables.documents(s, d)
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("w"))
      .withColumn("n", size(col("w")).cast("long"))
      .withColumn("k",
        greatest(lit(1L), expr(s"(n - $l + $st - 1) div $st + 1")))
      .select(col("doc_id"), col("w"), col("n"),
        explode(sequence(lit(0L), col("k") - 1)).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        (col("chunk_id") * st).as("chunk_start"),
        least(lit(l.toLong), col("n") - col("chunk_id") * st)
          .as("n_chunk_tokens"),
        concat_ws(" ",
          slice(col("w"), (col("chunk_id") * st + 1).cast("int"),
            lit(l)))
          .as("chunk_text"))
      .orderBy("doc_id", "chunk_id")
  }

  /** t31's per-language sample size. */
  val EvalSamplePerLang = 20L

  /** t31 — deterministic FIXED-SIZE per-stratum sampling (the eval-set
    * draw: exactly k docs per language, reproducible on any engine,
    * any cluster, any partition layout). t20's fraction thresholds
    * give layout-independent ~percentages; an eval set needs an exact
    * COUNT, so t31 ranks each stratum by the portable md5 bucket
    * (doc_id tiebreak) and keeps rank ≤ k — the "sort by stable hash,
    * take k" recipe, whose whole selection hash-verifies against
    * DuckDB recomputing the same bucket arithmetic.
    *
    * Scale shape: the rank-≤-k window is exactly the q08 top-k family
    * — Spark evaluates `row_number ≤ k` as WindowGroupLimit, pruning
    * each partition to k rows map-side BEFORE the stratum exchange
    * (the gate asserts it), so the shuffle moves O(strata × k), not
    * the corpus.
    */
  val t31EvalSample: Q = (s, d) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(col("bucket"), col("doc_id"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        graft.operators.Sampling.portableBucket(col("doc_id"))
          .as("bucket"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= EvalSamplePerLang)
      .select(col("lang"), col("rk"), col("doc_id"), col("bucket"))
      .orderBy("lang", "rk")
  }

  /** t32 span-mask geometry: 3-token spans, one starting every 20
    * positions (≈15% of tokens masked — the T5 default), the start
    * offset varied per doc by doc_id % 18 so span positions differ
    * across docs while staying strictly periodic (spans can never
    * overlap: stride 20 > span 3).
    */
  val MaskSpanLen = 3
  val MaskStride = 20

  /** t32 — SPAN-CORRUPTION example construction (the T5/UL2 denoising
    * objective: replace each noise span with one sentinel in the
    * input, emit sentinel-prefixed span contents as the target). Span
    * selection is pure integer arithmetic on the token position — a
    * position p is masked iff p ≥ off ∧ (p−off) mod 20 < 3, sentinel
    * index k = (p−off) div 20 — so the WHOLE example pair (input with
    * `<extra_id_k>` sentinels, target with span contents) is
    * deterministic and the oracle rebuilds both strings token by
    * token. Production uses seeded randomness per doc; a hash of
    * (doc_id, position) slots into the same arithmetic shape.
    *
    * Scale shape: entirely in-row — tokenize, the position filter/
    * transform lambdas, and both string rebuilds are higher-order
    * array functions with NO explode and NO shuffle; the only
    * exchange is the presentation sort. 100 TB = a pure map stage.
    */
  val t32SpanMask: Q = (s, d) => {
    val (sp, st) = (MaskSpanLen, MaskStride)
    Tables.documents(s, d)
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("w"))
      .withColumn("n", size(col("w")).cast("long"))
      .withColumn("off", pmod(col("doc_id"), lit(18L)))
      .withColumn("idx", expr("sequence(0L, n - 1)"))
      .select(col("doc_id"), col("n").as("n_tokens"),
        expr(s"CAST(size(filter(idx, p -> p >= off AND " +
          s"(p - off) % $st < $sp)) AS BIGINT)").as("n_masked"),
        expr(s"""array_join(transform(
          filter(idx, p -> p < off OR (p - off) % $st >= $sp
                           OR (p - off) % $st = 0),
          p -> CASE WHEN p >= off AND (p - off) % $st = 0
               THEN concat('<extra_id_',
                 CAST((p - off) div $st AS STRING), '>')
               ELSE element_at(w, CAST(p + 1 AS INT)) END), ' ')""")
          .as("input_text"),
        expr(s"""array_join(transform(
          filter(idx, p -> p >= off AND (p - off) % $st < $sp),
          p -> CASE WHEN (p - off) % $st = 0
               THEN concat('<extra_id_',
                 CAST((p - off) div $st AS STRING), '> ',
                 element_at(w, CAST(p + 1 AS INT)))
               ELSE element_at(w, CAST(p + 1 AS INT)) END), ' ')""")
          .as("target_text"))
      .orderBy("doc_id")
  }

  /** t20 — deterministic train/val/test split audit (mandate:
    * "sampling/splits"): every doc lands in a split by the PORTABLE
    * stable bucket of its id ([[graft.operators.Sampling
    * .portableBucket]] — layout-independent, engine-independent), with
    * explicit integer thresholds 800k/900k of 1e6 so both engines
    * compare exact integers. Output is the per-(lang, split) census a
    * dataset card reports; the whole assignment hash-verifies against
    * DuckDB recomputing the same md5 arithmetic.
    */
  val t20SplitAudit: Q = (s, d) => {
    val bucket = graft.operators.Sampling.portableBucket(col("doc_id"))
    Tables.documents(s, d)
      .select(col("lang"),
        when(bucket < 800000, 0).when(bucket < 900000, 1).otherwise(2)
          .as("split"))
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("lang", "split")
  }

  /** t09 — character trigram frequencies via generator explode
    * (SURVEY §2.8 unnest generalized): top-20 trigrams corpus-wide.
    * Explode happens before the shuffle, partial agg combines map-side.
    */
  val t09CharTrigrams: Q = (s, d) =>
    Tables.documents(s, d)
      .filter(length(col("text")) >= 3)
      .select(col("text"),
        explode(sequence(lit(1), length(col("text")) - 2)).as("i"))
      .selectExpr("substr(text, CAST(i AS INT), 3) AS g")
      .groupBy("g").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("g").asc)
      .limit(20)

  /** t10 — corpus stats rollup by language and source (the bookkeeping
    * agg every dataset build ships with).
    */
  val t10CorpusStats: Q = (s, d) =>
    Tables.documents(s, d)
      .withColumn("n_tokens", size(split(trim(col("text")), "\\s+")))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_chars").as("total_chars"),
        sum("n_tokens").as("total_tokens"),
        round(avg("n_tokens"), 4).as("avg_tokens"),
        countDistinct(col("source")).as("n_sources"))
      .orderBy("lang")

  /** t11 — full dedup cascade: exact (md5 keep-lowest) then near-dup
    * (greedy drop-higher-id of each similar pair — the standard
    * practical policy; transitive closure via `Components` if needed).
    * Returns the keep-list. Stage order matters at scale: the cheap
    * exact pass shrinks the corpus before any signature work. Declared
    * form (round 2): the near stage is the SQL-portable shingle
    * MinHash-LSH ([[minHashPairsPortable]]) with exact-Jaccard verify,
    * so the whole cascade is oracle-verifiable (the DuckDB twin runs the
    * identical banding). The splitmix-kernel variant ([[dedupCorpus]])
    * is the fast path, TextSpec-checked. Word-Jaccard PPJoin was tried
    * here and rejected: on this corpus word-set similarity ≥ 0.8 is so
    * dense the TRUE pair set is quadratic (324 s at sf0.1) — shingle
    * similarity discriminates, keeping the pair set linear-ish.
    */
  val t11DedupCascade: Q = (s, d) =>
    dedupCorpusPortable(Tables.documents(s, d).select("doc_id", "text"),
      0.5)

  /** Oracle-verifiable dedup cascade: md5 exact pass, then portable
    * shingle MinHash-LSH pairs, greedy drop-higher-id. See t11 doc.
    */
  def dedupCorpusPortable(docs: DataFrame, jaccardThreshold: Double)
      : DataFrame = {
    val exactKeep = docs
      .groupBy(md5(col("text").cast("binary")).as("k"))
      .agg(min("doc_id").as("doc_id"))
      .select("doc_id")
    val survivors = docs.join(exactKeep, "doc_id")
    val dropIds = minHashPairsPortable(survivors, jaccardThreshold)
      .select(col("d2").as("doc_id")).distinct()
    survivors.select("doc_id")
      .join(dropIds, Seq("doc_id"), "left_anti")
      .orderBy("doc_id")
  }

  def dedupCorpus(docs: DataFrame, jaccardThreshold: Double): DataFrame = {
    // exact pass: one survivor (lowest id) per md5(text)
    val exactKeep = docs
      .groupBy(md5(col("text").cast("binary")).as("k"))
      .agg(min("doc_id").as("doc_id"))
      .select("doc_id")
    val survivors = docs.join(exactKeep, "doc_id")
    // near-dup pass: greedy drop the higher id of each similar pair
    val dropIds = minHashPairs(survivors, jaccardThreshold)
      .select(col("d2").as("doc_id")).distinct()
    survivors.select("doc_id")
      .join(dropIds, Seq("doc_id"), "left_anti")
      .orderBy("doc_id")
  }

  /** t15 — incremental dedup as a declared, oracle-verified query:
    * treat doc_id < 400 as the existing corpus and ≥ 400 as the
    * incoming batch; a new doc is dropped if it near-duplicates the
    * corpus or an earlier (lower-id) new doc. This is what a streaming
    * ingestion pipeline runs per batch.
    *
    * Declared shape (round 3): the corpus side is a STORED INDEX — the
    * persisted (doc_id, band, bucket) parquet built once by
    * [[ensureBandIndex]] (targets-style memoization, SURVEY §4; cf. the
    * reference's `_targets/meta` skip semantics). The batch query signs
    * ONLY the new docs and joins their bands against the index + each
    * other, so per-ingest cost scales with the BATCH, never the corpus:
    * the corpus is touched only as (a) an index parquet scan of narrow
    * band rows and (b) id-equi-joined text lookups for the rare
    * verified candidates. PlanSpec proves the shape: the t15 plan
    * contains the index file scan and NO `doc_id < 400` scan — the
    * full-corpus gram/md5/signature pipeline cannot be hiding anywhere.
    * The index content itself is oracle-verified as [[t16BandIndex]].
    */
  val t15IncrementalDedup: Q = (s, d) => {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val index = ensureBandIndex(s, d,
      docs.filter(col("doc_id") < IncrementalCorpusMaxId), "t15_corpus")
    dedupIncrementalIndexed(index,
      docs.filter(col("doc_id") >= IncrementalCorpusMaxId), docs, 0.5)
      .select("doc_id").orderBy("doc_id")
  }

  /** Fraction of the id space t15b serves as "the batch" (top tenth);
    * a named bench-contract constant like [[IncrementalCorpusMaxId]].
    */
  val SmallBatchFraction = 10L

  /** t15b (bench-only) — the stored-index serve path at a REALISTIC
    * batch size. t15's oracle fixes the corpus/batch split at doc_id
    * 400, which at sf0.1 makes the "batch" 92% of the corpus — so its
    * bench number mostly times batch signing, not index serving. Here
    * the index covers all but the top tenth of ids and the batch is
    * that top slice: the measured cost is what a production ingest
    * tick pays, and the bench JSON carries the evidence that serve
    * cost is batch-proportional (t15b ≪ t15 at the same sf). Same
    * code path as t15 ([[dedupIncrementalIndexed]]); not oracled — the
    * split depends on max(doc_id), which the fixed-literal DuckDB twin
    * cannot express portably across sf dirs, and the semantics are
    * already hash-verified as t15.
    */
  val t15bSmallBatchDedup: Q = (s, d) => {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val maxId = docs.agg(max("doc_id")).head().getLong(0)
    val cut = maxId - maxId / SmallBatchFraction
    val index = ensureBandIndex(s, d,
      docs.filter(col("doc_id") < cut), "t15b_corpus")
    dedupIncrementalIndexed(index,
      docs.filter(col("doc_id") >= cut), docs, 0.5)
      .select("doc_id").orderBy("doc_id")
  }

  val benchOnly: Map[String, Q] = Map(
    "t15b_small_batch_dedup" -> t15bSmallBatchDedup)

  /** t16 — the stored dedup-index build as its own oracled query: the
    * exact (doc_id, band, bucket) rows t15's batch side joins against,
    * read back from the SAME parquet files t15 scans (so what is
    * hash-verified is the stored artifact, not a recomputation).
    */
  val t16BandIndex: Q = (s, d) => {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    ensureBandIndex(s, d,
      docs.filter(col("doc_id") < IncrementalCorpusMaxId), "t15_corpus")
      .orderBy("doc_id", "band")
  }

  /** Build-or-reuse the persisted MinHash band index for `corpus` docs
    * from sf-dir `d` (targets-style memoization via [[StageCache]]:
    * keyed by code version + the documents parquet fingerprint, so a
    * changed corpus rebuilds and an unchanged one is a pure read). The
    * returned frame is ALWAYS the parquet read-back — downstream plans
    * see a file scan, never the signature pipeline.
    */
  /** The band-index version seed, SHARED by every cache key that
    * depends on the index's parameters ([[ensureBandIndex]] itself and
    * derived artifacts like [[ensureDedupGroups]]): a banding change
    * must invalidate the derived artifacts too, so they all splice in
    * this one sequence instead of repeating its parts.
    */
  private def bandIndexVersionSeed: Seq[String] =
    Seq("minhash-band-index", "v1", "k=5",
      s"nPerm=${minHashSeeds.length}", "rowsPerBand=4")

  def ensureBandIndex(s: SparkSession, d: String, corpus: DataFrame,
      name: String): DataFrame = {
    val cache = new graft.pipeline.StageCache(s,
      graft.pipeline.StageCache.indexRoot)
    cache.stage(name,
      cache.versionHash(bandIndexVersionSeed),
      Seq(s"$d/documents.parquet")) {
      portableBandTable(corpus)
    }
  }

  /** The ingest-loop completion of the stored-index model: after a
    * batch is deduped, the KEPT docs' bands join the index so the next
    * batch dedups against corpus ∪ kept. Dropped docs never enter the
    * index (they are duplicates — their keepers already cover their
    * buckets). Returns the updated logical index; persistence is the
    * caller's (write parquet over/next to the old index — the batch
    * side is small, so this is an append-sized job, not a rebuild).
    * Note the semantics are SEQUENTIAL: docs dropped in batch N cannot
    * cause drops in batch N+1 (their keeper can), which is the policy a
    * real ingest pipeline wants — TextSpec pins it on a 3-batch chain.
    */
  def updateBandIndex(corpusIndex: DataFrame, keptNewDocs: DataFrame)
      : DataFrame =
    corpusIndex.select("doc_id", "band", "bucket")
      .unionByName(portableBandTable(keptNewDocs))

  /** Incremental dedup against a stored band index (see t15 doc): signs
    * only `newDocs`, generates candidates from (new × index) and
    * (new × new) band joins, verifies with the exact-Jaccard kernel
    * over id-keyed text lookups, and anti-joins the drops. `allTexts`
    * must be a (doc_id, text) frame covering corpus + batch ids (an
    * UNFILTERED scan — a `doc_id < 400` filter here would be the
    * full-corpus re-sign smell PlanSpec forbids; text lookups are
    * candidate-driven and cheap). Doc ids must be globally unique.
    * A new doc is dropped if it verifies against ANY corpus doc or a
    * LOWER-id new doc — d2 is the new side in both candidate frames,
    * so the drop set is just `distinct d2`.
    */
  def dedupIncrementalIndexed(corpusIndex: DataFrame, newDocs: DataFrame,
      allTexts: DataFrame, jaccardThreshold: Double): DataFrame =
    dedupIncrementalIndexedBands(corpusIndex,
      portableBandTable(
        newDocs.repartition(
          newDocs.sparkSession.sparkContext.defaultParallelism))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      newDocs, allTexts, jaccardThreshold)

  /** [[dedupIncrementalIndexed]] with the batch band table supplied by
    * the caller — the s05 ingest loop signs each batch ONCE and reuses
    * the same (persisted) bands for both the dedup decision and the
    * kept-docs index delta, instead of running the signature pipeline
    * twice per micro-batch (the second signing was most of the cost of
    * a large batch).
    */
  def dedupIncrementalIndexedBands(corpusIndex: DataFrame,
      newBands: DataFrame, newDocs: DataFrame, allTexts: DataFrame,
      jaccardThreshold: Double): DataFrame = {
    // the batch band table feeds BOTH candidate joins; it is narrow
    // (nBands rows per batch doc) and batch-sized, not corpus-sized.
    // broadcast the BATCH bands into the index join: the index is
    // corpus-sized and must stream map-side through its scan, never
    // shuffle — the batch side is the small one by construction
    val candCorpus = corpusIndex.as("c")
      .join(broadcast(newBands.as("n")),
        col("c.band") === col("n.band") &&
          col("c.bucket") === col("n.bucket"))
      .select(col("c.doc_id").as("d1"), col("n.doc_id").as("d2"))
    val candNew = newBands.as("a")
      .join(newBands.as("b"),
        col("a.band") === col("b.band") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
    val cand = candCorpus.unionByName(candNew).distinct()
    val dropNew = verifiedJaccardPairs(cand, allTexts, jaccardThreshold)
      .select(col("d2").as("doc_id")).distinct()
    // drop list ⊆ batch: broadcast it into the anti-join
    newDocs.select("doc_id")
      .join(broadcast(dropNew), Seq("doc_id"), "left_anti")
  }

  /** Incremental dedup: drop new-batch documents that near-duplicate
    * the EXISTING corpus or an earlier new-batch doc — what a streaming
    * ingestion pipeline runs per batch. Same banded-LSH machinery; the
    * corpus side's signatures would be precomputed/stored in a real
    * deployment (here recomputed — the plan shape is identical).
    * Returns the kept subset of `newDocs`. Doc ids must be globally
    * unique across both frames.
    */
  def dedupIncremental(corpus: DataFrame, newDocs: DataFrame,
      jaccardThreshold: Double): DataFrame = {
    val all = corpus.select(col("doc_id"), col("text"))
      .withColumn("is_new", lit(false))
      .unionByName(newDocs.select(col("doc_id"), col("text"))
        .withColumn("is_new", lit(true)))
    val flags = all.select(col("doc_id"), col("is_new"))
    val pairs = minHashPairs(all.select("doc_id", "text"),
      jaccardThreshold)
    val f1 = flags.withColumnRenamed("doc_id", "d1")
      .withColumnRenamed("is_new", "new1")
    val f2 = flags.withColumnRenamed("doc_id", "d2")
      .withColumnRenamed("is_new", "new2")
    val withFlags = pairs.join(f1, "d1").join(f2, "d2")
    // a new doc is dropped if it pairs with a corpus doc, or with an
    // earlier (lower-id) new doc
    val dropNew = withFlags.select(
      when(col("new1") && !col("new2"), col("d1"))
        .when(col("new2") && !col("new1"), col("d2"))
        .when(col("new1") && col("new2"),
          greatest(col("d1"), col("d2")))
        .as("doc_id"))
      .filter(col("doc_id").isNotNull).distinct()
    newDocs.join(dropNew, Seq("doc_id"), "left_anti")
  }

  /** t12 — TF-IDF top terms per document (relevance scoring — the
    * ranking primitive of corpus search/filtering): term frequencies
    * and document frequencies as two aggregations over one exploded
    * token frame, broadcast-joined; top-3 terms per doc by windowed
    * rank over the ROUNDED score (ln() may differ in last ulp across
    * engines).
    */
  val t12TfIdf: Q = (s, d) => {
    val w = Tables.documents(s, d)
      .filter(col("doc_id") < T12TfIdfScopeMaxId)
      .select(col("doc_id"),
        explode(split(trim(col("text")), "\\s+")).as("term"))
    val tf = w.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = w.distinct().groupBy("term")
      .agg(count(lit(1)).as("df"))
    val n = Tables.documents(s, d)
      .filter(col("doc_id") < T12TfIdfScopeMaxId)
      .agg(count(lit(1)).as("n"))
    val scored = tf.join(broadcast(dfreq), "term").crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"),
        round(col("tf") *
          log(col("n").cast("double") / col("df")), 4).as("tfidf"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id")
      .orderBy(col("tfidf").desc, col("term").asc)
    scored.withColumn("rk", row_number().over(win))
      .filter(col("rk") <= 3)
      .select("doc_id", "rk", "term", "tfidf")
      .orderBy("doc_id", "rk")
  }

  /** t13 — BM25 document scoring for a fixed query (Robertson/Spärck
    * Jones; k1=1.2, b=0.75): the standard retrieval ranking over the
    * same tf/df/length statistics as t12. Top-10 documents for a
    * 3-term query. Broadcast only what is bounded by the QUERY
    * (dfreq: |query| rows; stats: 1 row); the per-document length
    * table `dl` is corpus-sized, so tf ⋈ dl is a keyed shuffle join
    * on doc_id — forcing a broadcast there would OOM at 100 TB.
    */
  val t13Bm25: Q = (s, d) => {
    val k1 = 1.2; val b = 0.75
    val queryTerms = Seq("spark", "window", "hash")
    val docs = Tables.documents(s, d)
    val w = docs.select(col("doc_id"),
      explode(split(trim(col("text")), "\\s+")).as("term"))
    val dl = w.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n"),
      avg("dl").as("avgdl"))
    val tf = w.filter(col("term").isin(queryTerms: _*))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = w.filter(col("term").isin(queryTerms: _*))
      .distinct().groupBy("term").agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfreq), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        (log((col("n") - col("df") + lit(0.5)) /
            (col("df") + lit(0.5)) + lit(1.0)) *
          (col("tf") * lit(k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1 - b) +
            lit(b) * col("dl") / col("avgdl"))))
          .as("term_score"))
      .groupBy("doc_id")
      .agg(round(sum("term_score"), 4).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id").asc)
      .limit(10)
  }

  /** t14 — the end-to-end corpus-curation run every training-data build
    * executes, composed as ONE declarative plan: quality gate (t02
    * rule) → exact dedup (md5 keep-lowest) → near-dedup (portable
    * MinHash-LSH ≥ 0.5, greedy drop-higher-id) → per-language corpus
    * stats. (The t03 lang-ID predictor is deliberately NOT a gate here:
    * the synthetic corpus is English-like under every label, so it
    * would collapse the output to one group.) Every stage is
    * SQL-expressible, so the WHOLE cascade
    * hash-verifies against the DuckDB twin. Stage order is the
    * cost-ladder: cheap map-side gates shrink the corpus before any
    * signature work.
    */
  val t14CorpusCuration: Q = (s, d) => {
    val scored = Tables.documents(s, d)
      .selectExpr("doc_id", "text", "lang",
        "size(split(trim(text), '\\\\s+')) AS n_words",
        "size(array_distinct(split(trim(text), '\\\\s+'))) AS n_distinct")
    val kept = scored
      .filter(expr(
        "n_words >= 20 AND n_distinct / CAST(n_words AS DOUBLE) >= 0.2"))
      .select("doc_id", "text", "lang", "n_words")
    val exactKeep = kept
      .groupBy(md5(col("text").cast("binary")).as("k"))
      .agg(min("doc_id").as("doc_id"))
      .select("doc_id")
    val surv = kept.join(exactKeep, "doc_id")
    val drops = minHashPairsPortable(surv.select("doc_id", "text"), 0.5)
      .select(col("d2").as("doc_id")).distinct()
    surv.join(drops, Seq("doc_id"), "left_anti")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_words").as("total_tokens"))
      .orderBy("lang")
  }

  /** Word n-gram length for the t21 benchmark-decontamination check.
    * Production corpora use 8–13-gram overlap (the FineWeb /
    * GPT-3-appendix convention); the synthetic corpus draws from a
    * ~30-word vocabulary, so 4 is the entropy-equivalent setting that
    * still separates planted overlaps from chance collisions. Oracle
    * SQL interpolates this same constant.
    */
  val DecontamGramLen = 4
  /** Every doc_id ≡ 0 (mod this) is "benchmark/eval"; the rest train. */
  val DecontamEvalMod = 50

  /** t21 — train/eval DECONTAMINATION, the check every serious
    * training-data build runs before shipping a corpus: flag training
    * documents sharing any word n-gram with the held-out benchmark
    * set. Scale shape: the eval side is tiny by construction (a
    * benchmark suite, not a corpus), so its distinct (gram, eval doc)
    * table BROADCASTS and the train side streams map-side through the
    * join — no shuffle of the corpus-sized gram frame, cost is one
    * pass over the training grams regardless of corpus size.
    */
  val t21Decontaminate: Q = (s, d) => {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    decontamFlags(docs, evalGramTable(docs)).orderBy("doc_id")
  }

  /** (doc_id, g) word n-grams of `docs` — the shared kernel of t21's
    * batch check and s09's streaming replay (one definition, so the
    * streaming operator cannot drift from the batch semantics the
    * oracle pins).
    */
  def wordGrams(docs: DataFrame, n: Int): DataFrame =
    docs.select(col("doc_id"), split(trim(col("text")), "\\s+").as("t"))
      .filter(size(col("t")) >= n)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(t) - ${n - 1}), " +
          s"i -> concat_ws(' ', slice(t, i, $n)))")).as("g"))

  /** The held-out benchmark's distinct (gram → owning eval doc) table
    * — tiny by construction (a benchmark suite, not a corpus), the
    * side that broadcasts.
    */
  def evalGramTable(docs: DataFrame): DataFrame =
    wordGrams(docs, DecontamGramLen)
      .filter(col("doc_id") % DecontamEvalMod === 0)
      .groupBy("g").agg(min("doc_id").as("eval_doc"))

  /** Flag the train docs among `docs` that share any gram with the
    * broadcast `evalGrams` table (see t21 doc for the scale shape).
    */
  def decontamFlags(docs: DataFrame, evalGrams: DataFrame): DataFrame =
    wordGrams(docs, DecontamGramLen)
      .filter(col("doc_id") % DecontamEvalMod =!= 0)
      .join(broadcast(evalGrams), "g")
      .groupBy("doc_id")
      .agg(countDistinct("g").as("n_shared"),
        min("eval_doc").as("first_eval_doc"))

  /** t22 — repetition / boilerplate scoring (the Gopher quality
    * rules): per document, the share of bigram occurrences taken by
    * the single most frequent bigram and the fraction of trigram
    * occurrences that are repeats, with the standard flag rule.
    * Map-side explode + two partial-aggregated groupBys keyed by
    * doc_id — repetition of one document never shuffles against
    * another, so the operator scales linearly with corpus size.
    */
  val t22Repetition: Q = (s, d) => {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("t"))
    def gramStats(k: Int) = toks.filter(size(col("t")) >= k)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(t) - ${k - 1}), " +
          s"i -> concat_ws(' ', slice(t, i, $k)))")).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
    val bi = gramStats(2).groupBy("doc_id")
      .agg(round(max("c").cast("double") / sum("c"), 4)
        .as("top_bigram_share"))
    val tri = gramStats(3).groupBy("doc_id")
      .agg(round((sum("c") - count(lit(1))).cast("double") / sum("c"), 4)
        .as("dup_trigram_frac"))
    bi.join(tri, "doc_id")
      .withColumn("flagged",
        col("top_bigram_share") > 0.05 || col("dup_trigram_frac") > 0.02)
      .orderBy("doc_id")
  }

  /** t23 — per-source curation stats (the RefinedWeb/C4 domain-filter
    * shape): each source's doc count, exact-duplicate count (same
    * md5 key as t04), duplicate rate, mean length, and the keep/drop
    * decision. One partial-aggregated groupBy over a map-side
    * projection.
    */
  val t23SourceCuration: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("source"),
        md5(substring(col("text"), 1, 50).cast("binary")).as("k"),
        size(split(trim(col("text")), "\\s+")).as("n_words"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        (count(lit(1)) - countDistinct("k")).as("dup_docs"),
        round((count(lit(1)) - countDistinct("k")).cast("double") /
          count(lit(1)), 4).as("dup_rate"),
        round(avg("n_words"), 2).as("mean_words"))
      .withColumn("keep", col("dup_rate") <= 0.02)
      .orderBy("source")

  /** Word n-gram length for t24 span dedup. Production runs strike
    * 50-token spans (Lee et al.); against the ~30-word synthetic
    * vocabulary 5 is the entropy-equivalent setting — long enough that
    * chance collisions are rare, short enough that the planted
    * near-duplicate docs actually share spans. Oracle SQL interpolates
    * this same constant.
    */
  val SpanDedupK = 5

  /** t24 — span-level exact dedup (Lee et al., "Deduplicating Training
    * Data Makes Language Models Better", ACL'22): instead of dropping
    * whole documents, strike every duplicated word K-gram SPAN —
    * an occurrence is a duplicate iff an identical gram occurs earlier
    * in global (doc_id, position) order, and a duplicate occurrence
    * removes all K word positions it covers; the first occurrence
    * survives in place. Document-level dedup (t04/t06) misses the
    * boilerplate case where distinct pages share paragraphs — this is
    * the operator that catches it.
    *
    * Scale shape: gram construction is map-side array ops inside the
    * row (no per-gram shuffle until the canonicalization), duplicate
    * detection is ONE uniform hash shuffle keyed by the 8-byte
    * xxhash64 of the gram — NOT the raw K-word string: the shuffle
    * row shrinks from ~K words of text to one long, and the window
    * partitions by a uniformly-mixed key so a hot stop-word gram
    * ("of the and of the" at corpus scale) still lands on one
    * partition but without dragging its text bytes through the wire.
    * (Gram identity is a 128-bit key — TWO xxhash64 columns whose
    * inputs differ BEFORE the gram bytes enter the mix: gh1 hashes
    * the gram under the default seed, gh2 hashes a literal salt
    * FIRST, so the gram's string block is folded under a different
    * running-hash state — a genuinely independent second hash.
    * Salting AFTER the gram — xxhash64(g, 1) — would NOT work:
    * Spark folds children left-to-right with the running hash as
    * seed, so that form is a pure function of gh1 and any gh1
    * collision implies a gh2 collision (ADVICE r6). With the salt
    * first, a false strike needs a simultaneous collision in both:
    * ~n²/2¹²⁹ even at 10¹²-gram corpus scale, vs ~n²/2⁶⁵ for one
    * hash which would bite around √2⁶⁴ ≈ 4·10⁹ grams. The DuckDB
    * oracle compares against raw-gram semantics, so any residual
    * collision on test data would surface as a hash mismatch.)
    * Covered-
    * position expansion is bounded by K x duplicate count (not corpus
    * size), and text rebuild is a per-doc sorted aggregation. No
    * all-pairs anything; the suffix-array machinery Lee et al. use
    * single-node becomes a plain first-occurrence window here.
    */
  def spanDedup(docs0: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("gh1", "gh2").orderBy("doc_id", "pos")
    val docs = docs0
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("w"))
    val words = docs.select(col("doc_id"),
      posexplode(col("w")).as(Seq("pos0", "word")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("word"))
    // the gram string exists only transiently inside the row projection;
    // what crosses the exchange is (doc_id, pos, gh1, gh2) — 16 key
    // bytes. The inner transform materializes each gram string once,
    // the outer hashes it twice; the second hash folds a literal salt
    // BEFORE the gram so the string block is mixed under a different
    // effective seed (salt-after would make gh2 a function of gh1 —
    // Spark chains children left-to-right with the running hash as
    // seed; ADVICE r6).
    val grams = docs.filter(size(col("w")) >= k)
      .select(col("doc_id"),
        posexplode(expr(
          s"transform(transform(sequence(1, size(w) - ${k - 1}), " +
            s"i -> concat_ws(' ', slice(w, i, $k))), " +
            "g -> named_struct('g1', xxhash64(g), " +
            "'g2', xxhash64(1, g)))"))
          .as(Seq("pos0", "gh")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"),
        col("gh.g1").as("gh1"), col("gh.g2").as("gh2"))
    val covered = grams
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") > 1)
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (k - 1))).as("pos"))
      .distinct()
    val rebuilt = words
      .join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", expr(
          "transform(array_sort(collect_list(struct(pos, word))), " +
            "x -> x.word)")).as("cleaned_text"))
    docs.select(col("doc_id"), size(col("w")).cast("long").as("n_words"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_words") - coalesce(col("n_kept"), lit(0L)))
          .as("n_removed"),
        coalesce(col("cleaned_text"), lit("")).as("cleaned_text"))
      .orderBy("doc_id")
  }

  val t24SpanDedup: Q = (s, d) =>
    spanDedup(Tables.documents(s, d).select("doc_id", "text"), SpanDedupK)

  /** t26 — SPAN-level decontamination (the Lee et al. ACL'22 span
    * surgery applied to t21's train/eval overlap): instead of
    * dropping a contaminated training document wholesale (t21's
    * decision), strike only the word positions covered by an eval-set
    * n-gram and keep the rest of the document. Composes t24's
    * covered-position/rebuild machinery with t21's broadcast eval-gram
    * table. Scale shape: the eval side is benchmark-sized so its
    * distinct gram set BROADCASTS and the corpus grams stream map-side
    * through the join — unlike t24 there is no canonicalization
    * window, so no corpus-sized gram shuffle exists at all;
    * covered-position expansion is bounded by hit count × gram
    * length, and the text rebuild is a per-doc sorted aggregation.
    * Output is one row per TRAIN document (t24's report shape).
    */
  val t26SpanDecontaminate: Q = (s, d) => {
    val n = DecontamGramLen
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("w"))
    val train = docs.filter(col("doc_id") % DecontamEvalMod =!= 0)
    val words = train.select(col("doc_id"),
        posexplode(col("w")).as(Seq("pos0", "word")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("word"))
    val gramExpr = expr(
      s"transform(sequence(1, size(w) - ${n - 1}), " +
        s"i -> concat_ws(' ', slice(w, i, $n)))")
    val trainGrams = train.filter(size(col("w")) >= n)
      .select(col("doc_id"), posexplode(gramExpr).as(Seq("pos0", "g")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("g"))
    val evalGrams = docs.filter(col("doc_id") % DecontamEvalMod === 0)
      .filter(size(col("w")) >= n)
      .select(explode(gramExpr).as("g"))
      .distinct()
    val covered = trainGrams.join(broadcast(evalGrams), "g")
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (n - 1))).as("pos"))
      .distinct()
    val rebuilt = words
      .join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", expr(
          "transform(array_sort(collect_list(struct(pos, word))), " +
            "x -> x.word)")).as("cleaned_text"))
    train.select(col("doc_id"), size(col("w")).cast("long").as("n_words"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_words") - coalesce(col("n_kept"), lit(0L)))
          .as("n_removed"),
        coalesce(col("cleaned_text"), lit("")).as("cleaned_text"))
      .orderBy("doc_id")
  }

  /** t25 — language-model quality scoring (the CCNet/Gopher filter
    * shape: score every document by an n-gram LM and gate on the
    * score; Wenzek et al., "CCNet", LREC 2020 train a KenLM on a clean
    * reference corpus and bucket by perplexity). Here the LM is a
    * bigram model with add-one smoothing trained ON THE CORPUS ITSELF
    * (self-perplexity — the zero-dependency variant; swapping in a
    * reference-corpus LM table changes no plan shape): per-doc mean
    * log-probability avg ln((c(w1,w2)+1)/(c(w1)+V)), where c(w1) is
    * the context count (Σ_w2 c(w1,w2)) and V the corpus vocabulary.
    * Repetitive or templated text scores HIGH (its bigrams are
    * common), incoherent token soup scores LOW — the gate a curation
    * pipeline applies between the t02 heuristics and dedup.
    *
    * Scale shape: bigram construction is an in-row array transform
    * (one generator, no per-position shuffle); the count tables are
    * partial-aggregated shuffles keyed by bigram/context; the score
    * join is keyed the same way (never all-pairs); V is a 1-row
    * broadcast (the t12/t13 global-stats pattern). Everything is
    * corpus-linear.
    */
  val t25LmQuality: Q = (s, d) =>
    lmQuality(Tables.documents(s, d).select("doc_id", "text"))

  /** The t25 scoring core over any (doc_id, text) frame (see t25 doc;
    * exposed so specs can score synthetic corpora).
    */
  def lmQuality(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
      split(trim(col("text")), "\\s+").as("ws"))
    val words = toks.select(col("doc_id"), explode(col("ws")).as("w"))
    // in-row bigram construction: (ws[i-1], ws[i]) for i in 1..n-1
    val bigrams = toks.filter(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(ws) - 1), " +
          "i -> struct(ws[i - 1] AS w1, ws[i] AS w2))")).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val bc = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
    val cc = bigrams.groupBy("w1").agg(count(lit(1)).as("cw"))
    val v = words.select(countDistinct("w").as("v"))
    bigrams
      .join(bc, Seq("w1", "w2"))
      .join(cc, Seq("w1"))
      .crossJoin(broadcast(v))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(log((col("cb") + 1).cast("double") /
          (col("cw") + col("v")))), 4).as("avg_logp"))
      .orderBy("doc_id")
  }

  /** Snapshot-diff modulus: doc_id mod this picks the synthetic churn
    * classes below. Oracle SQL interpolates the same constants.
    */
  val SnapMod = 10
  /** doc_id ≡ this (mod SnapMod): NEW today (absent from yesterday). */
  val SnapAddedRes = 7
  /** doc_id ≡ this (mod SnapMod): REMOVED today (present yesterday). */
  val SnapRemovedRes = 5
  /** doc_id ≡ this (mod SnapMod): text CHANGED since yesterday
    * (yesterday held the first half of the characters).
    */
  val SnapChangedRes = 3

  /** t33 — corpus SNAPSHOT DIFF (dataset versioning: the audit a
    * training-data build runs between corpus releases — what was
    * added, what was removed, what changed, per source). The two
    * snapshots derive deterministically from the documents table
    * (yesterday = everything but the "new" class, with the "changed"
    * class holding its first half; today = everything but the
    * "removed" class), the diff is a full-outer join on doc_id
    * comparing md5 content fingerprints, and the report is per
    * (source, status) counts with id ranges.
    *
    * Scale shape — the CDC pattern for 100 TB: fingerprints are
    * computed MAP-SIDE on each snapshot scan, so the join shuffles
    * only narrow (doc_id, source, 32-char hash) rows, never document
    * payloads; doc_id keys are unique per side (no skew, no
    * explosion); the status projection is map-side after the join and
    * the final rollup is a partial-aggregated groupBy on (source,
    * status) — a few dozen groups. Diffing two 100 TB snapshots moves
    * two fingerprint tables, not two corpora.
    */
  /** The "yesterday" snapshot's FINGERPRINT table (doc_id, source,
    * h_a) — fingerprints computed map-side on the scan, the artifact a
    * shipped release stores so later diffs never reread its payloads.
    * Shared by t33's batch diff and s10's streaming replay.
    */
  def snapshotPrevFingerprints(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % SnapMod =!= SnapAddedRes)
      .withColumn("text",
        when(col("doc_id") % SnapMod === SnapChangedRes,
          expr("substring(text, 1, CAST(n_chars DIV 2 AS INT))"))
          .otherwise(col("text")))
      .select(col("doc_id"), col("source").as("src_a"),
        md5(col("text").cast("binary")).as("h_a"))

  /** The "today" snapshot's documents (doc_id, source, text). */
  def snapshotCurDocs(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % SnapMod =!= SnapRemovedRes)
      .select("doc_id", "source", "text")

  /** Per-(source, status) rollup of a per-document status frame —
    * t33's report shape, shared with s10 so the streaming replay
    * cannot drift from the batch one.
    */
  def snapshotDiffRollup(status: DataFrame): DataFrame =
    status.groupBy("source", "status")
      .agg(count(lit(1)).as("n_docs"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
      .orderBy("source", "status")

  val t33SnapshotDiff: Q = (s, d) => {
    val docs = Tables.documents(s, d)
      .select("doc_id", "source", "text", "n_chars")
    // fingerprint map-side BEFORE the join: the shuffle carries
    // (doc_id, source, hash), never text
    val a = snapshotPrevFingerprints(docs)
    val b = snapshotCurDocs(docs)
      .select(col("doc_id"), col("source").as("src_b"),
        md5(col("text").cast("binary")).as("h_b"))
    snapshotDiffRollup(
      a.join(b, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          coalesce(col("src_b"), col("src_a")).as("source"),
          when(col("h_a").isNull, "added")
            .when(col("h_b").isNull, "removed")
            .when(col("h_a") =!= col("h_b"), "changed")
            .otherwise("unchanged").as("status")))
  }

  /** t34's keep fraction as an exact ratio (drop the bottom 3/10 of
    * each source by quality value). Oracle SQL interpolates both
    * parts — the cutoff rule is pure integer cross-multiplication, so
    * no float quantile convention has to agree across engines.
    */
  val CurateDropNum = 3
  val CurateDropDen = 10

  /** t34 — per-source QUANTILE-THRESHOLD curation (the C4/RefinedWeb
    * domain-filter shape: within each source, drop every document
    * whose quality score falls below the source's own bottom-30%
    * value). The cutoff per source is the smallest score whose
    * ascending cumulative count strictly exceeds 3/10 of the source's
    * documents; keep = score ≥ cutoff. Threshold semantics (all docs
    * at one score share one fate) is the production rule — a drop-
    * exactly-k rule would need a tie-break inside one score bucket.
    *
    * Scale shape — the q39 sketch-window pattern applied to curation:
    * scoring is a map-side projection; the (source, score) histogram
    * is a partial-aggregated groupBy with ≤ 10001 rows per source
    * (scores live on a fixed 4-decimal grid), so the cumulative walk
    * that finds each cutoff runs windows over SKETCH-sized frames,
    * never corpus rows — the per-source window that a percent_rank
    * formulation would run over the full corpus (one task per source,
    * skew-bound) is exactly what this avoids. Cutoffs broadcast back
    * and the keep filter is map-side. Everything after the one
    * histogram shuffle is bounded by grid size, not corpus size; the
    * cutoff comparison is integer cross-multiplication (cum·10 >
    * n·3), so both engines decide every document identically with no
    * float quantile convention.
    */
  /** The cumulative-threshold histogram walk t34 and t48 share
    * (review r18 — one copy of the tie/threshold machinery): over a
    * pre-aggregated (partitionCols..., valueCol, countCol)
    * histogram, keep the rows whose ascending cumulative count
    * strictly exceeds dropNum/dropDen of the partition total —
    * callers reduce those to their cutoff (min value past the
    * drop). Windows run over the HISTOGRAM, never corpus rows; the
    * threshold compare is integer cross-multiplication, so both
    * engines decide identically with no float convention. With no
    * partition columns the walk is global (t48's weight grid, still
    * histogram-sized).
    */
  private[graft] def histPastDrop(hist: DataFrame, valueCol: String,
      countCol: String, partitionCols: Seq[String], dropNum: Int,
      dropDen: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val part = partitionCols.map(col)
    val wCum = (if (part.isEmpty) Window.orderBy(valueCol)
                else Window.partitionBy(part: _*).orderBy(valueCol))
      .rowsBetween(Window.unboundedPreceding, 0L)
    val wAll = if (part.isEmpty) Window.partitionBy(lit(1))
               else Window.partitionBy(part: _*)
    hist
      .withColumn("cum", sum(countCol).over(wCum))
      .withColumn("n_total", sum(countCol).over(wAll))
      .filter(col("cum") * dropDen > col("n_total") * dropNum)
  }

  val t34QuantileCurate: Q = (s, d) => {
    val scored = Tables.documents(s, d)
      .selectExpr("doc_id", "source",
        "size(split(trim(text), '\\\\s+')) AS n_words",
        "size(array_distinct(split(trim(text), '\\\\s+'))) AS n_distinct")
      // integer floor-division onto the 4-decimal grid: no float
      // anywhere, so no rounding convention has to pair across engines
      .select(col("doc_id"), col("source"), col("n_words"),
        expr("CAST(n_distinct AS BIGINT) * 10000 DIV n_words").as("q"))
    val hist = scored.groupBy("source", "q")
      .agg(count(lit(1)).as("c"))
    val cuts = histPastDrop(hist, "q", "c", Seq("source"),
        CurateDropNum, CurateDropDen)
      .groupBy("source")
      .agg(min("q").as("cutoff"), max("n_total").as("n_total"))
    scored.join(broadcast(cuts), "source")
      .filter(col("q") >= col("cutoff"))
      .groupBy("source")
      .agg(max("n_total").as("n_total"), max("cutoff").as("cutoff"),
        count(lit(1)).as("n_kept"), min("q").as("min_kept_q"),
        sum("n_words").as("kept_words"))
      .orderBy("source")
  }

  // ----------------------------------------------------------------
  // t46 — PII scrub (detect + redact + audit before training)
  // ----------------------------------------------------------------

  /** Portable PII detector patterns — the regex subset where Java
    * (Spark) and RE2 (DuckDB) agree exactly: explicit character
    * classes, bounded quantifiers, ASCII word boundaries; no
    * lookarounds, no backreferences (RE2 has neither, and the
    * BpeishPattern precedent set the same portability bar). ONE
    * runtime constant feeds both engines, so detector and oracle
    * cannot drift. The four classes are the canonical pretraining
    * scrub set: emails, IPv4 addresses, SSN-shaped national ids
    * (3-2-4 digits), NANP-shaped phone numbers (3-3-4). The id and
    * phone shapes cannot partially match each other: a match needs
    * a word boundary then exact field widths, and 2-digit vs
    * 3-digit middle fields make every candidate start fail.
    */
  private[graft] val EmailRe =
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[graft] val Ipv4Re =
    "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  private[graft] val NationalIdRe = "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b"
  private[graft] val PhoneRe = "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"

  /** Deterministic PII augmentation of a documents-shaped frame
    * (t33's snapshot-synthesis precedent): the synthetic corpus
    * carries no PII-shaped strings at all — zero '@' characters —
    * so both engines append the same residue-keyed contact lines
    * before scrubbing. What the oracle then verifies is exactly the
    * cross-engine detect/redact parity: nontrivial positives in
    * four classes, multi-hit docs (the %7 second email), and
    * untouched negatives (residue 0).
    */
  private[graft] def piiAugmentOf(docs: DataFrame): DataFrame =
    docs.withColumn("text",
      concat(col("text"),
        when(pmod(col("doc_id"), lit(5)) === 1,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@mail.example.com for details")))
          .when(pmod(col("doc_id"), lit(5)) === 2,
            concat(lit(" origin 10."),
              pmod(col("doc_id"), lit(200)).cast("string"),
              lit(".3."),
              pmod(col("doc_id"), lit(250)).cast("string"),
              lit(" logged")))
          .when(pmod(col("doc_id"), lit(5)) === 3,
            concat(lit(" case 5"),
              (pmod(col("doc_id"), lit(90)) + 10).cast("string"),
              lit("-"),
              (pmod(col("doc_id"), lit(80)) + 10).cast("string"),
              lit("-"),
              (pmod(col("doc_id"), lit(9000)) + 1000).cast("string"),
              lit(" filed")))
          .when(pmod(col("doc_id"), lit(5)) === 4,
            concat(lit(" call 555-"),
              (pmod(col("doc_id"), lit(800)) + 100).cast("string"),
              lit("-"),
              (pmod(col("doc_id"), lit(9000)) + 1000).cast("string"),
              lit(" today")))
          .otherwise(lit("")),
        when(pmod(col("doc_id"), lit(7)) === 0,
          concat(lit(" cc ops"), col("doc_id").cast("string"),
            lit("@corp.example.net asap")))
          .otherwise(lit(""))))

  /** Ordered sequential redaction: email → ip → id → phone. The
    * order is part of the contract (both engines apply the same
    * nesting); replacement tokens contain no digits or dots, so a
    * redaction can never create a new match for a later pattern.
    */
  private[graft] def piiRedact(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(c, lit(EmailRe), lit("<EMAIL>")),
          lit(Ipv4Re), lit("<IP>")),
        lit(NationalIdRe), lit("<ID>")),
      lit(PhoneRe), lit("<PHONE>"))

  /** t46's per-document scrub over an arbitrary (doc_id, source,
    * text) frame — shared with s23's streaming admission twin (the
    * scrub is per-document pure, so the per-batch union equals the
    * batch run). Pure map-side projection: per-class match counts,
    * the ordered redaction, and a compact audit fingerprint of the
    * redacted text (substr(md5) — the t33 portable-hash precedent);
    * no shuffle at any scale beyond the presentation sort.
    */
  private[graft] def piiScrubOf(docs: DataFrame): DataFrame =
    docs.select(
        col("doc_id"), col("source"),
        size(regexp_extract_all(col("text"), lit(EmailRe), lit(0)))
          .as("n_emails"),
        size(regexp_extract_all(col("text"), lit(Ipv4Re), lit(0)))
          .as("n_ips"),
        size(regexp_extract_all(col("text"), lit(NationalIdRe),
          lit(0))).as("n_ids"),
        size(regexp_extract_all(col("text"), lit(PhoneRe), lit(0)))
          .as("n_phones"),
        piiRedact(col("text")).as("red"))
      .withColumn("pii_total",
        col("n_emails") + col("n_ips") + col("n_ids") +
          col("n_phones"))
      .withColumn("needs_review", (col("pii_total") >= 2).cast("int"))
      .withColumn("redacted_sig", substring(md5(col("red")), 1, 16))
      .withColumn("n_chars_redacted", length(col("red")))
      .drop("red")
      .orderBy("doc_id")

  /** t46 — PII SCRUB (the redaction pass every pretraining corpus
    * takes before tokenization): detect four canonical PII classes,
    * count them per document, redact them in a fixed order, and
    * emit the audit row (counts, review flag, redacted-text
    * fingerprint) curation dashboards and compliance reviews read.
    */
  val t46PiiScrub: Q = (s, d) =>
    piiScrubOf(piiAugmentOf(Tables.documents(s, d)))

  // ----------------------------------------------------------------
  // t47 — fuzzy entity resolution (edit-distance dedup, blocked)
  // ----------------------------------------------------------------

  /** Registry vocabulary for t47's synthesized entity names. 16
    * words, no adjacent-equal letters (so the transposition
    * corruption is always a real edit). The registry is derived
    * from the documents keys by BOTH engines with the same
    * arithmetic — the t46/t33 deterministic-synthesis precedent.
    */
  private[graft] val FuzzyWords = Seq("anchor", "bright", "cobalt",
    "dragon", "ember", "falcon", "garnet", "harbor", "indigo",
    "jasper", "kelvin", "lumen", "marble", "nickel", "ocean",
    "pearl")

  /** Hot-cell refinement budget for t47's adaptive escalation: the
    * largest clean-side (block-key, length) cell a single shuffle
    * key may carry before the pass lengthens that cell's key to 4
    * chars. Shared verbatim with the DuckDB oracle so both engines
    * make identical routing decisions on identical data. Deploys
    * tune it to the per-task refinement budget (cell² comparisons);
    * the default is low enough that the sf0.1 registry's natural
    * 250-name cells exercise the escalated route under the oracle.
    */
  private[graft] val FuzzyHotBudget = 100

  /** The clean registry: key k → `w[(7k)%16]-w[(13k)%16]-k`. The
    * integer suffix makes every name unique; `wlen` (the two word
    * lengths) parameterizes the corruption positions below.
    */
  private[graft] def fuzzyRegistryOf(keys: DataFrame): DataFrame = {
    val words = array(FuzzyWords.map(lit): _*)
    keys.select(col("k"),
        element_at(words,
          (pmod(col("k") * 7, lit(16)) + 1).cast("int")).as("w1"),
        element_at(words,
          (pmod(col("k") * 13, lit(16)) + 1).cast("int")).as("w2"))
      .select(col("k"),
        concat(col("w1"), lit("-"), col("w2"), lit("-"),
          col("k").cast("string")).as("name"),
        (length(col("w1")) + length(col("w2"))).cast("int")
          .as("wlen"))
  }

  /** The dirty side: exactly ONE residue-keyed edit per name —
    * deletion, substitution (with '9', which never appears in the
    * word region), or adjacent transposition, all positioned inside
    * the word region so the unique integer suffix stays clean; or
    * an appended character. One edit cannot touch both the 3-char
    * prefix and the 3-char suffix, which is what makes the
    * two-pass blocking below complete.
    */
  private[graft] def fuzzyDirtyOf(reg: DataFrame): DataFrame = {
    val n = col("name")
    val p = (pmod(col("k"), col("wlen") + 1) + 1).cast("int")
    val pt = (pmod(col("k"), col("wlen")) + 1).cast("int")
    reg.select(col("k"),
      when(pmod(col("k"), lit(4)) === 0,
        concat(n.substr(lit(1), p - 1), n.substr(p + 1, lit(100))))
        .when(pmod(col("k"), lit(4)) === 1,
          concat(n.substr(lit(1), p - 1), lit("9"),
            n.substr(p + 1, lit(100))))
        .when(pmod(col("k"), lit(4)) === 2,
          concat(n.substr(lit(1), pt - 1), n.substr(pt + 1, lit(1)),
            n.substr(pt, lit(1)), n.substr(pt + 2, lit(100))))
        .otherwise(concat(n, lit("x")))
        .as("dirty_name"))
  }

  /** t47's matcher over arbitrary clean (k, name) / dirty
    * (k, dirty_name) frames: MULTI-PASS BLOCKING — candidates from
    * the 3-char-prefix block UNION the 3-char-suffix block (a
    * single edit cannot corrupt both keys, so recall is complete by
    * construction; single-pass prefix blocking alone would lose
    * every edit landing in the first three characters) — then
    * Levenshtein refinement at threshold 2 (one edit costs 1, a
    * transposition 2 under plain Levenshtein), then a deterministic
    * best-match pick (min distance, ties to the smallest clean id).
    * The 100 TB shape of entity resolution: candidate generation is
    * two bounded-block equi-joins that shuffle on the block keys —
    * never the all-pairs cross join — and the quadratic refinement
    * runs only inside candidate pairs.
    *
    * HOT-BLOCK SKEW (review r15): real name corpora are zipfian on
    * prefixes (the reference's analogue: utility names all starting
    * "Alaska …"), and with `lengthBand = false` a hot 3-char block
    * is ONE shuffle key — its refinement runs single-task and
    * quadratic in the block size. The default composite block key
    * (prefix, length) splits it: |len(a) − len(b)| ≤ distance, so a
    * dirty name need only meet clean names within ±2 of its length
    * — the dirty side replicates across the 5 length deltas (cheap:
    * it is the smaller batch side at scale) and the join shuffles
    * on BOTH key parts, turning one hot key into one per (prefix,
    * length) with strictly fewer in-block pairs. Recall is
    * unchanged — a pruned pair can never pass the ≤2 threshold.
    *
    * HOT-CELL ESCALATION (review r16): a corpus that concentrates
    * one prefix AND one length re-creates a single hot (prefix,
    * length) cell, and the in-cell refinement is still quadratic in
    * it. The adaptive escalation makes that a measured decision,
    * not a comment: per pass, clean-side cell sizes are aggregated
    * (a map-side-combinable count over at most |corpus| tiny
    * groups), cells with more than `hotBudget` members — the
    * refinement budget a single shuffle key may carry — are
    * broadcast as a hot set, and rows in a hot cell join on the
    * LENGTHENED key (pre4/suf4) instead of the 3-char one, splitting
    * the cell wherever names diverge at the fourth character. Both
    * sides route by the SAME (3-char key, length) lookup, so a pair
    * is always compared under one regime: cold pairs on key3, hot
    * pairs on key4 — realized as a single computed `bkey` join
    * column (3-char and 4-char keys can never collide: different
    * lengths). Recall contract: the two-pass argument survives the
    * lengthening for names of length ≥ 9 — a single edit at
    * position p corrupts pre4 only when p ≤ 4 and suf4 only when
    * p ≥ len−3 (a transposition spans two adjacent positions),
    * which cannot both hold at len ≥ 9 — so the hot set keeps the
    * ≥ 9 guard and shorter names stay on the 3-char key.
    *
    * ESCALATION LADDER, COMPLETED (review r17 item 1): cells hot
    * even under the 4-char key (names sharing ≥ 4 leading chars at
    * one length — "Alaska …" registries) lengthen once more to
    * pre5/suf5 (recall guard len ≥ 11, the same two-pass argument
    * one character deeper), and whatever remains hot on the FINAL
    * routed key — names indistinguishable to every key rung — is
    * SALTED: clean rows hash into ceil(n/budget) shards, dirty rows
    * replicate across them. Salting never changes the candidate set
    * (each dirty row still meets the whole cell), so recall and the
    * oracle are untouched; it converts the one quadratic single-task
    * shuffle key into budget-sized keys refined in parallel —
    * per-task work linear in the cell, the blocking-scheme floor,
    * since an indistinguishable cell's pairs are genuine candidates
    * that must be compared somewhere. Every regime — flat, banded,
    * key4-escalated, full-ladder — was priced on a 30%-hot registry,
    * a prefix-AND-length-concentrated one, and a 4-shared-leading-
    * chars one (receipts: scalecheck_r17.json, scalecheck_r18.json).
    *
    * MAXIMAL-PREFIX RUNG (r19): the k=32/64 extension of the conc4
    * probe showed salt alone is NOT a floor when cells sharing pre5
    * at one length keep growing with the corpus (word-built names:
    * 8× wall time for 2× names once 16 mega-cells carry ~70% of the
    * mass). Cells still hot at key5 now route — PRE-pass only — to
    * pre_{blen−7}, the longest prefix the two-pass recall argument
    * admits while the suf ladder caps at suf5 (see the rung comment
    * in-line for the argument and the deliberate asymmetry). Salt
    * remains the last rung, now only for names identical up to
    * their final ≤ 7 characters — a genuine indistinguishability
    * floor. Unlike salt, this rung PRUNES candidates, so the oracle
    * mirrors it (hp5 + the substr equality in the pre-side chain).
    */
  private[graft] def fuzzyResolveOf(clean: DataFrame,
      dirty: DataFrame, lengthBand: Boolean = true,
      hotBudget: Int = FuzzyHotBudget,
      // TextSpec's reference regimes (production and the oracle
      // always run the full ladder)
      deepKey: Boolean = true, saltHot: Boolean = true,
      maxKey: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = clean.select(col("k").as("clean_id"),
      col("name").as("clean_name"),
      substring(col("name"), 1, 3).as("pre"),
      substring(col("name"), 1, 4).as("pre4"),
      substring(col("name"), 1, 5).as("pre5"),
      col("name").substr(length(col("name")) - 2, lit(3)).as("suf"),
      col("name").substr(length(col("name")) - 3, lit(4)).as("suf4"),
      col("name").substr(length(col("name")) - 4, lit(5)).as("suf5"),
      length(col("name")).cast("int").as("blen"))
    val dd = dirty.select(col("k").as("dirty_id"), col("dirty_name"),
      substring(col("dirty_name"), 1, 3).as("pre"),
      substring(col("dirty_name"), 1, 4).as("pre4"),
      substring(col("dirty_name"), 1, 5).as("pre5"),
      col("dirty_name").substr(length(col("dirty_name")) - 2, lit(3))
        .as("suf"),
      col("dirty_name").substr(length(col("dirty_name")) - 3, lit(4))
        .as("suf4"),
      col("dirty_name").substr(length(col("dirty_name")) - 4, lit(5))
        .as("suf5"))
    def pass(key: String): DataFrame =
      if (!lengthBand)
        dd.select("dirty_id", "dirty_name", key)
          .join(c.select("clean_id", "clean_name", key), key)
          .select("dirty_id", "dirty_name", "clean_id", "clean_name")
      else {
        val k4 = key + "4"
        val k5 = key + "5"
        val dx = dd.select(col("dirty_id"), col("dirty_name"),
            col(key), col(k4), col(k5),
            explode(array((-2 to 2).map(lit(_)): _*)).as("delta"))
          .withColumn("blen",
            (length(col("dirty_name")) + col("delta")).cast("int"))
        val cx = c.select(col("clean_id"), col("clean_name"),
          col(key), col(k4), col(k5), col("blen"))
        if (hotBudget == Int.MaxValue)
          // escalation off: the pure composite (key, length) join
          dx.join(cx, Seq(key, "blen"))
            .select("dirty_id", "dirty_name", "clean_id",
              "clean_name")
        else {
          // escalation ladder, rungs 1+2: clean-side cell counts at
          // key3 and key4 granularity (map-side-combinable, tiny
          // outputs, broadcast). Deliberately three separate
          // aggregation scans, NOT one cached finest-granularity
          // count: the persist variant was measured 2× SLOWER at
          // sf0.1 (3.5 → 7.1 s — cache materialization plus
          // InMemoryRelation rescans cost more than the cheap
          // re-aggregations), and at 100 TB each scan is map-side
          // combinable to cell-count size, so the three partial-agg
          // passes pipeline over the same input at scan speed.
          // A (key4, blen) cell above budget
          // implies its (key3, blen) parent is too, so the nested
          // when() routes both sides of any candidate pair
          // identically — the pair shares (key3, blen) by
          // construction, and key4 divergence under a hot3 cell
          // prunes it at EITHER rung (bkey inequality), keeping the
          // r17 routing contract. Recall guards: len ≥ 9 for key4
          // (one edit event spans ≤ 2 adjacent positions, so it
          // cannot corrupt both pre4 and suf4 at len ≥ 9), len ≥ 11
          // for key5 by the same argument one character deeper.
          val hot3 = cx.groupBy(col(key), col("blen"))
            .agg(count(lit(1)).as("cell_n"))
            .filter(col("cell_n") > hotBudget && col("blen") >= 9)
            .select(col(key), col("blen"), lit(1).as("hot3"))
          val hot4 = cx.groupBy(col(k4), col("blen"))
            .agg(count(lit(1)).as("cell_n"))
            .filter(col("cell_n") > hotBudget && col("blen") >= 11)
            .select(col(k4), col("blen"), lit(1).as("hot4"))
          // MAXIMAL-PREFIX rung (r19 — the fuzzy_conc4 k=32/64 probe
          // refuted "salt is the floor": word-registry corpora
          // collapse into cells sharing pre5 AT ONE LENGTH whose
          // members still differ deep inside the string, and salting
          // spreads but cannot shrink their quadratic pair mass).
          // Cells hot even at key5 — PRE-pass only — route to the
          // LONGEST prefix the two-pass recall argument allows:
          // pre_{blen−7}, everything but the last 7 characters.
          // Completeness: the suf-pass ladder caps at suf5, so an
          // edit event (span ≤ 2) corrupting pre_{blen−7} starts at
          // p ≤ blen−7 and cannot also corrupt suf5 (needs
          // p ≥ blen−6) — the suf-pass catches it at whatever rung
          // its cell routed; a trailing edit corrupting any suf key
          // starts at p ≥ blen−6 > blen−7 and leaves the maximal
          // prefix intact, so the pre-pass catches it. Asymmetry is
          // deliberate: ONE pass may hold a maximal key only while
          // the other stays bounded (a+b+2 ≤ blen), and real
          // registries are prefix-heavy ("Alaska … No. 123"), so the
          // discriminating tail is exactly what pre_{blen−7}
          // reaches. blen ≥ 13 keeps the rung a strict lengthening
          // of pre5; what is STILL hot after it — names identical
          // but for their last ≤ 7 characters — falls through to
          // salt, now a genuine indistinguishability floor.
          // Mirrored in the oracle as a substr equality under the
          // hp5/hs5-less pre-side chain (suf side unchanged).
          val useMax = maxKey && deepKey && key == "pre"
          val hot5 = cx.groupBy(col(k5), col("blen"))
            .agg(count(lit(1)).as("cell_n"))
            .filter(col("cell_n") > hotBudget && col("blen") >= 13 &&
              lit(useMax))
            .select(col(k5), col("blen"), lit(1).as("hot5"))
          def route(df: DataFrame, nameCol: Column): DataFrame = {
            val tagged =
              if (deepKey) df
                .join(broadcast(hot3), Seq(key, "blen"), "left")
                .join(broadcast(hot4), Seq(k4, "blen"), "left")
                .join(broadcast(hot5), Seq(k5, "blen"), "left")
              else df
                .join(broadcast(hot3), Seq(key, "blen"), "left")
                .withColumn("hot4", lit(null).cast("int"))
                .withColumn("hot5", lit(null).cast("int"))
            tagged.withColumn("bkey",
              when(col("hot5") === 1,
                nameCol.substr(lit(1), col("blen") - 7))
                .when(col("hot4") === 1, col(k5))
                .when(col("hot3") === 1, col(k4))
                .otherwise(col(key)))
          }
          // final rung — SALT, not split (review r17 item 1): a cell
          // the key ladder cannot split (names sharing ≥ 5 leading
          // chars at one length) is re-counted on its FINAL routed
          // key; still-hot cells get ceil(n/budget) salt shards
          // (capped), clean rows hash into one shard, dirty rows
          // replicate across all of them. The candidate SET is
          // unchanged — every dirty row still meets every clean row
          // of its cell — so recall, results, and the DuckDB oracle
          // are untouched; what changes is the shuffle: one
          // quadratic single-task key becomes `nsalt` budget-sized
          // keys refined in parallel. Per-task work is then
          // O(|dirty-in-cell| · budget) — linear, not quadratic, in
          // the cell — which is the information-theoretic floor for
          // blocking: names indistinguishable to every key ARE
          // mutual candidates and must be compared; salting spreads
          // that inherent work across the cluster instead of one
          // executor core.
          val rc = route(cx, col("clean_name"))
          val salted = rc.groupBy(col("bkey"), col("blen"))
            .agg(count(lit(1)).as("cell_n"))
            .filter(col("cell_n") > hotBudget && lit(saltHot))
            .select(col("bkey"), col("blen"),
              least(ceil(col("cell_n") / lit(hotBudget.toDouble)),
                lit(64)).cast("int").as("nsalt"))
          def withSalt(df: DataFrame): DataFrame = df
            .join(broadcast(salted), Seq("bkey", "blen"), "left")
            .withColumn("nsalt", coalesce(col("nsalt"), lit(1)))
          withSalt(route(dx, col("dirty_name")))
            .withColumn("salt",
              explode(sequence(lit(0), col("nsalt") - 1)))
            .select("dirty_id", "dirty_name", "bkey", "blen", "salt")
            .join(withSalt(rc)
              .withColumn("salt",
                pmod(col("clean_id"), col("nsalt")).cast("int"))
              .select("clean_id", "clean_name", "bkey", "blen",
                "salt"),
              Seq("bkey", "blen", "salt"))
            .select("dirty_id", "dirty_name", "clean_id",
              "clean_name")
        }
      }
    val cand = pass("pre").unionByName(pass("suf")).distinct()
    cand
      .withColumn("n_candidates",
        count(lit(1)).over(Window.partitionBy("dirty_id"))
          .cast("int"))
      // bounded edit distance: the 3-arg form abandons a pair as
      // soon as the running distance exceeds the threshold (returns
      // -1), turning the refinement from O(|a|·|b|) into
      // O(threshold·min(|a|,|b|)) per candidate — the difference
      // that matters when blocks carry long strings at scale. Kept
      // rows (distance ≤ 2) get the exact distance either way, so
      // the oracle's plain levenshtein agrees on every output row.
      .withColumn("distance",
        levenshtein(col("dirty_name"), col("clean_name"), 2))
      .filter(col("distance") >= 0 && col("distance") <= 2)
      .withColumn("rk", row_number().over(Window
        .partitionBy("dirty_id")
        .orderBy(col("distance"), col("clean_id"))))
      .filter(col("rk") === 1)
      .select(col("dirty_id"), col("clean_id").as("match_id"),
        col("distance"), col("n_candidates"),
        (col("clean_id") === col("dirty_id")).cast("int")
          .as("is_correct"))
      .orderBy("dirty_id")
  }

  /** t47 — FUZZY ENTITY RESOLUTION (edit-distance dedup, the record-
    * linkage member of the dedup family next to token/shingle-based
    * t05–t08): resolve a corrupted registry against its clean
    * counterpart via blocked Levenshtein matching. Both sides are
    * synthesized deterministically from the documents keys (the
    * corpus has no near-identical short strings of its own), so the
    * oracle hash-match proves the cross-engine parity of blocking,
    * edit-distance, threshold, and tie-break — and `is_correct`
    * audits ground-truth accuracy in the result itself.
    */
  val t47FuzzyResolve: Q = (s, d) => {
    val reg = fuzzyRegistryOf(
      Tables.documents(s, d).select(col("doc_id").as("k")))
    fuzzyResolveOf(reg, fuzzyDirtyOf(reg))
  }

  // ----------------------------------------------------------------
  // t48 — DSIR importance selection (hashed n-gram models)
  // ----------------------------------------------------------------

  /** DSIR feature-hash width: word bigrams hash into this many
    * buckets. The models are ≤ this many rows BY CONSTRUCTION — the
    * feature-hashing step is exactly what makes DSIR feasible at
    * 100 TB (the model is sketch-sized no matter the corpus). Oracle
    * SQL interpolates the same constant.
    */
  val DsirBuckets = 4096L
  /** Target distribution: documents whose lang equals this train the
    * target hashed-n-gram model (the "clean reference corpus" seat —
    * swapping in a curated reference table changes no plan shape).
    */
  val DsirTargetLang = "en"
  /** Keep fraction as an exact ratio: drop the bottom Num/Den of the
    * corpus by importance weight (keep the top quarter). Pure integer
    * cross-multiplication, the t34 convention.
    */
  val DsirDropNum = 3
  val DsirDropDen = 4

  /** t48 — DSIR-style IMPORTANCE SELECTION (the data-mixture member
    * that picks raw-corpus documents most like a target distribution:
    * Xie et al., "Data Selection for Language Models via Importance
    * Resampling", NeurIPS 2023). Word bigrams hash into
    * [[DsirBuckets]] buckets; a target model (bucket counts over
    * [[DsirTargetLang]] documents) and a raw model (bucket counts
    * over the whole corpus) are both add-one smoothed; every
    * document's importance weight is its mean per-gram log ratio
    * round(avg(ln p̂_tgt(b) − ln p̂_raw(b)), 4) — the mean (not DSIR's
    * sum) keeps the weight length-invariant, the t25 scoring
    * convention. Selection is deterministic top-quarter by weight
    * with threshold semantics (every doc at the cutoff weight keeps —
    * the paper's Gumbel sampling is replaced by the reproducible
    * variant, as t31 replaced uniform sampling with min-k). The
    * report is per-source: how much of each raw source the
    * target-matched mixture admits — the judgement DSIR exists to
    * make.
    *
    * Scale shape: gram construction + hashing are map-side (native
    * codegen'd [[graft.functions.Md5Hash48]]); the two model builds
    * are partial-aggregated shuffles onto ≤ [[DsirBuckets]] keys;
    * scoring joins the corpus-sized gram stream against the
    * BROADCAST model (≤ 4096 rows joined on bucket — never a
    * corpus-sized build side) plus the 1-row totals frame, then
    * reduces per doc_id in one shuffle. The cutoff reuses t34's
    * histogram walk: the global cumulative window runs over the
    * (weight → count) histogram — bounded by the 4-decimal score
    * grid, never corpus rows — and the cutoff broadcasts back so the
    * keep filter is map-side. Documents under 2 tokens have no
    * bigrams and sit out (no feature evidence either way), the same
    * boundary t25 draws.
    *
    * The smoothed model is COLLECTED once (≤ [[DsirBuckets]] rows —
    * the bounded-model-artifact rule the IVF centroids and BPE merge
    * lists follow) and re-broadcast as a literal frame: both models
    * come out of ONE conditional-aggregate gram scan, and neither
    * scoring branch re-derives them. The corpus is scanned three
    * times total (model build + the two scored branches the t34
    * cutoff shape always pays); a production pipeline persisting the
    * scored frame would pay two.
    */
  /** The collected DSIR model artifact: hashed-bucket rows
    * (bucket, raw count, target count) plus the smoothed
    * denominators — bounded at [[DsirBuckets]] rows, the shippable
    * model a deployment trains once and applies at the ingest door
    * (s27).
    */
  case class DsirModel(rows: Seq[(Long, Long, Long)],
      nrB: Double, ntB: Double)

  /** Hashed-bigram stream of a (doc_id, text, lang, source) frame:
    * one row per gram, carrying the model bucket. Map-side
    * (generator + native md5-48); shared by model training and
    * scoring.
    */
  private def dsirGramsOf(docs: DataFrame): DataFrame = docs
    .withColumn("ws", split(trim(col("text")), "\\s+"))
    .filter(size(col("ws")) >= 2)
    .withColumn("g", explode(expr(
      "transform(sequence(1, size(ws) - 1), " +
        "i -> concat(ws[i - 1], ' ', ws[i]))")))
    .withColumn("b",
      pmod(h48(docs.sparkSession, col("g")), lit(DsirBuckets)))
    .select("doc_id", "source", "lang", "b")

  /** Train both hashed models from ONE conditional-aggregate gram
    * scan: cr counts every gram, ct only target-language grams;
    * ≤ [[DsirBuckets]] rows by construction, collected under the
    * bounded-model rule (the IVF-centroid precedent).
    */
  def dsirModelOf(docs: DataFrame): DsirModel = {
    val rows = dsirGramsOf(docs)
      .groupBy("b")
      .agg(count(lit(1)).as("cr"),
        sum(when(col("lang") === DsirTargetLang, 1L).otherwise(0L))
          .as("ct"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq
    DsirModel(rows,
      (rows.map(_._2).sum + DsirBuckets).toDouble,
      (rows.map(_._3).sum + DsirBuckets).toDouble)
  }

  /** Score any (doc_id, text, lang, source) frame against a FIXED
    * model: per-document smoothed mean log importance ratio on the
    * 4-decimal grid. Per-document pure given the model — the
    * property that makes the streaming admission twin (s27) exact.
    * Returns (doc_id, source, n_grams, w).
    */
  def dsirScoreWith(docs: DataFrame, m: DsirModel): DataFrame = {
    val model = {
      import docs.sparkSession.implicits._
      m.rows.toDF("b", "cr", "ct")
    }
    // LEFT join: a gram hashing to a bucket the training corpus
    // never occupied still scores, at the add-one smoothing floor
    // ln(1/ntB) − ln(1/nrB) — an inner join would silently drop the
    // novel grams that make a serve-time document novel, and a doc
    // made entirely of them would get no verdict at all (review
    // r18). On the training corpus itself every bucket is occupied
    // and the two joins are identical — which is why only the
    // foreign-model spec can see the difference.
    dsirGramsOf(docs)
      .join(broadcast(model), Seq("b"), "left")
      .groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n_grams"),
        // + 0.0 normalizes IEEE negative zero: Spark's round goes
        // through BigDecimal (no signed zero → +0.0) while DuckDB
        // keeps the double's sign (−0.0), and the per-document
        // oracle compare reads the raw doubles
        (round(avg(
          log((coalesce(col("ct"), lit(0L)) + 1).cast("double") /
            lit(m.ntB)) -
            log((coalesce(col("cr"), lit(0L)) + 1).cast("double") /
              lit(m.nrB))), 4)
          + lit(0.0)).as("w"))
  }

  /** The t48 scoring core over any (doc_id, text, lang, source)
    * frame (exposed so specs can score synthetic corpora): train
    * the model on the frame itself, score the frame with it.
    */
  def dsirScoredOf(docs: DataFrame): DataFrame =
    dsirScoreWith(docs, dsirModelOf(docs))

  /** The 1-row top-quarter cutoff frame over a scored frame — the
    * shared histogram walk ([[histPastDrop]]) over the 4-decimal
    * weight grid (lazy: t48 broadcasts it in-plan; s27 collects the
    * single double once as the deployed admission threshold).
    */
  def dsirCutOf(scored: DataFrame): DataFrame =
    histPastDrop(scored.groupBy("w").agg(count(lit(1)).as("c")),
      "w", "c", Seq.empty, DsirDropNum, DsirDropDen)
      .agg(min("w").as("cutoff"))

  val t48DsirSelect: Q = (s, d) => {
    val scored = dsirScoredOf(Tables.documents(s, d)
      .select("doc_id", "text", "lang", "source"))
    // global cutoff over the (w -> count) histogram (t34's walk,
    // unpartitioned but HISTOGRAM-sized: the frame is the 4-decimal
    // score grid, not corpus rows)
    val cut = dsirCutOf(scored)
    // n_scored = docs with ≥ 2 tokens (every such doc has ≥ 1 gram
    // and exactly one scored row): a bare scan + agg, so the
    // denominator branch never replays the gram/model pipeline
    val perSource = Tables.documents(s, d)
      .filter(size(split(trim(col("text")), "\\s+")) >= 2)
      .groupBy("source").agg(count(lit(1)).as("n_scored"))
    scored.crossJoin(broadcast(cut))
      .filter(col("w") >= col("cutoff"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_sel"),
        sum("n_grams").as("sel_grams"),
        max(col("cutoff")).as("cutoff"),
        min("w").as("min_sel_w"),
        // weights live on the 4-decimal grid, so summing them as
        // scaled integers is EXACT — a re-rounded float avg sits on
        // a rounding boundary whenever the mean lands on .00005 and
        // engines then disagree by 1e-4 (observed at sf0.01)
        sum(expr("CAST(round(w * 10000) AS BIGINT)")).as("sum_w4"))
      .join(broadcast(perSource), "source")
      .select(col("source"), col("n_scored"), col("n_sel"),
        col("sel_grams"), col("cutoff"), col("min_sel_w"),
        col("sum_w4"))
      .orderBy("source")
  }

  /** Shared oracle CTE prefix for the DSIR family: hashed models,
    * per-document weights, and the top-quarter cutoff — t48's report
    * and s27's per-document admission verdict both select from it,
    * so the two oracles cannot drift.
    */
  private[graft] val dsirCteSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, source, lang,
       |    string_split_regex(trim(text), '\\s+') AS ws
       |  FROM documents),
       |grams AS (
       |  SELECT doc_id, source, lang,
       |    ${h48Sql("ws[i] || ' ' || ws[i + 1]")}
       |      % $DsirBuckets AS b
       |  FROM (SELECT doc_id, source, lang, ws,
       |          unnest(range(1, len(ws))) AS i
       |        FROM toks WHERE len(ws) >= 2)),
       |raw AS (SELECT b, CAST(count(*) AS BIGINT) AS cr
       |        FROM grams GROUP BY b),
       |tgt AS (SELECT b, CAST(count(*) AS BIGINT) AS ct
       |        FROM grams WHERE lang = '$DsirTargetLang'
       |        GROUP BY b),
       |model AS (SELECT raw.b, raw.cr, COALESCE(tgt.ct, 0) AS ct
       |          FROM raw LEFT JOIN tgt ON raw.b = tgt.b),
       |tot AS (SELECT COALESCE(
       |          (SELECT CAST(sum(cr) AS BIGINT) FROM raw), 0)
       |          AS nr,
       |        COALESCE(
       |          (SELECT CAST(sum(ct) AS BIGINT) FROM tgt), 0)
       |          AS nt),
       |scored AS (
       |  SELECT g.doc_id, g.source,
       |    CAST(count(*) AS BIGINT) AS n_grams,
       |    round(avg(
       |      ln(CAST(COALESCE(m.ct, 0) + 1 AS DOUBLE)
       |         / (t.nt + $DsirBuckets))
       |      - ln(CAST(COALESCE(m.cr, 0) + 1 AS DOUBLE)
       |           / (t.nr + $DsirBuckets))), 4) + 0.0 AS w
       |  FROM grams g LEFT JOIN model m ON g.b = m.b CROSS JOIN tot t
       |  GROUP BY g.doc_id, g.source),
       |hist AS (SELECT w, count(*) AS c FROM scored GROUP BY w),
       |cum AS (
       |  SELECT w,
       |    CAST(sum(c) OVER (ORDER BY w
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS BIGINT) AS cum,
       |    CAST(sum(c) OVER () AS BIGINT) AS n_total
       |  FROM hist),
       |cut AS (SELECT min(w) AS cutoff FROM cum
       |        WHERE cum * $DsirDropDen > n_total * $DsirDropNum)"""
      .stripMargin

  /** s27's oracle: the per-document scored/admitted manifest from
    * the same CTEs (SparkEntry registers it under the streaming
    * query name).
    */
  val dsirPerDocOracleSql: String =
    s"""$dsirCteSql
       |SELECT s.doc_id, s.source, s.n_grams, s.w,
       |  s.w >= c.cutoff AS admitted
       |FROM scored s CROSS JOIN cut c
       |ORDER BY s.doc_id""".stripMargin

  // -------------------------------------------------------------
  // t49 — Bloom-gated decontamination against a LARGE reference
  // -------------------------------------------------------------

  /** Target false-positive rate of the t49 pre-filter sketch. Purely
    * a THROUGHPUT knob: false positives survive the gate only to die
    * in the exact verify join, so the result is identical at any
    * setting — 1% keeps the survivor shuffle ~overlap-sized.
    */
  val BloomFpp = 0.01

  /** Reference/candidate split for t49: odd doc_ids play the "prior
    * 100 TB snapshot" (the side too big to broadcast exactly), even
    * doc_ids are the incoming batch being checked against it.
    */
  private[graft] def bloomRefCand(docs: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame,
         org.apache.spark.sql.DataFrame) = {
    val grams = wordGrams(docs, DecontamGramLen)
    (grams.filter(col("doc_id") % 2 === 1),
      grams.filter(col("doc_id") % 2 === 0))
  }

  /** Candidate grams surviving the broadcast Bloom gate — exposed so
    * the spec can receipt the map-side reduction (survivors ≈ true
    * overlap + fpp·rest, never the full candidate volume). The sketch
    * is sized by one count pass over the reference occurrences (an
    * upper bound on distinct grams, so realized fpp ≤ [[BloomFpp]]).
    * At 100 TB the item count could come from table statistics
    * instead of the counting pass. No false
    * negatives is the Bloom invariant the verify join's exactness
    * rests on — an UNDER-sized sketch would only raise fpp, never
    * drop a true positive.
    */
  private[graft] def bloomSurvivors(s: SparkSession,
      ref: org.apache.spark.sql.DataFrame,
      cand: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val nRef = ref.count()
    val bf = ref.stat.bloomFilter("g", math.max(nRef, 1L), BloomFpp)
    val bfb = s.sparkContext.broadcast(bf)
    val mightContain =
      udf((g: String) => g != null && bfb.value.mightContainString(g))
    cand.filter(mightContain(col("g")))
  }

  /** t49 — DECONTAMINATION AGAINST A LARGE REFERENCE: flag incoming
    * documents sharing any word n-gram with a PRIOR CORPUS SNAPSHOT
    * (dedup-against-what-we-already-trained-on), the dual of t21
    * whose reference is a tiny benchmark suite. t21's exact broadcast
    * is impossible here — the reference's distinct-gram table is
    * corpus-sized (TBs at 100 TB) — so the broadcastable object is a
    * BLOOM FILTER of the reference grams (~1.2 GB per 10^9 distinct
    * grams at 1% fpp): candidates drop map-side BEFORE the only
    * corpus-scaled shuffle, which then carries just the true overlap
    * plus the fpp sliver, and the exact verify join against the
    * reference gram table (survivor-side small, AQE picks the
    * strategy) removes every false positive — the output is EXACT,
    * the sketch is sized for speed, not correctness. This is Spark's
    * own InjectRuntimeFilter / bloom runtime-filter pattern
    * (`BloomFilterAggregate`, SPARK-32268) made explicit, exact, and
    * reference-shaped; the build (`DataFrameStatFunctions
    * .bloomFilter`) is one distributed treeAggregate pass. The probe
    * UDF is one Murmur3 pass per gram — cheap next to the shuffle it
    * prevents; the sketch itself stays a bounded broadcast artifact
    * like t48's ≤4096-row models.
    */
  val t49BloomDecontaminate: Q = (s, d) => {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val (ref, cand) = bloomRefCand(docs)
    val refTable = ref.groupBy("g").agg(min("doc_id").as("ref_doc"))
    bloomSurvivors(s, ref, cand)
      .join(refTable, "g")
      .groupBy("doc_id")
      .agg(countDistinct("g").as("n_shared"),
        min("ref_doc").as("first_ref_doc"))
      .orderBy("doc_id")
  }

  val queries: Map[String, Q] = Map(
    "t49_bloom_decontaminate" -> t49BloomDecontaminate,
    "t48_dsir_select" -> t48DsirSelect,
    "t47_fuzzy_resolve" -> t47FuzzyResolve,
    "t46_pii_scrub" -> t46PiiScrub,
    "t45_bpe_train" -> t45BpeTrain,
    "t44_bpe_char_encode" -> t44BpeCharEncode,
    "t43_oov_audit" -> t43OovAudit,
    "t42_vocab_build" -> t42VocabBuild,
    "t41_bpe_encode" -> t41BpeEncode,
    "t40_leakage_safe_split" -> t40LeakageSafeSplit,
    "t39_filter_cascade" -> t39FilterCascade,
    "t38_merge_pairs" -> t38MergePairs,
    "t37_source_overlap" -> t37SourceOverlap,
    "t36_gram_novelty" -> t36GramNovelty,
    "t35_mixture_budget" -> t35MixtureBudget,
    "t34_quantile_curate" -> t34QuantileCurate,
    "t33_snapshot_diff" -> t33SnapshotDiff,
    "t32_span_mask" -> t32SpanMask,
    "t31_eval_sample" -> t31EvalSample,
    "t30_chunking" -> t30Chunk,
    "t29_mixture_upsample" -> t29MixtureUpsample,
    "t25_lm_quality" -> t25LmQuality,
    "t24_span_dedup" -> t24SpanDedup,
    "t26_span_decontaminate" -> t26SpanDecontaminate,
    "t27_cluster_keep_best" -> t27ClusterKeepBest,
    "t28_sequence_pack" -> t28SequencePack,
    "t23_source_curation" -> t23SourceCuration,
    "t22_repetition" -> t22Repetition,
    "t21_decontaminate" -> t21Decontaminate,
    "t20_split_audit" -> t20SplitAudit,
    "t19_dedup_groups" -> t19DedupGroups,
    "t18_rolling_fingerprint" -> t18RollingFingerprint,
    "t17_regex_tokens" -> t17RegexTokens,
    "t16_band_index" -> t16BandIndex,
    "t15_incremental_dedup" -> t15IncrementalDedup,
    "t14_corpus_curation" -> t14CorpusCuration,
    "t13_bm25" -> t13Bm25,
    "t12_tfidf" -> t12TfIdf,
    "t11_dedup_cascade" -> t11DedupCascade,
    "t01_token_counts" -> t01TokenCounts,
    "t02_quality_score" -> t02QualityScore,
    "t03_lang_id" -> t03LangId,
    "t04_exact_dedup" -> t04ExactDedup,
    "t05_word_jaccard" -> t05WordJaccard,
    "t06_minhash_lsh" -> t06MinHashLsh,
    "t07_simhash_bands" -> t07SimHashBands,
    "t08_winnow_fingerprint" -> t08WinnowFingerprint,
    "t09_char_trigrams" -> t09CharTrigrams,
    "t10_corpus_stats" -> t10CorpusStats,
  )

  val oracles: Map[String, String] = {
    val langScoreSql = langMarkers.map { case (l, ms) =>
      s"${langScoreExpr(ms)} AS s_$l"
    }.mkString(",\n  ")
    val langCols = langMarkers.map { case (l, _) => s"s_$l" }.mkString(", ")
    Map(
      // t46: the oracle re-derives the SAME residue-keyed
      // augmentation (from the same doc_id arithmetic), then
      // re-runs detection and the ordered redaction with the SAME
      // runtime pattern constants — what the hash-match proves is
      // the Java-vs-RE2 regex parity of the detect/redact pass on
      // every document, positives and negatives alike. DuckDB's
      // regexp_replace needs the explicit 'g' flag (Spark replaces
      // all matches by default).
      "t46_pii_scrub" ->
        s"""WITH aug AS (
           |  SELECT doc_id, source,
           |    text ||
           |    CASE doc_id % 5
           |      WHEN 1 THEN ' contact user' ||
           |        CAST(doc_id AS VARCHAR) ||
           |        '@mail.example.com for details'
           |      WHEN 2 THEN ' origin 10.' ||
           |        CAST(doc_id % 200 AS VARCHAR) || '.3.' ||
           |        CAST(doc_id % 250 AS VARCHAR) || ' logged'
           |      WHEN 3 THEN ' case 5' ||
           |        CAST(doc_id % 90 + 10 AS VARCHAR) || '-' ||
           |        CAST(doc_id % 80 + 10 AS VARCHAR) || '-' ||
           |        CAST(doc_id % 9000 + 1000 AS VARCHAR) || ' filed'
           |      WHEN 4 THEN ' call 555-' ||
           |        CAST(doc_id % 800 + 100 AS VARCHAR) || '-' ||
           |        CAST(doc_id % 9000 + 1000 AS VARCHAR) || ' today'
           |      ELSE ''
           |    END ||
           |    CASE WHEN doc_id % 7 = 0
           |      THEN ' cc ops' || CAST(doc_id AS VARCHAR) ||
           |        '@corp.example.net asap'
           |      ELSE '' END AS text
           |  FROM documents),
           |scr AS (
           |  SELECT doc_id, source, text,
           |    regexp_replace(regexp_replace(regexp_replace(
           |      regexp_replace(text, '$EmailRe', '<EMAIL>', 'g'),
           |      '$Ipv4Re', '<IP>', 'g'),
           |      '$NationalIdRe', '<ID>', 'g'),
           |      '$PhoneRe', '<PHONE>', 'g') AS red
           |  FROM aug)
           |SELECT doc_id, source,
           |  CAST(len(regexp_extract_all(text, '$EmailRe')) AS INT)
           |    AS n_emails,
           |  CAST(len(regexp_extract_all(text, '$Ipv4Re')) AS INT)
           |    AS n_ips,
           |  CAST(len(regexp_extract_all(text, '$NationalIdRe'))
           |    AS INT) AS n_ids,
           |  CAST(len(regexp_extract_all(text, '$PhoneRe')) AS INT)
           |    AS n_phones,
           |  CAST(len(regexp_extract_all(text, '$EmailRe')) +
           |    len(regexp_extract_all(text, '$Ipv4Re')) +
           |    len(regexp_extract_all(text, '$NationalIdRe')) +
           |    len(regexp_extract_all(text, '$PhoneRe')) AS INT)
           |    AS pii_total,
           |  CASE WHEN len(regexp_extract_all(text, '$EmailRe')) +
           |    len(regexp_extract_all(text, '$Ipv4Re')) +
           |    len(regexp_extract_all(text, '$NationalIdRe')) +
           |    len(regexp_extract_all(text, '$PhoneRe')) >= 2
           |    THEN 1 ELSE 0 END AS needs_review,
           |  substr(md5(red), 1, 16) AS redacted_sig,
           |  CAST(length(red) AS INT) AS n_chars_redacted
           |FROM scr
           |ORDER BY doc_id""".stripMargin,
      // t48: the oracle re-derives both hashed models from the same
      // md5-bucket arithmetic, re-scores every document with the
      // same smoothed log ratio (ln may differ in last ulp across
      // engines — the 4-decimal round is the t12/t25 convention),
      // and re-walks the same histogram cutoff — the hash-match
      // proves cross-engine parity of feature hashing, both models,
      // the weight, and the selection rule
      "t48_dsir_select" ->
        s"""$dsirCteSql,
           |per AS (SELECT source, CAST(count(*) AS BIGINT) AS n_scored
           |        FROM scored GROUP BY source)
           |SELECT s.source, max(per.n_scored) AS n_scored,
           |  CAST(count(*) AS BIGINT) AS n_sel,
           |  CAST(sum(s.n_grams) AS BIGINT) AS sel_grams,
           |  max(c.cutoff) AS cutoff,
           |  min(s.w) AS min_sel_w,
           |  CAST(sum(CAST(round(s.w * 10000) AS BIGINT)) AS BIGINT)
           |    AS sum_w4
           |FROM scored s CROSS JOIN cut c
           |  JOIN per ON s.source = per.source
           |WHERE s.w >= c.cutoff
           |GROUP BY s.source ORDER BY s.source""".stripMargin,
      // t47: the oracle rebuilds the registry and its corrupted twin
      // from the same word list + key arithmetic, re-runs both
      // blocking passes INCLUDING the full adaptive escalation
      // ladder (hp/hs and hp4/hs4 recompute the clean-side cell
      // sizes with the same FuzzyHotBudget and length guards; pairs
      // in a hot cell must agree on the 4-char key, and pairs in a
      // cell hot even at 4 chars must agree on the 5-char key —
      // mirroring the engine's bkey routing; at sf0.1 the 250-name
      // cells exceed the budget, so the escalated route is what the
      // hash proves there. The engine's final SALT rung needs no
      // mirroring: salting re-partitions a cell without changing
      // its candidate set), DuckDB's own levenshtein, the
      // threshold, and the (distance, clean_id) tie-break — the
      // hash-match proves cross-engine parity of the whole
      // resolution chain, and is_correct carries the ground-truth
      // audit
      "t47_fuzzy_resolve" -> {
        val wordVals = FuzzyWords.zipWithIndex
          .map { case (w, i) => s"($i, '$w')" }.mkString(", ")
        s"""WITH w(i, word) AS (VALUES $wordVals),
           |ks AS (SELECT doc_id AS k FROM documents),
           |reg AS (
           |  SELECT k,
           |    w1.word || '-' || w2.word || '-' ||
           |      CAST(k AS VARCHAR) AS name,
           |    CAST(length(w1.word) + length(w2.word) AS INT)
           |      AS wlen
           |  FROM ks
           |  JOIN w w1 ON w1.i = k * 7 % 16
           |  JOIN w w2 ON w2.i = k * 13 % 16),
           |dirty AS (
           |  SELECT k,
           |    CASE k % 4
           |      WHEN 0 THEN substr(name, 1, p - 1) ||
           |        substr(name, p + 1, 100)
           |      WHEN 1 THEN substr(name, 1, p - 1) || '9' ||
           |        substr(name, p + 1, 100)
           |      WHEN 2 THEN substr(name, 1, pt - 1) ||
           |        substr(name, pt + 1, 1) || substr(name, pt, 1) ||
           |        substr(name, pt + 2, 100)
           |      ELSE name || 'x' END AS dirty_name
           |  FROM (SELECT k, name,
           |          CAST(k % (wlen + 1) + 1 AS INT) AS p,
           |          CAST(k % wlen + 1 AS INT) AS pt
           |        FROM reg)),
           |c AS (SELECT k AS clean_id, name AS clean_name,
           |        substr(name, 1, 3) AS pre,
           |        substr(name, 1, 4) AS pre4,
           |        substr(name, 1, 5) AS pre5,
           |        substr(name, length(name) - 2, 3) AS suf,
           |        substr(name, length(name) - 3, 4) AS suf4,
           |        substr(name, length(name) - 4, 5) AS suf5,
           |        CAST(length(name) AS INT) AS blen
           |      FROM reg),
           |d AS (SELECT k AS dirty_id, dirty_name,
           |        substr(dirty_name, 1, 3) AS pre,
           |        substr(dirty_name, 1, 4) AS pre4,
           |        substr(dirty_name, 1, 5) AS pre5,
           |        substr(dirty_name, length(dirty_name) - 2, 3)
           |          AS suf,
           |        substr(dirty_name, length(dirty_name) - 3, 4)
           |          AS suf4,
           |        substr(dirty_name, length(dirty_name) - 4, 5)
           |          AS suf5
           |      FROM dirty),
           |hp AS (SELECT pre, blen FROM c GROUP BY 1, 2
           |       HAVING count(*) > $FuzzyHotBudget AND blen >= 9),
           |hs AS (SELECT suf, blen FROM c GROUP BY 1, 2
           |       HAVING count(*) > $FuzzyHotBudget AND blen >= 9),
           |hp4 AS (SELECT pre4, blen FROM c GROUP BY 1, 2
           |        HAVING count(*) > $FuzzyHotBudget AND blen >= 11),
           |hs4 AS (SELECT suf4, blen FROM c GROUP BY 1, 2
           |        HAVING count(*) > $FuzzyHotBudget AND blen >= 11),
           |hp5 AS (SELECT pre5, blen FROM c GROUP BY 1, 2
           |        HAVING count(*) > $FuzzyHotBudget AND blen >= 13),
           |cand AS (
           |  SELECT DISTINCT dirty_id, dirty_name, clean_id,
           |    clean_name
           |  FROM (
           |    SELECT d.dirty_id, d.dirty_name, c.clean_id,
           |      c.clean_name
           |    FROM d JOIN c ON d.pre = c.pre
           |      AND abs(length(d.dirty_name) - c.blen) <= 2
           |    LEFT JOIN hp ON hp.pre = c.pre AND hp.blen = c.blen
           |    LEFT JOIN hp4 ON hp4.pre4 = c.pre4
           |      AND hp4.blen = c.blen
           |    LEFT JOIN hp5 ON hp5.pre5 = c.pre5
           |      AND hp5.blen = c.blen
           |    WHERE hp.pre IS NULL OR (d.pre4 = c.pre4 AND
           |      (hp4.pre4 IS NULL OR (d.pre5 = c.pre5 AND
           |        (hp5.pre5 IS NULL OR
           |          substr(d.dirty_name, 1, c.blen - 7) =
           |          substr(c.clean_name, 1, c.blen - 7)))))
           |    UNION ALL
           |    SELECT d.dirty_id, d.dirty_name, c.clean_id,
           |      c.clean_name
           |    FROM d JOIN c ON d.suf = c.suf
           |      AND abs(length(d.dirty_name) - c.blen) <= 2
           |    LEFT JOIN hs ON hs.suf = c.suf AND hs.blen = c.blen
           |    LEFT JOIN hs4 ON hs4.suf4 = c.suf4
           |      AND hs4.blen = c.blen
           |    WHERE hs.suf IS NULL OR (d.suf4 = c.suf4 AND
           |      (hs4.suf4 IS NULL OR d.suf5 = c.suf5)))),
           |sc AS (
           |  SELECT dirty_id, clean_id,
           |    CAST(levenshtein(dirty_name, clean_name) AS INT)
           |      AS distance,
           |    CAST(count(*) OVER (PARTITION BY dirty_id) AS INT)
           |      AS n_candidates
           |  FROM cand),
           |best AS (
           |  SELECT dirty_id, clean_id AS match_id, distance,
           |    n_candidates,
           |    row_number() OVER (PARTITION BY dirty_id
           |      ORDER BY distance, clean_id) AS rk
           |  FROM sc WHERE distance <= 2)
           |SELECT dirty_id, match_id, distance, n_candidates,
           |  CASE WHEN match_id = dirty_id THEN 1 ELSE 0 END
           |    AS is_correct
           |FROM best WHERE rk = 1
           |ORDER BY dirty_id""".stripMargin
      },
      // t33: both snapshots re-derived in SQL, the diff recomputed
      // over md5 fingerprints — identical churn classes, identical
      // halved-text rule (integer // matches Spark DIV on positives)
      "t33_snapshot_diff" ->
        s"""WITH prev AS (
           |  SELECT doc_id, source,
           |    CASE WHEN doc_id % $SnapMod = $SnapChangedRes
           |         THEN substr(text, 1, n_chars // 2)
           |         ELSE text END AS text
           |  FROM documents WHERE doc_id % $SnapMod <> $SnapAddedRes),
           |cur AS (
           |  SELECT doc_id, source, text FROM documents
           |  WHERE doc_id % $SnapMod <> $SnapRemovedRes),
           |a AS (SELECT doc_id, source AS src_a, md5(text) AS h_a
           |      FROM prev),
           |b AS (SELECT doc_id, source AS src_b, md5(text) AS h_b
           |      FROM cur),
           |j AS (
           |  SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
           |    COALESCE(src_b, src_a) AS source,
           |    CASE WHEN h_a IS NULL THEN 'added'
           |         WHEN h_b IS NULL THEN 'removed'
           |         WHEN h_a <> h_b THEN 'changed'
           |         ELSE 'unchanged' END AS status
           |  FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
           |SELECT source, status, CAST(count(*) AS BIGINT) AS n_docs,
           |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
           |FROM j GROUP BY source, status
           |ORDER BY source, status""".stripMargin,
      // t34: the oracle rebuilds the (source, score) histogram, walks
      // the same cumulative rule (cum·10 > n·3, pure integers), and
      // re-applies the threshold — every keep decision recomputed
      "t34_quantile_curate" ->
        s"""WITH sc AS (
           |  SELECT doc_id, source,
           |    CAST(len(string_split_regex(trim(text), '\\s+')) AS INT)
           |      AS n_words,
           |    CAST(len(list_distinct(
           |        string_split_regex(trim(text), '\\s+'))) AS BIGINT)
           |      * 10000 // len(string_split_regex(trim(text), '\\s+'))
           |      AS q
           |  FROM documents),
           |hist AS (SELECT source, q, count(*) AS c FROM sc
           |         GROUP BY 1, 2),
           |cum AS (
           |  SELECT source, q,
           |    CAST(sum(c) OVER (PARTITION BY source ORDER BY q
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |      AS BIGINT) AS cum,
           |    CAST(sum(c) OVER (PARTITION BY source) AS BIGINT)
           |      AS n_total
           |  FROM hist),
           |cuts AS (
           |  SELECT source, min(q) AS cutoff, max(n_total) AS n_total
           |  FROM cum
           |  WHERE cum * $CurateDropDen > n_total * $CurateDropNum
           |  GROUP BY source)
           |SELECT sc.source, max(cuts.n_total) AS n_total,
           |  max(cuts.cutoff) AS cutoff,
           |  CAST(count(*) AS BIGINT) AS n_kept,
           |  min(sc.q) AS min_kept_q,
           |  CAST(sum(sc.n_words) AS BIGINT) AS kept_words
           |FROM sc JOIN cuts
           |  ON sc.source = cuts.source AND sc.q >= cuts.cutoff
           |GROUP BY sc.source ORDER BY sc.source""".stripMargin,
      // t35: the oracle recomputes every per-language cumulative
      // position with one naive window in the same (bucket, doc_id)
      // order and re-derives the min-language budget — admission is
      // re-decided per document (the sharded prefix sum is pure plan
      // shape, invisible to semantics)
      "t35_mixture_budget" ->
        """WITH tok AS (
          |  SELECT doc_id, lang,
          |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
          |      AS n_tokens,
          |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)
          |      AS BIGINT) % 1000000 AS bucket
          |  FROM documents),
          |bud AS (
          |  SELECT CAST(min(lt) AS BIGINT) AS budget FROM (
          |    SELECT CAST(sum(n_tokens) AS BIGINT) AS lt
          |    FROM tok GROUP BY lang)),
          |c AS (
          |  SELECT doc_id, lang, n_tokens,
          |    CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY lang
          |      ORDER BY bucket, doc_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          |      AS BIGINT) AS cum_before
          |  FROM tok)
          |SELECT doc_id, lang, n_tokens, cum_before,
          |  cum_before < (SELECT budget FROM bud) AS admitted
          |FROM c ORDER BY doc_id""".stripMargin,
      // t36: the oracle rebuilds the distinct gram table, re-derives
      // every gram's first owner, and re-scores every document
      "t36_gram_novelty" ->
        s"""WITH toks AS (
           |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
           |  FROM documents),
           |grams AS (
           |  SELECT DISTINCT doc_id,
           |    array_to_string(t[i:i+${DecontamGramLen - 1}], ' ') AS g
           |  FROM (SELECT doc_id, t,
           |          unnest(range(1, len(t) - ${DecontamGramLen - 2}))
           |            AS i
           |        FROM toks WHERE len(t) >= $DecontamGramLen)),
           |own AS (SELECT g, min(doc_id) AS first_doc FROM grams
           |        GROUP BY g)
           |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
           |  CAST(sum(CASE WHEN doc_id = first_doc THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_owned,
           |  round(CAST(sum(CASE WHEN doc_id = first_doc THEN 1
           |                 ELSE 0 END) AS DOUBLE) / count(*), 4)
           |    AS novelty
           |FROM grams JOIN own USING (g)
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      // t25: the oracle retrains the same add-one bigram LM and
      // rescores every doc; counts and V are exact integers, the
      // division is one double op, ln/avg round-4 (the t12/t13 float
      // contract).
      "t25_lm_quality" ->
        """WITH toks AS (
          |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
          |  FROM documents),
          |bg AS (
          |  SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
          |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i
          |        FROM toks WHERE len(ws) >= 2)),
          |bc AS (SELECT w1, w2, count(*) AS cb FROM bg GROUP BY 1, 2),
          |cc AS (SELECT w1, count(*) AS cw FROM bg GROUP BY 1),
          |v AS (
          |  SELECT count(DISTINCT w) AS v
          |  FROM (SELECT unnest(ws) AS w FROM toks))
          |SELECT g.doc_id,
          |  CAST(count(*) AS BIGINT) AS n_bigrams,
          |  round(avg(ln(CAST(bc.cb + 1 AS DOUBLE) / (cc.cw + v.v))), 4)
          |    AS avg_logp
          |FROM bg g
          |JOIN bc ON g.w1 = bc.w1 AND g.w2 = bc.w2
          |JOIN cc ON g.w1 = cc.w1
          |CROSS JOIN v
          |GROUP BY g.doc_id
          |ORDER BY g.doc_id""".stripMargin,
      "t24_span_dedup" -> {
        val k = SpanDedupK
        s"""WITH toks AS (
           |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
           |  FROM documents),
           |words AS (
           |  SELECT doc_id, unnest(w) AS word,
           |    unnest(range(1, len(w) + 1)) AS pos
           |  FROM toks),
           |grams AS (
           |  SELECT doc_id,
           |    unnest(range(1, len(w) - ${k - 1} + 1)) AS pos,
           |    unnest(list_transform(range(1, len(w) - ${k - 1} + 1),
           |      i -> array_to_string(w[i : i + ${k - 1}], ' '))) AS gram
           |  FROM toks WHERE len(w) >= $k),
           |covered AS (
           |  SELECT DISTINCT doc_id, pos FROM (
           |    SELECT doc_id, unnest(range(pos, pos + $k)) AS pos
           |    FROM (SELECT doc_id, pos,
           |            row_number() OVER (PARTITION BY gram
           |              ORDER BY doc_id, pos) AS rn
           |          FROM grams)
           |    WHERE rn > 1)),
           |rebuilt AS (
           |  SELECT w.doc_id, CAST(count(*) AS BIGINT) AS n_kept,
           |    string_agg(w.word, ' ' ORDER BY w.pos) AS cleaned_text
           |  FROM words w
           |  WHERE NOT EXISTS (SELECT 1 FROM covered c
           |                    WHERE c.doc_id = w.doc_id AND c.pos = w.pos)
           |  GROUP BY w.doc_id)
           |SELECT t.doc_id, CAST(len(t.w) AS BIGINT) AS n_words,
           |  COALESCE(r.n_kept, 0) AS n_kept,
           |  CAST(len(t.w) AS BIGINT) - COALESCE(r.n_kept, 0) AS n_removed,
           |  COALESCE(r.cleaned_text, '') AS cleaned_text
           |FROM toks t LEFT JOIN rebuilt r USING (doc_id)
           |ORDER BY doc_id""".stripMargin
      },
      "t01_token_counts" ->
        """SELECT doc_id, lang,
          |  CAST(len(string_split_regex(trim(text), '\s+')) AS INT)
          |    AS n_tokens,
          |  CAST(length(text) AS INT) AS n_chars_text
          |FROM documents ORDER BY doc_id""".stripMargin,
      "t02_quality_score" ->
        """WITH base AS (
          |  SELECT doc_id,
          |    CAST(len(string_split_regex(trim(text), '\s+')) AS INT)
          |      AS n_words,
          |    CAST(len(list_distinct(string_split_regex(trim(text), '\s+')))
          |      AS INT) AS n_distinct,
          |    (length(p) - length(replace(p, ' the ', '')))
          |      / CAST(5 AS DOUBLE)
          |      + (length(p) - length(replace(p, ' and ', '')))
          |      / CAST(5 AS DOUBLE)
          |      + (length(p) - length(replace(p, ' of ', '')))
          |      / CAST(4 AS DOUBLE)
          |      AS stop_hits
          |  FROM (SELECT doc_id, text, ' ' || trim(text) || ' ' AS p
          |        FROM documents))
          |SELECT doc_id, n_words, n_distinct,
          |  round(n_distinct / CAST(n_words AS DOUBLE), 4)
          |    AS lexical_diversity,
          |  round(stop_hits / CAST(n_words AS DOUBLE), 4) AS stopword_ratio,
          |  (n_words >= 20 AND n_distinct / CAST(n_words AS DOUBLE) >= 0.2)
          |    AS keep_doc
          |FROM base ORDER BY doc_id""".stripMargin,
      "t03_lang_id" ->
        s"""SELECT doc_id, lang, $langCols,
           |  $langCaseExpr AS predicted_lang
           |FROM (SELECT doc_id, lang,
           |  $langScoreSql
           |  FROM (SELECT doc_id, lang, ' ' || trim(text) || ' ' AS p
           |        FROM documents))
           |ORDER BY doc_id""".stripMargin,
      // all numeric literals CAST to DOUBLE: bare 2.2 is DECIMAL in
      // DuckDB and the decimal arithmetic path diverges from Spark's
      // double path before rounding
      "t13_bm25" ->
        """WITH w AS (
          |  SELECT doc_id,
          |    unnest(string_split_regex(trim(text), '\s+')) AS term
          |  FROM documents),
          |dl AS (SELECT doc_id, count(*) AS dl FROM w GROUP BY 1),
          |stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
          |tf AS (SELECT doc_id, term, count(*) AS tf FROM w
          |       WHERE term IN ('spark', 'window', 'hash') GROUP BY 1, 2),
          |dfreq AS (SELECT term, count(*) AS df
          |          FROM (SELECT DISTINCT doc_id, term FROM w
          |                WHERE term IN ('spark', 'window', 'hash'))
          |          GROUP BY 1)
          |SELECT doc_id, round(sum(
          |    ln((n - df + CAST(0.5 AS DOUBLE))
          |       / (df + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE))
          |    * (tf * CAST(2.2 AS DOUBLE))
          |    / (tf + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE)
          |       + CAST(0.75 AS DOUBLE) * dl / avgdl))), 4) AS bm25
          |FROM tf
          |JOIN dfreq USING (term)
          |JOIN dl USING (doc_id)
          |CROSS JOIN stats
          |GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 10""".stripMargin,
      "t12_tfidf" ->
        s"""WITH w AS (
          |  SELECT doc_id,
          |    unnest(string_split_regex(trim(text), '\\s+')) AS term
          |  FROM documents WHERE doc_id < $T12TfIdfScopeMaxId),
          |tf AS (SELECT doc_id, term, count(*) AS tf FROM w GROUP BY 1, 2),
          |dfreq AS (SELECT term, count(*) AS df
          |          FROM (SELECT DISTINCT doc_id, term FROM w) GROUP BY 1),
          |n AS (SELECT count(*) AS n
          |      FROM documents WHERE doc_id < $T12TfIdfScopeMaxId),
          |scored AS (
          |  SELECT doc_id, tf.term,
          |    round(tf * ln(CAST(n.n AS DOUBLE) / df), 4) AS tfidf
          |  FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n),
          |ranked AS (
          |  SELECT doc_id, term, tfidf, row_number() OVER (
          |    PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rk
          |  FROM scored)
          |SELECT doc_id, CAST(rk AS INT) AS rk, term, tfidf FROM ranked
          |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,
      "t04_exact_dedup" ->
        """SELECT md5(substr(text, 1, 50)) AS key, count(*) AS n_dupes,
          |  min(doc_id) AS keep_doc
          |FROM documents GROUP BY 1 HAVING count(*) > 1
          |ORDER BY key""".stripMargin,
      // brute-force all-pairs twin of the PPJoin plan (PPJoin is exact,
      // so the outputs coincide); both sides filter on the ROUNDED score
      "t05_word_jaccard" ->
        s"""WITH w AS (
          |  SELECT DISTINCT doc_id,
          |    unnest(string_split_regex(trim(text), '\\s+')) AS word
          |  FROM documents WHERE doc_id < $T05PairScopeMaxId),
          |cnt AS (SELECT doc_id, count(*) AS n FROM w GROUP BY doc_id),
          |inter AS (
          |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
          |  FROM w a JOIN w b ON a.word = b.word AND a.doc_id < b.doc_id
          |  GROUP BY 1, 2)
          |SELECT d1, d2,
          |  round(CAST(i AS DOUBLE) / (ca.n + cb.n - i), 4) AS jaccard
          |FROM inter
          |JOIN cnt ca ON ca.doc_id = d1
          |JOIN cnt cb ON cb.doc_id = d2
          |WHERE round(CAST(i AS DOUBLE) / (ca.n + cb.n - i), 4) >= 0.6
          |ORDER BY d1, d2""".stripMargin,
      // NOTE: CAST(x AS INT) ROUNDS in DuckDB but truncates in Spark —
      // any shared integer division must be `//` here and `CAST(a / b AS
      // INT)` (nonnegative) on the Spark side.
      "t06_minhash_lsh" ->
        s"""WITH ${minHashCtes("SELECT doc_id, text FROM documents", 0.5)}
           |SELECT d1, d2, jaccard FROM pairs
           |ORDER BY d1, d2""".stripMargin,
      "t07_simhash_bands" ->
        s"""WITH toks AS (
           |  SELECT doc_id, ${h48Sql("tok")} AS th
           |  FROM (SELECT doc_id,
           |          unnest(string_split_regex(trim(text), '\\s+')) AS tok
           |        FROM documents)),
           |bits AS (
           |  SELECT doc_id, b,
           |    sum(CASE WHEN (th >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
           |  FROM toks CROSS JOIN (SELECT unnest(range(0, 48)) AS b) bb
           |  GROUP BY 1, 2),
           |sig AS (
           |  SELECT doc_id,
           |    CAST(sum(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << b
           |             ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS sh
           |  FROM bits GROUP BY 1),
           |blocks AS (
           |  SELECT doc_id, sh, blk, (sh >> (blk * 12)) & 4095 AS blkval
           |  FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS blk) b)
           |SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
           |  CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
           |FROM blocks a JOIN blocks b
           |  ON a.blk = b.blk AND a.blkval = b.blkval
           |  AND a.doc_id < b.doc_id
           |WHERE bit_count(xor(a.sh, b.sh)) <= 3
           |ORDER BY d1, d2""".stripMargin,
      // positional twin of the deque kernel: the SAME B=257 polynomial
      // gram hash as t18 (exact BIGINT, recomputed non-rolling per
      // position), window minimum over each full 8-gram frame, distinct
      // selected values. length >= 12 = k+w-1: docs with fewer than 8
      // grams have no full window (identical doc coverage to the old
      // p <= np-7 predicate).
      "t08_winnow_fingerprint" ->
        """WITH h AS (
          |  SELECT doc_id, p, length(text) - 4 AS np,
          |      ord(substr(text, CAST(p AS INT), 1)) * 4362470401
          |    + ord(substr(text, CAST(p + 1 AS INT), 1)) * 16974593
          |    + ord(substr(text, CAST(p + 2 AS INT), 1)) * 66049
          |    + ord(substr(text, CAST(p + 3 AS INT), 1)) * 257
          |    + ord(substr(text, CAST(p + 4 AS INT), 1)) AS h
          |  FROM (SELECT doc_id, text,
          |          unnest(range(1, length(text) - 3)) AS p
          |        FROM documents WHERE length(text) >= 12)),
          |w AS (
          |  SELECT doc_id, p, np,
          |    min(h) OVER (PARTITION BY doc_id ORDER BY p
          |      ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS wmin
          |  FROM h)
          |SELECT DISTINCT doc_id, wmin AS fingerprint FROM w
          |WHERE p <= np - 7
          |ORDER BY doc_id, fingerprint""".stripMargin,
      "t11_dedup_cascade" ->
        s"""WITH keep AS (
           |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
           |surv AS (
           |  SELECT d.doc_id, d.text FROM documents d JOIN keep USING (doc_id)),
           |${minHashCtes("SELECT doc_id, text FROM surv", 0.5)},
           |drops AS (SELECT DISTINCT d2 AS doc_id FROM pairs)
           |SELECT doc_id FROM surv
           |WHERE doc_id NOT IN (SELECT doc_id FROM drops)
           |ORDER BY doc_id""".stripMargin,
      "t14_corpus_curation" ->
        s"""WITH scored AS (
           |  SELECT doc_id, text, lang,
           |    CAST(len(string_split_regex(trim(text), '\\s+')) AS INT)
           |      AS n_words,
           |    CAST(len(list_distinct(string_split_regex(trim(text),
           |      '\\s+'))) AS INT) AS n_distinct
           |  FROM documents),
           |kept AS (
           |  SELECT doc_id, text, lang, n_words FROM scored
           |  WHERE n_words >= 20
           |    AND n_distinct / CAST(n_words AS DOUBLE) >= 0.2),
           |keep1 AS (
           |  SELECT min(doc_id) AS doc_id FROM kept GROUP BY md5(text)),
           |surv AS (
           |  SELECT k.doc_id, k.text, k.lang, k.n_words
           |  FROM kept k JOIN keep1 USING (doc_id)),
           |${minHashCtes("SELECT doc_id, text FROM surv", 0.5)},
           |drops AS (SELECT DISTINCT d2 AS doc_id FROM pairs)
           |SELECT lang, count(*) AS n_docs,
           |  CAST(sum(n_words) AS BIGINT) AS total_tokens
           |FROM surv WHERE doc_id NOT IN (SELECT doc_id FROM drops)
           |GROUP BY lang ORDER BY lang""".stripMargin,
      "t15_incremental_dedup" ->
        s"""WITH ${minHashCtes("SELECT doc_id, text FROM documents", 0.5)},
           |drops AS (
           |  SELECT DISTINCT CASE
           |    WHEN d1 >= $IncrementalCorpusMaxId
           |      AND d2 < $IncrementalCorpusMaxId THEN d1
           |    WHEN d2 >= $IncrementalCorpusMaxId
           |      AND d1 < $IncrementalCorpusMaxId THEN d2
           |    WHEN d1 >= $IncrementalCorpusMaxId
           |      AND d2 >= $IncrementalCorpusMaxId THEN greatest(d1, d2)
           |  END AS doc_id
           |  FROM pairs WHERE d1 >= $IncrementalCorpusMaxId
           |    OR d2 >= $IncrementalCorpusMaxId)
           |SELECT doc_id FROM documents
           |WHERE doc_id >= $IncrementalCorpusMaxId
           |  AND doc_id NOT IN (SELECT doc_id FROM drops
           |                     WHERE doc_id IS NOT NULL)
           |ORDER BY doc_id""".stripMargin,
      // twin of the STORED index t15 joins against — hash-verifying the
      // persisted artifact's exact rows (t16 reads the parquet back)
      "t16_band_index" ->
        s"""WITH ${minHashBandCtes("SELECT doc_id, text FROM documents" +
            s" WHERE doc_id < $IncrementalCorpusMaxId")}
           |SELECT doc_id, band, bucket FROM bands
           |ORDER BY doc_id, band""".stripMargin,
      "t17_regex_tokens" ->
        s"""SELECT doc_id,
           |  CAST(len(string_split_regex(trim(text), '\\s+')) AS INT)
           |    AS n_tokens_ws,
           |  CAST(len(regexp_extract_all(text,
           |    '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+')) AS INT)
           |    AS n_tokens_re,
           |  round(len(regexp_extract_all(text,
           |      '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+')) /
           |    CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE),
           |    4) AS tokens_per_word
           |FROM documents ORDER BY doc_id""".stripMargin,
      // non-rolling twin of the rolling-hash kernel: same base-257
      // polynomial per position, exact BIGINT (257^4 = 4362470401,
      // 257^3 = 16974593, 257^2 = 66049)
      "t18_rolling_fingerprint" ->
        """WITH p AS (
          |  SELECT doc_id, text, unnest(range(1, length(text) - 3)) AS i
          |  FROM documents WHERE length(text) >= 5),
          |h AS (
          |  SELECT doc_id,
          |      ord(substr(text, CAST(i AS INT), 1)) * 4362470401
          |    + ord(substr(text, CAST(i + 1 AS INT), 1)) * 16974593
          |    + ord(substr(text, CAST(i + 2 AS INT), 1)) * 66049
          |    + ord(substr(text, CAST(i + 3 AS INT), 1)) * 257
          |    + ord(substr(text, CAST(i + 4 AS INT), 1)) AS h
          |  FROM p)
          |SELECT doc_id, count(*) AS n_grams, min(h) AS min_hash,
          |  count(DISTINCT h) AS n_distinct
          |FROM h GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      // t39: the same rule chain re-derived — t02's scalar metrics +
      // t22's gram-share CTEs + t03's marker case, one CASE in the
      // same order (left joins NULL-coalesce like the engine)
      "t39_filter_cascade" ->
        s"""WITH base AS (
           |  SELECT doc_id, lang,
           |    len(string_split_regex(trim(text), '\\s+')) AS n_words,
           |    len(list_distinct(string_split_regex(trim(text),
           |      '\\s+'))) AS n_distinct,
           |    concat(' ', trim(text), ' ') AS p
           |  FROM documents),
           |scored AS (
           |  SELECT doc_id, lang, n_words, n_distinct,
           |  $langScoreSql
           |  FROM base),
           |pred AS (
           |  SELECT doc_id, lang, n_words, n_distinct,
           |    $langCaseExpr AS predicted_lang
           |  FROM scored),
           |toks AS (
           |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
           |  FROM documents),
           |bi AS (
           |  SELECT doc_id, g, count(*) AS c FROM (
           |    SELECT doc_id, array_to_string(t[i:i+1], ' ') AS g
           |    FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i
           |          FROM toks WHERE len(t) >= 2))
           |  GROUP BY 1, 2),
           |tri AS (
           |  SELECT doc_id, g, count(*) AS c FROM (
           |    SELECT doc_id, array_to_string(t[i:i+2], ' ') AS g
           |    FROM (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i
           |          FROM toks WHERE len(t) >= 3))
           |  GROUP BY 1, 2),
           |bs AS (SELECT doc_id,
           |         round(CAST(max(c) AS DOUBLE) / sum(c), 4)
           |           AS top_bigram_share
           |       FROM bi GROUP BY 1),
           |ts AS (SELECT doc_id,
           |         round(CAST(sum(c) - count(*) AS DOUBLE) / sum(c), 4)
           |           AS dup_trigram_frac
           |       FROM tri GROUP BY 1),
           |dec AS (
           |  SELECT p.doc_id,
           |    CASE
           |      WHEN p.n_words < 20 THEN 'too_short'
           |      WHEN CAST(p.n_distinct AS DOUBLE) / p.n_words < 0.2
           |        THEN 'low_diversity'
           |      WHEN coalesce(bs.top_bigram_share, 0.0) > 0.05
           |        OR coalesce(ts.dup_trigram_frac, 0.0) > 0.02
           |        THEN 'repetitive'
           |      WHEN p.predicted_lang <> p.lang THEN 'lang_mismatch'
           |      ELSE 'kept' END AS reason
           |  FROM pred p
           |  LEFT JOIN bs ON bs.doc_id = p.doc_id
           |  LEFT JOIN ts ON ts.doc_id = p.doc_id)
           |SELECT doc_id,
           |  CAST(reason = 'kept' AS INT) AS keep, reason
           |FROM dec ORDER BY doc_id""".stripMargin,
      // t41: generated fixed-depth merge-pass chain (see
      // bpeEncodeOracle's doc)
      "t41_bpe_encode" -> bpeEncodeOracle,
      // t42: the same pass chain + vocabulary rollup
      "t42_vocab_build" -> vocabBuildOracle,
      // t43: the same pass chain + capped vocab + membership rollup
      "t43_oov_audit" -> oovAuditOracle,
      // t44: char-level rules + the shared pass template partitioned
      // by (doc_id, widx)
      "t45_bpe_train" -> bpeTrainOracle,
      "t44_bpe_char_encode" -> bpeCharEncodeOracle,
      // t38: 1-based list indexing over the same \s+ tokenization —
      // range(1, len) stops at len-1, so (l[i], l[i+1]) enumerates
      // exactly the engine's zip_with-against-tail pairs; the LIMIT
      // boundary is deterministic under the (count, a, b) total order
      "t38_merge_pairs" ->
        """WITH toks AS (
          |  SELECT string_split_regex(trim(text), '\s+') AS l
          |  FROM documents),
          |pos AS (
          |  SELECT l, unnest(range(1, len(l))) AS i FROM toks
          |  WHERE len(l) > 1),
          |pairs AS (SELECT l[i] AS a, l[i + 1] AS b FROM pos)
          |SELECT a, b, CAST(count(*) AS BIGINT) AS n_pairs
          |FROM pairs GROUP BY a, b
          |ORDER BY n_pairs DESC, a, b LIMIT 50""".stripMargin,
      // t37: the same verified-pair CTE stack as t19, then two label
      // joins + the unordered-pair source rollup — the oracle re-derives
      // every matrix cell from scratch
      "t37_source_overlap" ->
        s"""WITH ${minHashCtes("SELECT doc_id, text FROM documents", 0.5)},
           |lab AS (SELECT doc_id, source FROM documents)
           |SELECT least(a.source, b.source) AS src_a,
           |  greatest(a.source, b.source) AS src_b,
           |  CAST(count(*) AS BIGINT) AS n_pairs
           |FROM pairs JOIN lab a ON a.doc_id = pairs.d1
           |JOIN lab b ON b.doc_id = pairs.d2
           |GROUP BY src_a, src_b ORDER BY src_a, src_b""".stripMargin,
      // transitive closure (recursive CTE) twin of the label-propagation
      // components; group id = min reachable doc id
      "t19_dedup_groups" ->
        s"""WITH RECURSIVE ${minHashCtes("SELECT doc_id, text FROM documents", 0.5)},
           |edges AS (
           |  SELECT d1 AS a, d2 AS b FROM pairs
           |  UNION SELECT d2, d1 FROM pairs),
           |reach(a, b) AS (
           |  SELECT a, b FROM edges
           |  UNION
           |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
           |SELECT a AS doc_id, least(a, min(b)) AS group_id
           |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin,
      // t40: t19's recursive closure, singletons coalesced to their
      // own id, then the t20 md5-bucket split arithmetic on GROUP ids
      // — whole-cluster split assignment recomputed from scratch
      "t40_leakage_safe_split" ->
        s"""WITH RECURSIVE ${minHashCtes(
              "SELECT doc_id, text FROM documents", 0.5)},
           |edges AS (
           |  SELECT d1 AS a, d2 AS b FROM pairs
           |  UNION SELECT d2, d1 FROM pairs),
           |reach(a, b) AS (
           |  SELECT a, b FROM edges
           |  UNION
           |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
           |grp AS (
           |  SELECT a AS doc_id, least(a, min(b)) AS gid
           |  FROM reach GROUP BY a),
           |asg AS (
           |  SELECT d.doc_id, coalesce(g.gid, d.doc_id) AS group_id
           |  FROM documents d LEFT JOIN grp g ON g.doc_id = d.doc_id),
           |bk AS (
           |  SELECT doc_id, group_id,
           |    CAST('0x' || substr(md5(CAST(group_id AS VARCHAR)), 1, 12)
           |      AS BIGINT) % 1000000 AS bucket
           |  FROM asg)
           |SELECT doc_id, group_id,
           |  CASE WHEN bucket < 800000 THEN 0
           |       WHEN bucket < 900000 THEN 1 ELSE 2 END AS split
           |FROM bk ORDER BY doc_id""".stripMargin,
      // t27: t19's recursive closure + t02's quality expression + the
      // per-group argmax — the oracle recomputes the whole resolution
      "t27_cluster_keep_best" ->
        s"""WITH RECURSIVE ${minHashCtes(
              "SELECT doc_id, text FROM documents", 0.5)},
           |edges AS (
           |  SELECT d1 AS a, d2 AS b FROM pairs
           |  UNION SELECT d2, d1 FROM pairs),
           |reach(a, b) AS (
           |  SELECT a, b FROM edges
           |  UNION
           |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
           |grp AS (
           |  SELECT a AS doc_id, least(a, min(b)) AS group_id
           |  FROM reach GROUP BY a),
           |q AS (
           |  SELECT doc_id,
           |    round(len(list_distinct(string_split_regex(trim(text),
           |        '\\s+')))
           |      / CAST(len(string_split_regex(trim(text), '\\s+'))
           |          AS DOUBLE), 4) AS q
           |  FROM documents),
           |rk AS (
           |  SELECT g.group_id, g.doc_id, q.q, row_number() OVER (
           |    PARTITION BY g.group_id ORDER BY q.q DESC, g.doc_id) AS rk
           |  FROM grp g JOIN q ON q.doc_id = g.doc_id)
           |SELECT group_id,
           |  CAST(count(*) AS BIGINT) AS n_members,
           |  CAST(count(*) - 1 AS BIGINT) AS n_dropped,
           |  min(CASE WHEN rk = 1 THEN doc_id END) AS kept_doc,
           |  min(CASE WHEN rk = 1 THEN q END) AS kept_quality
           |FROM rk GROUP BY group_id ORDER BY group_id""".stripMargin,
      // t28: the oracle computes the straight global running sum —
      // same values the declared two-level prefix sum produces
      "t28_sequence_pack" -> {
        val l = PackSeqLen
        s"""WITH t AS (
           |  SELECT doc_id,
           |    CAST(len(string_split_regex(trim(text), '\\s+'))
           |      AS BIGINT) AS n_tokens
           |  FROM documents),
           |c AS (
           |  SELECT doc_id, n_tokens,
           |    COALESCE(CAST(sum(n_tokens) OVER (ORDER BY doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           |      AS BIGINT), 0) AS cum_before
           |  FROM t)
           |SELECT doc_id, n_tokens,
           |  cum_before // $l AS start_seq,
           |  (cum_before + n_tokens - 1) // $l AS end_seq,
           |  cum_before % $l AS seq_offset,
           |  (cum_before // $l <> (cum_before + n_tokens - 1) // $l)
           |    AS crosses
           |FROM c ORDER BY doc_id""".stripMargin
      },
      // t30: the DuckDB twin recomputes the chunk count from the same
      // truncating arithmetic and rebuilds every chunk's text from the
      // inclusive list slice — geometry AND payload verified
      "t30_chunking" -> {
        val (l, st) = (ChunkLen, ChunkStride)
        s"""WITH t AS (
           |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+')
           |      AS w,
           |    CAST(len(regexp_split_to_array(trim(text), '\\s+'))
           |      AS BIGINT) AS n
           |  FROM documents),
           |k AS (
           |  SELECT doc_id, w, n,
           |    greatest(1, (n - $l + $st - 1) // $st + 1) AS k
           |  FROM t),
           |c AS (
           |  SELECT doc_id, w, n, unnest(range(0, k)) AS chunk_id
           |  FROM k)
           |SELECT doc_id, chunk_id,
           |  chunk_id * $st AS chunk_start,
           |  least($l, n - chunk_id * $st) AS n_chunk_tokens,
           |  array_to_string(
           |    w[chunk_id * $st + 1 : chunk_id * $st + $l], ' ')
           |    AS chunk_text
           |FROM c ORDER BY doc_id, chunk_id""".stripMargin
      },
      // t29: the DuckDB twin recomputes the same integer epoch
      // arithmetic — ceil by (mx + n - 1) // n, capped — and expands
      // with generate_series; // and div both truncate (positive here)
      "t29_mixture_upsample" ->
        s"""WITH c AS (
           |  SELECT lang, CAST(count(*) AS BIGINT) AS n
           |  FROM documents GROUP BY 1),
           |m AS (SELECT max(n) AS mx FROM c),
           |r AS (
           |  SELECT lang,
           |    least($MixtureMaxEpochs, (mx + n - 1) // n) AS reps
           |  FROM c, m)
           |SELECT doc_id, lang, epoch FROM (
           |  SELECT d.doc_id, d.lang,
           |    unnest(generate_series(0, r.reps - 1)) AS epoch
           |  FROM documents d JOIN r USING (lang))
           |ORDER BY doc_id, epoch""".stripMargin,
      // t32: the DuckDB twin rebuilds both example strings token by
      // token from the same position arithmetic (string_agg with
      // FILTER + ORDER BY); COALESCE covers span-free docs where
      // Spark's array_join of an empty array yields ''
      "t32_span_mask" -> {
        val (sp, st) = (MaskSpanLen, MaskStride)
        s"""WITH t AS (
           |  SELECT doc_id, doc_id % 18 AS off,
           |    regexp_split_to_array(trim(text), '\\s+') AS w
           |  FROM documents),
           |words AS (
           |  SELECT doc_id, off, unnest(w) AS word,
           |    unnest(range(0, len(w))) AS p
           |  FROM t),
           |f AS (
           |  SELECT doc_id, off, word, p,
           |    (p >= off AND (p - off) % $st < $sp) AS inspan,
           |    (p >= off AND (p - off) % $st = 0) AS firsttok,
           |    (p - off) // $st AS k
           |  FROM words)
           |SELECT doc_id,
           |  CAST(count(*) AS BIGINT) AS n_tokens,
           |  CAST(count(*) FILTER (WHERE inspan) AS BIGINT) AS n_masked,
           |  COALESCE(string_agg(
           |    CASE WHEN firsttok
           |         THEN '<extra_id_' || CAST(k AS VARCHAR) || '>'
           |         ELSE word END, ' ' ORDER BY p)
           |    FILTER (WHERE NOT inspan OR firsttok), '') AS input_text,
           |  COALESCE(string_agg(
           |    CASE WHEN firsttok
           |         THEN '<extra_id_' || CAST(k AS VARCHAR) || '> '
           |           || word
           |         ELSE word END, ' ' ORDER BY p)
           |    FILTER (WHERE inspan), '') AS target_text
           |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin
      },
      // t31: the same md5 bucket arithmetic as t20, ranked per stratum
      "t31_eval_sample" ->
        s"""WITH b AS (
           |  SELECT doc_id, lang,
           |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)
           |      AS BIGINT) % 1000000 AS bucket
           |  FROM documents),
           |r AS (
           |  SELECT lang, doc_id, bucket,
           |    row_number() OVER (PARTITION BY lang
           |      ORDER BY bucket, doc_id) AS rk
           |  FROM b)
           |SELECT lang, rk, doc_id, bucket FROM r
           |WHERE rk <= $EvalSamplePerLang ORDER BY lang, rk""".stripMargin,
      // same md5-derived bucket arithmetic as Sampling.portableBucket
      "t20_split_audit" ->
        """WITH b AS (
          |  SELECT lang,
          |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)
          |      AS BIGINT) % 1000000 AS bucket
          |  FROM documents)
          |SELECT lang,
          |  CASE WHEN bucket < 800000 THEN 0
          |       WHEN bucket < 900000 THEN 1 ELSE 2 END AS split,
          |  count(*) AS n_docs
          |FROM b GROUP BY 1, 2 ORDER BY lang, split""".stripMargin,
      // t26: the DuckDB twin recomputes the kept-span reconstruction —
      // eval gram set, covered train positions, per-doc rebuild
      "t26_span_decontaminate" -> {
        val n = DecontamGramLen
        s"""WITH toks AS (
           |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
           |  FROM documents),
           |tr AS (SELECT * FROM toks WHERE doc_id % $DecontamEvalMod <> 0),
           |words AS (
           |  SELECT doc_id, unnest(w) AS word,
           |    unnest(range(1, len(w) + 1)) AS pos
           |  FROM tr),
           |tg AS (
           |  SELECT doc_id, i AS pos,
           |    array_to_string(w[i:i+${n - 1}], ' ') AS g
           |  FROM (SELECT doc_id, w, unnest(range(1, len(w) - ${n - 2}))
           |          AS i
           |        FROM tr WHERE len(w) >= $n)),
           |ev AS (
           |  SELECT DISTINCT array_to_string(w[i:i+${n - 1}], ' ') AS g
           |  FROM (SELECT doc_id, w, unnest(range(1, len(w) - ${n - 2}))
           |          AS i
           |        FROM toks
           |        WHERE doc_id % $DecontamEvalMod = 0 AND len(w) >= $n)),
           |covered AS (
           |  SELECT DISTINCT doc_id, pos FROM (
           |    SELECT t.doc_id, unnest(range(t.pos, t.pos + $n)) AS pos
           |    FROM tg t JOIN ev ON ev.g = t.g)),
           |rebuilt AS (
           |  SELECT w.doc_id, CAST(count(*) AS BIGINT) AS n_kept,
           |    string_agg(w.word, ' ' ORDER BY w.pos) AS cleaned_text
           |  FROM words w
           |  WHERE NOT EXISTS (SELECT 1 FROM covered c
           |                    WHERE c.doc_id = w.doc_id AND c.pos = w.pos)
           |  GROUP BY w.doc_id)
           |SELECT t.doc_id, CAST(len(t.w) AS BIGINT) AS n_words,
           |  COALESCE(r.n_kept, 0) AS n_kept,
           |  CAST(len(t.w) AS BIGINT) - COALESCE(r.n_kept, 0) AS n_removed,
           |  COALESCE(r.cleaned_text, '') AS cleaned_text
           |FROM tr t LEFT JOIN rebuilt r USING (doc_id)
           |ORDER BY doc_id""".stripMargin
      },
      // t49: the oracle ignores the bloom entirely — the gate is a
      // pure pre-filter with no false negatives and the verify join
      // removes false positives, so the exact join semantics below
      // ARE the operator's contract at any fpp
      "t49_bloom_decontaminate" ->
        s"""WITH toks AS (
           |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
           |  FROM documents),
           |grams AS (
           |  SELECT doc_id,
           |    array_to_string(t[i:i+${DecontamGramLen - 1}], ' ') AS g
           |  FROM (SELECT doc_id, t,
           |          unnest(range(1, len(t) - ${DecontamGramLen - 2}))
           |            AS i
           |        FROM toks WHERE len(t) >= $DecontamGramLen)),
           |ref AS (
           |  SELECT g, min(doc_id) AS ref_doc FROM grams
           |  WHERE doc_id % 2 = 1 GROUP BY g)
           |SELECT doc_id,
           |  CAST(count(DISTINCT a.g) AS BIGINT) AS n_shared,
           |  min(ref.ref_doc) AS first_ref_doc
           |FROM grams a JOIN ref ON a.g = ref.g
           |WHERE doc_id % 2 = 0
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      "t21_decontaminate" ->
        s"""WITH toks AS (
           |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
           |  FROM documents),
           |grams AS (
           |  SELECT doc_id,
           |    array_to_string(t[i:i+${DecontamGramLen - 1}], ' ') AS g
           |  FROM (SELECT doc_id, t,
           |          unnest(range(1, len(t) - ${DecontamGramLen - 2}))
           |            AS i
           |        FROM toks WHERE len(t) >= $DecontamGramLen)),
           |ev AS (
           |  SELECT g, min(doc_id) AS eval_doc FROM grams
           |  WHERE doc_id % $DecontamEvalMod = 0 GROUP BY g)
           |SELECT doc_id,
           |  CAST(count(DISTINCT a.g) AS BIGINT) AS n_shared,
           |  min(ev.eval_doc) AS first_eval_doc
           |FROM grams a JOIN ev ON a.g = ev.g
           |WHERE doc_id % $DecontamEvalMod <> 0
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      "t22_repetition" ->
        s"""WITH toks AS (
           |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
           |  FROM documents),
           |bi AS (
           |  SELECT doc_id, g, count(*) AS c FROM (
           |    SELECT doc_id, array_to_string(t[i:i+1], ' ') AS g
           |    FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i
           |          FROM toks WHERE len(t) >= 2))
           |  GROUP BY 1, 2),
           |tri AS (
           |  SELECT doc_id, g, count(*) AS c FROM (
           |    SELECT doc_id, array_to_string(t[i:i+2], ' ') AS g
           |    FROM (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i
           |          FROM toks WHERE len(t) >= 3))
           |  GROUP BY 1, 2),
           |bs AS (SELECT doc_id,
           |         round(CAST(max(c) AS DOUBLE) / sum(c), 4)
           |           AS top_bigram_share
           |       FROM bi GROUP BY 1),
           |ts AS (SELECT doc_id,
           |         round(CAST(sum(c) - count(*) AS DOUBLE) / sum(c), 4)
           |           AS dup_trigram_frac
           |       FROM tri GROUP BY 1)
           |SELECT doc_id, top_bigram_share, dup_trigram_frac,
           |  (top_bigram_share > 0.05 OR dup_trigram_frac > 0.02)
           |    AS flagged
           |FROM bs JOIN ts USING (doc_id) ORDER BY doc_id""".stripMargin,
      "t23_source_curation" ->
        """WITH keyed AS (
          |  SELECT source, md5(substr(text, 1, 50)) AS k,
          |    len(string_split_regex(trim(text), '\s+')) AS n_words
          |  FROM documents)
          |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
          |  CAST(count(*) - count(DISTINCT k) AS BIGINT) AS dup_docs,
          |  round(CAST(count(*) - count(DISTINCT k) AS DOUBLE)
          |    / count(*), 4) AS dup_rate,
          |  round(avg(n_words), 2) AS mean_words,
          |  (round(CAST(count(*) - count(DISTINCT k) AS DOUBLE)
          |    / count(*), 4) <= 0.02) AS keep
          |FROM keyed GROUP BY source ORDER BY source""".stripMargin,
      "t09_char_trigrams" ->
        """SELECT g, count(*) AS n FROM (
          |  SELECT substr(text, CAST(i AS INT), 3) AS g
          |  FROM (SELECT text, unnest(range(1, length(text) - 1)) AS i
          |        FROM documents WHERE length(text) >= 3))
          |GROUP BY g ORDER BY n DESC, g ASC LIMIT 20""".stripMargin,
      "t10_corpus_stats" ->
        """SELECT lang, count(*) AS n_docs,
          |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
          |  CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
          |    AS total_tokens,
          |  round(avg(len(string_split_regex(trim(text), '\s+'))), 4)
          |    AS avg_tokens,
          |  count(DISTINCT source) AS n_sources
          |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    )
  }
}
