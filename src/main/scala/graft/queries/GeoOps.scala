package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.GeoFunctions
import graft.functions.GeoFunctions._

/** Geospatial operator surface over synthetic points derived from the
  * customer table (SURVEY §2.3 J7/J8, §2.8 ST_ table, README.md:6-8
  * motivating questions generalized).
  *
  * Points are derived with pure integer arithmetic (`custkey*37 % 360`)
  * so coordinates are exact in both engines, and the DuckDB oracles for
  * containment reduce to exact comparisons / cross-product sign tests —
  * making the JTS predicates hash-verifiable without a spatial extension.
  */
object GeoOps {

  private type Q = (SparkSession, String) => DataFrame

  /** Deterministic synthetic point table: one point per customer. */
  private def points(s: SparkSession, d: String): DataFrame = {
    GeoFunctions.registerAll(s)
    Tables.customer(s, d).select(
      col("c_custkey"), col("c_mktsegment"), col("c_nationkey"),
      ((col("c_custkey") * 37 % 360) - 180 + lit(0.5)).cast("double")
        .as("lon"),
      ((col("c_custkey") * 53 % 180) - 90 + lit(0.5)).cast("double")
        .as("lat"))
  }

  private val pointsSql =
    """SELECT c_custkey, c_mktsegment, c_nationkey,
      |  CAST((c_custkey * 37 % 360) - 180 + 0.5 AS DOUBLE) AS lon,
      |  CAST((c_custkey * 53 % 180) - 90 + 0.5 AS DOUBLE) AS lat
      |FROM customer""".stripMargin

  /** g01 — bbox containment (reference J8 viewport filter): ST_Contains
    * against a rectangle. In the plan the geometry predicate is a
    * map-side filter; at scale a bbox pre-filter on lon/lat min/max
    * columns would push to parquet stats first (same shape as the
    * reference's zoom-gate).
    */
  val g01BboxContains: Q = (s, d) => {
    val rect = st_geomFromText(
      lit("POLYGON ((-60 -30, 40 -30, 40 45, -60 45, -60 -30))"))
    points(s, d)
      .filter(st_contains(rect, st_point(col("lon"), col("lat"))))
      .select("c_custkey", "lon", "lat")
      .orderBy("c_custkey")
  }

  /** g02 — point-in-polygon against a non-rectangular (triangle) region
    * (reference J7 click-lookup): count customers per market segment
    * inside the region.
    */
  val g02TrianglePip: Q = (s, d) => {
    val tri = st_geomFromText(
      lit("POLYGON ((-100 -60, 140 -60, 20 70, -100 -60))"))
    points(s, d)
      .filter(st_contains(tri, st_point(col("lon"), col("lat"))))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_inside"))
      .orderBy("c_mktsegment")
  }

  /** g03 — per-nation convex hull envelope-area ranking (README.md:7
    * largest/smallest generalized): st_collect per nation → hull →
    * envelope → area top-k. Geometry agg shuffles only nation keys.
    * Oracle-able since round 2: envelope(hull(pts)) ≡ envelope(pts), so
    * the area reduces to exact min/max arithmetic in DuckDB — coordinate
    * deltas are integer-valued doubles, making the product exact. The
    * hull itself still runs in-plan; its exact AREA (not SQL-expressible
    * without a spatial extension) stays pinned in GeoQuerySpec.
    */
  val g03HullAreaTopk: Q = (s, d) =>
    points(s, d)
      .select(col("c_nationkey"),
        st_point(col("lon"), col("lat")).as("pt"))
      .groupBy("c_nationkey")
      .agg(st_collect_agg(col("pt")).as("pts"),
        count(lit(1)).as("n_points"))
      .select(col("c_nationkey"), col("n_points"),
        round(st_area(st_envelope(st_convexHull(col("pts")))), 6)
          .as("hull_bbox_area"))
      .orderBy(col("hull_bbox_area").desc, col("c_nationkey").asc)
      .limit(10)

  /** g04 — collect vs dissolve semantics per region (reference
    * st_combine/st_union distinction, R/functions.R:471): union nation
    * hulls per region. Oracle-able since round 2: n_parts counts the
    * collected (undissolved) members, and the dissolved union's ENVELOPE
    * area equals the envelope of all the region's points — exact min/max
    * arithmetic in DuckDB. The full JTS dissolve still runs in-plan; the
    * dissolved exact area stays pinned in GeoQuerySpec.
    */
  val g04UnionVsCollect: Q = (s, d) => {
    val hulls = points(s, d)
      .select(col("c_nationkey"),
        st_point(col("lon"), col("lat")).as("pt"))
      .groupBy("c_nationkey")
      .agg(st_convexHull(st_collect_agg(col("pt"))).as("hull"))
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
    hulls.groupBy("n_regionkey")
      .agg(
        st_numGeometries(st_collect_agg(col("hull"))).as("n_parts"),
        round(st_area(st_envelope(st_union_agg(col("hull")))), 6)
          .as("union_bbox_area"))
      .orderBy("n_regionkey")
  }

  /** g05 — spatial binning (60° grid): the scalable form of a spatial
    * join against a regular grid — cell id from coordinates, pure
    * integer arithmetic, shuffle on cell id. The geometry round-trips
    * through WKB (st_point → st_x/st_y) to exercise the codec in-plan.
    */
  val g05GridBin: Q = (s, d) =>
    points(s, d)
      .select(st_point(col("lon"), col("lat")).as("pt"))
      .select(
        floor((st_x(col("pt")) + 180) / 60).cast("int").as("cell_x"),
        floor((st_y(col("pt")) + 90) / 60).cast("int").as("cell_y"))
      .groupBy("cell_x", "cell_y")
      .agg(count(lit(1)).as("n_points"))
      .orderBy("cell_x", "cell_y")

  /** g06 — the cleaned-layer replay's PROPERTY TABLE, now fully
    * DuckDB-oracled (r12 VERDICT item 5): certificate set, merge
    * fold-in counts, and metadata join re-derived by the oracle over
    * the same committed inputs (read_json on the feature lists,
    * read_csv on the scraped CSV, the config as VALUES literals). The
    * geometry half keeps its golden pinning — FullReplaySpec
    * byte-compares the published file (106/108, the two s2-rounding
    * unions enumerated), GoldenReplaySpec pins the g08 area rows —
    * and the full-scale geometry BUILD keeps its bench flagship slot
    * as the bench-only twin g06b_cleaned_geometry (BASELINE.md:
    * 1.259 s single-threaded R). Without the reference inputs the
    * query fails at its first read, naming the missing path.
    */
  val g06AlaskaReplay: Q = (s, _) =>
    graft.pipeline.AlaskaReplay.cleanedProperties(s)

  /** g06b (bench-only) — the full-scale geometry build + scalar
    * summary that was the declared g06 through round 12: rebuilds the
    * cleaned layer's geometries (KML-derived raw + PLSS substitution,
    * st_union_agg merges) and reduces them to deterministic scalars.
    * Not declared: the areas are geometry-derived (no SQL oracle);
    * correctness is FullReplaySpec's byte/topology goldens. Kept in
    * BENCH so the engine-vs-reference flagship number (BASELINE.md
    * 1.259 s) stays measured every round.
    */
  val g06bCleanedGeometry: Q = (s, _) =>
    if (graft.pipeline.AlaskaReplay.available)
      graft.pipeline.AlaskaReplay.cleanedSummary(s)
    else
      s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq.empty))

  /** g07 — bbox scan over a Z-ORDERED copy of the point table (mandate
    * "Z-order"; the lakehouse OPTIMIZE ZORDER shape): the table is
    * rewritten once clustered on the Morton curve (memoized by sf dir),
    * so each parquet file carries a tight lon/lat min/max envelope and
    * the pushed range predicates skip most files at scale
    * (ZOrderSpec measures >4× tighter file bboxes than round-robin).
    * The oracle is the same bbox over the UNCLUSTERED source — proving
    * the clustering rewrite preserves content exactly; PlanSpec asserts
    * the predicates reach the z-ordered scan.
    */
  val g07ZOrderScan: Q = (s, d) => {
    // StageCache memoization (NOT a bare _SUCCESS check): keyed by the
    // customer parquet's size+mtime fingerprint, so regenerated source
    // data rebuilds the clustered copy instead of serving stale rows.
    // The z-layout survives the cache write because it lives in the
    // frame's range partitioning + in-partition sort, not the writer.
    val cache = new graft.pipeline.StageCache(s,
      graft.pipeline.StageCache.indexRoot)
    val zordered = cache.stage("zorder_points",
      cache.versionHash(Seq("zorder", "v1", "files=8")),
      Seq(s"$d/customer.parquet")) {
      points(s, d)
        .withColumn("__z", graft.operators.ZOrder
          .zorder(col("lon"), col("lat")))
        .repartitionByRange(8, col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
    }
    zordered
      .filter(col("lon") >= -60 && col("lon") <= 40 &&
        col("lat") >= -30 && col("lat") <= 45)
      .select("c_custkey", "lon", "lat")
      .orderBy("c_custkey")
  }

  /** g08 — the reference README's research question 2 ("Which utility
    * serves the largest area? The smallest?" — reference README.md:7)
    * answered in km² over the rebuilt cleaned layer, SURVEY §7's
    * geodesic-area promotion. Area is [[graft.functions.GeoFunctions
    * .STAreaSpherical]] (spherical excess on the authalic sphere — a
    * published, engine-independent geodesic formula) because the layer
    * is EPSG:4326 degrees: PLANAR st_area on lon/lat returns deg²,
    * which overweights low-latitude polygons (one degree of longitude
    * is cos(lat)× shorter on the ground — a 0.33× to 0.56× squeeze
    * across Alaska's 51°–71°N span), so a deg² ranking is not a
    * ground-truth ranking. Both numbers are emitted per row — the
    * planar/spherical delta is the documented point. Rows-only for the
    * driver (geometry provenance makes a SQL oracle impossible);
    * GoldenReplaySpec pins the rows verbatim, g06-style.
    */
  val g08AreaExtremes: Q = (s, _) =>
    if (graft.pipeline.AlaskaReplay.available) {
      val areas = graft.pipeline.AlaskaReplay.cleanedLayer(s)
        .select(
          col("certificate_number").cast("int").as("certificate_number"),
          col("entity"),
          round(st_area_spherical(col("geometry")), 2).as("area_km2"),
          round(st_area(col("geometry")), 6).as("area_deg2"))
      // top-1 each way = TakeOrderedAndProject (no global sort shuffle;
      // certificate_number tiebreak keeps the pick deterministic)
      val largest = areas
        .orderBy(col("area_km2").desc, col("certificate_number"))
        .limit(1).withColumn("which", lit("largest"))
      val smallest = areas
        .orderBy(col("area_km2").asc, col("certificate_number"))
        .limit(1).withColumn("which", lit("smallest"))
      largest.unionByName(smallest)
        .select("which", "certificate_number", "entity", "area_km2",
          "area_deg2")
    } else {
      // same 5-column schema as the populated branch (ADVICE r6: a
      // zero-column empty frame is schema drift if fixtures are absent)
      import org.apache.spark.sql.types._
      s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(
          StructField("which", StringType),
          StructField("certificate_number", IntegerType),
          StructField("entity", StringType),
          StructField("area_km2", DoubleType),
          StructField("area_deg2", DoubleType))))
    }

  /** Per-cell population target for the g09 grid. 32 keeps the
    * current SFs on the historical 30° grid (k=12) while any larger
    * corpus refines the grid instead of letting cells grow.
    */
  private[graft] val GridTargetPerCell = 32L

  /** Grid columns for the density-derived g09 cell width: the
    * smallest k in the doubling chain 12, 24, 48, … whose k × k/2
    * square-cell grid holds the corpus at ≤ [[GridTargetPerCell]]
    * mean points per cell (integer comparison 2·n ≤ target·k², the
    * exact rule the oracle's CASE chain mirrors). This is the v20
    * nlist ∝ N rule applied to the spatial grid: per-cell population
    * — and with it the cell self-join's quadratic term — stays
    * ~constant as density grows, instead of growing linearly the way
    * a fixed 30° literal would (the superlinear regime measured for
    * pinned nlist; receipts: scalecheck_r*.json).
    */
  private[graft] def gridCols(n: Long): Int = {
    var k = 12
    while (2L * n > GridTargetPerCell * k.toLong * k.toLong) k *= 2
    k
  }

  /** The gridCols rule as a SQL CASE chain, GENERATED from the same
    * doubling loop so oracle and engine cannot drift (review r12: a
    * hand-written 6-row chain silently clamped above ~2.36M points).
    * `depth` doublings cover 2n ≤ 32·(12·2^depth)² ≈ 9.7e9 points at
    * the default — far past any oracle scale; extend by passing a
    * larger depth if that ever binds.
    */
  private def gridColsSqlCase(countExpr: String,
      depth: Int = 12): String = {
    val whens = (0 until depth).map { j =>
      val k = 12L << j
      s"WHEN 2 * $countExpr <= $GridTargetPerCell * ${k * k} THEN $k"
    }.mkString("\n    ", "\n    ", "")
    s"CASE$whens\n    ELSE ${12L << depth} END"
  }

  /** The shared density-derived grid-cell ids (g09/g10/g11 — one
    * definition so cross-operator grid consistency holds by
    * construction, not by textual duplication): square cells of
    * 360/k degrees; 2·lon+360 is an exact integer-valued double for
    * the corpus' half-integer coordinates, so the floor matches the
    * oracle bit-for-bit, and k=12 reproduces the historical
    * floor((lon+180)/30).
    */
  private[graft] def cellX(c: Column, k: Int): Column =
    floor((c * 2 + 360) * k / 720).cast("int")
  private[graft] def cellY(c: Column, k: Int): Column =
    floor((c * 2 + 180) * k / 720).cast("int")

  /** The g09 core over an arbitrary (c_custkey, lon, lat) points
    * frame with a k-column grid (square cells of 360/k degrees).
    * Cell ids are exact: lon/lat are integer+0.5, so 2·lon+360 is an exact
    * integer-valued double and floor((2·lon+360)·k/720) is the same
    * in both engines (k=12 reduces to the historical
    * floor((lon+180)/30)).
    */
  private[graft] def knnJoinCellRanked(pts: DataFrame, k: Int)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = pts.select(
      col("c_custkey"), col("lon"), col("lat"),
      cellX(col("lon"), k).as("cx"), cellY(col("lat"), k).as("cy"))
    val a = c.select(col("cx"), col("cy"), col("c_custkey"),
      col("lon"), col("lat"))
    val b = c.select(col("cx"), col("cy"),
      col("c_custkey").as("neighbor_id"),
      col("lon").as("n_lon"), col("lat").as("n_lat"))
    val w = Window.partitionBy("c_custkey")
      .orderBy(col("d2"), col("neighbor_id"))
    a.join(b, Seq("cx", "cy"))
      .filter(col("c_custkey") =!= col("neighbor_id"))
      .withColumn("d2",
        ((col("lon") - col("n_lon")) * (col("lon") - col("n_lon")) +
          (col("lat") - col("n_lat")) * (col("lat") - col("n_lat")))
          .cast("long"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select("c_custkey", "rank", "neighbor_id", "d2")
      .orderBy("c_custkey", "rank")
  }

  /** g09 — GRID-LOCAL SPATIAL kNN JOIN (the geo member of the
    * cell-local kNN family next to v20's embedding graph): every
    * point's 3 nearest grid-cell-mates under exact squared degree
    * distance — the "nearest facilities" join a service-area analysis
    * runs, answered without an all-pairs join. Candidates come from
    * the (cell_x, cell_y) self equi-join — at 100 TB the grid is the
    * spatial index, and the cell width is DERIVED from corpus density
    * ([[gridCols]]: grid refines as N grows, per-cell population held
    * ~constant — r11 VERDICT: the prior hard-coded 30° made the cell
    * self-join quadratic in density). The corpus count feeding the
    * width is a parquet-footer count (metadata-only at scale), a
    * model parameter like v20's nlist. Per-point top-k is a
    * WindowGroupLimit prune. Coordinates are integer+0.5 by
    * construction, so every squared distance is an exact integer and
    * the (d², neighbor) rank hash-matches the oracle bit-for-bit.
    */
  val g09KnnJoin: Q = (s, d) => {
    val pts = points(s, d)
    knnJoinCellRanked(pts, gridCols(pts.count()))
  }

  /** g10 — GRID-INDEXED POINT-IN-POLYGON JOIN (the many-many spatial
    * join the reference's client runs one-polygon-at-a-time,
    * J7 generalized to a distributed join): which points fall inside
    * WHICH of a set of polygons, without a points × polygons
    * nested-loop. The classic tile-index scheme: each polygon is
    * replicated to the grid cells its bbox covers (an in-row
    * generator over the cell ranges — polygons × covered cells rows,
    * the small side); each point hashes to exactly ONE cell (so no
    * pair is ever produced twice and no dedup pass is needed); the
    * (cx, cy) equi-join prunes candidates to cell-mates and the
    * exact strict-interior test (three cross-product signs — integer
    * vertices × half-integer points keep every product exact in
    * double) filters them. Cell width is the SAME density-derived
    * [[gridCols]] grid as g09 — per-cell point population stays
    * bounded as the corpus grows. No broadcast hint: at bench SFs
    * the size estimate broadcasts the small polygon-cell side; a
    * polygon set too large to fit degrades to a shuffle join on the
    * cell key (q03's hint rule).
    *
    * The 25 test polygons are triangles derived from the nation key
    * (CCW by construction: base (w, 0), apex (w/2, h), w·h > 0);
    * the oracle verifies by brute-force all-pairs with the same
    * strict test — the grid must change WHAT is computed not at all,
    * only how many candidates are examined.
    */
  val g10PipJoin: Q = (s, d) => {
    val pts = points(s, d)
    val k = gridCols(pts.count())
    val tri = Tables.nation(s, d).select(
      col("n_nationkey").cast("int").as("polygon_id"),
      ((col("n_nationkey") * 29 % 280) - 170).cast("double").as("ax"),
      ((col("n_nationkey") * 17 % 120) - 80).cast("double").as("ay"),
      (lit(60) + (col("n_nationkey") % 5) * 20).cast("double").as("w"),
      (lit(50) + (col("n_nationkey") % 7) * 10).cast("double").as("h"))
      .select(col("polygon_id"), col("ax"), col("ay"),
        (col("ax") + col("w")).as("bx"), col("ay").as("by"),
        (col("ax") + col("w") / 2).as("cx_"),
        (col("ay") + col("h")).as("cy_"))
    val triCells = tri
      .withColumn("gx", explode(sequence(cellX(col("ax"), k),
        cellX(col("bx"), k))))
      .withColumn("gy", explode(sequence(cellY(col("ay"), k),
        cellY(col("cy_"), k))))
    val ptCells = pts.select(col("c_custkey"), col("lon"), col("lat"),
      cellX(col("lon"), k).as("gx"), cellY(col("lat"), k).as("gy"))
    ptCells.join(triCells, Seq("gx", "gy"))
      .filter(
        (col("bx") - col("ax")) * (col("lat") - col("ay")) -
          (col("by") - col("ay")) * (col("lon") - col("ax")) > 0 &&
        (col("cx_") - col("bx")) * (col("lat") - col("by")) -
          (col("cy_") - col("by")) * (col("lon") - col("bx")) > 0 &&
        (col("ax") - col("cx_")) * (col("lat") - col("cy_")) -
          (col("ay") - col("cy_")) * (col("lon") - col("cx_")) > 0)
      .groupBy("polygon_id")
      .agg(count(lit(1)).as("n_points"),
        sum("c_custkey").as("ids_checksum"))
      .orderBy("polygon_id")
  }

  /** g11 — SERVICE-AREA OVERLAP JOIN (the reference README's first
    * motivating question — "do service areas overlap?" — generalized
    * from 108 Alaska polygons to a corpus-sized distributed
    * spatial self-join): every customer point owns a square service
    * area (half-width 1.5/2.5/3.5° by key), and the join reports each
    * area's overlap degree and partner checksum. The PBSM
    * (partition-based spatial merge) scheme end-to-end:
    *
    *  - candidates from the same density-derived [[gridCols]] grid —
    *    each box replicates in-row to the cells its bbox covers, the
    *    (gx, gy) self equi-join meets cell-mates only;
    *  - the exact test is strict interval overlap on both axes
    *    (|Δx| < hₐ+h_b ∧ |Δy| < hₐ+h_b — centers are half-integers
    *    and half-widths half-integers, so every difference and sum is
    *    an exact integer-valued double in both engines);
    *  - a pair found in SEVERAL shared cells is deduplicated WITHOUT
    *    a distinct shuffle by the classic reference-point rule: the
    *    intersection box's min corner (max of left edges, max of
    *    bottom edges — integer-valued here) lies in exactly one grid
    *    cell, in both boxes' covers, so only the candidate generated
    *    in THAT cell survives the in-row filter;
    *  - each surviving a<b pair fans to both directions in-row
    *    (array+explode) and aggregates to per-area degree.
    *
    * The oracle is the brute-force all-pairs self-join with the same
    * strict test — the grid + reference point must only prune and
    * dedup, never change the relation. No broadcast hint anywhere:
    * both sides are the corpus.
    */
  val g11OverlapJoin: Q = (s, d) => {
    val pts = points(s, d)
    val k = gridCols(pts.count())
    val boxes = pts.select(
      col("c_custkey"), col("lon").as("x"), col("lat").as("y"),
      (lit(1.5) + (col("c_custkey") % 3)).as("h"))
    val cells = boxes
      .withColumn("gx", explode(sequence(cellX(col("x") - col("h"), k),
        cellX(col("x") + col("h"), k))))
      .withColumn("gy", explode(sequence(cellY(col("y") - col("h"), k),
        cellY(col("y") + col("h"), k))))
    val a = cells.select(col("gx"), col("gy"),
      col("c_custkey").as("ka"), col("x").as("xa"), col("y").as("ya"),
      col("h").as("ha"))
    val b = cells.select(col("gx"), col("gy"),
      col("c_custkey").as("kb"), col("x").as("xb"), col("y").as("yb"),
      col("h").as("hb"))
    val pairs = a.join(b, Seq("gx", "gy"))
      .filter(col("ka") < col("kb"))
      .filter(abs(col("xa") - col("xb")) < col("ha") + col("hb") &&
        abs(col("ya") - col("yb")) < col("ha") + col("hb"))
      // reference-point dedup: only the cell holding the intersection
      // min corner reports the pair
      .filter(col("gx") === cellX(greatest(col("xa") - col("ha"),
          col("xb") - col("hb")), k) &&
        col("gy") === cellY(greatest(col("ya") - col("ha"),
          col("yb") - col("hb")), k))
    pairs
      .select(explode(array(
        struct(col("ka").as("c_custkey"), col("kb").as("partner")),
        struct(col("kb").as("c_custkey"), col("ka").as("partner"))))
        .as("e"))
      .groupBy(col("e.c_custkey").as("c_custkey"))
      .agg(count(lit(1)).as("n_overlaps"),
        sum("e.partner").as("partner_checksum"))
      .orderBy("c_custkey")
  }

  /** g12's radius (degrees; d² compared against r² = 16 exactly) and
    * core-point bar (DBSCAN minPts).
    */
  private[graft] val RadiusJoinR = 4
  private[graft] val RadiusJoinMinPts = 3

  /** g12 — ε-NEIGHBORHOOD RADIUS JOIN (the DBSCAN primitive, and the
    * third candidate-generation scheme in the spatial-join family:
    * g09 replicates nothing and joins cell-mates, g10/g11 replicate
    * bbox covers, g12 replicates each point to its 3×3 NEIGHBOR
    * cells): every point's count of neighbors within distance r,
    * plus the core-point verdict (≥ minPts). Cell width is held ≥ r
    * (k capped at 360/r) so the 3×3 neighborhood is sufficient; the
    * probe side explodes to the 9 cells, the build side stays in its
    * home cell, and because a point's home cell is unique every
    * ORDERED pair is generated exactly once — per-point counts need
    * both directions, so no dedup pass exists to pay for. Distances
    * are exact integers (half-integer coordinates), the count join
    * is (gx, gy)-keyed, and zero-neighbor points re-enter via a
    * final keyed left join. Oracle: brute-force all-pairs with the
    * same strict d² < r² test.
    */
  val g12RadiusJoin: Q = (s, d) => {
    val pts = points(s, d)
    val k = math.min(gridCols(pts.count()), 360 / RadiusJoinR)
    val home = pts.select(col("c_custkey"), col("lon"), col("lat"),
      cellX(col("lon"), k).as("gx"), cellY(col("lat"), k).as("gy"))
    val probe = home
      .withColumn("dx", explode(sequence(lit(-1), lit(1))))
      .withColumn("dy", explode(sequence(lit(-1), lit(1))))
      .select(col("c_custkey").as("ka"), col("lon").as("xa"),
        col("lat").as("ya"),
        (col("gx") + col("dx")).as("gx"),
        (col("gy") + col("dy")).as("gy"))
    val build = home.select(col("gx"), col("gy"),
      col("c_custkey").as("kb"), col("lon").as("xb"),
      col("lat").as("yb"))
    val counts = probe.join(build, Seq("gx", "gy"))
      .filter(col("ka") =!= col("kb"))
      .filter(
        ((col("xa") - col("xb")) * (col("xa") - col("xb")) +
          (col("ya") - col("yb")) * (col("ya") - col("yb")))
          .cast("long") < lit(RadiusJoinR.toLong * RadiusJoinR))
      .groupBy(col("ka").as("c_custkey"))
      .agg(count(lit(1)).as("n_within_r"))
    pts.select("c_custkey")
      .join(counts, Seq("c_custkey"), "left")
      .select(col("c_custkey"),
        coalesce(col("n_within_r"), lit(0L)).as("n_within_r"))
      .withColumn("is_core",
        (col("n_within_r") >= RadiusJoinMinPts).cast("int"))
      .orderBy("c_custkey")
  }

  val queries: Map[String, Q] = Map(
    "g12_radius_join" -> g12RadiusJoin,
    "g11_overlap_join" -> g11OverlapJoin,
    "g10_pip_join" -> g10PipJoin,
    "g09_knn_join" -> g09KnnJoin,
    "g08_area_extremes" -> g08AreaExtremes,
    "g07_zorder_scan" -> g07ZOrderScan,
    "g06_alaska_cleaned_replay" -> g06AlaskaReplay,
    "g01_bbox_contains" -> g01BboxContains,
    "g02_triangle_pip" -> g02TrianglePip,
    "g03_hull_area_topk" -> g03HullAreaTopk,
    "g04_union_vs_collect" -> g04UnionVsCollect,
    "g05_grid_bin" -> g05GridBin,
  )

  val oracles: Map[String, String] = Map(
    // g06: the property pipeline replayed relationally over the SAME
    // committed inputs — feature lists via read_json, the scraped CSV
    // via read_csv, the _targets.R config as VALUES literals
    "g06_alaska_cleaned_replay" -> {
      import graft.pipeline.AlaskaReplay._
      val plssList = plssCerts.mkString(", ")
      val mergeVals = merges
        .map { case (to, from) => s"($from, $to)" }.mkString(", ")
      val operatorList = operatorIds.mkString(", ")
      val inactiveList = inactiveIds.mkString(", ")
      s"""WITH rawf AS (
         |  SELECT CAST(j.f.properties.certificate_number AS DOUBLE)
         |    AS cert
         |  FROM (SELECT unnest(features) AS f
         |        FROM read_json('$RawPath')) j
         |  WHERE CAST(j.f.properties.certificate_number AS DOUBLE)
         |    NOT IN ($plssList)),
         |plss AS (
         |  -- one dissolved patch feature per configured PLSS cert
         |  -- (the patch stage's contract), NOT a golden-file read.
         |  -- NOTE (review r14): both sides derive this slice from
         |  -- the SAME plssCerts config literal, so the hash-match is
         |  -- tautological FOR THESE ROWS — the one-dissolved-feature
         |  -- contract itself is verified by PlssPatchSpec (pinned to
         |  -- the reference's st_union savePatch), not by this
         |  -- replay. A contract change there must update both.
         |  SELECT CAST(cert AS DOUBLE) AS cert
         |  FROM (VALUES ${plssCerts.map(c => s"($c)").mkString(", ")})
         |    p(cert)),
         |src AS (
         |  SELECT cert FROM rawf UNION ALL SELECT cert FROM plss),
         |map AS (
         |  SELECT CAST(from_cert AS DOUBLE) AS from_cert,
         |    CAST(to_cert AS DOUBLE) AS to_cert
         |  FROM (VALUES $mergeVals) m(from_cert, to_cert)),
         |tgt AS (
         |  SELECT coalesce(m.to_cert, s.cert) AS cert,
         |    count(*) AS n_source_features
         |  FROM src s LEFT JOIN map m ON s.cert = m.from_cert
         |  GROUP BY 1),
         |act AS (
         |  SELECT CAST(certificate_number AS DOUBLE) AS cert, entity,
         |    certificate_name
         |  FROM read_csv('$CsvPath')
         |  WHERE certificate_status = 'Active'
         |    AND CAST(certificate_number AS DOUBLE)
         |      NOT IN ($operatorList)
         |    AND CAST(certificate_number AS DOUBLE)
         |      NOT IN ($inactiveList))
         |SELECT CAST(floor(t.cert) AS INT) AS certificate_number,
         |  a.entity,
         |  a.certificate_name,
         |  CAST(t.n_source_features AS BIGINT) AS n_source_features
         |FROM tgt t JOIN act a ON t.cert = a.cert
         |ORDER BY certificate_number""".stripMargin
    },
    // the z-ordered rewrite must preserve content exactly: same bbox
    // over the unclustered source
    "g07_zorder_scan" ->
      s"""WITH p AS ($pointsSql)
         |SELECT c_custkey, lon, lat FROM p
         |WHERE lon >= -60 AND lon <= 40 AND lat >= -30 AND lat <= 45
         |ORDER BY c_custkey""".stripMargin,
    // Strict interior test matches JTS contains (boundary excluded);
    // +0.5 offsets guarantee no point ever lies on a boundary.
    "g01_bbox_contains" ->
      s"""WITH p AS ($pointsSql)
         |SELECT c_custkey, lon, lat FROM p
         |WHERE lon > -60 AND lon < 40 AND lat > -30 AND lat < 45
         |ORDER BY c_custkey""".stripMargin,
    // CCW triangle (-100,-60) (140,-60) (20,70): interior = all three
    // cross products strictly positive. Exact double arithmetic.
    "g02_triangle_pip" ->
      s"""WITH p AS ($pointsSql)
         |SELECT c_mktsegment, count(*) AS n_inside FROM p
         |WHERE 240 * (lat + 60) > 0
         |  AND -120 * (lat + 60) - 130 * (lon - 140) > 0
         |  AND -120 * (lat - 70) + 130 * (lon - 20) > 0
         |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    // Envelope areas reduce to exact min/max arithmetic: lon/lat are
    // k+0.5 doubles, so deltas are integer-valued and the product is
    // exact in both engines (JTS's shoelace over the rectangle is exact
    // too — products carry ≤2 fractional bits at magnitude < 2^15).
    "g03_hull_area_topk" ->
      s"""WITH p AS ($pointsSql)
         |SELECT c_nationkey, count(*) AS n_points,
         |  round((max(lon) - min(lon)) * (max(lat) - min(lat)), 6)
         |    AS hull_bbox_area
         |FROM p GROUP BY 1
         |ORDER BY hull_bbox_area DESC, c_nationkey ASC
         |LIMIT 10""".stripMargin,
    "g04_union_vs_collect" ->
      s"""WITH p AS ($pointsSql)
         |SELECT n_regionkey,
         |  CAST(count(DISTINCT c_nationkey) AS INT) AS n_parts,
         |  round((max(lon) - min(lon)) * (max(lat) - min(lat)), 6)
         |    AS union_bbox_area
         |FROM p JOIN nation ON c_nationkey = n_nationkey
         |GROUP BY 1 ORDER BY n_regionkey""".stripMargin,
    "g05_grid_bin" ->
      s"""WITH p AS ($pointsSql)
         |SELECT CAST(floor((lon + 180) / 60) AS INT) AS cell_x,
         |  CAST(floor((lat + 90) / 60) AS INT) AS cell_y,
         |  count(*) AS n_points
         |FROM p GROUP BY 1, 2 ORDER BY cell_x, cell_y""".stripMargin,
    // g12: brute-force all-pairs neighbor counts with the same strict
    // d² < r² test, zeros kept via the left join
    "g12_radius_join" ->
      s"""WITH p AS ($pointsSql),
         |cnt AS (
         |  SELECT a.c_custkey,
         |    CAST(count(*) AS BIGINT) AS n_within_r
         |  FROM p a JOIN p b ON a.c_custkey <> b.c_custkey
         |   AND (a.lon - b.lon) * (a.lon - b.lon)
         |     + (a.lat - b.lat) * (a.lat - b.lat)
         |     < ${RadiusJoinR * RadiusJoinR}
         |  GROUP BY 1)
         |SELECT p.c_custkey,
         |  CAST(coalesce(c.n_within_r, 0) AS BIGINT) AS n_within_r,
         |  CAST(coalesce(c.n_within_r, 0) >= $RadiusJoinMinPts AS INT)
         |    AS is_core
         |FROM p LEFT JOIN cnt c ON c.c_custkey = p.c_custkey
         |ORDER BY p.c_custkey""".stripMargin,
    // g11: brute-force all-pairs strict interval-overlap self-join,
    // fanned to both directions — grid + reference-point dedup must
    // only prune and dedup, never change the relation
    "g11_overlap_join" ->
      s"""WITH p AS ($pointsSql),
         |bx AS (
         |  SELECT c_custkey, lon AS x, lat AS y,
         |    1.5 + (c_custkey % 3) AS h
         |  FROM p),
         |pr AS (
         |  SELECT a.c_custkey AS ka, b.c_custkey AS kb
         |  FROM bx a JOIN bx b ON a.c_custkey < b.c_custkey
         |   AND abs(a.x - b.x) < a.h + b.h
         |   AND abs(a.y - b.y) < a.h + b.h),
         |e AS (
         |  SELECT ka AS c_custkey, kb AS partner FROM pr
         |  UNION ALL
         |  SELECT kb, ka FROM pr)
         |SELECT c_custkey, CAST(count(*) AS BIGINT) AS n_overlaps,
         |  CAST(sum(partner) AS BIGINT) AS partner_checksum
         |FROM e GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,
    // g10: brute-force all-pairs with the same strict-interior test —
    // the grid prunes candidates, it must never change the result
    "g10_pip_join" ->
      s"""WITH p AS ($pointsSql),
         |t AS (
         |  SELECT CAST(n_nationkey AS INT) AS polygon_id,
         |    CAST((n_nationkey * 29 % 280) - 170 AS DOUBLE) AS ax,
         |    CAST((n_nationkey * 17 % 120) - 80 AS DOUBLE) AS ay,
         |    CAST(60 + (n_nationkey % 5) * 20 AS DOUBLE) AS w,
         |    CAST(50 + (n_nationkey % 7) * 10 AS DOUBLE) AS h
         |  FROM nation),
         |tt AS (
         |  SELECT polygon_id, ax, ay, ax + w AS bx, ay AS by_,
         |    ax + w / 2 AS cx_, ay + h AS cy_
         |  FROM t)
         |SELECT polygon_id, CAST(count(*) AS BIGINT) AS n_points,
         |  CAST(sum(c_custkey) AS BIGINT) AS ids_checksum
         |FROM tt JOIN p ON
         |  (bx - ax) * (lat - ay) - (by_ - ay) * (lon - ax) > 0 AND
         |  (cx_ - bx) * (lat - by_) - (cy_ - by_) * (lon - bx) > 0 AND
         |  (ax - cx_) * (lat - cy_) - (ay - cy_) * (lon - cx_) > 0
         |GROUP BY polygon_id ORDER BY polygon_id""".stripMargin,
    // g09: cell-mate pairs + exact integer squared degree distance +
    // the per-point (d2, neighbor) rank, re-derived flat. The width
    // CASE chain is GENERATED from gridCols' own doubling rule
    // (gridColsSqlCase) so engine and oracle cannot drift.
    "g09_knn_join" ->
      s"""WITH p AS ($pointsSql),
         |k AS (
         |  SELECT ${gridColsSqlCase("count(*)")} AS k
         |  FROM p),
         |c AS (
         |  SELECT c_custkey, lon, lat,
         |    CAST(floor((lon * 2 + 360) * k.k / 720) AS INT) AS cx,
         |    CAST(floor((lat * 2 + 180) * k.k / 720) AS INT) AS cy
         |  FROM p, k),
         |pr AS (
         |  SELECT a.c_custkey, b.c_custkey AS neighbor_id,
         |    CAST((a.lon - b.lon) * (a.lon - b.lon)
         |      + (a.lat - b.lat) * (a.lat - b.lat) AS BIGINT) AS d2
         |  FROM c a JOIN c b
         |    ON a.cx = b.cx AND a.cy = b.cy
         |   AND a.c_custkey <> b.c_custkey),
         |rk AS (
         |  SELECT c_custkey, neighbor_id, d2, row_number() OVER (
         |    PARTITION BY c_custkey ORDER BY d2, neighbor_id) AS rank
         |  FROM pr)
         |SELECT c_custkey, CAST(rank AS INT) AS rank, neighbor_id, d2
         |FROM rk WHERE rank <= 3
         |ORDER BY c_custkey, rank""".stripMargin,
  )
}
