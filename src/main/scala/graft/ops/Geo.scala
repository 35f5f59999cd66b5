package graft.ops

import graft.{Query, QueryModule, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Geospatial operators (SURVEY.md §2.13 extension — the Sedona/PostGIS-lite
  * surface an analytics engine needs once rows carry coordinates): grid-cell
  * bucketed radius joins, exact k-nearest-neighbour, density rasters, geohash
  * encoding, and great-circle (haversine) distance. All constructions are
  * public knowledge (geohash is public domain, the haversine formula and
  * grid-blocked spatial joins are textbook).
  *
  * Design rules:
  *  - Points are synthesized deterministically from the fixture keys onto an
  *    integer planar domain [0, 1e6)² ("meters"), so distance predicates are
  *    EXACT BIGINT arithmetic — the oracle is hash-exact with no float hazard.
  *    Trig appears only in [[haversineCapitals]] (true spherical distance on
  *    a 25-row dim table) and is rounded at 6 dp on both engines per the
  *    repo's transcendental rule (SURVEY.md §5.3).
  *  - The scale posture mirrors the similarity family: the radius join is
  *    grid-bucketed (candidate pairs only within a cell and its 8 neighbours
  *    — never all-pairs; the 9× explode lands on the SMALL side), kNN
  *    broadcasts the small query side and streams the corpus exactly like
  *    sim_cosine_topk, and the rasters are plain hash aggregates.
  */
object Geo extends QueryModule {

  /** Radius for the grid join, in domain meters. Cell edge = R, so any pair
    * within R is within one cell hop — the standard blocking guarantee. */
  private val R = 50000L
  private val R2 = R * R

  /** Deterministic planar points from integer keys (LCG-style multipliers,
    * all exact in 64-bit on both engines). */
  private def custPts(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).select(
      col("c_custkey"), col("c_nationkey"),
      expr("(c_custkey * 48271) % 1000000").as("x"),
      expr("(c_custkey * 69621) % 1000000").as("y"))

  private def supPts(s: SparkSession, d: String): DataFrame =
    Tables.supplier(s, d).select(
      col("s_suppkey"),
      expr("(s_suppkey * 16807) % 1000000").as("sx"),
      expr("(s_suppkey * 39916801) % 1000000").as("sy"))

  private def d2(ax: Column, ay: Column, bx: Column, by: Column): Column =
    (ax - bx) * (ax - bx) + (ay - by) * (ay - by)

  /** GRID-BUCKETED RADIUS JOIN — every (customer, supplier) pair within R
    * meters, found without ever forming the cross product: suppliers (the
    * dim side) are exploded into their cell plus its 8 neighbours, the join
    * is a plain EQUI-join on the cell coordinate, and the exact
    * integer-squared-distance predicate runs only on co-located candidates.
    * Cell edge = R guarantees zero false negatives (any pair within R spans
    * at most one cell boundary per axis). The (cx, cy) join is UNHINTED:
    * at fixture scale the planner auto-broadcasts the 9×|supplier| side so
    * the customer corpus never shuffles, and at 100 TB — where supplier has
    * grown past the broadcast ceiling — AQE bucket-joins both sides on the
    * grid key (corpus-linear candidates under bounded density). Oracle:
    * DuckDB evaluates the raw quadratic predicate — a hash match proves
    * the blocking lost no pair. */
  def gridRadiusJoin(s: SparkSession, d: String): DataFrame = {
    val neigh = array((-1 to 1).map(lit): _*)
    val sCells = supPts(s, d)
      .withColumn("ox", explode(neigh))
      .withColumn("oy", explode(neigh))
      .select(col("s_suppkey"), col("sx"), col("sy"),
        (expr(s"sx div $R") + col("ox")).as("cx"),
        (expr(s"sy div $R") + col("oy")).as("cy"))
    custPts(s, d)
      .withColumn("cx", expr(s"x div $R"))
      .withColumn("cy", expr(s"y div $R"))
      .join(sCells, Seq("cx", "cy"))
      .filter(d2(col("x"), col("y"), col("sx"), col("sy")) <= R2)
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(d2(col("x"), col("y"), col("sx"), col("sy"))).cast("long").as("sum_d2"),
        min(d2(col("x"), col("y"), col("sx"), col("sy"))).cast("long").as("min_d2"))
      .orderBy(col("c_nationkey"))
  }

  /** EXACT kNN — the 3 nearest customers to every supplier, via CERTIFIED
    * grid pruning: candidates come from the supplier's cell and its 8
    * neighbours (the [[gridRadiusJoin]] blocking), a BOUNDED-HEAP
    * aggregate ([[graft.functions.TopK3]], value = −d2 so largest-value =
    * nearest, id tiebreak = custkey) keeps the 3 best per query in the
    * map phase, and the result is PROVABLY exact for any supplier whose
    * 3rd-nearest ring candidate lies within one cell edge: every point
    * outside the 3×3 block is separated by at least one full cell on some
    * axis, so its d2 > R² and it cannot displace a certified top-3. The
    * (typically empty) uncertified remainder falls back to the brute
    * arm — broadcast those queries, stream the corpus once, same heap.
    * Cost: |ring candidates| ≈ density·9R² per query instead of |corpus|
    * per query, and shuffle volume k·|queries| partial heaps either way —
    * no rank window ever re-sorts a candidate stream (the window form
    * measured 24.5 s at sf0.1; this form ~1 s). d2 < 2^41 stays exact
    * through the Double heap entry. The DuckDB oracle ranks the FULL
    * cross product — a hash match proves certification lost nothing. */
  def knn(s: SparkSession, d: String): DataFrame = {
    val tk = udaf(graft.functions.TopK3,
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[graft.functions.TopKEntry]())
    val sup = supPts(s, d)
    val neigh = array((-1 to 1).map(lit): _*)
    val supCells = sup
      .withColumn("ox", explode(neigh))
      .withColumn("oy", explode(neigh))
      .select(col("s_suppkey"), col("sx"), col("sy"),
        (expr(s"sx div $R") + col("ox")).as("gcx"),
        (expr(s"sy div $R") + col("oy")).as("gcy"))
    val pts = custPts(s, d)
    val ringTop = pts
      .withColumn("gcx", expr(s"x div $R"))
      .withColumn("gcy", expr(s"y div $R"))
      // Unhinted like gridRadiusJoin: auto-broadcast at fixture scale,
      // AQE grid-key bucket join at 100×.
      .join(supCells, Seq("gcx", "gcy"))
      .select(col("s_suppkey"), col("c_custkey"),
        d2(col("x"), col("y"), col("sx"), col("sy")).as("d2"))
      .groupBy(col("s_suppkey"))
      .agg(tk((-col("d2")).cast("double"), col("c_custkey")).as("top"))
    val certified = ringTop
      .filter(size(col("top")) === 3 &&
        expr(s"-element_at(top, 3).value <= $R2"))
    // certified grows with the supplier dimension (at dense fixtures it
    // is ALL suppliers) — unhinted, AQE broadcasts while it fits. The
    // uncertified remainder below keeps its hint: it is the author's
    // asserted-small boundary set (measured ≤64 by the theta audit) and
    // SHRINKS with density (9 → 0 across the fixture sfs).
    val uncertified = sup
      .join(certified.select(col("s_suppkey")), Seq("s_suppkey"), "left_anti")
    val bruteTop = pts.crossJoin(broadcast(uncertified))
      .select(col("s_suppkey"), col("c_custkey"),
        d2(col("x"), col("y"), col("sx"), col("sy")).as("d2"))
      .groupBy(col("s_suppkey"))
      .agg(tk((-col("d2")).cast("double"), col("c_custkey")).as("top"))
    certified.select(col("s_suppkey"), col("top"))
      .unionByName(bruteTop.select(col("s_suppkey"), col("top")))
      .select(col("s_suppkey"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("s_suppkey"), (col("pos") + 1).cast("int").as("rank"),
        col("e.id").as("c_custkey"), (-col("e.value")).cast("long").as("d2"))
      .orderBy(col("s_suppkey"), col("rank"))
  }

  /** DENSITY RASTER — point counts and exact integer centroids per 100 km
    * grid cell (10×10 over the domain): the heatmap/choropleth aggregate.
    * One hash aggregate, corpus-linear, map-side combinable — the shape
    * survives any scale. Centroids are exact: sums are BIGINT, the centroid
    * is an integer division materialized on both engines identically. */
  def densityGrid(s: SparkSession, d: String): DataFrame =
    custPts(s, d)
      .groupBy(expr("x div 100000").as("gx"), expr("y div 100000").as("gy"))
      .agg(count(lit(1)).as("n_points"),
        countDistinct(col("c_nationkey")).as("n_nations"),
        expr("sum(x) div count(1)").cast("long").as("cx"),
        expr("sum(y) div count(1)").cast("long").as("cy"))
      .orderBy(col("gx"), col("gy"))

  /** Geohash alphabet (public domain, Niemeyer 2008). */
  private val GhAlpha = "0123456789bcdefghjkmnpqrstuvwxyz"

  /** 30-bit geohash code: 15-bit quantized lon/lat, bit-interleaved with
    * longitude first (the geohash layout). Pure integer shifts — exact on
    * both engines. */
  private val ghCodeSql: String = {
    val latq = "((y * 32768) div 1000000)" // 15-bit quantized latitude
    val lonq = "((x * 32768) div 1000000)"
    (0 to 14).map { i =>
      s"(shiftleft(shiftright($lonq, $i) & 1, ${2 * i + 1})" +
        s" + shiftleft(shiftright($latq, $i) & 1, ${2 * i}))"
    }.mkString(" + ")
  }

  private def ghChars(codeCol: String): String =
    (0 to 5).map { j =>
      s"substr('$GhAlpha', cast((shiftright($codeCol, ${25 - 5 * j}) & 31) as int) + 1, 1)"
    }.mkString("concat(", ", ", ")")

  /** GEOHASH ENCODE + hot-cell ranking — the string-prefix spatial index:
    * encode every customer point to a 6-char geohash (30-bit interleave,
    * base-32), then rank the 20 densest cells. Prefix truncation = spatial
    * containment, which is what makes geohash the bucketing key for spatial
    * joins and Z-order layouts alike (the Morton curve in layout_zorder_exec
    * is this same interleave). TakeOrdered cuts the output — no global
    * window. */
  def geohashTopCells(s: SparkSession, d: String): DataFrame =
    custPts(s, d)
      .withColumn("code", expr(ghCodeSql))
      .withColumn("geohash", expr(ghChars("code")))
      .groupBy(col("geohash"))
      .agg(count(lit(1)).as("n_points"))
      .orderBy(col("n_points").desc, col("geohash"))
      .limit(20)

  /** HAVERSINE — true great-circle distance between the 25 nation
    * "capitals" (deterministic lat/lon from the nation key). The one geo
    * query with real trig: sin/cos/asin are StrictMath on Spark vs libm on
    * DuckDB (1-ulp divergence), so the distance is rounded at 6 dp on both
    * sides per the repo rule; sqrt and IEEE ± × ÷ are exempt. 25×25 pairs —
    * an intentionally tiny broadcast cross, like join_cross_regions. */
  def haversineCapitals(s: SparkSession, d: String): DataFrame = {
    val n = Tables.nation(s, d).select(col("n_nationkey"), col("n_name"),
      (col("n_nationkey") * 7.0d - 84.0d).as("lat"),
      (col("n_nationkey") * 14.0d - 168.0d).as("lon"))
    val a = n.select(col("n_name").as("n1"), col("lat").as("lat1"), col("lon").as("lon1"),
      col("n_nationkey").as("k1"))
    val b = n.select(col("n_name").as("n2"), col("lat").as("lat2"), col("lon").as("lon2"),
      col("n_nationkey").as("k2"))
    val sLat = sin((radians(col("lat2")) - radians(col("lat1"))) / 2)
    val sLon = sin((radians(col("lon2")) - radians(col("lon1"))) / 2)
    a.crossJoin(broadcast(b)).filter(col("k1") < col("k2"))
      // squares written as products, not pow(x,2): pow is StrictMath on
      // Spark vs libm on DuckDB, while IEEE multiply is exact on both.
      .withColumn("dist_km", round(
        lit(2.0d * 6371.0d) * asin(sqrt(
          sLat * sLat +
            cos(radians(col("lat1"))) * cos(radians(col("lat2"))) *
              (sLon * sLon))), 6))
      .select(col("n1"), col("n2"), col("dist_km"))
      .orderBy(col("n1"), col("n2"))
  }

  /** Polygon dim table — one deterministic convex quad per nation on the
    * integer domain (vertices are affine in the key, all arithmetic exact;
    * the quad is CCW and convex by construction: every consecutive edge
    * cross product is positive for any w, h > 0). One ROW per polygon,
    * edges as an array column — so containment can fold over the edges
    * per point WITHOUT a per-edge explode + re-group shuffle. */
  private def polygons(s: SparkSession, d: String): DataFrame =
    Tables.nation(s, d)
      .select(col("n_nationkey").cast("long").as("pid"))
      .selectExpr("pid",
        "(pid * 93001 + 137) % 800000 + 100000 as pcx",
        "(pid * 71993 + 251) % 800000 + 100000 as pcy",
        "30000 + (pid % 5) * 10000 as w",
        "25000 + (pid % 7) * 8000 as h")
      .selectExpr("pid",
        "pcx - w as x0", "pcy - h div 2 as y0",
        "pcx + w div 3 as xa", "pcy - h as ya",
        "pcx + w as xb", "pcy + h div 3 as yb",
        "pcx - w div 4 as xc", "pcy + h as yc",
        "pcx - w as xmin", "pcx + w as xmax",
        "pcy - h as ymin", "pcy + h as ymax")
      .selectExpr("pid", "xmin", "xmax", "ymin", "ymax",
        """array(struct(x0 as x1, y0 as y1, xa as x2, ya as y2),
          |      struct(xa as x1, ya as y1, xb as x2, yb as y2),
          |      struct(xb as x1, yb as y1, xc as x2, yc as y2),
          |      struct(xc as x1, yc as y1, x0 as x2, y0 as y2)) as edges""".stripMargin,
        // Shoelace: 2·area = |Σ x1·y2 − x2·y1| — exact in BIGINT.
        """abs(aggregate(array(x0*ya - xa*y0, xa*yb - xb*ya,
          |                    xb*yc - xc*yb, xc*y0 - x0*yc),
          |    0L, (a, t) -> a + t)) as area2""".stripMargin)

  /** POINT-IN-POLYGON — exact integer ray casting: a point is inside iff an
    * upward ray crosses an ODD number of edges (straddle test on y, side
    * test via the edge cross product with the inequality flipped for
    * downward edges — all BIGINT, no division, identical on both engines).
    * The crossing count folds over the polygon's edge ARRAY per joined row
    * (higher-order `aggregate`, whole-stage codegen), so the corpus never
    * re-groups: one broadcast equi-join on the grid cell (polygons explode
    * into the cells their bbox covers — the same blocking as
    * [[gridRadiusJoin]]), a bbox filter, the fold, and a 25-key hash agg.
    * At 100 TB with millions of polygons the cell join becomes a shuffle
    * equi-join; the per-point work stays |edges in cell|. Oracle: DuckDB
    * ray-casts relationally (edge table, per-pair crossing sum) — a hash
    * match proves the fold ≡ the relational form, and the exact shoelace
    * area rides along per polygon. */
  def pointInPolygon(s: SparkSession, d: String): DataFrame = {
    val cells = polygons(s, d)
      .withColumn("gcx", explode(expr(s"sequence(xmin div $R, xmax div $R)")))
      .withColumn("gcy", explode(expr(s"sequence(ymin div $R, ymax div $R)")))
    custPts(s, d)
      .withColumn("gcx", expr(s"x div $R"))
      .withColumn("gcy", expr(s"y div $R"))
      .join(broadcast(cells), Seq("gcx", "gcy"))
      .filter(col("x").between(col("xmin"), col("xmax")) &&
        col("y").between(col("ymin"), col("ymax")))
      .withColumn("ncross", expr(
        """aggregate(edges, 0L, (acc, e) -> acc + (CASE WHEN
          |  ((e.y1 > y) != (e.y2 > y)) AND
          |  (CASE WHEN e.y2 > e.y1
          |    THEN (e.x2 - e.x1) * (y - e.y1) - (x - e.x1) * (e.y2 - e.y1) > 0
          |    ELSE (e.x2 - e.x1) * (y - e.y1) - (x - e.x1) * (e.y2 - e.y1) < 0
          |  END) THEN 1 ELSE 0 END))""".stripMargin))
      .filter(col("ncross") % 2 === 1)
      .groupBy(col("pid"), col("area2"))
      .agg(count(lit(1)).as("n_inside"),
        sum(col("c_custkey")).cast("long").as("sum_key"))
      .select(col("pid"), col("n_inside"), col("sum_key"), col("area2"))
      .orderBy(col("pid"))
  }

  /** GRID DENSITY CLUSTERING (DBSCAN at cell granularity) — the spatial
    * clustering pattern that actually scales: point stats collapse to ONE
    * hash aggregate over the 8×8 cell grid (corpus-linear, map-side
    * combinable), "core" cells are those denser than the grid mean
    * (n·64 > total — exact integer algebra, no float threshold), adjacent
    * core cells (8-neighbourhood, self-loop included so singleton cores
    * survive) connect, and components are labeled with the shared
    * [[graft.ops.LlmDedup.connectedComponents]] min-label/pointer-jumping
    * loop — which runs on the CELL graph (≤ 64 nodes, bounded by grid
    * resolution), never on points. At 100 TB the only data-scale work is
    * the first aggregate; assignment back to points would be one
    * broadcast join. Oracle: DuckDB recomputes the same components by
    * recursive-CTE transitive closure over the (tiny, symmetric,
    * self-looped) core adjacency — min reachable id is the identical
    * fixpoint. */
  def densityClusters(s: SparkSession, d: String): DataFrame = {
    val C = 125000L
    val cells = custPts(s, d)
      .groupBy(expr(s"x div $C").as("gx"), expr(s"y div $C").as("gy"))
      .agg(count(lit(1)).as("n"))
    val total = cells.agg(sum(col("n")).as("total"))
    val core = cells.crossJoin(broadcast(total))
      .filter(col("n") * 64 > col("total"))
      .select(col("gx"), col("gy"), col("n"),
        (col("gx") * 256 + col("gy")).as("id"))
    val off = array((-1 to 1).map(lit): _*)
    val nbrs = core
      .withColumn("ox", explode(off)).withColumn("oy", explode(off))
      .select(col("id").as("a_id"),
        (col("gx") + col("ox")).as("ngx"), (col("gy") + col("oy")).as("ngy"))
    val edges = nbrs.join(broadcast(core.select(
        col("gx").as("ngx"), col("gy").as("ngy"), col("id").as("b_id"))),
        Seq("ngx", "ngy"))
      .select(col("a_id"), col("b_id"))
    val labels = LlmDedup.connectedComponents(edges)
      .select(col("doc_id").as("id"), col("cluster_id"))
    core.join(broadcast(labels), Seq("id"))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_cells"),
        sum(col("n")).cast("long").as("n_points"),
        min(col("gx")).as("gx_min"), max(col("gx")).as("gx_max"),
        min(col("gy")).as("gy_min"), max(col("gy")).as("gy_max"))
      .orderBy(col("cluster_id"))
  }

  /** TRAJECTORY ANALYTICS — movement statistics per entity over the
    * event stream: each event pins a deterministic position (the same
    * LCG lattice as the point tables, keyed by event id), and per user
    * the ordered hops yield total L1 path length, the largest single
    * hop, net L1 displacement (first→last), and an integer straightness
    * ratio (displacement·100 div path — 100 means a straight commute,
    * small means wandering). L1 keeps every statistic exact BIGINT (an
    * L2 path would need sqrt per hop — fine numerically, but the oracle
    * gate would inherit float hazards for zero analytic gain). All
    * windows partition on the entity — the catalog-wide no-global-window
    * invariant applies — and the aggregate is one hash agg: per-entity
    * trajectory state never leaves its shuffle partition, the shape that
    * holds at any corpus size. */
  def trajectories(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val wd = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"),
        expr("(event_id * 48271) % 1000000").as("px"),
        expr("(event_id * 69621) % 1000000").as("py"))
      .withColumn("hop",
        abs(col("px") - lag(col("px"), 1).over(w)) +
          abs(col("py") - lag(col("py"), 1).over(w)))
      .withColumn("rn", row_number().over(w))
      .withColumn("rnd", row_number().over(wd))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_points"),
        coalesce(sum(col("hop")), lit(0L)).cast("long").as("path_l1"),
        coalesce(max(col("hop")), lit(0L)).cast("long").as("max_hop"),
        sum(when(col("rn") === 1, col("px"))).as("fx"),
        sum(when(col("rn") === 1, col("py"))).as("fy"),
        sum(when(col("rnd") === 1, col("px"))).as("lx"),
        sum(when(col("rnd") === 1, col("py"))).as("ly"))
      .filter(col("n_points") >= 2)
      .select(col("user_id"), col("n_points"), col("path_l1"), col("max_hop"),
        (abs(col("lx") - col("fx")) + abs(col("ly") - col("fy")))
          .cast("long").as("disp_l1"),
        when(col("path_l1") === 0, 100L)
          .otherwise(expr("(abs(lx - fx) + abs(ly - fy)) * 100 div path_l1"))
          .cast("long").as("straightness_pct"))
      .orderBy(col("user_id"))
  }

  private val custSql =
    """SELECT c_custkey, c_nationkey,
      |    (c_custkey * 48271) % 1000000 AS x,
      |    (c_custkey * 69621) % 1000000 AS y FROM customer""".stripMargin
  private val supSql =
    """SELECT s_suppkey,
      |    (s_suppkey * 16807) % 1000000 AS sx,
      |    (s_suppkey * 39916801) % 1000000 AS sy FROM supplier""".stripMargin

  private val ghCodeDuck: String = {
    val latq = "((y * 32768) // 1000000)"
    val lonq = "((x * 32768) // 1000000)"
    (0 to 14).map { i =>
      s"((((${lonq} >> $i) & 1) << ${2 * i + 1}) + ((((${latq}) >> $i) & 1) << ${2 * i}))"
    }.mkString(" + ")
  }
  private val ghCharsDuck: String =
    (0 to 5).map { j =>
      s"substr('$GhAlpha', CAST(((code >> ${25 - 5 * j}) & 31) AS INT) + 1, 1)"
    }.mkString(" || ")

  override def catalog: Seq[Query] = Seq(
    // The same lag/row_number algebra relationally — every statistic is
    // exact BIGINT, so the hash gate is float-free.
    Query("geo_trajectories", trajectories, Some(
      """WITH e AS (
        |  SELECT user_id, ts, event_id,
        |    (event_id * 48271) % 1000000 AS px,
        |    (event_id * 69621) % 1000000 AS py
        |  FROM events),
        |h AS (
        |  SELECT user_id, px, py,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS rn,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rnd,
        |    abs(px - lag(px) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id)) +
        |    abs(py - lag(py) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id)) AS hop
        |  FROM e),
        |a AS (
        |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_points,
        |    CAST(COALESCE(SUM(hop), 0) AS BIGINT) AS path_l1,
        |    CAST(COALESCE(MAX(hop), 0) AS BIGINT) AS max_hop,
        |    SUM(CASE WHEN rn = 1 THEN px END) AS fx,
        |    SUM(CASE WHEN rn = 1 THEN py END) AS fy,
        |    SUM(CASE WHEN rnd = 1 THEN px END) AS lx,
        |    SUM(CASE WHEN rnd = 1 THEN py END) AS ly
        |  FROM h GROUP BY user_id)
        |SELECT user_id, n_points, path_l1, max_hop,
        |  CAST(abs(lx - fx) + abs(ly - fy) AS BIGINT) AS disp_l1,
        |  CAST(CASE WHEN path_l1 = 0 THEN 100
        |    ELSE (abs(lx - fx) + abs(ly - fy)) * 100 // path_l1 END
        |    AS BIGINT) AS straightness_pct
        |FROM a WHERE n_points >= 2 ORDER BY user_id""".stripMargin)),
    // Components by recursive-CTE transitive closure over the symmetric
    // self-looped core adjacency — min reachable id equals the Spark
    // side's min-label fixpoint.
    Query("geo_density_clusters", densityClusters, Some(
      s"""WITH c AS ($custSql),
         |g AS (SELECT x // 125000 AS gx, y // 125000 AS gy,
         |    CAST(COUNT(*) AS BIGINT) AS n
         |  FROM c GROUP BY 1, 2),
         |t AS (SELECT SUM(n) AS total FROM g),
         |core AS (SELECT gx, gy, n, gx * 256 + gy AS id
         |  FROM g, t WHERE n * 64 > total),
         |e AS (SELECT a.id AS a, b.id AS b FROM core a JOIN core b
         |  ON abs(a.gx - b.gx) <= 1 AND abs(a.gy - b.gy) <= 1),
         |reach AS (
         |  WITH RECURSIVE r(a, b) AS (
         |    SELECT a, b FROM e
         |    UNION
         |    SELECT r.a, e.b FROM r JOIN e ON r.b = e.a)
         |  SELECT a, b FROM r),
         |lab AS (SELECT a AS id, MIN(b) AS cluster_id FROM reach GROUP BY a)
         |SELECT lab.cluster_id, CAST(COUNT(*) AS BIGINT) AS n_cells,
         |  CAST(SUM(core.n) AS BIGINT) AS n_points,
         |  MIN(core.gx) AS gx_min, MAX(core.gx) AS gx_max,
         |  MIN(core.gy) AS gy_min, MAX(core.gy) AS gy_max
         |FROM core JOIN lab ON core.id = lab.id
         |GROUP BY lab.cluster_id ORDER BY cluster_id""".stripMargin)),
    // The raw quadratic predicate — proves grid blocking lost no pair.
    Query("geo_grid_join", gridRadiusJoin, Some(
      s"""WITH c AS ($custSql), s AS ($supSql),
         |p AS (SELECT c_nationkey,
         |    (x - sx) * (x - sx) + (y - sy) * (y - sy) AS d2
         |  FROM c, s)
         |SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |  CAST(SUM(d2) AS BIGINT) AS sum_d2,
         |  CAST(MIN(d2) AS BIGINT) AS min_d2
         |FROM p WHERE d2 <= $R2
         |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin)),
    Query("geo_knn", knn, Some(
      s"""WITH c AS ($custSql), s AS ($supSql),
         |p AS (SELECT s_suppkey, c_custkey,
         |    (x - sx) * (x - sx) + (y - sy) * (y - sy) AS d2,
         |    ROW_NUMBER() OVER (PARTITION BY s_suppkey
         |      ORDER BY (x - sx) * (x - sx) + (y - sy) * (y - sy), c_custkey)
         |      AS rank
         |  FROM c, s)
         |SELECT s_suppkey, CAST(rank AS INT) AS rank, c_custkey, d2
         |FROM p WHERE rank <= 3 ORDER BY s_suppkey, rank""".stripMargin)),
    Query("geo_density_grid", densityGrid, Some(
      s"""WITH c AS ($custSql)
         |SELECT x // 100000 AS gx, y // 100000 AS gy,
         |  CAST(COUNT(*) AS BIGINT) AS n_points,
         |  CAST(COUNT(DISTINCT c_nationkey) AS BIGINT) AS n_nations,
         |  CAST(SUM(x) // COUNT(*) AS BIGINT) AS cx,
         |  CAST(SUM(y) // COUNT(*) AS BIGINT) AS cy
         |FROM c GROUP BY gx, gy ORDER BY gx, gy""".stripMargin)),
    Query("geo_geohash_cells", geohashTopCells, Some(
      s"""WITH c AS ($custSql),
         |g AS (SELECT $ghCodeDuck AS code FROM c),
         |h AS (SELECT $ghCharsDuck AS geohash FROM g)
         |SELECT geohash, CAST(COUNT(*) AS BIGINT) AS n_points
         |FROM h GROUP BY geohash
         |ORDER BY n_points DESC, geohash LIMIT 20""".stripMargin)),
    // Relational ray cast: per-(point, edge) crossing rows summed per pair —
    // a hash match proves the Spark-side higher-order fold computes the
    // same parity, and the shoelace area the same 2A.
    Query("geo_point_in_polygon", pointInPolygon, Some(
      s"""WITH c AS ($custSql),
         |p AS (SELECT CAST(n_nationkey AS BIGINT) AS pid,
         |    (CAST(n_nationkey AS BIGINT) * 93001 + 137) % 800000 + 100000 AS pcx,
         |    (CAST(n_nationkey AS BIGINT) * 71993 + 251) % 800000 + 100000 AS pcy,
         |    30000 + (CAST(n_nationkey AS BIGINT) % 5) * 10000 AS w,
         |    25000 + (CAST(n_nationkey AS BIGINT) % 7) * 8000 AS h
         |  FROM nation),
         |v AS (SELECT pid,
         |    pcx - w AS x0, pcy - h // 2 AS y0,
         |    pcx + w // 3 AS xa, pcy - h AS ya,
         |    pcx + w AS xb, pcy + h // 3 AS yb,
         |    pcx - w // 4 AS xc, pcy + h AS yc,
         |    pcx - w AS xmin, pcx + w AS xmax,
         |    pcy - h AS ymin, pcy + h AS ymax
         |  FROM p),
         |e AS (
         |  SELECT pid, x0 AS ex1, y0 AS ey1, xa AS ex2, ya AS ey2,
         |    xmin, xmax, ymin, ymax FROM v
         |  UNION ALL SELECT pid, xa, ya, xb, yb, xmin, xmax, ymin, ymax FROM v
         |  UNION ALL SELECT pid, xb, yb, xc, yc, xmin, xmax, ymin, ymax FROM v
         |  UNION ALL SELECT pid, xc, yc, x0, y0, xmin, xmax, ymin, ymax FROM v),
         |a AS (SELECT pid,
         |    ABS(SUM(ex1 * ey2 - ex2 * ey1)) AS area2 FROM e GROUP BY pid),
         |x AS (SELECT e.pid, c.c_custkey,
         |    CASE WHEN ((e.ey1 > c.y) <> (e.ey2 > c.y)) AND
         |      (CASE WHEN e.ey2 > e.ey1
         |        THEN (e.ex2 - e.ex1) * (c.y - e.ey1)
         |           - (c.x - e.ex1) * (e.ey2 - e.ey1) > 0
         |        ELSE (e.ex2 - e.ex1) * (c.y - e.ey1)
         |           - (c.x - e.ex1) * (e.ey2 - e.ey1) < 0 END)
         |    THEN 1 ELSE 0 END AS crossing
         |  FROM c JOIN e ON c.x BETWEEN e.xmin AND e.xmax
         |    AND c.y BETWEEN e.ymin AND e.ymax),
         |i AS (SELECT pid, c_custkey FROM x
         |  GROUP BY pid, c_custkey HAVING SUM(crossing) % 2 = 1)
         |SELECT i.pid, CAST(COUNT(*) AS BIGINT) AS n_inside,
         |  CAST(SUM(i.c_custkey) AS BIGINT) AS sum_key,
         |  CAST(a.area2 AS BIGINT) AS area2
         |FROM i JOIN a ON i.pid = a.pid
         |GROUP BY i.pid, a.area2 ORDER BY i.pid""".stripMargin)),
    Query("geo_haversine", haversineCapitals, Some(
      """WITH n AS (SELECT n_nationkey, n_name,
        |    CAST(n_nationkey * 7.0 AS DOUBLE) - 84.0 AS lat,
        |    CAST(n_nationkey * 14.0 AS DOUBLE) - 168.0 AS lon FROM nation),
        |p AS (SELECT a.n_name AS n1, b.n_name AS n2,
        |    sin((radians(b.lat) - radians(a.lat)) / 2) AS slat,
        |    sin((radians(b.lon) - radians(a.lon)) / 2) AS slon,
        |    cos(radians(a.lat)) * cos(radians(b.lat)) AS cc
        |  FROM n a, n b WHERE a.n_nationkey < b.n_nationkey)
        |SELECT n1, n2,
        |  round(CAST(2.0 * 6371.0 AS DOUBLE) * asin(sqrt(
        |    slat * slat + cc * (slon * slon))), 6) AS dist_km
        |FROM p ORDER BY n1, n2""".stripMargin)),
  )
}
