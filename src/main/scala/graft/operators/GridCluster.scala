package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Grid-density spatial clustering — the scalable DBSCAN shape
  * (cf. grid-based variants of Ester et al.'s DBSCAN): quantize
  * points onto a `stepMicroDeg`-sized lat/lng grid, keep cells with
  * ≥ `minPts` points (core cells), and merge core cells that touch in
  * the 8-neighborhood into clusters via the alternating-star
  * connected-component resolver ([[Dedup.resolveClusters]] — the
  * O(log n)-round machinery the dedup tier already certifies).
  * Density and adjacency are both pure integer arithmetic, so the
  * whole pipeline replays bit-for-bit in SQL (the x168 oracle walks
  * the same adjacency with a recursive min-label CTE).
  *
  * Scale shape: points collapse to cells in ONE map-side-combined
  * aggregation (the only corpus-sized shuffle); everything after —
  * neighbor generation (×8 explode), the star rounds, the report —
  * runs on the CELL table, which is bounded by the inhabited area
  * over step², not by the corpus. No pairwise point distances, no
  * ε-self-join: the classic DBSCAN killer at scale is gone by
  * construction.
  */
object GridCluster {

  private val DI = DecimalType(19, 0)

  /** Exact micro-degree quantization (1e-6°): DECIMAL(18,6) then ·10⁶
    * — every step exact, identical rounding in both engines.
    */
  private def microDeg(c: Column): Column =
    (c.cast(DecimalType(18, 6)) * lit(1000000).cast(DecimalType(7, 0))).cast(DI).cast("long")

  /** FLOOR division on longs (the Resample idiom — exact for either
    * sign; `div` alone truncates toward zero).
    */
  private def floorDiv(n: Column, d: Long): Column =
    graft.functions.CoreFunctions.floorDiv(n, lit(d))

  /** Injective (cx, cy) → cell id: cx·4e6 + cy. With step ≥ 100 µ°,
    * |cy| ≤ 180e6/100 = 1.8e6 < 2e6 = half the 4e6 lane width, so
    * distinct (cx, cy) can never collide; the require below pins that
    * bound loudly.
    */
  private def cellId(cx: Column, cy: Column): Column = cx * lit(4000000L) + cy

  /** Cluster the (latCol, lngCol) points. Output: one row per core
    * cell — (cell_id, cx, cy, n_pts, cluster_id) with cluster_id the
    * minimum cell_id of the connected component (singleton core cells
    * keep their own id).
    */
  def coreCells(
      points: DataFrame, latCol: String, lngCol: String,
      stepMicroDeg: Long, minPts: Long): DataFrame = {
    require(stepMicroDeg >= 100 && stepMicroDeg <= 10000000,
      s"coreCells: stepMicroDeg=$stepMicroDeg out of [100, 1e7] (cell-id packing bound)")
    require(minPts >= 1, s"coreCells: minPts must be ≥ 1, got $minPts")
    // Domain filter, not just null: a NaN/±Inf/out-of-range coordinate
    // cast to a NULL decimal (ANSI off), so every corrupt point
    // worldwide collapsed into one phantom (null, null) cell that
    // could pass minPts and emit a null-id "cluster" of geographically
    // unrelated garbage (and the same cast RAISES under ANSI).
    // `between` rejects NaN and ±Inf too (NaN fails the upper bound
    // under NaN-is-largest). ANTIMERIDIAN CONTRACT: cells at lng
    // ±180° are NOT treated as adjacent — a dense cluster straddling
    // the dateline reports as two clusters (the fixed-grid limitation
    // every non-wrapping spatial grid shares); pre-rotate longitudes
    // if dateline-straddling clusters matter.
    val latD = col(latCol).cast("double")
    val lngD = col(lngCol).cast("double")
    val cells = points
      .filter(latD.isNotNull && lngD.isNotNull &&
        latD.between(-90.0, 90.0) && lngD.between(-180.0, 180.0))
      .select(
        floorDiv(microDeg(col(latCol)), stepMicroDeg).as("cx"),
        floorDiv(microDeg(col(lngCol)), stepMicroDeg).as("cy"))
      .groupBy("cx", "cy")
      .agg(count(lit(1)).as("n_pts"))
      .filter(col("n_pts") >= minPts)
      .withColumn("cell_id", cellId(col("cx"), col("cy")))
    val cached = OpCache.swap(s"gridcluster.cells.$stepMicroDeg.$minPts", cells)
    // 8-neighborhood edges between CORE cells: explode each cell's 8
    // neighbor ids, equi-join back on the core-cell table. Orientation
    // a < b halves the set; resolveClusters re-symmetrizes.
    val offsets = for { dx <- -1 to 1; dy <- -1 to 1 if (dx, dy) != (0, 0) }
      yield struct(lit(dx.toLong).as("dx"), lit(dy.toLong).as("dy"))
    val nbr = cached
      .select(
        col("cell_id").as("doc_a"),
        explode(array(offsets: _*)).as("__o"),
        col("cx"), col("cy"))
      .select(
        col("doc_a"),
        cellId(col("cx") + col("__o.dx"), col("cy") + col("__o.dy")).as("doc_b"))
      .filter(col("doc_a") < col("doc_b"))
    val edges = nbr.join(
      cached.select(col("cell_id").as("doc_b")), Seq("doc_b"))
      .select("doc_a", "doc_b")
    val labels = Dedup.resolveClusters(edges, site = "grid.resolve")
    cached
      .join(
        labels.select(col("id").as("cell_id"), col("cluster_id")),
        Seq("cell_id"), "left")
      .select(
        col("cell_id"), col("cx"), col("cy"), col("n_pts"),
        coalesce(col("cluster_id"), col("cell_id")).as("cluster_id"))
  }

  /** Per-cluster report over [[coreCells]]: cells, points, and the
    * cell-coordinate bounding box. Output: (cluster_id, n_cells,
    * n_points, cx_min, cx_max, cy_min, cy_max).
    */
  def clusterReport(
      points: DataFrame, latCol: String, lngCol: String,
      stepMicroDeg: Long, minPts: Long): DataFrame =
    coreCells(points, latCol, lngCol, stepMicroDeg, minPts)
      .groupBy("cluster_id")
      .agg(
        count(lit(1)).as("n_cells"),
        sum(col("n_pts")).as("n_points"),
        min(col("cx")).as("cx_min"), max(col("cx")).as("cx_max"),
        min(col("cy")).as("cy_min"), max(col("cy")).as("cy_max"))
}
