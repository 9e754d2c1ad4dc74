package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** Engine-portable twins of the ANN family (sign-LSH, IVF, k-means
  * IVF, embedding near-dup) — the same pipeline SHAPES as
  * [[graft.operators.Similarity]], re-expressed so a DuckDB oracle
  * replays them bit-for-bit (the x29/x40 certification pattern).
  *
  * Portability levers, chosen so no step depends on summation order or
  * engine-specific rounding:
  *  - vectors are QUANTIZED to integer-valued doubles —
  *    `floor(x * 1024)` (×2¹⁰ is exact float scaling, floor has no
  *    tie-breaking) — so every dot product is exact integer arithmetic
  *    below 2⁵³, identical in any engine under any summation order;
  *  - sign-LSH hyperplanes are the SAME deterministic ±1 tables the
  *    production operator uses ([[VectorFunctions.rademacherPlane]]),
  *    emitted as literals into BOTH the Spark plan and the generated
  *    SQL, so the two can never drift;
  *  - IVF/k-means centroids are elementwise integer SUMS, not means —
  *    cosine assignment only reads a centroid's direction, so the sum
  *    is semantically the mean cell assignment while staying exact
  *    (order-independent) integer arithmetic;
  *  - k-means seeds rank by md5(vec_id) (portable), mirroring the
  *    production operator's xxhash64 hash-order seeding;
  *  - cosines divide exact-integer dots by sqrt of exact-integer
  *    norms — sqrt/division are IEEE correctly-rounded, so the doubles
  *    (and therefore every rank ordering) are bit-identical across
  *    engines.
  *
  * The xxhash64/float production operators stay the hot path; these
  * twins certify END-TO-END that banding, bucketing, cell assignment,
  * probe fan-out, candidate dedup, and top-k ranking are right.
  */
object PortableAnn {

  private val Dim = 64
  private val NPlanes = 16
  private val Bands = 4 // 4 bits per band
  private val QueryMod = 100

  // ---------------------------------------------------------------- Spark side

  /** float embedding → integer-valued double vector (exact ×1024, floor). */
  private def quantize(emb: Column): Column =
    transform(emb, x => floor(x.cast("double") * lit(1024.0)).cast("double"))

  private def dot(a: Column, b: Column): Column = VectorFunctions.dot(a, b)

  /** Quantized corpus: (vec_id [, label], qv, nm). */
  private def qcorpus(embeddings: DataFrame, extra: Seq[String] = Nil): DataFrame =
    embeddings
      .select((Seq(col("vec_id")) ++ extra.map(col) :+ quantize(col("embedding")).as("qv")): _*)
      .withColumn("nm", sqrt(dot(col("qv"), col("qv"))))

  /** nPlanes-bit signature over the quantized vector — same plane
    * tables as the production operator.
    */
  private def sigCol: Column =
    (0 until NPlanes).map { j =>
      val plane = array(VectorFunctions.rademacherPlane(j, Dim).map(lit): _*)
      when(dot(col("qv"), plane) > 0, lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)

  /** Quantized + signed corpus shared by all four twins (x43–x46):
    * 17 exact-integer dot products per row is the cost center, and
    * every twin needs a subset of (vec_id, label, qv, nm, sig) — one
    * OpCache-managed table serves them all, same lifecycle as the
    * production operators' signature caches.
    */
  private def sharedBase(embeddings: DataFrame): DataFrame =
    graft.operators.OpCache.swap(
      "portable.ann.base",
      qcorpus(embeddings, Seq("label")).withColumn("sig", sigCol))

  private def bandedIds(sigged: DataFrame, idAlias: String): DataFrame =
    sigged.select(
      col("vec_id").as(idAlias),
      posexplode(array((0 until Bands).map(b =>
        shiftright(col("sig"), b * 4).bitwiseAND(lit(15))): _*)).as(Seq("band_id", "band_key")))

  private def topK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 4).as("cosine"), col("rank"))
      .orderBy("query_id", "rank")
  }

  /** Portable sign-LSH ANN top-3 (the x06 pipeline shape). */
  def annLsh(embeddings: DataFrame): DataFrame = {
    val base = sharedBase(embeddings).drop("label")
    val corpusB = bandedIds(base, "neighbor_id")
    val queriesB = bandedIds(base.filter(col("vec_id") % QueryMod === 0), "query_id")

    val cand = corpusB.join(queriesB, Seq("band_id", "band_key"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select("query_id", "neighbor_id")
      .dropDuplicates("query_id", "neighbor_id")

    val scored = cand
      .join(base.select(col("vec_id").as("neighbor_id"), col("qv"), col("nm")), Seq("neighbor_id"))
      .join(
        base.select(col("vec_id").as("query_id"), col("qv").as("qqv"), col("nm").as("qnm")),
        Seq("query_id"))
      .select(
        col("query_id"), col("neighbor_id"),
        (dot(col("qv"), col("qqv")) / (col("nm") * col("qnm"))).as("cosine"))
    topK(scored, 3)
  }

  /** Portable embedding near-dup pairs (the x15 pipeline shape). */
  def nearDup(embeddings: DataFrame, minCosine: Double = 0.95): DataFrame = {
    val base = sharedBase(embeddings).drop("label")
    val a = bandedIds(base, "vec_a")
    val b = bandedIds(base, "vec_b")
    val pairs = a.join(b, Seq("band_id", "band_key"))
      .filter(col("vec_a") < col("vec_b"))
      .select("vec_a", "vec_b")
      .dropDuplicates("vec_a", "vec_b")
    pairs
      .join(base.select(col("vec_id").as("vec_a"), col("qv").as("va"), col("nm").as("na")), Seq("vec_a"))
      .join(base.select(col("vec_id").as("vec_b"), col("qv").as("vb"), col("nm").as("nb")), Seq("vec_b"))
      .select(
        col("vec_a"), col("vec_b"),
        (dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("cosine"))
      .filter(col("cosine") >= minCosine)
      .select(col("vec_a"), col("vec_b"), round(col("cosine"), 4).as("cosine"))
      .orderBy("vec_a", "vec_b")
  }

  /** Portable semantic dedup (the x77 pipeline shape, label-centroid
    * cells): per-label integer sum-centroids (the x44 cell table),
    * 1-probe assignment, within-cell pairs ≥ minCosine, production
    * star-round cluster resolution (certified ≡ the recursive CTE by
    * x48), keep = farthest-from-centroid (lowest csim, ties → lowest
    * id — the SemDeDup keep rule). Every float op is an
    * integer-derived division or sqrt, so DuckDB replays the report
    * bit-for-bit. Output: (keep_id, cluster_size, removed_csv) — the
    * removal list is serialized to csv (the x16/q32 convention; the
    * driver's pandas comparator cannot hash list cells).
    */
  def semanticDedup(embeddings: DataFrame, minCosine: Double = 0.4): DataFrame = {
    val base = sharedBase(embeddings)
    val cent = sumCentroids(base.select(col("label").as("cell"), col("qv")))
    val assigned = graft.operators.OpCache.swap(
      "portable.semdedup.assigned",
      assign(base.select("vec_id", "qv", "nm"), cent, 1))
    val ids = assigned.select(col("cell"), col("vec_id"))
    val pairs = ids
      .join(ids.select(col("cell"), col("vec_id").as("doc_b")), Seq("cell"))
      .filter(col("vec_id") < col("doc_b"))
      .select(col("vec_id").as("doc_a"), col("doc_b"))
      .join(
        assigned.select(col("vec_id").as("doc_a"), col("qv").as("va"), col("nm").as("na")),
        Seq("doc_a"))
      .join(
        assigned.select(col("vec_id").as("doc_b"), col("qv").as("vb"), col("nm").as("nb")),
        Seq("doc_b"))
      .filter(dot(col("va"), col("vb")) / (col("na") * col("nb")) >= minCosine)
      .select("doc_a", "doc_b")
    val csims = assigned
      .join(broadcast(cent), Seq("cell"))
      .select(
        col("vec_id").as("id"),
        (dot(col("qv"), col("cvec")) / (col("nm") * col("cn"))).as("csim"))
    val labeled = graft.operators.Dedup.resolveClusters(pairs, site = "portable.semdedup.resolve")
      .join(csims, Seq("id"))
    val w = Window.partitionBy("cluster_id").orderBy(col("csim").asc, col("id").asc)
    labeled
      .withColumn("rk", row_number().over(w))
      .groupBy(col("cluster_id"))
      .agg(
        count(lit(1)).as("cluster_size"),
        min(when(col("rk") === 1, col("id"))).as("keep_id"),
        array_sort(collect_list(when(col("rk") =!= 1, col("id")))).as("removed_ids"))
      .filter(col("cluster_size") > 1)
      .select(
        col("keep_id"), col("cluster_size"),
        array_join(transform(col("removed_ids"), _.cast("string")), ",").as("removed_csv"))
      .orderBy("keep_id")
  }

  /** Elementwise-SUM centroid table: (cell, cvec, cn). Integer sums —
    * exact under any aggregation order; direction-equivalent to the
    * mean for cosine assignment.
    */
  private def sumCentroids(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cell"), posexplode(col("qv")).as(Seq("pos", "x")))
      .groupBy("cell", "pos")
      .agg(sum(col("x")).as("sx"))
      .groupBy("cell")
      .agg(array_sort(collect_list(struct(col("pos"), col("sx")))).as("pm"))
      .select(col("cell"), transform(col("pm"), e => e.getField("sx")).as("cvec"))
      .withColumn("cn", sqrt(dot(col("cvec"), col("cvec"))))

  /** Assign each row to its `probes` nearest centroid cells. The
    * 1-probe (full-corpus) case is an argmax via partial-agg
    * max(struct) — same winner as the (csim DESC, cell ASC) window
    * head (ties on csim fall to the larger -cell = smaller cell; the
    * qv/nm payload is constant within a group), with map-side combine
    * instead of a per-key sort shuffle.
    */
  private def assign(df: DataFrame, cent: DataFrame, probes: Int): DataFrame = {
    val scored = df.crossJoin(broadcast(cent))
      .withColumn("csim", dot(col("qv"), col("cvec")) / (col("nm") * col("cn")))
    if (probes == 1)
      scored
        .groupBy(df("vec_id"))
        .agg(max(struct(
          col("csim"), (-col("cell")).as("__nc"), col("cell"),
          df("qv").as("qv"), df("nm").as("nm"))).as("m"))
        .select(col("vec_id"), col("m.qv").as("qv"), col("m.nm").as("nm"), col("m.cell").as("cell"))
    else {
      val w = Window.partitionBy("vec_id").orderBy(col("csim").desc, col("cell").asc)
      scored
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= probes)
        .select(df("vec_id"), df("qv"), df("nm"), col("cell"))
    }
  }

  private def ivfProbeTopK(base: DataFrame, cent: DataFrame): DataFrame = {
    val corp = assign(base, cent, 1)
    val qry = assign(base.filter(col("vec_id") % QueryMod === 0), cent, 2)
      .select(col("cell"), col("vec_id").as("query_id"), col("qv").as("qqv"), col("nm").as("qnm"))
    val scored = corp.join(qry, Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(
        col("query_id"), col("vec_id").as("neighbor_id"),
        (dot(col("qv"), col("qqv")) / (col("nm") * col("qnm"))).as("cosine"))
      .dropDuplicates("query_id", "neighbor_id")
    topK(scored, 3)
  }

  /** Portable IVF ANN with per-label sum-centroids (the x13 shape). */
  def ivfLabel(embeddings: DataFrame): DataFrame = {
    val base = sharedBase(embeddings)
    val cent = sumCentroids(base.select(col("label").as("cell"), col("qv")))
    ivfProbeTopK(base.select("vec_id", "qv", "nm"), cent)
  }

  /** Training chain of the portable k-means IVF twin (the x25
    * shape): k-means||-style seeding — md5-min anchor, one
    * distance-weighted oversampling pass, vote reduction to `cells`
    * seeds — then two unrolled Lloyd rounds with sum-centroids,
    * mirroring the production operator's seeding shape
    * ([[graft.operators.Similarity]] kmeansCentroids) with md5 draws
    * in place of xxhash64. Returns the converged centroid table,
    * eagerly localCheckpoint'd.
    *
    * The sampling decision is EXACT INTEGER arithmetic end to end:
    * quantized vectors make every d² an integer-valued double, the
    * 32-bit md5 draw is compared by cross-multiplication in
    * DECIMAL(38,0) (`draw·Σd² < l·d²·2³²` — magnitudes ~10²² overflow
    * int64, so both engines compute it in wide decimal/hugeint), and
    * so the sampled candidate set can never drift between engines.
    */
  private def trainedKmeansCent(base: DataFrame, cells: Int): DataFrame = {
    val anchor = base
      .withColumn("__m", md5(col("vec_id").cast("string")))
      .orderBy(col("__m"), col("vec_id"))
      .limit(1)
      .select(col("vec_id"), col("qv"))
    val d2 = base
      .crossJoin(broadcast(anchor.select(col("qv").as("av"))))
      .select(
        col("vec_id"), col("qv"),
        (dot(col("qv"), col("qv")) + dot(col("av"), col("av"))
          - lit(2.0) * dot(col("qv"), col("av"))).as("d2"))
    val wide = "decimal(38,0)"
    // Sum in DECIMAL, not double: the SQL twin sums HUGEINT exactly,
    // and a double Σd² would round past 2⁵³ (reachable on a large
    // corpus) — flipping borderline sampling decisions in one engine
    // only. Exactness end-to-end, not just at the comparison.
    val tot = d2.agg(sum(col("d2").cast(wide)).as("tot"))
    val draw = conv(
      substring(md5(concat(lit("k"), lit("\u0001"), col("vec_id").cast("string"))), 1, 8),
      16, 10).cast(wide)
    val sampled = d2.crossJoin(broadcast(tot))
      .filter(draw * col("tot")
        < lit(4 * cells).cast(wide) * col("d2").cast(wide) * lit(4294967296L).cast(wide))
      .select(col("vec_id"), col("qv"))
    val cand = anchor.unionByName(sampled)
      .dropDuplicates("vec_id")
      .select(col("vec_id").as("cand_id"), col("qv").as("cvec"))
      .withColumn("cn", sqrt(dot(col("cvec"), col("cvec"))))
    // Argmax vote via partial-agg max(struct) — window-head equivalent.
    val votes = base.crossJoin(broadcast(cand))
      .groupBy(col("vec_id"))
      .agg(max(struct(
        (dot(col("qv"), col("cvec")) / (col("nm") * col("cn"))).as("cs"),
        (-col("cand_id")).as("__nc"), col("cand_id"))).as("m"))
      .groupBy(col("m.cand_id").as("cand_id"))
      .agg(count(lit(1)).as("w"))
    // LEFT join + weight 0 (mirrors the production backfill: zero-vote
    // candidates stay rankable so the seed count never shrinks).
    val seedW = Window.orderBy(col("w").desc, col("cand_id").asc)
    var cent = cand.join(votes, Seq("cand_id"), "left")
      .withColumn("w", coalesce(col("w"), lit(0L)))
      .withColumn("rk", row_number().over(seedW))
      .filter(col("rk") <= cells)
      .select((col("rk") - 1).cast("int").as("cell"), col("cvec"), col("cn"))
    for (_ <- 0 until 2)
      cent = sumCentroids(assign(base, cent, 1).select(col("cell"), col("qv")))
    // The seeding + two unrolled Lloyd rounds dominate the twin's cost
    // and are deterministic given the corpus — cache the converged
    // centroid table so warm passes pay only the probe/top-k stage.
    // The cached df still CARRIES the full seeding+Lloyd lineage, and
    // the probe embeds it three more times — localCheckpoint the tiny
    // (8-row) cached table so downstream plans analyze a leaf, not
    // the whole training dataflow. r15: the checkpoint itself is
    // memoized per input (swapByInput) — the r14 shape re-ran the
    // eager 8-row materialization job on EVERY warm invocation.
    cent.localCheckpoint(true)
  }

  /** Portable k-means IVF (the x25 shape) — see [[trainedKmeansCent]]
    * for the training chain. The converged, checkpointed centroid
    * table is memoized per corpus (deterministic given `base`, the
    * swapByInput contract), so warm invocations skip the seeding plan
    * construction and the checkpoint job entirely.
    */
  def ivfKmeans(embeddings: DataFrame, cells: Int = 8): DataFrame = {
    val base = sharedBase(embeddings).select("vec_id", "qv", "nm")
    ivfProbeTopK(base,
      graft.operators.OpCache.swapByInput(
        graft.operators.OpCache.paramKey("portable.ann.kmeans.cent", cells.toString),
        base)(trainedKmeansCent(base, cells)))
  }

  // ------------------------------------------------------------- portable PQ

  private val PqM = 4
  private val PqSub = Dim / PqM
  private val PqCodes = 4
  private val PqRerank = 8

  /** Portable product-quantization ANN (the x60 pipeline shape):
    * subspace split → md5-seeded codebooks, two unrolled Lloyd rounds
    * with SUM-centroids → encode → per-query lookup table → ADC
    * shortlist → exact re-rank. Assignment and ADC rank by RAW
    * integer dot products (no normalization), so every comparison up
    * to the final re-rank cosine is exact integer arithmetic — the
    * only doubles are the last-stage cosines, IEEE-identical across
    * engines like all the twins'.
    */
  def pq(embeddings: DataFrame): DataFrame = {
    val base = sharedBase(embeddings).select("vec_id", "qv", "nm")
    val sr = pqSubRows(base)
    val books = pqTrainedBooks(sr)
    val shortW = Window.partitionBy("query_id").orderBy(col("approx").desc, col("vec_id").asc)
    val short = pqEncoded(sr, books).join(pqLut(sr, books), Seq("sub_j", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy("query_id", "vec_id")
      .agg(sum(col("qd")).as("approx"))
      .withColumn("rk", row_number().over(shortW))
      .filter(col("rk") <= PqRerank)
      .select("query_id", "vec_id")
    topK(pqRerank(short, base), 3)
  }

  /** Portable IVF-PQ (the x63 pipeline shape): the same portable PQ
    * machinery with the ADC restricted to probed IVF cells — corpus
    * rows carry their 1-probe cell (per-label sum-centroids, the x44
    * coarse quantizer), queries probe their 2 nearest cells, and the
    * ADC join matches on (cell, sub_j, code), so a corpus row is
    * scored only for queries probing its cell. Exact re-rank restores
    * true cosines. Certifies end-to-end that the composed hot path
    * ([[graft.operators.Similarity.ivfPqTopK]]) prunes corpus-side
    * without corrupting the ADC sum or the final ranking.
    */
  def ivfPq(embeddings: DataFrame): DataFrame = {
    val baseL = sharedBase(embeddings)
    val base = baseL.select("vec_id", "qv", "nm")
    val cent = sumCentroids(baseL.select(col("label").as("cell"), col("qv")))
    val corpCells = assign(base, cent, 1).select(col("vec_id"), col("cell"))
    val qryCells = assign(base.filter(col("vec_id") % QueryMod === 0), cent, 2)
      .select(col("vec_id").as("query_id"), col("cell"))

    val sr = pqSubRows(base)
    val books = pqTrainedBooks(sr)
    val shortW = Window.partitionBy("query_id").orderBy(col("approx").desc, col("vec_id").asc)
    val short = pqEncoded(sr, books).join(corpCells, Seq("vec_id"))
      .join(pqLut(sr, books).join(qryCells, Seq("query_id")), Seq("cell", "sub_j", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy("query_id", "vec_id")
      .agg(sum(col("qd")).as("approx"))
      .withColumn("rk", row_number().over(shortW))
      .filter(col("rk") <= PqRerank)
      .select("query_id", "vec_id")
    topK(pqRerank(short, base), 3)
  }

  /** Persisted-index lifecycle variant of [[ivfPq]] — the portable
    * twin of the x100 hot path ([[graft.operators.Similarity
    * .buildIvfPqIndex]]/[[graft.operators.Similarity
    * .searchIvfPqIndex]]), closing the r9 verdict's last twin-less
    * certification gap: the SAME integer IVF-PQ chain, but its
    * trained artifacts — coarse cells, PQ codebooks, and the encoded
    * corpus (cell + codes per vector, the hot path's
    * `{prefix}_corpus` layout) — are ROUND-TRIPPED through real
    * warehouse tables
    * (build once / probe forever, the 100 TB deployment shape), and
    * the probe plan reads ONLY `spark.table(...)` scans of the stored
    * artifacts plus the source embedding table (query prep + exact
    * re-rank — the index stores codes, not vectors). Bit-stability
    * rests on parquet round-tripping doubles EXACTLY (it stores the
    * raw IEEE-754 bits) — that covers the non-integer values too,
    * like the cells table's sqrt norm `cn`; that most stored values
    * are additionally exact integer-valued doubles, ints, or strings
    * is a bonus, not the load-bearing property. The output is
    * bit-identical to [[ivfPq]]'s: [[ivfPqSql]] oracles this query too, and a green
    * hash certifies the storage lifecycle end to end (a perturbed
    * array element, a lost row, or stale table metadata would shift a
    * ranking and fail the hash).
    */
  def ivfPqPersisted(embeddings: DataFrame, prefix: String = "graft_pann"): DataFrame = {
    val spark = embeddings.sparkSession
    val baseL = sharedBase(embeddings)
    val base = baseL.select("vec_id", "qv", "nm")
    // ---- build: train the x64 chain, persist the artifacts. Same
    // layout as the hot path's buildIvfPqIndex: the coarse quantizer
    // and codebooks are BOUNDED BY CONSTRUCTION (≤ label-vocabulary
    // cells; PqM·PqCodes book rows) so they publish as single files;
    // the corpus table carries each row's cell AND its codes together
    // (m code rows per vector — the index stores codes, not vectors)
    // and keeps its natural partitioning, the corpus-sized artifact.
    val cent = sumCentroids(baseL.select(col("label").as("cell"), col("qv")))
    val sr = pqSubRows(base)
    val books = pqTrainedBooks(sr)
    val corpus = pqEncoded(sr, books)
      .join(assign(base, cent, 1).select(col("vec_id"), col("cell")), Seq("vec_id"))
    val arts = Seq(
      "cells" -> cent.coalesce(1), "books" -> books.coalesce(1), "corpus" -> corpus)
    arts.foreach { case (s, df) =>
      // an ephemeral catalog forgets tables whose warehouse dirs
      // survive — reset ONLY when the catalog has no entry (the
      // LOCATION_ALREADY_EXISTS case); a known table overwrites clean
      if (!spark.catalog.tableExists(s"${prefix}_$s"))
        graft.sources.Tables.dropManaged(spark, s"${prefix}_$s")
      graft.sources.Tables.overwriteTable(df, s"${prefix}_$s")
    }
    // ---- probe: STORED artifacts only (+ source for query prep and
    // the exact re-rank — the index holds m codes per row, not the
    // vectors). The in-session training frames above are deliberately
    // not referenced below; the plan itself is the proof the probe
    // runs off storage.
    val sCells = spark.table(s"${prefix}_cells")
    val sBooks = spark.table(s"${prefix}_books")
    val sCorpus = spark.table(s"${prefix}_corpus")
    val qBase = base.filter(col("vec_id") % QueryMod === 0)
    val qryCells = assign(qBase, sCells, 2)
      .select(col("vec_id").as("query_id"), col("cell"))
    val lut = pqSubRows(qBase)
      .select(col("vec_id").as("query_id"), col("sub_j"), col("sv"))
      .join(sBooks, Seq("sub_j"))
      .select(col("query_id"), col("sub_j"), col("code"), dot(col("sv"), col("cv")).as("qd"))
    val shortW = Window.partitionBy("query_id").orderBy(col("approx").desc, col("vec_id").asc)
    val short = sCorpus
      .join(lut.join(qryCells, Seq("query_id")), Seq("cell", "sub_j", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy("query_id", "vec_id")
      .agg(sum(col("qd")).as("approx"))
      .withColumn("rk", row_number().over(shortW))
      .filter(col("rk") <= PqRerank)
      .select("query_id", "vec_id")
    topK(pqRerank(short, base), 3)
  }

  /** (vec_id, sub_j, sv): quantized corpus split into PqM subspaces. */
  private def pqSubRows(base: DataFrame): DataFrame =
    base.select(
      col("vec_id"),
      posexplode(array((0 until PqM).map(j =>
        slice(col("qv"), j * PqSub + 1, PqSub)): _*)).as(Seq("sub_j", "sv")))

  /** Nearest code per (vec_id, sub_j) by raw-dot argmax — partial-agg
    * max(struct(d, -code, sv)): same winner as the (d DESC, code ASC)
    * window head (sv is constant within a group), `codes`× less
    * shuffle. Output: (vec_id, sub_j, code, sv).
    */
  private def pqAssignTo(sr: DataFrame, b: DataFrame): DataFrame =
    sr.join(b, Seq("sub_j"))
      .groupBy(col("vec_id"), col("sub_j"))
      .agg(max(struct(
        dot(col("sv"), col("cv")).as("d"), (-col("code")).as("__nc"),
        col("code"), col("sv"))).as("m"))
      .select(col("vec_id"), col("sub_j"), col("m.code").as("code"), col("m.sv").as("sv"))

  /** md5-seeded codebooks, two unrolled Lloyd rounds with SUM
    * centroids. The rounds dominate the twin's cost and are
    * deterministic given the corpus — the converged codebooks are
    * cached (same lifecycle as the x46 centroid cache) and shared by
    * the plain-PQ and IVF-PQ twins (plan-equal under the same corpus).
    */
  private def pqTrainedBooks(sr: DataFrame): DataFrame =
    // Memoized per corpus (swapByInput — training is deterministic
    // given `sr`): warm invocations skip both the training-plan
    // construction and the eager checkpoint job the r14 shape re-ran
    // every call. The checkpoint truncates the two-round training
    // lineage at the tiny (16-row) table: the encode, lut, and ADC
    // plans each embed the books — analyzing a leaf instead of the
    // training dataflow saved ~0.5 s per pass on the k-means twin.
    graft.operators.OpCache.swapByInput("portable.pq.books", sr) {
      val seedW = Window.partitionBy("sub_j").orderBy(col("__m"), col("vec_id"))
      var books = sr
        .withColumn("__m", md5(col("vec_id").cast("string")))
        .withColumn("__r", row_number().over(seedW))
        .filter(col("__r") <= PqCodes)
        .select(col("sub_j"), (col("__r") - 1).cast("int").as("code"), col("sv").as("cv"))
      for (_ <- 0 until 2)
        books = pqAssignTo(sr, books)
          .select(col("sub_j"), col("code"), posexplode(col("sv")).as(Seq("pos", "x")))
          .groupBy("sub_j", "code", "pos")
          .agg(sum(col("x")).as("sx"))
          .groupBy("sub_j", "code")
          .agg(array_sort(collect_list(struct(col("pos"), col("sx")))).as("pm"))
          .select(col("sub_j"), col("code"), transform(col("pm"), e => e.getField("sx")).as("cv"))
      books.localCheckpoint(true)
    }

  /** Encoded corpus: (vec_id, sub_j, code). */
  private def pqEncoded(sr: DataFrame, books: DataFrame): DataFrame =
    pqAssignTo(sr, books).select("vec_id", "sub_j", "code")

  /** Per-query partial lookup rows: (query_id, sub_j, code, qd). */
  private def pqLut(sr: DataFrame, books: DataFrame): DataFrame =
    sr.filter(col("vec_id") % QueryMod === 0)
      .select(col("vec_id").as("query_id"), col("sub_j"), col("sv"))
      .join(books, Seq("sub_j"))
      .select(col("query_id"), col("sub_j"), col("code"), dot(col("sv"), col("cv")).as("qd"))

  /** Exact re-rank scoring of a (query_id, vec_id) shortlist. */
  private def pqRerank(short: DataFrame, base: DataFrame): DataFrame =
    short
      .join(base.select(col("vec_id"), col("qv"), col("nm")), Seq("vec_id"))
      .join(
        base.select(col("vec_id").as("query_id"), col("qv").as("qqv"), col("nm").as("qnm")),
        Seq("query_id"))
      .select(
        col("query_id"), col("vec_id").as("neighbor_id"),
        (dot(col("qv"), col("qqv")) / (col("nm") * col("qnm"))).as("cosine"))

  // ---------------------------------------------------------------- DuckDB side

  /** Shared SQL prefix: quantized corpus with norms. */
  private val qCte =
    """WITH c AS (
      |  SELECT vec_id, label,
      |         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1024) AS DOUBLE)) AS qv
      |  FROM embeddings),
      |n AS (SELECT vec_id, label, qv, sqrt(list_dot_product(qv, qv)) AS nm FROM c)""".stripMargin

  private def planeSqlLit(j: Int): String =
    VectorFunctions.rademacherPlane(j, Dim)
      .map(v => if (v > 0) "1.0" else "-1.0").mkString("[", ",", "]")

  /** sig as a sum of per-plane CASE bits — planes GENERATED from the
    * same Scala table the Spark plan uses.
    */
  private lazy val sigSql: String =
    (0 until NPlanes)
      .map(j => s"(CASE WHEN list_dot_product(qv, ${planeSqlLit(j)}) > 0 THEN ${1 << j} ELSE 0 END)")
      .mkString("\n      + ")

  private val topKSql =
    """SELECT query_id, neighbor_id, ROUND(cosine, 4) AS cosine, CAST(rk AS INT) AS rank
      |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
      |                                   ORDER BY cosine DESC, neighbor_id) AS rk FROM scored)
      |WHERE rk <= 3 ORDER BY query_id, rank""".stripMargin

  lazy val annLshSql: String =
    s"""$qCte,
       |sig AS (
       |  SELECT vec_id, qv, nm,
       |      $sigSql AS sig
       |  FROM n),
       |banded AS (
       |  SELECT vec_id, sig, b.range AS band_id,
       |         (sig >> CAST(b.range * 4 AS INT)) & 15 AS band_key
       |  FROM sig, range($Bands) AS b),
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
       |  FROM banded c
       |  JOIN banded q ON c.band_id = q.band_id AND c.band_key = q.band_key
       |  WHERE q.vec_id % $QueryMod = 0 AND c.vec_id <> q.vec_id),
       |scored AS (
       |  SELECT cand.query_id, cand.neighbor_id,
       |         list_dot_product(cv.qv, qu.qv) / (cv.nm * qu.nm) AS cosine
       |  FROM cand
       |  JOIN sig cv ON cv.vec_id = cand.neighbor_id
       |  JOIN sig qu ON qu.vec_id = cand.query_id)
       |$topKSql""".stripMargin

  lazy val nearDupSql: String =
    s"""$qCte,
       |sig AS (
       |  SELECT vec_id, qv, nm,
       |      $sigSql AS sig
       |  FROM n),
       |banded AS (
       |  SELECT vec_id, sig, b.range AS band_id,
       |         (sig >> CAST(b.range * 4 AS INT)) & 15 AS band_key
       |  FROM sig, range($Bands) AS b),
       |pairs AS (
       |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM banded a
       |  JOIN banded b ON a.band_id = b.band_id AND a.band_key = b.band_key
       |  WHERE a.vec_id < b.vec_id)
       |SELECT vec_a, vec_b, ROUND(cosine, 4) AS cosine
       |FROM (SELECT vec_a, vec_b,
       |             list_dot_product(x.qv, y.qv) / (x.nm * y.nm) AS cosine
       |      FROM pairs JOIN sig x ON x.vec_id = vec_a
       |                 JOIN sig y ON y.vec_id = vec_b)
       |WHERE cosine >= 0.95 ORDER BY vec_a, vec_b""".stripMargin

  /** DuckDB mirror of [[semanticDedup]]: label sum-centroids, 1-probe
    * assignment, within-cell pairs, recursive-CTE connected
    * components, farthest-from-centroid keep rule.
    */
  lazy val semanticDedupSql: String =
    s"""${qCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |sl AS (
       |  SELECT label AS cell, r.range AS i, SUM(qv[r.range]) AS sx
       |  FROM n, range(1, ${Dim + 1}) AS r GROUP BY 1, 2),
       |centL AS (
       |  SELECT cell, list(sx ORDER BY i) AS cvec,
       |         sqrt(list_dot_product(list(sx ORDER BY i), list(sx ORDER BY i))) AS cn
       |  FROM sl GROUP BY cell),
       |asg AS (
       |  SELECT vec_id, qv, nm, cell FROM (
       |    SELECT n.vec_id, n.qv, n.nm, ct.cell,
       |           ROW_NUMBER() OVER (PARTITION BY n.vec_id
       |             ORDER BY list_dot_product(n.qv, ct.cvec) / (n.nm * ct.cn) DESC, ct.cell) AS rk
       |    FROM n CROSS JOIN centL ct)
       |  WHERE rk = 1),
       |cpairs AS (
       |  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
       |  FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  WHERE list_dot_product(a.qv, b.qv) / (a.nm * b.nm) >= 0.4),
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM cpairs
       |  UNION ALL
       |  SELECT doc_b AS src, doc_a AS dst FROM cpairs),
       |nodes AS (SELECT DISTINCT src AS id FROM edges),
       |reach AS (
       |  SELECT id, id AS lab FROM nodes
       |  UNION
       |  SELECT e.src AS id, r.lab
       |  FROM edges e JOIN reach r ON e.dst = r.id),
       |lab AS (SELECT id, min(lab) AS cluster_id FROM reach GROUP BY id),
       |cs AS (
       |  SELECT asg.vec_id AS id,
       |         list_dot_product(asg.qv, ct.cvec) / (asg.nm * ct.cn) AS csim
       |  FROM asg JOIN centL ct USING (cell)),
       |m AS (
       |  SELECT l.id, l.cluster_id,
       |         ROW_NUMBER() OVER (PARTITION BY l.cluster_id
       |                            ORDER BY cs.csim ASC, l.id) AS rk
       |  FROM lab l JOIN cs ON cs.id = l.id),
       |bs AS (
       |  SELECT cluster_id, COUNT(*) AS cluster_size,
       |         MIN(CASE WHEN rk = 1 THEN id END) AS keep_id
       |  FROM m GROUP BY 1),
       |rem AS (
       |  SELECT cluster_id,
       |         string_agg(CAST(id AS VARCHAR), ',' ORDER BY id) AS removed_csv
       |  FROM m WHERE rk <> 1 GROUP BY 1)
       |SELECT keep_id, cluster_size, removed_csv
       |FROM bs JOIN rem USING (cluster_id)
       |WHERE cluster_size > 1 ORDER BY keep_id""".stripMargin

  /** One Lloyd step in SQL: assign `src` (n-shaped) to nearest cell of
    * `centCte`, then recompute sum-centroids. Emits two CTE bodies.
    */
  private def lloydSql(round: Int, centIn: String): String =
    s"""a$round AS (
       |  SELECT vec_id, qv, nm, cell FROM (
       |    SELECT n.vec_id, n.qv, n.nm, ct.cell,
       |           ROW_NUMBER() OVER (PARTITION BY n.vec_id
       |             ORDER BY list_dot_product(n.qv, ct.cvec) / (n.nm * ct.cn) DESC, ct.cell) AS rk
       |    FROM n CROSS JOIN $centIn ct)
       |  WHERE rk = 1),
       |s$round AS (
       |  SELECT cell, r.range AS i, SUM(qv[r.range]) AS sx
       |  FROM a$round, range(1, ${Dim + 1}) AS r GROUP BY 1, 2),
       |cent$round AS (
       |  SELECT cell, list(sx ORDER BY i) AS cvec,
       |         sqrt(list_dot_product(list(sx ORDER BY i), list(sx ORDER BY i))) AS cn
       |  FROM s$round GROUP BY cell)""".stripMargin

  /** Shared probe/top-k tail: corpus 1-probe + queries 2-probe against
    * the final centroid CTE.
    */
  private def ivfTailSql(centCte: String): String =
    s"""corp AS (
       |  SELECT cell, vec_id, qv, nm FROM (
       |    SELECT n.vec_id, n.qv, n.nm, ct.cell,
       |           ROW_NUMBER() OVER (PARTITION BY n.vec_id
       |             ORDER BY list_dot_product(n.qv, ct.cvec) / (n.nm * ct.cn) DESC, ct.cell) AS rk
       |    FROM n CROSS JOIN $centCte ct)
       |  WHERE rk = 1),
       |qry AS (
       |  SELECT cell, vec_id AS query_id, qv AS qqv, nm AS qnm FROM (
       |    SELECT n.vec_id, n.qv, n.nm, ct.cell,
       |           ROW_NUMBER() OVER (PARTITION BY n.vec_id
       |             ORDER BY list_dot_product(n.qv, ct.cvec) / (n.nm * ct.cn) DESC, ct.cell) AS rk
       |    FROM n CROSS JOIN $centCte ct
       |    WHERE n.vec_id % $QueryMod = 0)
       |  WHERE rk <= 2),
       |scored AS (
       |  SELECT DISTINCT query_id, corp.vec_id AS neighbor_id,
       |         list_dot_product(corp.qv, qry.qqv) / (corp.nm * qry.qnm) AS cosine
       |  FROM corp JOIN qry USING (cell)
       |  WHERE corp.vec_id <> qry.query_id)
       |$topKSql""".stripMargin

  lazy val ivfLabelSql: String =
    s"""$qCte,
       |sl AS (
       |  SELECT label AS cell, r.range AS i, SUM(qv[r.range]) AS sx
       |  FROM n, range(1, ${Dim + 1}) AS r GROUP BY 1, 2),
       |centL AS (
       |  SELECT cell, list(sx ORDER BY i) AS cvec,
       |         sqrt(list_dot_product(list(sx ORDER BY i), list(sx ORDER BY i))) AS cn
       |  FROM sl GROUP BY cell),
       |${ivfTailSql("centL")}""".stripMargin

  /** 32-bit integer draw from the first 8 hex chars of an md5 column —
    * generated nibble arithmetic (the x40 pattern), exact in both
    * engines.
    */
  private def draw32Sql(hexCol: String): String =
    (1 to 8).map { i =>
      val p = math.pow(16, 8 - i).toLong
      s"$p * (strpos('0123456789abcdef', substring($hexCol, $i, 1)) - 1)"
    }.mkString("(", " + ", ")")

  lazy val ivfKmeansSql: String =
    s"""$qCte,
       |an AS (SELECT vec_id, qv FROM n
       |       ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 1),
       |kd AS (
       |  SELECT n.vec_id, n.qv,
       |         CAST(list_dot_product(n.qv, n.qv) + list_dot_product(a.qv, a.qv)
       |              - 2 * list_dot_product(n.qv, a.qv) AS HUGEINT) AS d2,
       |         md5('k' || chr(1) || CAST(n.vec_id AS VARCHAR)) AS kh
       |  FROM n CROSS JOIN an a),
       |kt AS (SELECT SUM(d2) AS tot FROM kd),
       |samp AS (
       |  SELECT vec_id, qv FROM kd, kt
       |  WHERE CAST(${draw32Sql("kh")} AS HUGEINT) * kt.tot
       |        < 32 * kd.d2 * CAST(4294967296 AS HUGEINT)),
       |cand AS (
       |  SELECT vec_id AS cand_id, qv AS cvec, sqrt(list_dot_product(qv, qv)) AS cn
       |  FROM (SELECT vec_id, qv FROM an UNION ALL SELECT vec_id, qv FROM samp)),
       |vote AS (
       |  SELECT cand_id, COUNT(*) AS w FROM (
       |    SELECT n.vec_id, cd.cand_id,
       |           ROW_NUMBER() OVER (PARTITION BY n.vec_id
       |             ORDER BY list_dot_product(n.qv, cd.cvec) / (n.nm * cd.cn) DESC, cd.cand_id) AS rk
       |    FROM n CROSS JOIN cand cd)
       |  WHERE rk = 1 GROUP BY cand_id),
       |cent0 AS (
       |  SELECT CAST(rk - 1 AS INT) AS cell, cvec, cn FROM (
       |    SELECT cd.cvec, cd.cn,
       |           ROW_NUMBER() OVER (ORDER BY COALESCE(v.w, 0) DESC, cd.cand_id) AS rk
       |    FROM cand cd LEFT JOIN vote v USING (cand_id))
       |  WHERE rk <= 8),
       |${lloydSql(1, "cent0")},
       |${lloydSql(2, "cent1")},
       |${ivfTailSql("cent2")}""".stripMargin

  /** One PQ Lloyd round: dot-argmax assign against `bkIn`, elementwise
    * SUM recompute per (sub_j, code) → `bk$round`.
    */
  private def pqLloydSql(round: Int, bkIn: String): String =
    s"""pa$round AS (
       |  SELECT vec_id, sub_j, code, sv FROM (
       |    SELECT sr.vec_id, sr.sub_j, b.code, sr.sv,
       |           ROW_NUMBER() OVER (PARTITION BY sr.vec_id, sr.sub_j
       |             ORDER BY list_dot_product(sr.sv, b.cv) DESC, b.code) AS rk
       |    FROM sr JOIN $bkIn b USING (sub_j))
       |  WHERE rk = 1),
       |ps$round AS (
       |  SELECT sub_j, code, r.range AS i, SUM(sv[r.range]) AS sx
       |  FROM pa$round, range(1, ${PqSub + 1}) AS r GROUP BY 1, 2, 3),
       |bk$round AS (
       |  SELECT sub_j, code, list(sx ORDER BY i) AS cv FROM ps$round GROUP BY 1, 2)""".stripMargin

  /** Shared PQ CTE chain (subspace split → seeded codebooks → two
    * Lloyd rounds → encode → per-query lut) spliced into both the
    * plain-PQ and IVF-PQ oracles — one source, no drift.
    */
  private lazy val pqCoreCtes: String =
    s"""sr AS (
       |  SELECT vec_id, j.range AS sub_j,
       |         list_slice(qv, j.range * $PqSub + 1, j.range * $PqSub + $PqSub) AS sv
       |  FROM n, range($PqM) AS j),
       |bk0 AS (
       |  SELECT sub_j, CAST(r - 1 AS INT) AS code, sv AS cv FROM (
       |    SELECT sub_j, sv,
       |           ROW_NUMBER() OVER (PARTITION BY sub_j
       |             ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS r
       |    FROM sr)
       |  WHERE r <= $PqCodes),
       |${pqLloydSql(1, "bk0")},
       |${pqLloydSql(2, "bk1")},
       |enc AS (
       |  SELECT vec_id, sub_j, code FROM (
       |    SELECT sr.vec_id, sr.sub_j, b.code,
       |           ROW_NUMBER() OVER (PARTITION BY sr.vec_id, sr.sub_j
       |             ORDER BY list_dot_product(sr.sv, b.cv) DESC, b.code) AS rk
       |    FROM sr JOIN bk2 b USING (sub_j))
       |  WHERE rk = 1),
       |lut AS (
       |  SELECT sr.vec_id AS query_id, sr.sub_j, b.code,
       |         list_dot_product(sr.sv, b.cv) AS qd
       |  FROM sr JOIN bk2 b USING (sub_j)
       |  WHERE sr.vec_id % $QueryMod = 0)""".stripMargin

  /** Shared shortlist/re-rank tail after an `sc(query_id, vec_id,
    * approx)` CTE.
    */
  private lazy val pqTailSql: String =
    s"""short AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |           ROW_NUMBER() OVER (PARTITION BY query_id
       |             ORDER BY approx DESC, vec_id) AS rk
       |    FROM sc)
       |  WHERE rk <= $PqRerank),
       |scored AS (
       |  SELECT s.query_id, s.vec_id AS neighbor_id,
       |         list_dot_product(cn.qv, qn.qv) / (cn.nm * qn.nm) AS cosine
       |  FROM short s JOIN n cn ON cn.vec_id = s.vec_id
       |               JOIN n qn ON qn.vec_id = s.query_id)
       |$topKSql""".stripMargin

  lazy val pqSql: String =
    s"""$qCte,
       |$pqCoreCtes,
       |sc AS (
       |  SELECT l.query_id, e.vec_id, SUM(l.qd) AS approx
       |  FROM enc e JOIN lut l ON e.sub_j = l.sub_j AND e.code = l.code
       |  WHERE e.vec_id <> l.query_id GROUP BY 1, 2),
       |$pqTailSql""".stripMargin

  /** IVF-PQ oracle: label sum-centroids (x44's coarse quantizer),
    * corpus 1-probe / query 2-probe cell assignment, and the shared PQ
    * chain with the ADC sum additionally matched on cell.
    */
  lazy val ivfPqSql: String =
    s"""$qCte,
       |sl AS (
       |  SELECT label AS cell, r.range AS i, SUM(qv[r.range]) AS sx
       |  FROM n, range(1, ${Dim + 1}) AS r GROUP BY 1, 2),
       |centL AS (
       |  SELECT cell, list(sx ORDER BY i) AS cvec,
       |         sqrt(list_dot_product(list(sx ORDER BY i), list(sx ORDER BY i))) AS cn
       |  FROM sl GROUP BY cell),
       |cellc AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT n.vec_id, ct.cell,
       |           ROW_NUMBER() OVER (PARTITION BY n.vec_id
       |             ORDER BY list_dot_product(n.qv, ct.cvec) / (n.nm * ct.cn) DESC, ct.cell) AS rk
       |    FROM n CROSS JOIN centL ct)
       |  WHERE rk = 1),
       |cellq AS (
       |  SELECT vec_id AS query_id, cell FROM (
       |    SELECT n.vec_id, ct.cell,
       |           ROW_NUMBER() OVER (PARTITION BY n.vec_id
       |             ORDER BY list_dot_product(n.qv, ct.cvec) / (n.nm * ct.cn) DESC, ct.cell) AS rk
       |    FROM n CROSS JOIN centL ct
       |    WHERE n.vec_id % $QueryMod = 0)
       |  WHERE rk <= 2),
       |$pqCoreCtes,
       |sc AS (
       |  SELECT l.query_id, e.vec_id, SUM(l.qd) AS approx
       |  FROM enc e
       |  JOIN cellc cc ON cc.vec_id = e.vec_id
       |  JOIN lut l ON e.sub_j = l.sub_j AND e.code = l.code
       |  JOIN cellq cq ON cq.query_id = l.query_id AND cq.cell = cc.cell
       |  WHERE e.vec_id <> l.query_id GROUP BY 1, 2),
       |$pqTailSql""".stripMargin
}
