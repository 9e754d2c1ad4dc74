package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/** Approximate-nearest-neighbor search over an `array<float>` embedding
  * column (similarity-search extensions).
  *
  * Scale design (100 TB / 1000-executor target):
  *  - the query set is an EXTERNAL DataFrame (the `queryMod` overloads
  *    are test conveniences that slice the corpus); it is broadcast
  *    only while its optimizer-estimated size fits the session
  *    broadcast threshold — above that the candidate joins degrade
  *    gracefully to shuffled equi-joins instead of blowing the
  *    broadcast limit;
  *  - norms are computed once per row before any join (never inside);
  *  - the LSH variant buckets both sides on sign-LSH signature bands
  *    so each corpus row is compared only to queries sharing a band —
  *    the bucket join is an equi-join on (band_id, band_key) carrying
  *    IDS ONLY; vectors are re-attached after the candidate pairs are
  *    deduplicated, so no shuffle ever carries array payloads per
  *    candidate pair.
  */
object Similarity {

  /** Corpus with per-row double vector + norm precomputed, cached:
    * every operator here reads it at least twice (corpus + query side),
    * and the norm fold is an interpreted higher-order function — pay
    * it once per row, not once per reference.
    */
  private def prepared(embeddings: DataFrame, site: String): DataFrame =
    OpCache.swap(site,
      // Normalize to (vec_id, embedding) FIRST: every operator family
      // preps the same corpus, and the shared "sim.prep"/"sim.prep.q"
      // sites only dedupe the materialization if every caller's input
      // plan is EQUAL — a caller-side projection difference (raw table
      // vs pre-selected columns) would silently turn the shared site
      // into a rebuild-per-operator thrash.
      embeddings.select(col("vec_id"), col("embedding")).select(
        col("vec_id"),
        toDoubleVec(col("embedding")).as("vec"))
        .withColumn("norm", l2norm(col("vec")))
        // zero-norm (all-zero or empty) vectors have no direction:
        // their cosine is 0/0 = NaN, which Spark orders ABOVE every
        // real double — one such corpus row would outrank the true
        // rank-1 neighbor of EVERY query, and NaN >= threshold is
        // TRUE, so near-dup pairs would report them as duplicates.
        // They are excluded from the similarity universe here, on
        // both corpus and query side (every operator preps through
        // this).
        .filter(col("norm") > 0))

  /** An external query set is not guaranteed small — a forced
    * broadcast hint would grow with it linearly; past the threshold,
    * the unhinted plan falls back to a shuffled hash / sort-merge join
    * on the bucket keys.
    */
  private def maybeBroadcast(df: DataFrame): DataFrame = Broadcasting.maybeBroadcast(df)

  /** Brute-force exact cosine top-k: every query row against the full
    * corpus (the recall baseline the ANN variants are measured
    * against). Self-pairs excluded by id.
    * Output: (query_id, neighbor_id, cosine, rank) — rank 1..k.
    */
  def cosineTopK(embeddings: DataFrame, k: Int = 3, queryMod: Int = 100,
      site: String = "sim.prep"): DataFrame =
    cosineTopK(embeddings, embeddings.filter(col("vec_id") % queryMod === 0), k, site)

  /** External-query-set form: `queries` has the corpus shape
    * (vec_id, embedding). Brute force is inherently all-pairs — the
    * query side should be small; above the broadcast threshold the
    * planner falls back to a nested-loop join.
    */
  def cosineTopK(embeddings: DataFrame, queries: DataFrame, k: Int,
      site: String): DataFrame = {
    val corpus = prepared(embeddings, site)
    val qprep = prepared(queries, site + ".q")
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"), col("norm").as("qnorm"))

    val scored = corpus
      .join(maybeBroadcast(qprep), col("vec_id") =!= col("query_id"))
      .select(
        col("query_id"),
        col("vec_id").as("neighbor_id"),
        cosineWithNorms(dot(col("vec"), col("qvec")), col("norm"), col("qnorm")).as("cosine"))

    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 4).as("cosine"), col("rank"))
  }

  /** Sign-LSH bucketed ANN top-k: both sides get an nPlanes-bit
    * hyperplane signature split into `bands`; candidates are rows
    * sharing ≥1 band with a query. Exact cosine is then computed only
    * on candidates. Recall < 1 by construction; precision is exact.
    * Output: (query_id, neighbor_id, cosine, rank).
    */
  def annSignLshTopK(
      embeddings: DataFrame,
      k: Int = 3,
      queryMod: Int = 100,
      nPlanes: Int = 16,
      bands: Int = 4,
      dim: Int = 64,
      site: String = "sim.prep"): DataFrame =
    annSignLshTopK(embeddings, embeddings.filter(col("vec_id") % queryMod === 0),
      k, nPlanes, bands, dim, site)

  /** External-query-set form. The banded candidate join carries ids
    * only; vectors are re-attached AFTER the (query_id, neighbor_id)
    * pairs are deduplicated, so neither the bucket join nor the dedup
    * shuffle moves array payloads. `site` scopes the OpCache entries
    * (the cosineTopK convention): callers running the pipeline over a
    * DIFFERENT corpus (the multimodal feature space) must pass their
    * own site or every invocation evicts the other corpus's prep and
    * the shared caches thrash.
    */
  def annSignLshTopK(
      embeddings: DataFrame,
      queries: DataFrame,
      k: Int,
      nPlanes: Int,
      bands: Int,
      dim: Int,
      site: String): DataFrame = {
    // nPlanes/dim shape the cached signature plans (the paramKey
    // convention); bands enters only downstream of the cache
    val sigKey = OpCache.paramKey(nPlanes.toString, dim.toString)
    val base = OpCache.swap(site + ".lsh.sig." + sigKey,
      prepared(embeddings, site)
        .withColumn("sig", signLshSignature(col("vec"), nPlanes, dim)))
    val qbase = OpCache.swap(site + ".lsh.qsig." + sigKey,
      prepared(queries, site + ".q")
        .select(col("vec_id").as("query_id"), col("vec").as("qvec"), col("norm").as("qnorm"))
        .withColumn("qsig", signLshSignature(col("qvec"), nPlanes, dim)))

    val corpusB = base.select(
      col("vec_id"),
      posexplode(array(signatureBands(col("sig"), nPlanes, bands): _*)).as(Seq("band_id", "band_key")))
    val queriesB = qbase.select(
      col("query_id"),
      posexplode(array(signatureBands(col("qsig"), nPlanes, bands): _*)).as(Seq("band_id", "band_key")))

    val candidates = corpusB
      .join(maybeBroadcast(queriesB), Seq("band_id", "band_key"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
      .dropDuplicates("query_id", "neighbor_id") // collided in >1 band; two-long rows

    // candidates-to-top-k is the shared exactRerank dataflow (vector
    // re-attach by id, exact cosine, rank, round) — one home, so a
    // tie-break or rounding change cannot diverge between the LSH and
    // PQ/IVF paths
    exactRerank(candidates.withColumnRenamed("neighbor_id", "vec_id"),
      base, prepared(queries, site + ".q"), k)
  }

  /** IVF (inverted-file) ANN top-k: the corpus is partitioned into
    * cells around centroids; queries probe only the `nProbes` nearest
    * cells. Centroids here are per-`centroidCol` mean vectors (one
    * k-means assignment step with provided coarse labels — swap in
    * k-means rounds to productionize). Scale shape: the centroid table
    * is tiny and broadcast twice (assignment + probe); the candidate
    * join is an equi-join on cell id, so each corpus row is compared
    * only to queries probing its cell.
    * Output: (query_id, neighbor_id, cosine, rank).
    */
  def ivfTopK(
      embeddings: DataFrame,
      k: Int = 3,
      queryMod: Int = 100,
      nProbes: Int = 2,
      centroidCol: String = "label"): DataFrame =
    ivfTopK(embeddings, embeddings.filter(col("vec_id") % queryMod === 0),
      k, nProbes, centroidCol)

  /** External-query-set form of [[ivfTopK]]. */
  def ivfTopK(
      embeddings: DataFrame,
      queries: DataFrame,
      k: Int,
      nProbes: Int,
      centroidCol: String): DataFrame = {
    val base = prepared(embeddings, "sim.prep")

    // Per-cell mean vector via positional explode → elementwise avg →
    // re-assembled in position order (deterministic).
    // centroidCol shapes the cached plan (the paramKey convention)
    val centroids = OpCache.swap("sim.ivf.centroids." + OpCache.paramKey(centroidCol),
      embeddings
        .select(col(centroidCol).as("cell"), posexplode(toDoubleVec(col("embedding"))).as(Seq("pos", "x")))
        .groupBy(col("cell"), col("pos"))
        .agg(avg(col("x")).as("m"))
        .groupBy(col("cell"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cell"), transform(col("pm"), e => e.getField("m")).as("cvec"))
        .withColumn("cnorm", l2norm(col("cvec"))))

    ivfSearch(prepared(queries, "sim.prep.q"),
      base, centroids, k, nProbes,
      "sim.ivf.assigned." + OpCache.paramKey(centroidCol))
  }

  /** IVF ANN with centroids learned by Lloyd's k-means instead of
    * provided coarse labels — the productionized variant. Each round
    * is one broadcast-assign plus one single-shuffle recompute through
    * the [[graft.functions.VectorMean]] typed aggregate (map-side
    * partial element-wise sums — the shuffle carries k partial
    * vectors per partition, never the corpus). Deterministic
    * hash-order seeding; lineage truncated per round. At 100 TB,
    * seed from a sample (k-means|| style) instead of a global sort.
    */
  def ivfTopKKmeans(
      embeddings: DataFrame,
      k: Int = 3,
      queryMod: Int = 100,
      nProbes: Int = 2,
      cells: Int = 8,
      maxIter: Int = 3,
      site: String = "sim.prep"): DataFrame =
    ivfTopKKmeans(embeddings, embeddings.filter(col("vec_id") % queryMod === 0),
      k, nProbes, cells, maxIter, site)

  /** External-query-set form of [[ivfTopKKmeans]]. `site` scopes the
    * prep caches per corpus (see [[annSignLshTopK]]).
    */
  def ivfTopKKmeans(
      embeddings: DataFrame,
      queries: DataFrame,
      k: Int,
      nProbes: Int,
      cells: Int,
      maxIter: Int,
      site: String): DataFrame = {
    val base = prepared(embeddings, site)
    ivfSearch(prepared(queries, site + ".q"),
      base, memoizedKmeans(base, site, cells, maxIter), k, nProbes,
      s"$site.ivfkm.assigned.$cells.$maxIter")
  }

  /** Memoized per (prep site, geometry) slot on the prepared input:
    * the Lloyd loop is EAGER (localCheckpoint per round), so an
    * OpCache swap of the result would arrive after the work is already
    * redone — `swapByInput` short-circuits the training itself. The
    * cached value is the tiny checkpointed centroid table (k rows).
    * The site keeps distinct corpora (`sim.prep`, `sim.mm.prep`, test
    * corpora) in distinct slots.
    */
  private def memoizedKmeans(
      base: DataFrame, site: String, cells: Int, maxIter: Int): DataFrame =
    OpCache.swapByInput(
      OpCache.paramKey("sim.kmeans", site, cells.toString, maxIter.toString), base)(
      kmeansCentroids(base, cells, maxIter))

  /** Lloyd's k-means over a prepared (vec_id, vec, norm) corpus.
    * Output: (cell, cvec, cnorm) — the IVF centroid table shape.
    *
    * Seeding is k-means||-style (Bahmani et al., VLDB'12), adapted to
    * one deterministic dataflow: a hash-min anchor, one
    * distance-weighted oversampling pass (each point kept with
    * probability ∝ its squared distance from the anchor, budget
    * l = 4k draws via xxhash64 — spread seeds land far apart instead
    * of wherever the hash order clumped), then a weight-based
    * reduction — every corpus point votes for its nearest candidate
    * and the k most-voted candidates become the seeds (the paper
    * reduces by weighted k-means++; top-k-by-weight keeps the
    * reduction a single window, SQL-replayable by the portable twin,
    * and drops only low-mass candidates Lloyd would starve anyway).
    * Quality-blind hash-order seeding repeatedly planted multiple
    * seeds inside one true cluster; distance-weighting is the
    * standard 100 TB fix and stays two broadcast passes over the
    * corpus.
    */
  private def kmeansCentroids(base: DataFrame, k: Int, maxIter: Int): DataFrame = {
    // Anchor: deterministic hash-min vector. orderBy+limit is
    // TakeOrderedAndProject (per-partition top-k + merge) — the corpus
    // is never globally sorted.
    val anchor = base
      .select(col("vec_id"), col("vec"), xxhash64(col("vec_id")).as("__h"))
      .orderBy(col("__h"), col("vec_id"))
      .limit(1)
      .select(col("vec_id"), col("vec"))

    // Oversample ∝ d²(x, anchor): draw < l·d²/Σd², with the scalar
    // Σd² attached as a 1-row broadcast (BNLJ of one row — not a
    // driver collect, not a single-partition window).
    val l = 4 * k
    val d2 = base
      .crossJoin(broadcast(anchor
        .select(col("vec").as("__avec"))
        .withColumn("__anorm", l2norm(col("__avec")))))
      .select(
        col("vec_id"), col("vec"),
        (col("norm") * col("norm") + col("__anorm") * col("__anorm")
          - lit(2.0) * dot(col("vec"), col("__avec"))).as("__d2"))
    val tot = d2.agg(sum(col("__d2")).as("__tot"))
    val sampled = d2
      .crossJoin(broadcast(tot))
      // xxhash64 → uniform in [0,1): shift to non-negative 63-bit
      .filter(
        (shiftrightunsigned(xxhash64(col("vec_id"), lit("kmpp")), 1)
          .cast("double") / lit(Long.MaxValue.toDouble)) * col("__tot")
          < lit(l.toDouble) * col("__d2"))
      .select(col("vec_id"), col("vec"))
    val candidates = anchor.unionByName(sampled)
      .dropDuplicates("vec_id")
      .withColumn("cnorm", l2norm(col("vec")))
      .localCheckpoint(true) // tiny (~l rows); read twice below

    // Weight-based reduction: every corpus point votes for its
    // nearest candidate (argmax via partial-agg max(struct) — ties on
    // csim fall to the larger -cand_id = smaller cand_id, the window
    // order exactly); the k most-voted candidates (ties → lower
    // vec_id) are the seeds.
    val votes = base
      .crossJoin(broadcast(candidates.select(
        col("vec_id").as("cand_id"), col("vec").as("cvec"), col("cnorm"))))
      .groupBy(col("vec_id"))
      .agg(max(struct(
        cosineWithNorms(dot(col("vec"), col("cvec")), col("norm"), col("cnorm")).as("csim"),
        (-col("cand_id")).as("__nc"), col("cand_id"))).as("m"))
      .groupBy(col("m.cand_id").as("cand_id"))
      .agg(count(lit(1)).as("__w"))
    // LEFT join + weight 0: a candidate that wins no votes must stay
    // rankable as backfill — an inner join would drop it and silently
    // return fewer than k seeds on vote-concentrated corpora, and an
    // IVF index with fewer cells than requested turns the downstream
    // cell equi-join into near-exhaustive skew with no signal.
    val seedW = Window.orderBy(col("__w").desc, col("cand_id").asc)
    var cents = candidates
      .join(votes, col("vec_id") === col("cand_id"), "left")
      .withColumn("__w", coalesce(col("__w"), lit(0L)))
      .withColumn("__r", row_number().over(seedW))
      .filter(col("__r") <= k)
      .select((col("__r") - 1).cast("int").as("cell"), col("vec").as("cvec"), col("cnorm"))
      .localCheckpoint(true)
    var iter = 0
    while (iter < maxIter) {
      // Argmax assignment via partial-agg max(struct): (csim, cell) is
      // unique within a vec_id group, so the vec payload never decides
      // — winner == the (csim DESC, cell ASC) window head, with
      // map-side combine instead of a per-key sort shuffle.
      val recomputed = base.crossJoin(broadcast(cents))
        .groupBy(base("vec_id"))
        .agg(max(struct(
          cosineWithNorms(dot(col("vec"), col("cvec")), col("norm"), col("cnorm")).as("csim"),
          (-col("cell")).as("__nc"), col("cell"), base("vec"))).as("m"))
        .groupBy(col("m.cell").as("cell"))
        .agg(graft.functions.VectorMean.vectorMean(col("m.vec")).as("cvec"))
        .withColumn("cnorm", l2norm(col("cvec")))
      // Empty-cell handling (the pqCodebooks backfill, which this loop
      // was missing): a cell that wins zero points this round — e.g.
      // duplicated seed vectors where every tie falls to the smaller
      // cell id — would VANISH from the groupBy recompute, silently
      // shrinking the index below k cells, exactly the fewer-cells
      // skew outcome the zero-vote seed backfill above exists to
      // prevent. Keep the starved cell's previous centroid instead.
      cents = cents.select(col("cell"), col("cvec").as("__pvec"), col("cnorm").as("__pnorm"))
        .join(recomputed, Seq("cell"), "left")
        .select(
          col("cell"),
          coalesce(col("cvec"), col("__pvec")).as("cvec"),
          coalesce(col("cnorm"), col("__pnorm")).as("cnorm"))
        .localCheckpoint(true) // truncate lineage each round
      iter += 1
    }
    cents
  }

  /** Shared IVF probe: assign corpus rows to their cell, queries to
    * their `nProbes` nearest cells, equi-join on cell, exact cosine +
    * top-k on the candidates. The pair dedup (a query probing two
    * cells can meet the same corpus row twice only if assignments
    * collide — kept for safety) runs on (ids, cosine scalar), never on
    * vector payloads.
    */
  private def ivfSearch(
      qprep: DataFrame,
      base: DataFrame,
      centroids: DataFrame,
      k: Int,
      nProbes: Int,
      site: String): DataFrame = {
    // The corpus-side cell assignment is the N·cells hot scan, and the
    // centroid inputs are cached/checkpointed plans — so a repeat
    // invocation is plan-equal and should read the stored assignment,
    // not re-score the corpus. `site` keys per centroid SOURCE (label
    // vs k-means): the two produce different plans, and one shared key
    // would thrash the single-slot cache on surfaces running both.
    val corpus = OpCache.swap(site,
      assignCells(base, centroids, 1)
        .select(col("cell"), col("vec_id"), col("vec"), col("norm")))
    val queries = assignCells(qprep, centroids, nProbes)
      .select(col("cell"), col("vec_id").as("query_id"), col("vec").as("qvec"), col("norm").as("qnorm"))

    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id").asc)
    corpus
      .join(maybeBroadcast(queries), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(
        col("query_id"), col("vec_id").as("neighbor_id"),
        cosineWithNorms(dot(col("vec"), col("qvec")), col("norm"), col("qnorm")).as("cosine"))
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 4).as("cosine"), col("rank"))
  }

  /** Nearest-`probes` centroid cells for each prepared row — the IVF
    * cell assignment shared by the probe search and the IVF-PQ encode.
    * The centroid table is tiny (k rows) and force-broadcast; output
    * keeps the input columns plus `cell`.
    *
    * The 1-probe case (every corpus row, the N·cells hot path) is an
    * ARGMAX, computed as `max(struct(csim, -cell, payload))` with
    * map-side partial aggregation — the shuffle carries one combined
    * row per vec_id instead of `cells` scored rows into a per-key
    * window sort. Struct comparison is lexicographic, so the winner
    * is exactly the window's (csim DESC, cell ASC) head: ties on csim
    * fall to the LARGER -cell = smaller cell, and (csim, cell) is
    * unique within a group, so the payload field never decides.
    */
  private def assignCells(df: DataFrame, centroids: DataFrame, probes: Int): DataFrame = {
    val scored = df.crossJoin(broadcast(centroids))
      .select(
        df("*"), col("cell"),
        cosineWithNorms(dot(col("vec"), col("cvec")), col("norm"), col("cnorm")).as("csim"))
    if (probes == 1) {
      val payload = df.columns.filterNot(_ == "vec_id").map(col)
      scored
        .groupBy(col("vec_id"))
        .agg(max(struct(
          (col("csim") +: (-col("cell")).as("__nc") +: payload :+ col("cell")): _*)).as("m"))
        .select(col("vec_id") +: df.columns.filterNot(_ == "vec_id").map(c => col(s"m.$c")) :+ col("m.cell").as("cell"): _*)
    } else {
      val w = Window.partitionBy("vec_id").orderBy(col("csim").desc, col("cell").asc)
      scored
        .withColumn("crank", row_number().over(w))
        .filter(col("crank") <= probes)
        .drop("csim", "crank")
    }
  }

  /** Embedding near-duplicate pairs: vectors whose cosine exceeds a
    * threshold, found via the same sign-LSH banding (no all-pairs).
    * The banded self-join and the pair dedup carry ids only — vectors
    * are re-attached per deduplicated pair, so shuffle volume is two
    * longs per candidate, not ~1 KB of array payload.
    * Output: (vec_a, vec_b, cosine) with vec_a < vec_b.
    */
  def embeddingNearDupPairs(
      embeddings: DataFrame,
      minCosine: Double = 0.95,
      nPlanes: Int = 16,
      bands: Int = 4,
      dim: Int = 64): DataFrame = {
    val base = OpCache.swap(
      "sim.neardup.sig." + OpCache.paramKey(nPlanes.toString, dim.toString),
      prepared(embeddings, "sim.prep")
        .withColumn("sig", signLshSignature(col("vec"), nPlanes, dim)))
    val bandedIds = base.select(
      col("vec_id"),
      posexplode(array(signatureBands(col("sig"), nPlanes, bands): _*)).as(Seq("band_id", "band_key")))

    val a = bandedIds.select(col("band_id"), col("band_key"), col("vec_id").as("vec_a"))
    val b = bandedIds.select(col("band_id"), col("band_key"), col("vec_id").as("vec_b"))

    val pairs = a.join(b, Seq("band_id", "band_key"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"))
      .dropDuplicates("vec_a", "vec_b")

    pairs
      .join(base.select(col("vec_id").as("vec_a"), col("vec").as("va"), col("norm").as("na")), Seq("vec_a"))
      .join(base.select(col("vec_id").as("vec_b"), col("vec").as("vb"), col("norm").as("nb")), Seq("vec_b"))
      .select(col("vec_a"), col("vec_b"), round(cosineWithNorms(dot(col("va"), col("vb")), col("na"), col("nb")), 4).as("cosine"))
      .filter(col("cosine") >= minCosine)
  }

  // --------------------------------------------------------- semantic dedup

  /** SemDeDup-style semantic near-duplicate pairs (Abbas et al.,
    * "SemDeDup", arXiv:2303.09540): k-means the embedding space, then
    * compare pairs ONLY within a cell. The paper's scale contract:
    * `cells` grows with the corpus (k ∝ N / cell budget), so the
    * per-cell comparison is bounded by cell size, never N² — and the
    * candidate generation shuffles (cell, id) only; vectors are
    * re-attached per surviving pair.
    * Output: (vec_a, vec_b, cosine), vec_a < vec_b, cosine ≥ minCosine.
    */
  def semanticDupPairs(
      embeddings: DataFrame,
      minCosine: Double = 0.95,
      cells: Int = 8,
      maxIter: Int = 3): DataFrame = {
    val assigned = semanticAssigned(embeddings, cells, maxIter)
    val ids = assigned.select(col("cell"), col("vec_id"))
    ids
      .join(ids.select(col("cell"), col("vec_id").as("vec_b")), Seq("cell"))
      .filter(col("vec_id") < col("vec_b"))
      .select(col("vec_id").as("vec_a"), col("vec_b"))
      .join(
        assigned.select(col("vec_id").as("vec_a"), col("vec").as("va"), col("norm").as("na")),
        Seq("vec_a"))
      .join(
        assigned.select(col("vec_id").as("vec_b"), col("vec").as("vb"), col("norm").as("nb")),
        Seq("vec_b"))
      .select(
        col("vec_a"), col("vec_b"),
        round(cosineWithNorms(dot(col("va"), col("vb")), col("na"), col("nb")), 4).as("cosine"))
      .filter(col("cosine") >= minCosine)
  }

  /** Per-vector atypicality for SemDeDup canonical selection: the
    * NEGATED cosine to the assigned cell centroid, shaped for
    * [[Dedup.dedupReportBest]] (which keeps the HIGHEST score) — so
    * the kept member is the one FARTHEST from its centroid, the
    * paper's keep rule. Output: (doc_id, score).
    */
  def semanticKeepScores(
      embeddings: DataFrame,
      cells: Int = 8,
      maxIter: Int = 3): DataFrame = {
    val assigned = semanticAssigned(embeddings, cells, maxIter)
    val base = prepared(embeddings, "sim.prep")
    assigned
      .join(broadcast(memoizedKmeans(base, "sim.prep", cells, maxIter)), Seq("cell"))
      .select(
        col("vec_id").as("doc_id"),
        (-cosineWithNorms(dot(col("vec"), col("cvec")), col("norm"), col("cnorm"))).as("score"))
  }

  /** Shared 1-probe cell assignment for the SemDeDup faces — one
    * OpCache site, plan-equal across pairs/scores callers.
    */
  private def semanticAssigned(embeddings: DataFrame, cells: Int, maxIter: Int): DataFrame = {
    val base = prepared(embeddings, "sim.prep")
    OpCache.swap(
      "sim.semdedup.assigned." + OpCache.paramKey(cells.toString, maxIter.toString),
      assignCells(base, memoizedKmeans(base, "sim.prep", cells, maxIter), probes = 1))
  }

  // ------------------------------------------------------ product quantization

  /** Product-quantization ANN — the memory-compressed scale path: each
    * vector is encoded as `m` small codes (one k-means codebook per
    * subspace), queries score the WHOLE corpus through per-query
    * lookup tables (asymmetric distance computation: `m` table adds
    * per vector instead of `dim` multiplies), and only the top
    * `rerank` candidates per query are re-ranked with their true
    * vectors. At 100 TB the encoded corpus is `m` bytes/vector
    * (codes ≤ 256) instead of `4·dim` — the difference between an
    * in-memory scan and a disk-bound one.
    *
    * Scale shape: codebook training advances ALL subspaces together —
    * one equi-join assign + one partial-aggregated recompute per Lloyd
    * round (never one loop per subspace); ADC scoring is corpus-codes
    * ⨝ broadcast lookup table → partial-agg sum (map-side combine on
    * (query, vec)); the exact re-rank re-attaches true vectors for
    * ids only. Compose with IVF cells for query-side pruning when
    * even the O(N·m) table scan is too much (IVF-PQ).
    * Output: (query_id, neighbor_id, cosine, rank) — cosine EXACT
    * from the re-rank, so recall is directly measurable against
    * [[cosineTopK]].
    *
    * EAGER at construction (not at first action): building this plan
    * runs Spark jobs — the corpus count behind the code clamp
    * ([[effectiveCodes]]), the memoized Lloyd training loop, and the
    * query count behind the lut-broadcast guard. Callers composing
    * plans lazily should construct this one where executing cluster
    * work is acceptable (same contract as [[memoizedKmeans]]).
    */
  def pqTopK(
      embeddings: DataFrame,
      k: Int = 3,
      queryMod: Int = 100,
      m: Int = 8,
      codes: Int = 32,
      rerank: Int = 64,
      maxIter: Int = 3,
      dim: Int = 64): DataFrame =
    pqTopK(embeddings, embeddings.filter(col("vec_id") % queryMod === 0),
      k, m, codes, rerank, maxIter, dim)

  /** External-query-set form of [[pqTopK]]. */
  def pqTopK(
      embeddings: DataFrame,
      queries: DataFrame,
      k: Int,
      m: Int,
      codes: Int,
      rerank: Int,
      maxIter: Int,
      dim: Int): DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    require(codes <= 256, s"codes $codes exceeds one byte — the PQ memory contract")
    val sub = dim / m
    val base = prepared(embeddings, "sim.prep")
    val c = effectiveCodes(base, codes) // clamp BEFORE training — see effectiveCodes
    val codebooks = memoPqCodebooks(base, m, c, maxIter, sub)
    // training is memoized but the N·m·codes encode pass was rebuilt
    // per invocation — cache it; the key carries every parameter the
    // plan depends on, so distinct geometries never share (and thus
    // never thrash) a slot
    val packed = OpCache.swap(s"sim.pq.packed.$m.$c.$maxIter",
      encodePacked(base, codebooks, m, sub))
    val qprep = prepared(queries, "sim.prep.q")
    val lut = queryLuts(qprep, codebooks, m, sub)

    // The lut is FORCE-broadcast: one m·codes-double row per query
    // (~2 KB at the defaults), and its post-aggregate size estimate is
    // unbounded — left to maybeBroadcast the planner degrades this
    // non-equi join to a true CartesianProduct, which has no redeeming
    // fallback. The contract (a broadcastable query set) is ENFORCED,
    // not assumed: the guard fails loudly on a query set whose lut
    // would blow the driver, instead of OOMing it. Past that scale,
    // prune corpus-side first ([[ivfPqTopK]]) instead of scanning.
    val lutBytes = qprep.count() * (m.toLong * c * 8 + 16)
    require(lutBytes < (512L << 20),
      s"PQ query set needs a ~${lutBytes >> 20} MB lookup-table broadcast — " +
        "beyond the ADC scan's contract; prune with IVF cells (ivfPqTopK) instead")
    val approxW = Window.partitionBy("query_id").orderBy(col("approx_cos").desc, col("vec_id").asc)
    val shortlist = packed
      .join(broadcast(lut), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), (adcScore(m, c) / col("norm")).as("approx_cos"))
      .withColumn("arank", row_number().over(approxW))
      .filter(col("arank") <= rerank)
      .select("query_id", "vec_id")

    exactRerank(shortlist, base, qprep, k)
  }

  /** IVF-PQ: the composed scale path — IVF cells prune the CORPUS side
    * of the ADC scan so each query scores only the rows in its
    * `nProbes` probed cells, while PQ keeps the per-row cost at m
    * table adds and m bytes of shuffle payload. [[pqTopK]]'s ADC is
    * exhaustive O(N·Q); here it is O((N/cells)·nProbes·Q) and — the
    * structural win — the pair join becomes an EQUI-join on `cell`
    * instead of a broadcast nested loop, so past the broadcast
    * threshold it degrades to a shuffled hash join, never a cartesian,
    * and no 512 MB lut-broadcast contract is needed.
    *
    * Coarse cells are Lloyd-learned ([[ivfTopKKmeans]]'s machinery,
    * memoized); codebooks are trained globally on the raw vectors
    * (per-cell residual codebooks are the classic refinement — they
    * sharpen ADC precision, which the exact re-rank here already
    * restores at shortlist size `rerank`). Recall loss vs plain PQ is
    * exactly the IVF probe miss (a true neighbor living in an
    * unprobed cell); raise `nProbes` to trade scan volume back for
    * recall.
    * Output: (query_id, neighbor_id, cosine, rank) — cosine EXACT.
    *
    * EAGER at construction, like [[pqTopK]]: the code clamp's corpus
    * count and the memoized Lloyd loops (cells AND codebooks) run
    * Spark jobs while the plan is being built.
    */
  def ivfPqTopK(
      embeddings: DataFrame,
      k: Int = 3,
      queryMod: Int = 100,
      nProbes: Int = 2,
      cells: Int = 8,
      m: Int = 8,
      codes: Int = 32,
      rerank: Int = 64,
      maxIter: Int = 3,
      dim: Int = 64): DataFrame =
    ivfPqTopK(embeddings, embeddings.filter(col("vec_id") % queryMod === 0),
      k, nProbes, cells, m, codes, rerank, maxIter, dim)

  /** External-query-set form of [[ivfPqTopK]]. */
  def ivfPqTopK(
      embeddings: DataFrame,
      queries: DataFrame,
      k: Int,
      nProbes: Int,
      cells: Int,
      m: Int,
      codes: Int,
      rerank: Int,
      maxIter: Int,
      dim: Int): DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    require(codes <= 256, s"codes $codes exceeds one byte — the PQ memory contract")
    val sub = dim / m
    val base = prepared(embeddings, "sim.prep")
    val centroids = memoizedKmeans(base, "sim.prep", cells, maxIter)
    val c = effectiveCodes(base, codes) // clamp BEFORE training — see effectiveCodes
    val codebooks = memoPqCodebooks(base, m, c, maxIter, sub)

    // Encoded corpus carries its cell: (cell, vec_id, vcodes, norm).
    // The cell join is id-to-id (both sides N rows, m+1 narrow cols).
    // Both inputs cached: the encode pass shares pqTopK's slot (same
    // geometry → plan-equal), the cell assignment its own.
    val packed = OpCache.swap(s"sim.pq.packed.$m.$c.$maxIter",
      encodePacked(base, codebooks, m, sub))
      .join(
        OpCache.swap(s"sim.ivfpq.assigned.$cells.$maxIter",
          assignCells(base, centroids, 1).select(col("vec_id"), col("cell"))),
        Seq("vec_id"))

    val qprep = prepared(queries, "sim.prep.q")
    // One (query_id, cell, lut) row per probed cell — nProbes rows per
    // query, each a ~2 KB lut array; broadcast while small, shuffled
    // equi-join on cell beyond the threshold.
    val lutCells = queryLuts(qprep, codebooks, m, sub)
      .join(
        assignCells(qprep, centroids, nProbes).select(col("vec_id").as("query_id"), col("cell")),
        Seq("query_id"))

    // ADC only within probed cells: equi-join on cell. A corpus row
    // lives in exactly one cell and probe cells are distinct per
    // query, so (query_id, vec_id) pairs are already unique — no
    // dedup shuffle.
    val approxW = Window.partitionBy("query_id").orderBy(col("approx_cos").desc, col("vec_id").asc)
    val shortlist = packed
      .join(maybeBroadcast(lutCells), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), (adcScore(m, c) / col("norm")).as("approx_cos"))
      .withColumn("arank", row_number().over(approxW))
      .filter(col("arank") <= rerank)
      .select("query_id", "vec_id")

    exactRerank(shortlist, base, qprep, k)
  }

  /** (vec_id, sub_j, svec): a prepared corpus split into m subspace
    * rows of width `sub`.
    */
  private def subRowsOf(df: DataFrame, m: Int, sub: Int): DataFrame =
    df.select(
      col("vec_id"),
      posexplode(array((0 until m).map(j =>
        slice(col("vec"), j * sub + 1, sub)): _*)).as(Seq("sub_j", "svec")))

  /** Codebooks for all m subspaces trained in one dataflow (memoized
    * on the prepared corpus through `swapByInput`: the Lloyd loop is
    * eager, so a swap of the result would arrive too late).
    * Shared by [[pqTopK]] and [[ivfPqTopK]] — same base, same books.
    */
  /** The codebook can only be as dense as the corpus: seeding takes
    * min(rows, codes) codes per subspace, while the LUT packing and
    * adcScore's positional indexing stride by the REQUESTED codes — on
    * a corpus smaller than `codes`, every lookup past subspace 0 then
    * reads another subspace's block or past the array end (silently
    * garbage shortlists with ANSI off, INVALID_ARRAY_INDEX under
    * ANSI). Clamp once per entry point; `base` is OpCache-persisted,
    * so the count is one cheap job over cached data.
    */
  private def effectiveCodes(base: DataFrame, codes: Int): Int =
    math.min(codes.toLong, math.max(1L, base.count())).toInt

  private def memoPqCodebooks(
      base: DataFrame, m: Int, codes: Int, maxIter: Int, sub: Int): DataFrame =
    OpCache.swapByInput(s"sim.pq.books.$m.$codes.$maxIter.$sub", base)(
      pqCodebooks(subRowsOf(base, m, sub), codes, maxIter))

  /** Encode the corpus (nearest code per (vec_id, sub_j) by L2) and
    * pack each vector's m codes into one array — the compressed corpus
    * representation (m small ints/vector vs 4·dim bytes). The true
    * norm joins HERE, onto the N-row packed table (not the m×N
    * exploded rows): the ADC score must be normalized by it —
    * approximating the DOT alone would shortlist by magnitude, not
    * direction, and bury true cosine neighbors under large-norm
    * vectors. Output: (vec_id, vcodes, norm).
    */
  private def encodePacked(
      base: DataFrame, codebooks: DataFrame, m: Int, sub: Int): DataFrame = {
    // Nearest code per (vec_id, sub_j) is an ARGMIN over the N·m·codes
    // scored rows — min(struct(d2, code)) partial-aggregates map-side
    // (the shuffle carries one row per subspace slot, not `codes`
    // scored rows into a window sort); lexicographic struct order ==
    // the (d2 ASC, code ASC) window head exactly.
    val encoded = subRowsOf(base, m, sub)
      .join(broadcast(codebooks), Seq("sub_j"))
      .groupBy(col("vec_id"), col("sub_j"))
      .agg(min(struct(
        (col("cn2") - lit(2.0) * dot(col("svec"), col("cvec"))).as("d2"), // |s|² constant per group
        col("code"))).as("m"))
      .select(col("vec_id"), col("sub_j"), col("m.code").as("code"))
    encoded
      .groupBy("vec_id")
      .agg(array_sort(collect_list(struct(col("sub_j"), col("code")))).as("sc"))
      .select(col("vec_id"), transform(col("sc"), e => e.getField("code")).as("vcodes"))
      .join(base.select(col("vec_id"), col("norm")), Seq("vec_id"))
  }

  /** Per-query lookup table dot(q_j, c_{j,code}) packed into ONE array
    * indexed sub_j·codes + code (array_sort on (sub_j, code) structs
    * gives exactly that order). Output: (query_id, lut).
    */
  private def queryLuts(
      qprep: DataFrame, codebooks: DataFrame, m: Int, sub: Int): DataFrame =
    subRowsOf(qprep, m, sub)
      .withColumnRenamed("vec_id", "query_id")
      .join(broadcast(codebooks), Seq("sub_j"))
      .select(col("query_id"), col("sub_j"), col("code"), dot(col("svec"), col("cvec")).as("qdot"))
      .groupBy("query_id")
      .agg(array_sort(collect_list(struct(col("sub_j"), col("code"), col("qdot")))).as("lc"))
      .select(col("query_id"), transform(col("lc"), e => e.getField("qdot")).as("lut"))

  /** ADC as a codegen'd per-pair EXPRESSION (m element_at adds), not a
    * join-materialized explosion: the pair join moves m codes per row
    * instead of the vector, and each score is m table adds instead of
    * dim multiplies.
    */
  private def adcScore(m: Int, codes: Int): org.apache.spark.sql.Column =
    (0 until m).map(j =>
      element_at(col("lut"), lit(j * codes + 1) + element_at(col("vcodes"), j + 1)))
      .reduce(_ + _)

  /** Exact re-rank of an (query_id, vec_id) shortlist: true vectors
    * re-attached by id, exact cosine, top-k.
    */
  private def exactRerank(
      shortlist: DataFrame, base: DataFrame, qprep: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id").asc)
    shortlist
      .join(base.select(col("vec_id"), col("vec"), col("norm")), Seq("vec_id"))
      .join(
        maybeBroadcast(qprep.select(
          col("vec_id").as("query_id"), col("vec").as("qvec"), col("norm").as("qnorm"))),
        Seq("query_id"))
      .select(
        col("query_id"), col("vec_id").as("neighbor_id"),
        cosineWithNorms(dot(col("vec"), col("qvec")), col("norm"), col("qnorm")).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 4).as("cosine"), col("rank"))
  }

  /** Per-subspace k-means codebooks, all subspaces per round in ONE
    * assign + ONE recompute (grouping key (sub_j, code)). Seeds:
    * hash-order min `codes` subvectors per subspace via a per-subspace
    * rank (no global sort). Output: (sub_j, code, cvec, cn2 = |c|²).
    */
  private def pqCodebooks(subRows: DataFrame, codes: Int, maxIter: Int): DataFrame = {
    val seedW = Window.partitionBy("sub_j").orderBy(col("__h"), col("vec_id"))
    var books = subRows
      .select(col("sub_j"), col("vec_id"), col("svec"), xxhash64(col("vec_id")).as("__h"))
      .withColumn("__r", row_number().over(seedW))
      .filter(col("__r") <= codes)
      .select(col("sub_j"), (col("__r") - 1).cast("int").as("code"), col("svec").as("cvec"))
      .withColumn("cn2", dot(col("cvec"), col("cvec")))
      .localCheckpoint(true)
    var iter = 0
    while (iter < maxIter) {
      // Argmin assignment via partial-agg min(struct): (d2, code) is
      // unique within a (vec_id, sub_j) group (codes distinct), so the
      // svec payload never decides the comparison — winner == the
      // (d2 ASC, code ASC) window head, at `codes`× less shuffle.
      val recomputed = subRows
        .join(broadcast(books), Seq("sub_j"))
        .groupBy(col("vec_id"), col("sub_j"))
        .agg(min(struct(
          (col("cn2") - lit(2.0) * dot(col("svec"), col("cvec"))).as("d2"),
          col("code"), col("svec"))).as("m"))
        .groupBy(col("sub_j"), col("m.code").as("code"))
        .agg(graft.functions.VectorMean.vectorMean(col("m.svec")).as("cvec"))
      // Empty-cluster handling: a code that won zero subvectors (e.g.
      // duplicate seed subvectors losing every tie) would VANISH from
      // the recomputed table — and the packed ADC lookup downstream
      // indexes the lut positionally, so the codebook must stay DENSE
      // (every (sub_j, code) present). Keep the previous round's
      // centroid for starved codes.
      books = books.select(col("sub_j"), col("code"), col("cvec").as("__prev"))
        .join(recomputed, Seq("sub_j", "code"), "left")
        .select(
          col("sub_j"), col("code"),
          coalesce(col("cvec"), col("__prev")).as("cvec"))
        .withColumn("cn2", dot(col("cvec"), col("cvec")))
        .localCheckpoint(true) // truncate lineage each round
      iter += 1
    }
    books
  }

  // ------------------------------------------------------------ persisted index

  /** Train an IVF-PQ index ONCE and persist its artifacts as
    * warehouse tables — the 100 TB deployment shape: the expensive
    * part (k-means cells, PQ codebooks, corpus encoding) runs in one
    * build job, and every later session probes the stored index
    * without retraining. Artifacts under `prefix`:
    *
    *   {prefix}_cells   (cell, cvec, cnorm)          — coarse quantizer
    *   {prefix}_books   (sub_j, code, cvec, cn2)     — PQ codebooks
    *   {prefix}_corpus  (vec_id, vcodes, norm, cell) — m bytes/vector
    *   {prefix}_meta    (cells, m, codes, sub, dim)  — search parameters
    *
    * The index stores CODES, not vectors (~m bytes vs 4·dim per row);
    * the source embedding table remains the system of record and is
    * re-read only for the exact re-rank of `rerank`-sized shortlists.
    * Writes are staged overwrites ([[graft.sources.Tables]]), so a
    * rebuild is atomic per artifact.
    */
  def buildIvfPqIndex(
      embeddings: DataFrame,
      prefix: String,
      cells: Int = 8,
      m: Int = 8,
      codes: Int = 32,
      maxIter: Int = 3,
      dim: Int = 64): Unit = {
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    require(codes <= 256, s"codes $codes exceeds one byte — the PQ memory contract")
    val sub = dim / m
    val spark = embeddings.sparkSession
    val base = prepared(embeddings, "sim.prep")
    val centroids = memoizedKmeans(base, "sim.prep", cells, maxIter)
    val c = effectiveCodes(base, codes) // clamp BEFORE training — see effectiveCodes
    val codebooks = memoPqCodebooks(base, m, c, maxIter, sub)
    // same cache keys as the search paths: a build in the same session
    // as a search (the lifecycle probe's shape) encodes once
    val packed = OpCache.swap(s"sim.pq.packed.$m.$c.$maxIter",
      encodePacked(base, codebooks, m, sub))
      .join(
        OpCache.swap(s"sim.ivfpq.assigned.$cells.$maxIter",
          assignCells(base, centroids, 1).select(col("vec_id"), col("cell"))),
        Seq("vec_id"))
    // An ephemeral catalog forgets tables while their warehouse dirs
    // survive — reset location + catalog entry so a rebuild in a fresh
    // session cannot die on LOCATION_ALREADY_EXISTS.
    Seq("cells", "books", "corpus", "meta")
      .foreach(s => graft.sources.Tables.dropManaged(spark, s"${prefix}_$s"))
    graft.sources.Tables.overwriteTable(centroids, s"${prefix}_cells")
    graft.sources.Tables.overwriteTable(codebooks, s"${prefix}_books")
    graft.sources.Tables.overwriteTable(packed, s"${prefix}_corpus")
    import spark.implicits._
    // meta records the EFFECTIVE codes (the trained density), so a
    // later searchIvfPqIndex strides the stored books consistently
    graft.sources.Tables.overwriteTable(
      Seq((cells, m, c, sub, dim)).toDF("cells", "m", "codes", "sub", "dim"),
      s"${prefix}_meta")
  }

  /** Probe a persisted IVF-PQ index: same search dataflow as
    * [[ivfPqTopK]] — per-query luts against the stored codebooks, ADC
    * equi-joined on the stored cell assignments, exact re-rank against
    * the SOURCE embedding table — but with zero training work: cells,
    * books and encodings are parquet scans. Search parameters (m,
    * codes, sub) come from `{prefix}_meta`, so a caller cannot probe
    * with mismatched geometry.
    * Output: (query_id, neighbor_id, cosine, rank) — cosine EXACT.
    */
  def searchIvfPqIndex(
      embeddings: DataFrame,
      queries: DataFrame,
      prefix: String,
      k: Int = 3,
      nProbes: Int = 2,
      rerank: Int = 64): DataFrame = {
    val spark = embeddings.sparkSession
    val meta = spark.table(s"${prefix}_meta").head()
    val m = meta.getAs[Int]("m")
    val codes = meta.getAs[Int]("codes")
    val sub = meta.getAs[Int]("sub")
    val centroids = spark.table(s"${prefix}_cells")
    val codebooks = spark.table(s"${prefix}_books")
    val packed = spark.table(s"${prefix}_corpus")
    val qprep = prepared(queries, "sim.prep.q")
    val lutCells = queryLuts(qprep, codebooks, m, sub)
      .join(
        assignCells(qprep, centroids, nProbes).select(col("vec_id").as("query_id"), col("cell")),
        Seq("query_id"))
    val approxW = Window.partitionBy("query_id").orderBy(col("approx_cos").desc, col("vec_id").asc)
    val shortlist = packed
      .join(maybeBroadcast(lutCells), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), (adcScore(m, codes) / col("norm")).as("approx_cos"))
      .withColumn("arank", row_number().over(approxW))
      .filter(col("arank") <= rerank)
      .select("query_id", "vec_id")
    exactRerank(shortlist, prepared(embeddings, "sim.prep"), qprep, k)
  }
}
