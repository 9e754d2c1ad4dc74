package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling and source mixing for training-data
  * pipelines. `df.sample()` depends on partitioning and seed plumbing;
  * hash-gating on a stable key is reproducible row-exactly across
  * runs, partitionings, and cluster sizes — the property data-mix
  * manifests need. Gate = pmod(xxhash64(salt, key), 1e6) < frac·1e6.
  */
object DataMix {

  private val Buckets = 1000000L

  private def gate(salt: Long, keyCols: Seq[Column]): Column =
    pmod(xxhash64((lit(salt) +: keyCols): _*), lit(Buckets))

  /** Shared md5 draw: first 4 hex chars of md5 over the \u0001-joined
    * stringified key (separator prevents ("ab","c") vs ("a","bc")
    * key-boundary collisions). Every md5 gate hashes EXACTLY this, so
    * sample/split/quota/stratified draws agree with each other.
    */
  private def md5Hash(keyCols: Seq[Column]): Column =
    // NULL-safe: concat_ws silently DROPS nulls, which would collide
    // (NULL,"x") with ("x",NULL) and "x" — encode NULL as a sentinel
    md5(concat_ws("\u0001",
      keyCols.map(c => coalesce(c.cast("string"), lit("\u0002"))): _*))

  private def md5Prefix(keyCols: Seq[Column]): Column =
    substring(md5Hash(keyCols), 1, 4)

  /** frac as a 4-hex-char exclusive upper bound for [[md5Prefix]].
    * frac = 1 maps to "zzzz": every hex prefix sorts below it, so the
    * gate keeps everything (the naive "10000" would sort BELOW most
    * prefixes and silently keep ~1/16).
    */
  private def hexThreshold(frac: Double): String = {
    require(frac >= 0 && frac <= 1, s"frac $frac out of range")
    val t = math.floor(frac * 65536).toLong
    if (t >= 65536L) "zzzz" else f"$t%04x"
  }

  /** Keep a deterministic `frac` of rows, keyed by `keyCols`. */
  def hashSample(df: DataFrame, frac: Double, salt: Long, keyCols: Seq[Column]): DataFrame = {
    require(frac >= 0 && frac <= 1, s"frac $frac out of range")
    df.filter(gate(salt, keyCols) < lit((frac * Buckets).toLong))
  }

  /** Engine-portable deterministic sample: gate on the first 4 hex
    * chars of md5 over the stringified key — a 16-bit uniform draw any
    * SQL engine reproduces bit-identically (md5 of the same string is
    * the same everywhere), unlike xxhash64 whose seeding is
    * Spark-specific. Keep when prefix < floor(frac·65536) in hex.
    * Slower than the xxhash gate (md5 + string materialization) — use
    * `hashSample` in hot paths, this where cross-engine row-exact
    * reproducibility is the contract.
    */
  def md5Sample(df: DataFrame, frac: Double, keyCols: Seq[Column]): DataFrame =
    df.filter(md5Prefix(keyCols) < lit(hexThreshold(frac)))

  /** Deterministic shard assignment — the partitioning function a
    * shard-writer uses to emit N training shards WITHOUT a global
    * sort: `df.repartition(nShards, col("shard_id"))` then one file
    * per partition. Stable across runs, partitionings, and cluster
    * sizes (pure key hash, no seed plumbing), so re-runs land every
    * row in the same shard. Production path (xxhash64).
    */
  def hashShard(df: DataFrame, nShards: Int, salt: Long, keyCols: Seq[Column]): DataFrame = {
    require(nShards > 0, s"nShards $nShards must be positive")
    df.withColumn(
      "shard_id",
      pmod(xxhash64((lit(salt) +: keyCols): _*), lit(nShards.toLong)).cast("int"))
  }

  private def hexNibble(c: Column): Column = instr(lit("0123456789abcdef"), c) - 1

  /** The [[md5Prefix]] draw as a 16-bit integer (hex→int via the same
    * nibble table the portable oracles replay with `strpos`).
    */
  private def md5Bucket16(keyCols: Seq[Column]): Column = {
    val p = md5Prefix(keyCols)
    hexNibble(substring(p, 1, 1)) * 4096 + hexNibble(substring(p, 2, 1)) * 256 +
      hexNibble(substring(p, 3, 1)) * 16 + hexNibble(substring(p, 4, 1))
  }

  /** Engine-portable twin of [[hashShard]]: shard = 16-bit md5 draw
    * mod `nShards`. Same cross-engine contract as [[md5Sample]].
    */
  def md5Shard(df: DataFrame, nShards: Int, keyCols: Seq[Column]): DataFrame = {
    require(nShards > 0, s"nShards $nShards must be positive")
    // The portable draw is 16-bit: more shards than draw values would
    // leave shards >= 65536 permanently empty (use hashShard's 64-bit
    // draw for extreme fan-out).
    require(nShards <= 65536, s"nShards $nShards exceeds the 16-bit md5 draw; use hashShard")
    df.withColumn("shard_id", (md5Bucket16(keyCols) % nShards).cast("int"))
  }

  /** Per-stratum md5 gate rates: rebalance a corpus by keeping each
    * stratum (e.g. language) at its own deterministic fraction —
    * downsample the dominant stratum, keep the tail. Unlisted strata
    * fall back to `defaultFrac`. Same engine-portability contract as
    * [[md5Sample]].
    */
  def md5StratifiedSample(
      df: DataFrame,
      stratumCol: Column,
      rates: Map[String, Double],
      defaultFrac: Double,
      keyCols: Seq[Column]): DataFrame = {
    val threshold = rates.foldLeft(lit(hexThreshold(defaultFrac))) { case (acc, (stratum, frac)) =>
      when(stratumCol === stratum, lit(hexThreshold(frac))).otherwise(acc)
    }
    df.filter(md5Prefix(keyCols) < threshold)
  }

  /** Per-group quota: keep at most `quota` rows per `groupCol`, chosen
    * by md5-hash order of the key (a deterministic, engine-portable
    * "random" draw — no seed plumbing, stable across partitionings).
    * The workhorse of per-source caps in data-mix manifests. The rank
    * comes from [[bandedMd5Prefix]] — the same (full hash, key
    * tiebreak) total order the old `PARTITION BY group` window ranked
    * by, but with no whole-group sort task: a dominant source (the
    * group a cap exists FOR) no longer funnels through one executor.
    */
  def md5Quota(df: DataFrame, groupCol: Column, quota: Int, keyCols: Seq[Column]): DataFrame =
    bandedMd5Prefix(df, Seq(groupCol), keyCols, Nil, Some("__qrank"), None)
      .filter(col("__qrank") <= quota)
      .drop("__qrank")

  /** Engine-portable split label on the md5 gate: every row gets
    * exactly one of "test" (hash prefix below the fraction threshold)
    * or "train" — the same draw [[md5Sample]] keeps, so
    * `md5Sample(df, f)` ≡ rows labeled "test" at `testFrac = f`.
    * Disjoint and exhaustive by construction.
    */
  def md5SplitLabel(testFrac: Double, keyCols: Seq[Column]): Column =
    when(md5Prefix(keyCols) < lit(hexThreshold(testFrac)), "test").otherwise("train")

  /** Largest-remainder budget allocation (Hamilton's method —
    * public): split an integer `budget` across rows proportionally
    * to `weightCol` so the parts SUM TO THE BUDGET EXACTLY — the
    * sampling-budget / shard-count allocator a mix manifest needs
    * (plain rounding drifts by ±rows/2). Integer-exact: base =
    * ⌊B·w/W⌋ with the leftover going to the largest remainders
    * (B·w mod W, ties by `idCol` asc). Input rows must be an
    * allocation TABLE (sources, shards — group-cardinality-sized):
    * the remainder ranking is a total order over the rows.
    * Weights quantize to micro-units; B·W_micro must fit a long.
    * Adds `alloc`.
    */
  def allocateLargestRemainder(
      df: DataFrame,
      budget: Long,
      weightCol: String,
      idCol: String): DataFrame = {
    require(budget >= 0, s"allocateLargestRemainder: budget $budget must be ≥ 0")
    val wu = col(weightCol).cast(org.apache.spark.sql.types.DecimalType(18, 4))
      .multiply(lit(10000)).cast("long")
    val rows = df
      .filter(col(weightCol).isNotNull && col(weightCol) > 0 && col(idCol).isNotNull)
      .withColumn("__wu", wu)
    val tot = rows.agg(sum(col("__wu")).as("__tw"))
    val based = rows.crossJoin(broadcast(tot))
      // all weights below the 1e-4 quantum pass the raw > 0 filter but
      // quantize to 0 — __tw = 0, the div/pmod go null, and the budget
      // silently stayed unallocated (alloc null on every row). Loud:
      // the check evaluates only when rows exist.
      .withColumn("__twchk",
        assert_true(col("__tw") > 0,
          lit("allocateLargestRemainder: total quantized weight is 0 — every weight " +
            "is below the 1e-4 quantum; rescale the weight column")))
      .filter(col("__twchk").isNull)
      .drop("__twchk")
      .withColumn("__num", lit(budget) * col("__wu"))
      .withColumn("__base", expr("(__num - pmod(__num, __tw)) div __tw"))
      .withColumn("__rem", pmod(col("__num"), col("__tw")))
    val leftover = based.agg((lit(budget) - sum(col("__base"))).as("__left"))
    based.crossJoin(broadcast(leftover))
      .withColumn(
        "__rrank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("__rem").desc, col(idCol).asc)))
      .withColumn(
        "alloc",
        (col("__base") + when(col("__rrank") <= col("__left"), 1L).otherwise(0L))
          .cast("long"))
      .drop("__wu", "__num", "__tw", "__base", "__rem", "__left", "__rrank")
  }

  /** BANDED per-stratum prefix machinery over the deterministic
    * (md5, tie) order — the distributed replacement for the
    * whole-stratum sort window [[quotaSplit]]/[[kfold]]/[[md5Quota]]/
    * [[packSequences]]/[[md5TokenQuota]] used to share: with a
    * handful of strata (lang, source) a `PARTITION BY stratum ORDER
    * BY md5` window moves a whole stratum through ONE sort task —
    * the 100 TB scale-killer class the Stats.bandedCum rewrites
    * removed from the eval operators. md5 is uniform, so 64 STATIC
    * bands (the top 6 bits of the first 52 hash bits) are balanced
    * with no bounds scan; a hash tie shares a band by construction
    * and the in-band order is (full hash, key tiebreak), so
    * band-offset + in-band rank/prefix replays the global per-stratum
    * order BIT-FOR-BIT. Per-(stratum, band) count/sum offsets ride a
    * ≤64-row-per-stratum table, joined back via [[Broadcasting]].
    *
    * `sums` maps a value expression to its INCLUSIVE-prefix output
    * column; `rankOut`/`totalCountOut` add the global per-stratum
    * row_number and row count. Caller drops the outputs it consumes.
    */
  private def bandedMd5Prefix(
      df: DataFrame,
      strataCols: Seq[Column],
      keyCols: Seq[Column],
      sums: Seq[(Column, String)],
      rankOut: Option[String],
      totalCountOut: Option[String]): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val stNames = strataCols.indices.map(i => s"__st$i")
    val tagged = strataCols.zip(stNames)
      .foldLeft(df.withColumn("__h", md5Hash(keyCols))) {
        case (acc, (c, n)) => acc.withColumn(n, c)
      }
      .withColumn("__bkt",
        shiftright(conv(substring(col("__h"), 1, 13), 16, 10).cast("long"), 46))
    val withVals = sums.zipWithIndex.foldLeft(tagged) {
      case (acc, ((v, _), i)) => acc.withColumn(s"__sv$i", v)
    }
    val bandAggs = count(lit(1)).as("__bn") +:
      sums.indices.map(i => sum(col(s"__sv$i")).as(s"__bs$i"))
    val byBand = withVals
      .groupBy(stNames.map(col) :+ col("__bkt"): _*)
      .agg(bandAggs.head, bandAggs.tail: _*)
    // ≤64 rows per stratum reach these windows — bounded by design
    val offW = W.partitionBy(stNames.map(col): _*).orderBy(col("__bkt"))
      .rowsBetween(W.unboundedPreceding, -1)
    val totW = W.partitionBy(stNames.map(col): _*)
      .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    val withTot = totalCountOut.foldLeft(
        byBand.withColumn("__offn", coalesce(sum(col("__bn")).over(offW), lit(0L)))) {
      (acc, o) => acc.withColumn(o, sum(col("__bn")).over(totW))
    }
    val offs = sums.indices.foldLeft(withTot) { (acc, i) =>
      acc.withColumn(s"__off$i", coalesce(sum(col(s"__bs$i")).over(offW), lit(0L)))
    }.select(stNames.map(c => col(c).as(s"__og_$c")) ++
      (col("__bkt").as("__obkt") +: col("__offn") +:
        (sums.indices.map(i => col(s"__off$i")) ++ totalCountOut.map(col))): _*)
    // offs is ≤64 rows per stratum STRUCTURALLY (static md5 bands),
    // but its optimizer estimate is an unreduced window-over-aggregate
    // — when that misses the broadcast threshold the planner would
    // sort-merge-join, i.e. shuffle AND SORT the whole raw frame on
    // (stratum, band). The fallback is pinned to a shuffled HASH join
    // instead: same distribution, no big-side sort (the bandedCum
    // offsets rule).
    val offsSide = {
      val b = Broadcasting.maybeBroadcast(offs)
      if (b eq offs) offs.hint("shuffle_hash") else b
    }
    val joined = withVals.join(
        offsSide,
        (stNames.map(c => col(c) <=> col(s"__og_$c")) :+
          (col("__bkt") === col("__obkt"))).reduce(_ && _))
    val wb = W.partitionBy(stNames.map(col) :+ col("__bkt"): _*)
      .orderBy(col("__h").asc, keyCols.head.asc)
    val ranked = rankOut.foldLeft(joined) { (acc, o) =>
      acc.withColumn(o, col("__offn") + row_number().over(wb))
    }
    val summed = sums.zipWithIndex.foldLeft(ranked) { case (acc, ((_, out), i)) =>
      acc.withColumn(out,
        col(s"__off$i") + sum(col(s"__sv$i"))
          .over(wb.rowsBetween(W.unboundedPreceding, W.currentRow)))
    }
    summed.drop(
      (Seq("__h", "__bkt", "__offn", "__obkt") ++ stNames ++
        stNames.map(c => s"__og_$c") ++
        sums.indices.flatMap(i => Seq(s"__sv$i", s"__off$i"))): _*)
  }

  /** EXACT-quota stratified split: within every stratum, exactly
    * ⌊frac·n⌋ rows get the "val" label (the rest "train"), chosen by
    * the deterministic md5 order [[md5Quota]] ranks with. Where
    * [[md5SplitLabel]] gives each row an independent draw (split
    * sizes binomial around frac·n), this gives the exact count —
    * the contract an eval-set budget needs. Ranks and stratum sizes
    * come from [[bandedMd5Prefix]] — no whole-stratum sort task.
    * Adds `split` ∈ {"val", "train"}.
    */
  def quotaSplit(
      df: DataFrame,
      strataCols: Seq[Column],
      valFrac: Double,
      keyCols: Seq[Column]): DataFrame = {
    require(valFrac >= 0 && valFrac <= 1, s"quotaSplit: frac $valFrac out of range")
    // quota = floor(frac·n): floor (not round) — half-up vs half-even
    // rounding differs across engines at exact .5 products. The
    // product is DECIMAL-exact: the double nearest 0.29 times 100 is
    // 28.999999999999996, whose floor under-fills the documented
    // ⌊0.29·100⌋ = 29 quota — and SQL engines parse the 0.29 literal
    // as a decimal, so the double product also silently diverged from
    // the oracle's arithmetic at exactly those fractions.
    // BigDecimal.valueOf uses the shortest decimal representation
    // (0.29, not the raw binary expansion).
    bandedMd5Prefix(df, strataCols, keyCols, Nil, Some("__srank"), Some("__sn"))
      .withColumn(
        "split",
        when(
          col("__srank") <= floor(lit(java.math.BigDecimal.valueOf(valFrac)) * col("__sn")),
          "val")
          .otherwise("train"))
      .drop("__srank", "__sn")
  }

  /** Stratified k-fold assignment — the cross-validation contract
    * [[quotaSplit]] gives a single holdout: within every stratum,
    * rows rank by the deterministic md5 order and fold =
    * (rank − 1) mod k, so fold sizes within a stratum differ by at
    * most ONE row (exact balance, not expected balance) and the
    * assignment replays bit-for-bit anywhere. Output: input columns
    * plus `fold` in [0, k).
    */
  def kfold(
      df: DataFrame,
      strataCols: Seq[Column],
      k: Int,
      keyCols: Seq[Column]): DataFrame = {
    require(k >= 2 && k <= 1000, s"kfold: k=$k out of [2, 1000]")
    bandedMd5Prefix(df, strataCols, keyCols, Nil, Some("__srank"), None)
      .withColumn("fold", ((col("__srank") - 1) % k).cast("int"))
      .drop("__srank")
  }

  /** Split-leakage audit — the check that decides whether a split is
    * GROUP-safe: a group (author, url domain, conversation, near-dup
    * cluster) whose members land on BOTH sides of a train/test split
    * leaks its signal across it, however clean the row-level split
    * was. Keying [[md5SplitLabel]] on the group column makes
    * straddling impossible by construction; this audit PROVES it for
    * any split however produced. One aggregation pass:
    * `(n_groups, n_straddling)` — n_straddling must be 0 for a
    * group-safe split.
    */
  def splitLeakage(df: DataFrame, splitCol: Column, groupCol: Column): DataFrame =
    df.groupBy(groupCol.as("group_key"))
      // countDistinct ignores NULLs, but an UNLABELED row is a side of
      // its own (a null label usually defaults to one side downstream)
      // — a group straddling "train" and null read as n_sides = 1 and
      // the audit certified a leaking split as group-safe
      .agg((countDistinct(splitCol) +
        max(when(splitCol.isNull, 1L).otherwise(0L))).as("n_sides"))
      .agg(
        count(lit(1)).as("n_groups"),
        sum(when(col("n_sides") > 1, 1L).otherwise(0L)).as("n_straddling"))

  /** Sequence packing: assign each row to a fixed-token-budget bin —
    * the pretraining step that concatenates documents into context
    * windows. Rows are ordered by the deterministic md5 shuffle within
    * each stratum, a running token count accumulates, and a row's bin
    * is how many full budgets precede it (rows may straddle bins —
    * split-on-pack semantics). The running count is a
    * [[bandedMd5Prefix]] prefix sum — no whole-stratum sort task.
    * Engine-portable: ordering, cumsum, and floor all replay exactly
    * in SQL.
    */
  def packSequences(
      df: DataFrame,
      nTokens: Column,
      budget: Int,
      stratumCol: Column,
      keyCols: Seq[Column]): DataFrame = {
    require(budget > 0, s"budget $budget must be positive")
    bandedMd5Prefix(tokenGuard(df, nTokens, "packSequences"), Seq(stratumCol), keyCols,
        Seq(nTokens -> "__cum"), None, None)
      .withColumn("bin_id",
        floor((col("__cum") - nTokens).cast("double") / budget).cast("long"))
      .drop("__cum")
  }

  /** Greedy per-group token-budget quota: keep each group's rows in
    * deterministic md5 order while the running token total stays
    * within `budget` — the "sample this source down to N tokens" step
    * of a data-mix manifest (quotas in token mass, not doc counts).
    * Prefix semantics: the first row that would overflow the budget
    * stops the group — later, smaller rows are NOT back-filled, so
    * membership is a pure prefix of the md5 order and replays exactly
    * in SQL. The running total is a [[bandedMd5Prefix]] prefix sum —
    * no whole-group sort task.
    */
  def md5TokenQuota(
      df: DataFrame,
      groupCol: Column,
      tokenCol: Column,
      budget: Long,
      keyCols: Seq[Column]): DataFrame = {
    require(budget > 0, s"budget $budget must be positive")
    bandedMd5Prefix(tokenGuard(df, tokenCol, "md5TokenQuota"), Seq(groupCol), keyCols,
        Seq(tokenCol -> "__cumtok"), None, None)
      .filter(col("__cumtok") <= budget)
      .drop("__cumtok")
  }

  /** Fused validation for token-count columns feeding prefix sums: a
    * NULL count is skipped by the window sum, so the row passes the
    * budget check while contributing unknown token mass (the budget
    * silently overruns, or the row lands in a NULL bin); a NEGATIVE
    * count makes the cumulative non-monotonic, so kept rows are no
    * longer a prefix of the md5 order — both break the operators'
    * stated contracts, so both fail loudly (the Cdc op-check pattern:
    * assert_true is null on every valid row, keeping the check
    * unprunable and free in the pre-shuffle projection).
    */
  private def tokenGuard(df: DataFrame, tokenCol: Column, op: String): DataFrame =
    df.withColumn("__tokchk",
        assert_true(tokenCol.isNotNull && tokenCol >= 0,
          concat(lit(s"$op: token count must be a non-negative number, got "),
            coalesce(tokenCol.cast("string"), lit("null")))))
      .filter(col("__tokchk").isNull)
      .drop("__tokchk")

  /** The md5-shuffle ordering key [[packSequences]]/[[md5TokenQuota]]
    * sort by, exposed so consumers (bin materialization, manifests)
    * can replay the exact same order.
    */
  def md5OrderKey(keyCols: Seq[Column]): Column = md5Hash(keyCols)

  /** Temperature-weighted source rebalance: downsample each source at
    * rate (min_count / count)^(1-t) — t = 1 keeps everything
    * (proportional mix), t = 0 flattens every source to ~the smallest
    * one (uniform mix), 0 < t < 1 interpolates (the standard
    * multilingual/ multi-source temperature-sampling curve). The rate
    * becomes a per-source [[md5Prefix]] threshold, so the kept rows
    * are deterministic and engine-portable given the thresholds.
    *
    * Scale shape: the per-source counts are ONE partial-aggregated
    * groupBy into a tiny table (rows = #sources), rates derive from it
    * driver-free, and the thresholds broadcast-join back onto the
    * corpus — the 100 TB side is touched once, by a scan + filter.
    *
    * At t = 0.5 the whole computation is IEEE-exact across engines:
    * count division and `sqrt` are correctly-rounded operations and
    * ×65536 is a power-of-two scale, so floor() lands identically in
    * any engine and the gate replays bit-for-bit in SQL (general `pow`
    * carries no such guarantee — x35's oracle pins t = 0.5).
    */
  def temperatureMix(
      df: DataFrame,
      sourceCol: Column,
      temperature: Double,
      keyCols: Seq[Column]): DataFrame = {
    require(temperature >= 0 && temperature <= 1, s"temperature $temperature out of range")
    val counts = df.groupBy(sourceCol.as("__src")).agg(count(lit(1)).as("__cnt"))
    val minCnt = counts.agg(min(col("__cnt")).as("__min"))
    val ratio = col("__min").cast("double") / col("__cnt")
    val rate =
      if (temperature == 0.5) sqrt(ratio) // correctly rounded → oracle-exact
      else pow(ratio, 1.0 - temperature)
    val thr = floor(rate * 65536).cast("int")
    val rates = counts.crossJoin(broadcast(minCnt))
      .select(
        col("__src"),
        when(thr >= 65536, lit("zzzz")) // rate 1: every hex prefix must pass
          .otherwise(format_string("%04x", thr)).as("__thr"))
    // Null-safe join: groupBy above puts NULL sources in their own
    // group (with their own rate); a plain === would silently DROP
    // those rows here instead of gating them.
    df.join(broadcast(rates), sourceCol <=> col("__src"))
      .filter(md5Prefix(keyCols) < col("__thr"))
      .drop("__src", "__thr")
  }

  /** The [[md5Hash]] draw widened to 52 bits as an EXACT double in
    * (0,1]: 13 hex nibbles → integer v ∈ [0, 2^52), then (v+1)/2^52.
    * Both steps are exactly representable (the divisor is a power of
    * two), so u is bit-identical in any engine that replays the same
    * nibble arithmetic — the seed of the weighted draw below.
    */
  private def md5Uniform52(keyCols: Seq[Column]): Column = {
    val h = md5Hash(keyCols)
    val v = (1 to 13)
      .map(i => hexNibble(substring(h, i, 1)).cast("long") * lit(1L << (4 * (13 - i))))
      .reduce(_ + _)
    (v.cast("double") + lit(1.0)) / lit(4503599627370496.0) // 2^52
  }

  /** Deterministic weighted sample WITHOUT replacement of `k` rows —
    * Efraimidis–Spirakis A-ES: each row draws u from its md5 key and
    * ranks by `-ln(u)/weight` (an Exponential(weight) variate); the k
    * smallest ranks are the sample, with inclusion probability
    * proportional to weight at every prefix. One pass: the global
    * k-smallest selection runs through the mergeable
    * [[TopK.topK]] aggregator (≤k candidates per partition cross the
    * shuffle — no global sort), then a broadcast semi-join keeps the
    * winners. Rows with weight ≤ 0 or a null id cannot participate.
    *
    * The draw u is bit-portable ([[md5Uniform52]]); `ln` is
    * correctly-rounded to within 1 ulp everywhere, so the ORDERING
    * (all that matters — ranks are never emitted) agrees across
    * engines except for ranks within an ulp of each other —
    * vanishing at 52 random bits. Ties break by id ascending.
    */
  def md5WeightedSample(
      df: DataFrame,
      k: Int,
      weightCol: String,
      idCol: String,
      keyCols: Seq[Column]): DataFrame = {
    require(k > 0, s"md5WeightedSample: k must be positive, got $k")
    // the winner semi-join matches on idCol cast to long: a string id
    // would cast to null (winners never match — short samples) and a
    // fractional id would truncate (one winner matches several rows —
    // oversized samples). Integral ids only, loudly.
    require(
      {
        import org.apache.spark.sql.types._
        Set[DataType](ByteType, ShortType, IntegerType, LongType)
          .contains(df.schema(idCol).dataType)
      },
      s"md5WeightedSample: id column '$idCol' must be integral " +
        s"(got ${df.schema(idCol).dataType.simpleString}) — the winner join keys on it as long")
    val w = col(weightCol).cast("double")
    // NaN > 0 is TRUE under Spark's NaN-is-largest ordering and a NaN
    // score sorts first in the top-k — up to k NaN-weight rows would
    // displace every legitimate winner; exclude them with the
    // non-positives
    val eligible = df.filter(w > 0 && !isnan(w) && col(idCol).isNotNull)
    // smallest rank first ⟺ largest −rank: reuse the bounded top-k
    val score = -(-log(md5Uniform52(keyCols)) / w)
    val winners = eligible
      .select(score.as("__s"), col(idCol).cast("long").as("__id"))
      .agg(graft.operators.TopK.topK(col("__s"), col("__id"), k).as("__top"))
      .select(explode(col("__top")).as("p"))
      .select(col("p._2").as("__id"))
    eligible.join(
      broadcast(winners), col(idCol).cast("long") === col("__id"), "left_semi")
  }
}
