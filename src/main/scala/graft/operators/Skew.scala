package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-mitigation operators. AQE's skew-join split handles skewed
  * joins at runtime; explicit salting remains the tool for what AQE
  * cannot re-plan — severely skewed aggregation state.
  */
object Skew {

  /** Two-phase (salted) aggregation for skewed group keys: aggregate
    * per (key, salt) first — spreading the hot key's rows — then
    * combine the partials. Caller supplies both phases; for algebraic
    * aggregates (sum/count/min/max) phase2 is the same function over
    * the partial column.
    */
  def saltedAggregate(
      df: DataFrame,
      key: String,
      saltSource: Column,
      saltFactor: Int)(
      phase1: org.apache.spark.sql.RelationalGroupedDataset => DataFrame)(
      phase2: org.apache.spark.sql.RelationalGroupedDataset => DataFrame): DataFrame = {
    val salted = df.withColumn("__salt", pmod(xxhash64(saltSource), lit(saltFactor)).cast("int"))
    val partial = phase1(salted.groupBy(col(key), col("__salt")))
    phase2(partial.groupBy(col(key)))
  }

  /** Pre-flight skew diagnostics for a prospective join/aggregation
    * key: the `topK` heaviest keys, each annotated with its row share,
    * its ratio to the mean key size (`skew_ratio` — the number AQE's
    * skew threshold and [[saltedAggregate]]'s saltFactor should be
    * sized from), and the corpus-wide distribution summary (key count, max,
    * exact p50/p99 of per-key counts).
    *
    * One shuffle total: the per-key count (map-side combined); the
    * summary is a 1-row broadcast and top-k is TakeOrdered — nothing
    * here is driver-side or corpus-sized. At 100 TB this is the cheap
    * probe you run BEFORE committing to a join strategy.
    *
    * share and skew_ratio are exact integer products with ONE
    * exactly-rounded double division each ([[Cooccur]]'s portable
    * idiom).
    */
  def profile(df: DataFrame, keyCols: Seq[String], topK: Int = 20): DataFrame = {
    require(keyCols.nonEmpty, "Skew.profile: at least one key column")
    require(topK >= 1, s"Skew.profile: topK must be ≥1, got $topK")
    val keyed = OpCache.swap(
      "skew.profile.keyed",
      df.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("cnt")))
    val summary = keyed.agg(
      sum(col("cnt")).as("n_rows"),
      count(lit(1)).as("n_keys"),
      max(col("cnt")).as("max_cnt"),
      expr("percentile(cnt, 0.5)").as("p50_cnt"),
      expr("percentile(cnt, 0.99)").as("p99_cnt"))
    keyed
      .orderBy(col("cnt").desc +: keyCols.map(col(_).asc): _*)
      .limit(topK)
      .crossJoin(broadcast(summary))
      .select(
        keyCols.map(col) ++ Seq(
          col("cnt"),
          (col("cnt").cast("double") / col("n_rows").cast("double")).as("share"),
          // cnt·n_keys in DECIMAL: both factors are row-scale counts,
          // so the long product wraps near Σ ~6e9 rows (the silent-wrap
          // class the joinCardinality sum already guards)
          ((col("cnt").cast(org.apache.spark.sql.types.DecimalType(38, 0)) *
            col("n_keys")).cast("double") /
            col("n_rows").cast("double")).as("skew_ratio"),
          col("n_rows"), col("n_keys"), col("max_cnt"),
          col("p50_cnt"), col("p99_cnt")): _*)
  }

  /** Pre-flight join-cardinality audit: the EXACT output row count a
    * key equi-join would produce (Σ_k c_a(k)·c_b(k)) plus its fan-out
    * profile and the top contributing keys — the probe that catches a
    * join explosion BEFORE the 100 TB shuffle runs it. Two per-key
    * count aggregations and one vocabulary-sized count join; nothing
    * corpus-sized past the first shuffle.
    * Output one summary row per call:
    * (n_left, n_right, n_keys_both, join_rows, max_key_rows,
    * amplification) — amplification = join_rows / max(n_left, n_right)
    * (how many times the bigger input is multiplied).
    */
  def joinCardinality(
      left: DataFrame, right: DataFrame, keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "Skew.joinCardinality: at least one key column")
    import org.apache.spark.sql.types.DecimalType
    def cnt(df: DataFrame, tag: String) = df
      .filter(keyCols.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(keyCols.map(col): _*).agg(count(lit(1)).as(s"__c$tag"))
    val joined = cnt(left, "a").join(cnt(right, "b"), keyCols, "full_outer")
      .select(
        coalesce(col("__ca"), lit(0L)).as("__ca"),
        coalesce(col("__cb"), lit(0L)).as("__cb"))
    joined.agg(
      sum(col("__ca")).as("n_left"),
      sum(col("__cb")).as("n_right"),
      sum(when(col("__ca") > 0 && col("__cb") > 0, 1L).otherwise(0L)).as("n_keys_both"),
      sum((col("__ca") * col("__cb")).cast(DecimalType(38, 0))).cast("long").as("join_rows"),
      // the per-key product needs the same DECIMAL guard as the sum:
      // one 3e9×3e9 hot key wraps the long max silently — exactly the
      // explosion this audit exists to catch
      max(col("__ca").cast(DecimalType(38, 0)) * col("__cb")).cast("long").as("max_key_rows"))
      .select(
        col("n_left"), col("n_right"), col("n_keys_both"),
        col("join_rows"), col("max_key_rows"),
        (col("join_rows").cast("double") /
          greatest(col("n_left"), col("n_right")).cast("double")).as("amplification"))
  }
}
