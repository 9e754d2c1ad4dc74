package graft

import org.apache.spark.sql.functions._

import graft.operators.{DataMix, TextAnalysis}

/** Seeded property tests for the data-mix and text operators — the
  * invariants that must hold for EVERY input, not just the fixture:
  * chunk stitching reconstructs the text, hash-gate samples nest as
  * the rate grows, diversity stays in range, packing conserves tokens.
  * Fixed seed → same coverage every run (repo property-test pattern).
  */
class InvariantsSpec extends SparkSpec {

  private val rnd = new scala.util.Random(20260812L)

  test("chunkText: stitching reconstructs the text; all chunks full-size except a >overlap tail") {
    import sqlImplicits._
    val cases = Seq.fill(40) {
      val len = rnd.nextInt(51) // 0..50, includes empty
      val text = Seq.fill(len)(('a' + rnd.nextInt(26)).toChar).mkString
      val size = 1 + rnd.nextInt(12)
      val overlap = if (size == 1) 0 else rnd.nextInt(size)
      (text, size, overlap)
    }
    cases.zipWithIndex.foreach { case ((text, size, overlap), i) =>
      val chunks = TextAnalysis.chunkText(
        Seq((i.toLong, text)).toDF("doc_id", "text"), size, overlap)
        .orderBy("chunk_id").collect().map(_.getString(2)).toSeq
      val ctx = s"case $i: len=${text.length} size=$size overlap=$overlap chunks=$chunks"
      if (text.isEmpty) assert(chunks.isEmpty, ctx)
      else {
        // stitching (drop each successor's overlap prefix) == text
        assert(chunks.head + chunks.tail.map(_.drop(overlap)).mkString == text, ctx)
        // all but the last are exactly chunk-size
        chunks.init.foreach(c => assert(c.length == size, ctx))
        // the tail chunk is never fully contained in its predecessor
        if (chunks.length > 1) assert(chunks.last.length > overlap, ctx)
        assert(chunks.last.length <= size, ctx)
      }
    }
  }

  test("md5Sample: nested by rate — every row kept at frac a survives at frac b >= a") {
    import sqlImplicits._
    val d = (1L to 2000L).toDF("doc_id")
    val fracs = Seq(0.0, 0.1, 0.35, 0.7, 1.0)
    val kept = fracs.map(f =>
      DataMix.md5Sample(d, f, Seq(col("doc_id")))
        .collect().map(_.getLong(0)).toSet)
    assert(kept.head.isEmpty)
    assert(kept.last.size == 2000)
    kept.sliding(2).foreach { case Seq(lo, hi) => assert(lo.subsetOf(hi)) }
  }

  test("temperatureMix: nested by temperature — hotter mixes keep supersets") {
    import sqlImplicits._
    val d = ((1L to 900L).map(i => (i, "a")) ++ (2001L to 2100L).map(i => (i, "b")))
      .toDF("doc_id", "source")
    val kept = Seq(0.0, 0.5, 1.0).map(t =>
      DataMix.temperatureMix(d, col("source"), t, Seq(col("doc_id")))
        .collect().map(_.getLong(0)).toSet)
    kept.sliding(2).foreach { case Seq(cold, hot) => assert(cold.subsetOf(hot)) }
    assert(kept.last.size == 1000) // t=1 keeps everything
  }

  test("charDiversity: bp in [0, 10000); floods score 0; n distinct chars score floor(1e4(1-1/n))") {
    import sqlImplicits._
    val cases = (0 until 20).map { i =>
      val len = 1 + rnd.nextInt(40)
      val alphabet = 1 + rnd.nextInt(6)
      (i.toLong, Seq.fill(len)(('a' + rnd.nextInt(alphabet)).toChar).mkString)
    }
    val rows = TextAnalysis.charDiversity(cases.toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    cases.foreach { case (id, text) =>
      val (n, distinct, bp) = rows(id)
      assert(n == text.length)
      assert(distinct == text.distinct.length)
      assert(bp >= 0 && bp < 10000, s"doc $id bp=$bp")
      if (distinct == 1) assert(bp == 0)
      // exact replay of the Simpson formula on driver-side counts
      val counts = text.groupBy(identity).values.map(_.length.toLong)
      val expected = math.floor(
        10000.0 * (n * n - counts.map(c => c * c).sum).toDouble / (n * n)).toLong
      assert(bp == expected, s"doc $id: $bp != $expected")
    }
  }

  test("oracled queries expose no top-level array/map columns (driver comparator limit)") {
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    // The driver's DuckDB comparator sorts rows with pandas, which
    // cannot hash list/ndarray cells — an array-valued output column
    // silently turns the query's gate into an `err` row (the r5
    // x71/x78 failure). Serialize lists to csv (the q32/x16
    // convention) before declaring. Schema-only: no action is run.
    val oracled = SparkEntry.oracleSql.keySet
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => oracled(name) }
      .flatMap { case (name, fn) =>
        fn(spark, "/root/testdata/sf0.001").schema.fields.collect {
          case f if f.dataType.isInstanceOf[ArrayType] ||
            f.dataType.isInstanceOf[MapType] ||
            f.dataType.isInstanceOf[StructType] =>
            s"$name.${f.name}: ${f.dataType.simpleString}"
        }
      }
    assert(
      offenders.isEmpty,
      s"serialize these columns (array_join/to_json) before declaring:\n${offenders.mkString("\n")}")
  }

  test("transcendental hygiene: oracled queries using log/exp/pow declare a tolerance convention") {
    // round(f(x)·10^k) of a libm-dependent transcendental is NOT
    // portable: a 1-ulp disagreement between the JVM's Math.log and
    // DuckDB's ln flips the rounded integer whenever the product
    // lands on a .5 boundary — the exact failure that made
    // x170_kaplan_meier r6's only red row. Any oracled query whose
    // plan contains a transcendental must either keep it OUT of the
    // hashed surface or sit in this allowlist with its convention
    // stated. sqrt/cbrt are exempt: IEEE 754 requires them correctly
    // rounded, so every engine agrees to the last ulp.
    val transcendental = Set(
      "Log", "Log2", "Log10", "Log1p", "Logarithm", "Exp", "Expm1", "Pow", "Power")
    // name -> why its transcendental is safe despite being in the plan
    val conventions = Map(
      "x17_tfidf" ->
        "idf ln rounded at 4dp on bounded magnitudes; green since r2",
      "x82_cooccur_lift" ->
        "lift ln rounded at 4dp on bounded magnitudes; green since r5",
      "x84_weighted_sample" ->
        "ln is the A-ExpJ selection KEY only — hashed output is ids/lengths, never the key",
      "x88_hll_distinct" ->
        "HLL 2^-M harmonic estimate certified via 3x-rsd threshold booleans (the x12 convention)",
      "x89_streaming_fold_hll" ->
        "same surface as x88 through the streaming fold",
      "x138_hll_window" ->
        "same HLL rsd-bound convention per window",
      "x121_psi" ->
        "per-bin ln micro-quantized before the order-free integer sum",
      "x99_bigram_nll" ->
        "per-cell ln micro-nat quantized before the order-free integer sum",
      "x136_dsir_weights" ->
        "log-ratio micro-quantized, identical double tree replayed in the oracle",
      "x139_zipf_slope" ->
        "ln-ln OLS on micro-quantized per-point terms",
      "x188_mutual_info" ->
        "per-cell ln micro-nat quantized before the integer sum",
      "x165_kl_divergence" ->
        "per-cell ln micro-nat quantized before the integer sum (the x99 convention)",
      "x174_column_entropy" ->
        "per-value ln micro-nat quantized before the integer sum",
      "x170_kaplan_meier" ->
        ("ln computed in-plan but EXCLUDED from the hashed surface (r7 fix: only exact " +
          "integers t/n_risk/d/c are oracled; ln_surv_micro is spec-pinned in StatsSpec)"))
    val oracled = SparkEntry.oracleSql.keySet
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => oracled(name) && !conventions.contains(name) }
      .flatMap { case (name, fn) =>
        val plan = fn(spark, "/root/testdata/sf0.001").queryExecution.analyzed
        val hits = plan.collect {
          case p =>
            p.expressions.flatMap(_.collect {
              case e if transcendental(e.getClass.getSimpleName) => e.getClass.getSimpleName
            })
        }.flatten.distinct
        if (hits.isEmpty) Nil else Seq(s"$name: ${hits.mkString(",")}")
      }
    assert(
      offenders.isEmpty,
      "oracled queries with an undeclared transcendental — keep it out of the hashed " +
        s"surface (the x170 fix) or add a convention entry:\n${offenders.mkString("\n")}")
  }

  test("window scale hygiene: partition-less windows only over bounded domains") {
    // The scale sibling of the transcendental/dtype lints: a Window
    // with an EMPTY partition spec moves its whole input through one
    // task — fine over a bounded domain (≤ k buckets, a sketch's
    // candidates), a 100 TB scale-killer over anything row- or
    // domain-proportional (the class the banded bandedCum rewrite of
    // aucRank/liftTable/calibrationBins removed). Every query whose
    // OPTIMIZED plan still contains one must sit in this allowlist
    // with its bound stated. A partition-less Window whose child is a
    // WindowGroupLimit is exempt: the optimizer caps each map-side
    // partition at k rows before the shuffle, so the single task sees
    // ≤ parallelism·k rows, not the input.
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow, WindowGroupLimit}
    // name -> why its global window's input is bounded
    val bounds = Map(
      "x118_label_index" ->
        "distinct-label vocabulary (a category domain, not row count) — MlPrep.scala:52",
      "x138_hll_window" ->
        "one row per DAY after the daily sketch pre-aggregation (date domain) — Hll.scala:124",
      "x139_zipf_slope" ->
        "~topN(=200) rows after the TopK threshold pre-prune — CorpusStats.scala:83",
      "x142_rank_churn" ->
        "~10 rows/year after the TopK threshold pre-prune (the x139 pattern)",
      "x150_skyline" ->
        "phase-2 input is per-bucket frontier survivors (skyline-sized, ~sqrt(n) typical) — Skyline.scala:45",
      "x154_ks_test" ->
        "bandedCum offset table: <= bands(=64) rows — Stats.bandedCum",
      "x158_mann_whitney" ->
        "bandedCum offset table: <= bands(=64) rows — Stats.bandedCum",
      "x161_budget_allocation" ->
        "one row per allocation target (source domain) — DataMix.allocateLargestRemainder",
      "x166_bootstrap_ci" ->
        "<= b(=32..1024) bootstrap replicate means — Stats.scala:431",
      "x170_kaplan_meier" ->
        "bandedCum offset table: <= bands(=64) rows — Stats.bandedCum",
      "x171_gini_spend" ->
        "bandedCum offset table: <= bands(=64) rows — Stats.bandedCum",
      "x181_lift_gains" ->
        "bandedCum offsets (<= bands) + final bucket window (<= nBuckets <= 1000) — Eval.scala:127",
      "x187_calibration_bins" ->
        "bandedCum offsets (<= bands) + final bin window (<= nBins <= 1000)",
      "x188_mutual_info" ->
        "contingency cells (|X|*|Y| category domain) — MlPrep.scala:263",
      "x191_rolling_corr" ->
        "one row per HOUR bucket after pre-aggregation (time domain) — Regression.scala:206")
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => !bounds.contains(name) }
      .flatMap { case (name, fn) =>
        try {
          val plan = fn(spark, "/root/testdata/sf0.001").queryExecution.optimizedPlan
          val hits = plan.collect {
            case w: LWindow if w.partitionSpec.isEmpty &&
                !w.child.isInstanceOf[WindowGroupLimit] => w
          }
          if (hits.isEmpty) Nil else Seq(name)
        } catch { case _: Throwable => Nil } // crashes are VerifySpec's business
      }
    assert(
      offenders.isEmpty,
      "queries with a partition-less Window over an unstated domain — band it " +
        "(Stats.bandedCum), partition it, or add a bound entry:\n" +
        offenders.mkString("\n"))
  }

  test("window scale hygiene: whole-stratum windows only over bounded domains") {
    // The sibling of the partition-less lint for the subtler class the
    // r8 hand audit caught in the split family: a Window PARTITIONED BY
    // nothing but low-cardinality stratum columns (lang, source,
    // event_type, a returnflag) moves each whole stratum — a constant
    // fraction of the corpus — through ONE sort task. Fine when the
    // window's INPUT is already bounded (a pre-aggregated by-hour
    // table, a banded offset table); a 100 TB scale-killer over
    // anything row-proportional. Detection is over the OPTIMIZED plan
    // with TRANSITIVE alias resolution: each partition expression's
    // attributes are chased through the plan's Alias map down to base
    // columns, so `col("lang").as("__st0")` still reads as lang. A
    // window whose partition expressions all resolve to nothing but
    // the fixture's stratum vocabulary must sit in the allowlist with
    // its input bound stated. (bandedMd5Prefix's (stratum, band) pairs
    // pass structurally: the band column resolves to the md5 key
    // columns, never to strata alone.)
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow, WindowGroupLimit}
    val strata = Set(
      "lang", "source", "event_type", "l_returnflag", "l_linestatus",
      "o_orderstatus", "o_orderpriority")
    // name -> why the window's input is bounded (or the sequential
    // contract that makes per-stratum order irreducible)
    val bounds = Map(
      "x141_weighted_median" ->
        "banded-reach per-group band-cum window: <= bands(=64) rows per group — RobustStats.weightedQuantile",
      "x180_auc_rank" ->
        "bandedCum per-group OFFSET window: <= bands(=64) rows per group — Eval.aucRank",
      "x190_rank_normalize" ->
        "bandedCum per-group OFFSET window: <= bands(=64) rows per group — MlPrep.rankNormalize",
      "x57_quantile_sketch" ->
        "QuantileSketch bucket-state windows: <= nb(=128) rows per key — QuantileSketch.scala:106",
      "x67_streaming_fold_histogram" ->
        "same QuantileSketch bucket-state windows over the maintained fold state",
      "x112_ewma" ->
        ("per-series sequential recurrence (bounded k=8 lookback) — the operator contract " +
          "(Resample.scala:184); series length, not corpus size, bounds the task; the " +
          "fixture's series key is event_type"),
      "x113_cusum" ->
        ("per-series sequential scan is the changepoint contract (Changepoint.scala:32); " +
          "series length bounds the task"),
      "x167_acf" ->
        ("per-series lag windows are the autocorrelation contract (Regression.scala:132); " +
          "series length bounds the task"),
      // the alias-resolution upgrade surfaced the md5-split family's
      // per-stratum OFFSET windows (partitionBy resolved stratum,
      // orderBy band): each runs over the byBand table — <= 64 static
      // md5 bands per stratum — DataMix.bandedMd5Prefix
      "x156_quota_split" ->
        "bandedMd5Prefix per-stratum OFFSET windows: <= 64 static md5 bands per stratum",
      "x172_kfold" ->
        "bandedMd5Prefix per-stratum OFFSET windows: <= 64 static md5 bands per stratum",
      "x30_seq_packing" ->
        "bandedMd5Prefix per-stratum OFFSET windows: <= 64 static md5 bands per stratum",
      "x41_pack_concat" ->
        "bandedMd5Prefix per-stratum OFFSET windows: <= 64 static md5 bands per stratum",
      "x42_token_quota" ->
        "bandedMd5Prefix per-stratum OFFSET windows: <= 64 static md5 bands per stratum",
      // r14: md5Quota migrated off its whole-group rank window (which
      // the lint blessed only via WindowGroupLimit pushdown — a bound
      // of quota x upstream-partitions through ONE task) onto the
      // banded rank; the surfaced window is the same <= 64-row offset
      // table as the rest of the family
      "x22_source_quota" ->
        "bandedMd5Prefix per-stratum OFFSET windows: <= 64 static md5 bands per stratum")
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => !bounds.contains(name) }
      .flatMap { case (name, fn) =>
        try {
          val plan = fn(spark, "/root/testdata/sf0.001").queryExecution.optimizedPlan
          // exprId -> aliased child, from every node's named expressions
          val aliasMap = plan.collect { case p =>
            p.expressions.flatMap(_.collect {
              case a: org.apache.spark.sql.catalyst.expressions.Alias => a.exprId -> a.child
            })
          }.flatten.toMap
          def baseNames(
              e: org.apache.spark.sql.catalyst.expressions.Expression,
              seen: Set[org.apache.spark.sql.catalyst.expressions.ExprId]): Set[String] =
            e.references.toSeq.flatMap { a =>
              aliasMap.get(a.exprId) match {
                case Some(child) if !seen(a.exprId) => baseNames(child, seen + a.exprId)
                case _ => Set(a.name)
              }
            }.toSet
          val hits = plan.collect {
            case w: LWindow if w.partitionSpec.nonEmpty &&
                !w.child.isInstanceOf[WindowGroupLimit] => w
          }.flatMap { w =>
            val resolved = w.partitionSpec.flatMap(baseNames(_, Set.empty)).toSet
            if (resolved.nonEmpty && resolved.subsetOf(strata))
              Some(resolved.toSeq.sorted.mkString(","))
            else None
          }
          if (hits.isEmpty) Nil else Seq(s"$name [${hits.mkString("; ")}]")
        } catch { case _: Throwable => Nil } // crashes are VerifySpec's business
      }
    assert(
      offenders.isEmpty,
      "queries with a whole-stratum window over an unstated domain — band it " +
        "(Stats.bandedCum / DataMix.bandedMd5Prefix), widen the partition key, " +
        "or add a bound entry:\n" + offenders.mkString("\n"))
  }

  test("oracle dtype hygiene: no HUGEINT-tainted column reaches a final select list uncast") {
    // The dtype sibling of the transcendental-hygiene test, built from
    // the r6/r7 x170 failure: DuckDB types SUM(integer) — plain or
    // windowed — as HUGEINT (int128), which surfaces as float64/object
    // where Spark's BIGINT surfaces as int64, so a value-equal result
    // still hash-mismatches in the driver's dtype-sensitive compare.
    // Static taint walk over every oracle's SQL: a SUM( not enclosed
    // by CAST/ROUND taints its select-item alias; taint propagates
    // through alias references; a FINAL select-list item carrying an
    // unsanitized taint fails. Sanitizers: CAST(...)/ROUND(...)
    // enclosure, adjacency to a comparison operator (boolean output),
    // and adjacency to `/` (DuckDB and Spark both type integer
    // division with `/` as DOUBLE).
    val san = Set("CAST", "ROUND", "TRY_CAST")
    def callStack(text: String, pos: Int): List[String] = {
      var st = List.empty[String]
      var i = 0
      while (i < pos) {
        text(i) match {
          case '(' =>
            val m = "([A-Za-z_][A-Za-z_0-9]*)\\s*$".r.findFirstMatchIn(text.take(i))
            st = m.map(_.group(1).toUpperCase).getOrElse("") :: st
          case ')' => if (st.nonEmpty) st = st.tail
          case _ =>
        }
        i += 1
      }
      st
    }
    def matchParen(text: String, open: Int): Int = {
      var d = 0
      var i = open
      while (i < text.length) {
        if (text(i) == '(') d += 1
        else if (text(i) == ')') { d -= 1; if (d == 0) return i }
        i += 1
      }
      text.length - 1
    }
    // one Seq[(item, Option(alias))] per SELECT clause, in text order
    def selectClauses(sql: String): Seq[Seq[(String, Option[String])]] =
      "(?i)\\bSELECT\\b(\\s+DISTINCT\\b)?".r.findAllMatchIn(sql).toSeq.map { m =>
        var i = m.end
        var d = 0
        var end = sql.length
        var done = false
        while (i < sql.length && !done) {
          sql(i) match {
            case '(' => d += 1
            case ')' => if (d == 0) { end = i; done = true } else d -= 1
            case 'F' | 'f' if d == 0 && i > 0 && !sql(i - 1).isLetterOrDigit &&
              sql.regionMatches(true, i, "FROM", 0, 4) => end = i; done = true
            case _ =>
          }
          i += 1
        }
        val seg = sql.substring(m.end, end)
        val items = scala.collection.mutable.ArrayBuffer.empty[String]
        val cur = new StringBuilder
        var dd = 0
        seg.foreach { ch =>
          if (ch == '(') dd += 1
          if (ch == ')') dd -= 1
          if (ch == ',' && dd == 0) { items += cur.toString; cur.clear() }
          else cur += ch
        }
        if (cur.toString.trim.nonEmpty) items += cur.toString
        items.toSeq.map { raw =>
          val it = raw.trim
          val al = "(?i)\\bAS\\s+([A-Za-z_][A-Za-z_0-9]*)\\s*$".r
            .findFirstMatchIn(it).map(_.group(1).toLowerCase)
          (it, al)
        }
      }
    val cmpAfter = "^\\s*(=|<>|!=|<=|>=|<|>|(?i)IN\\b|(?i)BETWEEN\\b)".r
    val cmpBefore = "(=|<>|!=|<=|>=|<|>)\\s*$".r
    def occSanitized(item: String, pos: Int, end: Int): Boolean =
      callStack(item, pos).exists(san) ||
        cmpAfter.findFirstIn(item.drop(end + 1)).isDefined ||
        item.drop(end + 1).matches("(?s)\\s*/.*") ||
        cmpBefore.findFirstIn(item.take(pos)).isDefined ||
        item.take(pos).matches("(?s).*/\\s*$")
    def itemTaints(item: String, tainted: Set[String]): Seq[String] = {
      val body = "(?i)\\bAS\\s+[A-Za-z_][A-Za-z_0-9]*\\s*$".r.replaceAllIn(item.trim, "")
      val sums = "(?i)\\bSUM\\s*\\(".r.findAllMatchIn(body).toSeq.flatMap { m =>
        val op = body.indexOf('(', m.start)
        var cp = matchParen(body, op)
        val over = "(?i)^\\s*OVER\\s*\\(".r.findFirstMatchIn(body.drop(cp + 1))
        over.foreach(_ => cp = matchParen(body, cp + 1 + body.drop(cp + 1).indexOf('(')))
        if (occSanitized(body, m.start, cp)) None else Some("SUM")
      }
      val refs = tainted.toSeq.flatMap { t =>
        ("(?i)\\b" + java.util.regex.Pattern.quote(t) + "\\b").r
          .findAllMatchIn(body).toSeq
          .collectFirst { case m if !occSanitized(body, m.start, m.end - 1) => t }
      }
      sums ++ refs
    }
    val offenders = SparkEntry.oracleSql.toSeq.sortBy(_._1).flatMap { case (name, sql) =>
      val items = selectClauses(sql).flatten
      var tainted = Set.empty[String]
      var changed = true
      while (changed) {
        changed = false
        items.foreach { case (it, al) =>
          al.foreach { a =>
            if (!tainted(a) && itemTaints(it, tainted).nonEmpty) {
              tainted += a; changed = true
            }
          }
        }
      }
      // final statement = last SELECT at paren depth 0; lint only ITS
      // own select list (the hashed surface) — the first clause of the
      // text from that point on
      val finals = "(?i)\\bSELECT\\b".r.findAllMatchIn(sql).toSeq.filter { m =>
        val pre = sql.take(m.start)
        pre.count(_ == '(') == pre.count(_ == ')')
      }
      finals.lastOption.toSeq.flatMap { f =>
        selectClauses(sql.drop(f.start)).headOption.getOrElse(Seq.empty)
          .flatMap { case (it, _) =>
            val hits = itemTaints(it, tainted)
            if (hits.nonEmpty) Some(s"$name: '${it.take(60)}' via ${hits.mkString(",")}")
            else None
          }
      }
    }
    assert(
      offenders.isEmpty,
      "oracle select-list columns carrying DuckDB HUGEINT taint (window/plain SUM " +
        "uncast) — wrap in CAST(... AS BIGINT) like the x170 fix:\n" +
        offenders.mkString("\n"))
  }

  test("plan scale hygiene: no CartesianProduct in any declared query's physical plan") {
    // The Explain-gauntlet's cartesian grep as a spec (so the claim is
    // a test failure, not a tool run someone must remember): a
    // CartesianProduct is the planner's last resort for a
    // condition-less join of two non-broadcastable sides — at 100 TB
    // it is |L|·|R| work, never acceptable on this surface. The
    // deliberate bounded crossJoins (1-row bounds/summary broadcasts,
    // bandedCum's ≤bands offset tables) plan as
    // BroadcastNestedLoopJoin instead, which the per-operator specs
    // assert individually where the bound lives.
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try {
        val plan = fn(spark, "/root/testdata/sf0.001").queryExecution.executedPlan.toString
        if (plan.contains("CartesianProduct")) Some(name) else None
      } catch { case _: Throwable => None } // crashes are the oracle gate's business
    }
    assert(offenders.isEmpty,
      s"queries planning a CartesianProduct (give the join a key or a bound):\n${offenders.mkString("\n")}")
  }

  test("OpCache single-slot: no key observes a second distinct input fingerprint across the declared surface") {
    // The contract's "the declared query surface never alternates"
    // sentence, mechanized (r11 verdict finding #3 — previously a
    // per-round hand audit): OpCache keeps ONE live entry per
    // (session, key), so a key whose consumers feed it two distinct
    // inputs unpersists and recomputes on every call while looking
    // cached. OpCache records every call's input fingerprint;
    // constructing the ENTIRE declared surface on a fresh session
    // (OpCache keys by session, so this audit is isolated from every
    // other suite's operator calls on the shared session) must leave
    // each key with exactly one. Lives in this suite, not its own:
    // full-surface constructions run stateful queries (x189's fold
    // writes, the ANN index builds) against context-wide catalog
    // tables, and only intra-suite sequencing keeps those from racing
    // the window-lint constructions above.
    // TWO construction passes, not one: pass 1 catches two consumers
    // feeding one key different inputs; pass 2 catches NONDETERMINISTIC
    // construction — an operator whose plan fingerprints differently on
    // each build never hits its own cache entry (every call is a
    // miss+swap that LOOKS cached), which one pass cannot see.
    val s = spark.newSession()
    (1 to 2).foreach { _ =>
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (_, fn) =>
        try fn(s, "/root/testdata/sf0.001")
        catch { case _: Throwable => () } // crashes are the oracle gate's business
      }
    }
    val keys = graft.operators.OpCache.observedKeys(s)
    assert(keys.nonEmpty,
      "the surface no longer routes through OpCache — this audit would be vacuous")
    val alts = graft.operators.OpCache.alternations(s)
    assert(
      alts.isEmpty,
      "OpCache keys fed ≥2 distinct inputs in one session (single-slot thrash — " +
        "give each input its own key, e.g. suffix the fingerprint):\n" +
        alts.toSeq.sortBy(_._1)
          .map { case (k, fps) => s"$k: ${fps.mkString(" -> ")}" }.mkString("\n"))
  }

  test("packSequences: conserves rows and tokens per stratum; bin ids start at 0 and are dense") {
    import sqlImplicits._
    val d = (1L to 500L)
      .map(i => (i, s"s${i % 3}", 1 + rnd.nextInt(600)))
      .toDF("doc_id", "stratum", "n_tokens")
    val packed = DataMix.packSequences(d, col("n_tokens"), budget = 1024,
      col("stratum"), Seq(col("doc_id")))
    assert(packed.count() == 500)
    assert(packed.agg(sum("n_tokens")).head.getLong(0)
      == d.agg(sum("n_tokens")).head.getLong(0))
    packed.groupBy("stratum").agg(collect_set("bin_id").as("bins"))
      .collect().foreach { r =>
        val bins = r.getSeq[Long](1).sorted
        assert(bins == (0L until bins.length).toSeq, s"stratum ${r.getString(0)}: $bins")
      }
  }
}
