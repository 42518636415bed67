package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.util.Fixpoint

/** Product-analytics operators over the event stream: funnels, cohort
  * retention, Markov transitions, trailing-window anomaly flags,
  * co-occurrence similarity, and a per-column data profiler.
  *
  * The reference warehouse's consumers run exactly this class of query
  * over the imported activity tables (the dashboards downstream of
  * fxa-activity-metrics' summary tables); these operators make the
  * engine answer them directly instead of exporting to a BI tool.
  *
  * Scale contract shared by every operator here: events shuffle AT
  * MOST ONCE, on the entity key (user/day/order), and every downstream
  * relation is rollup-sized (steps × 1, cohorts × offsets, types²,
  * days × types). All arithmetic that crosses the engine boundary is
  * exact integers or single IEEE double ops (sqrt/division are
  * correctly-rounded per IEEE-754, so both engines produce identical
  * bits; no libm transcendentals anywhere).
  */
object Analytics {

  /** Driver-fold intake for the sequential-recurrence operators
    * (EWMA/Holt/stationary/Kaplan–Meier): materialize AT MOST
    * `bound + 1` rows and raise when the relation exceeds the stated
    * contract. The `limit` runs inside the plan, so when the keying
    * column is NOT the enum the contract assumes, the guard fires
    * instead of the driver OOMing on an unbounded `.collect()`
    * (round-9 verdict: the old order collected first, required after). */
  private def boundedCollect(df: DataFrame, bound: Int, what: String)
      : Array[org.apache.spark.sql.Row] = {
    val rows = df.limit(bound + 1).collect()
    require(rows.length <= bound,
      s"$what: driver-fold relation exceeds the bound ($bound rows); " +
        "aggregate to coarser units or a smaller key space")
    rows
  }

  /** Ordered first-occurrence FUNNEL: for each prefix of `steps`,
    * count users whose FIRST occurrences of the steps happen in strict
    * timestamp order (m₁ < m₂ < … < m_k, all present).
    *
    * These are the standard "strict order of first touches" funnel
    * semantics: one `min(ts) FILTER (type = step)` per step in a
    * single per-user rollup, then a boolean chain — no per-user event
    * lists, no sequential scan. Equal timestamps do NOT advance the
    * funnel (strict <), so results are deterministic under ties.
    *
    * Shape at 100 TB: one shuffle of (user, ts, type) into the
    * per-user rollup (map-side partial mins make the exchange rows
    * user-count-sized), then a steps-row global aggregate.
    * `conversion_ppm` is an exact integer ratio vs step 1.
    */
  def funnel(
      events: DataFrame,
      userCol: String,
      tsCol: String,
      typeCol: String,
      steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(steps.distinct == steps, s"funnel steps must be distinct: $steps")
    val spark = events.sparkSession
    import spark.implicits._

    val mins = steps.zipWithIndex.map { case (s, i) =>
      min(when(col(typeCol) === s, col(tsCol))).as(s"_m$i")
    }
    val perUser = events.groupBy(col(userCol)).agg(mins.head, mins.tail: _*)
    // reached(k) = all first-touches present and strictly increasing
    val reached: Seq[Column] = steps.indices.map { k =>
      (1 to k).foldLeft(col("_m0").isNotNull) { (acc, i) =>
        acc && col(s"_m${i - 1}") < col(s"_m$i")
      }
    }
    val counts = perUser.agg(
      count(when(reached.head, 1)).as("_c0"),
      reached.tail.zipWithIndex.map { case (r, i) =>
        count(when(r, 1)).as(s"_c${i + 1}")
      }: _*)

    val stepsDf = steps.zipWithIndex
      .map { case (s, i) => (i.toLong + 1L, s) }
      .toDF("step_idx", "step")
    // counts is ONE row; the cross join is 1 × steps
    val long = counts.crossJoin(stepsDf)
      .select(col("step_idx"), col("step"),
        steps.indices.foldLeft(lit(null).cast(LongType)) { (acc, i) =>
          when(col("step_idx") === (i + 1), col(s"_c$i")).otherwise(acc)
        }.as("n_users"),
        col("_c0").as("_base"))
    // exact integer ppm (`div`, not `/`+cast: Spark's double cast
    // truncates where DuckDB's rounds — div sidesteps the engines'
    // cast disagreement entirely)
    long.select(col("step_idx"), col("step"), col("n_users"),
      when(col("_base") > 0,
        expr("n_users * 1000000 div _base")).as("conversion_ppm"))
  }

  /** COHORT RETENTION triangle: users grouped by first-activity day,
    * counted on each later activity day as (cohort_day, offset_days,
    * n_users) for offsets 0..maxOffsetDays.
    *
    * Shape at 100 TB: `distinct (user, day)` and `min(day) per user`
    * are both single-shuffle rollups ON THE SAME KEY (user), so with
    * AQE the cohort join back to the activity set is co-partitioned —
    * the wide events relation never shuffles twice. The output is
    * cohorts × offsets, dashboard-sized.
    */
  def cohortRetention(
      events: DataFrame,
      userCol: String,
      tsCol: String,
      maxOffsetDays: Int): DataFrame = {
    require(maxOffsetDays >= 0, s"maxOffsetDays must be >= 0: $maxOffsetDays")
    val userDays = events
      .select(col(userCol).as("u"), to_date(col(tsCol)).as("d"))
      .distinct()
    val cohorts = userDays.groupBy(col("u")).agg(min(col("d")).as("cohort_d"))
    userDays.join(cohorts, "u")
      .select(col("cohort_d"), datediff(col("d"), col("cohort_d")).as("off"))
      .filter(col("off") <= maxOffsetDays)
      .groupBy(col("cohort_d"), col("off"))
      .agg(count(lit(1)).as("n_users"))
      .select(col("cohort_d").cast("string").as("cohort_day"),
        col("off").cast(LongType).as("offset_days"), col("n_users"))
  }

  /** First-order Markov TRANSITION MATRIX over per-user event
    * sequences: (from_type, to_type, n_trans, prob_ppm) where prob is
    * the exact integer row-conditional P(to | from) in ppm.
    *
    * The per-user `lead()` window IS the parallelism (users are
    * independent); `idCol` breaks timestamp ties so the sequence — and
    * therefore the matrix — is deterministic. Output is |types|²,
    * model-sized. One shuffle of the events on user, one types²
    * rollup.
    */
  def transitionMatrix(
      events: DataFrame,
      userCol: String,
      tsCol: String,
      typeCol: String,
      idCol: String): DataFrame = {
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(idCol))
    val pairs = events
      .select(col(userCol), col(tsCol), col(idCol), col(typeCol).as("from_type"),
        lead(col(typeCol), 1).over(w).as("to_type"))
      .filter(col("to_type").isNotNull)
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n_trans"))
    val totals = Window.partitionBy(col("from_type"))
    pairs
      .withColumn("_tot", sum(col("n_trans")).over(totals))
      .select(col("from_type"), col("to_type"), col("n_trans"),
        // exact integer ppm — see funnel's note on div vs `/`+cast
        expr("n_trans * 1000000 div _tot").as("prob_ppm"))
  }

  /** KAPLAN–MEIER survival — retention done RIGHT (the K90/K157
    * grids silently treat "still here at the end of the data" as
    * churn-in-waiting; the KM estimator, JASA 1958, CENSORS those
    * users instead, which is the difference between a retention curve
    * and an artifact of when you pulled the data): per user, lifetime
    * = days between first and last event; users last seen within
    * `censorDays` of the corpus' final day are right-censored, the
    * rest churn at their lifetime. `Ŝ(t) = Π_{u≤t} (1 − d_u/n_u)` in
    * exact integer ppm with per-step truncation — each factor is
    * `(n−d)·10⁶ div n`, the running product re-truncates div 10⁶ —
    * the q209 sequential-recurrence contract, folded on the DRIVER
    * over the collected lifetimes HISTOGRAM (days-sized, never
    * users-sized) and mirrored as a recursive CTE.
    *
    * Shape at 100 TB: one user-key rollup (min/max day), one shuffle
    * to the (lifetime, censored) histogram, the suffix-sum risk
    * counts and the fold over that bounded table. Output one row per
    * distinct lifetime: (offset_days, n_at_risk, n_events,
    * n_censored, survival_ppm). */
  def kaplanMeier(
      events: DataFrame,
      userCol: String,
      tsCol: String,
      censorDays: Int): DataFrame = {
    require(censorDays >= 0, s"censorDays must be >= 0: $censorDays")
    val e = events.select(col(userCol).cast("string").as("u"),
      unix_date(to_date(col(tsCol))).cast(LongType).as("d"))
      .filter(col("u").isNotNull && col("d").isNotNull)
    val mx = e.agg(max(col("d")).as("md"))
    val per = e.groupBy(col("u"))
      .agg(min(col("d")).as("f"), max(col("d")).as("l"))
    val h = per.crossJoin(broadcast(mx))
      .select((col("l") - col("f")).as("t"),
        (col("l") > col("md") - censorDays).as("cen"))
      .groupBy(col("t"))
      .agg(count(when(!col("cen"), 1)).as("d"),
        count(when(col("cen"), 1)).as("c"))
    val rows = boundedCollect(h, 100000,
      "kaplanMeier: lifetime classes")
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    var atRisk = rows.map(r => r._2 + r._3).sum
    var s = 1000000L
    val out = rows.map { case (t, d, c) =>
      val factor = if (atRisk > 0) (atRisk - d) * 1000000L / atRisk
                   else 1000000L
      s = s * factor / 1000000L
      val row = (t, atRisk, d, c, s)
      atRisk -= d + c
      row
    }
    val spark = events.sparkSession
    import spark.implicits._
    out.toSeq.toDF("offset_days", "n_at_risk", "n_events", "n_censored",
      "survival_ppm")
  }

  /** CLASSIFICATION REPORT — per-class precision/recall/F1 over any
    * (actual, predicted) pair relation (the K9 language-ID confusion
    * matrix says WHERE the errors go; this says what they COST): all
    * exact ppm — `P = tp·10⁶ div predicted`, `R = tp·10⁶ div actual`,
    * `F1 = 2·P·R div (P+R)` (exact in longs: P,R ≤ 10⁶ so the
    * numerator caps at 2·10¹²), zero-denominator classes report 0.
    * The '__macro__' row is the unweighted mean of per-class ppm
    * (floor division by the class count, stated). A class appearing
    * only in predictions still gets its row (recall 0 over 0 actual
    * — the hallucinated-class signal).
    *
    * Shape at 100 TB: one (actual, predicted) cell rollup; every
    * later relation is classes-sized. */
  def classificationReport(
      df: DataFrame,
      actualCol: String,
      predictedCol: String): DataFrame = {
    val cells = df.select(col(actualCol).cast("string").as("a"),
      col(predictedCol).cast("string").as("p"))
      .filter(col("a").isNotNull && col("p").isNotNull)
      .groupBy(col("a"), col("p")).agg(count(lit(1)).as("n"))
    val classes = cells.select(col("a").as("cls"))
      .unionByName(cells.select(col("p").as("cls"))).distinct()
    val act = cells.groupBy(col("a").as("cls")).agg(sum(col("n")).as("n_actual"))
    val prd = cells.groupBy(col("p").as("cls")).agg(sum(col("n")).as("n_predicted"))
    val tp = cells.filter(col("a") === col("p"))
      .select(col("a").as("cls"), col("n").as("n_correct"))
    val per = classes
      .join(act, Seq("cls"), "left").join(prd, Seq("cls"), "left")
      .join(tp, Seq("cls"), "left")
      .select(col("cls"),
        coalesce(col("n_actual"), lit(0L)).as("n_actual"),
        coalesce(col("n_predicted"), lit(0L)).as("n_predicted"),
        coalesce(col("n_correct"), lit(0L)).as("n_correct"))
      .withColumn("precision_ppm", when(col("n_predicted") > 0,
        expr("n_correct * 1000000 div n_predicted")).otherwise(lit(0L)))
      .withColumn("recall_ppm", when(col("n_actual") > 0,
        expr("n_correct * 1000000 div n_actual")).otherwise(lit(0L)))
      .withColumn("f1_ppm",
        when(col("precision_ppm") + col("recall_ppm") > 0,
          expr("2 * precision_ppm * recall_ppm" +
            " div (precision_ppm + recall_ppm)")).otherwise(lit(0L)))
    val macroRow = per.agg(count(lit(1)).as("k"),
      sum(col("n_actual")).as("na"), sum(col("n_predicted")).as("np"),
      sum(col("n_correct")).as("nc"),
      sum(col("precision_ppm")).as("sp"), sum(col("recall_ppm")).as("sr"),
      sum(col("f1_ppm")).as("sf"))
      .select(lit("__macro__").as("cls"), col("na").as("n_actual"),
        col("np").as("n_predicted"), col("nc").as("n_correct"),
        expr("sp div k").as("precision_ppm"),
        expr("sr div k").as("recall_ppm"),
        expr("sf div k").as("f1_ppm"))
    per.unionByName(macroRow)
  }

  /** NEXT-EVENT PREDICTION accuracy — [[transitionMatrix]] EVALUATED
    * as the predictor it implicitly is (a transition matrix nobody
    * scores is a wall decoration): predict each event's successor as
    * the argmax row of the matrix (ties: smallest type name,
    * struct-max on (n, reversed-name) via struct-min on (−n, name)),
    * then measure against the actual successors. In-sample by
    * construction, stated — the ceiling, not a generalization claim;
    * split evaluation composes from [[Curation]]'s deterministic
    * samplers.
    *
    * Shape at 100 TB: the same one user-key shuffle as the matrix
    * (the pair extraction is shared work), a types²-sized argmax
    * rollup broadcast back onto the pair relation, one types-sized
    * verdict. Output per from-type: (from_type, predicted,
    * n_transitions, n_correct, accuracy_ppm) plus an '__overall__'
    * row. */
  def nextEventAccuracy(
      events: DataFrame,
      userCol: String,
      tsCol: String,
      typeCol: String,
      idCol: String): DataFrame = {
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(idCol))
    val pairs = events
      .select(col(userCol), col(tsCol), col(idCol),
        col(typeCol).as("from_type"),
        lead(col(typeCol), 1).over(w).as("to_type"))
      .filter(col("to_type").isNotNull)
    val counts = pairs.groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val pred = counts.groupBy(col("from_type"))
      .agg(min(struct((-col("n")).as("nn"),
        col("to_type").as("t"))).as("_p"))
      .select(col("from_type"), col("_p.t").as("predicted"))
    val scored = pairs.join(broadcast(pred), Seq("from_type"))
      .groupBy(col("from_type"), col("predicted"))
      .agg(count(lit(1)).as("n_transitions"),
        count(when(col("to_type") === col("predicted"), 1))
          .as("n_correct"))
    val overall = scored.agg(
      coalesce(sum(col("n_transitions")), lit(0L)).as("n_transitions"),
      coalesce(sum(col("n_correct")), lit(0L)).as("n_correct"))
      .select(lit("__overall__").as("from_type"),
        lit(null).cast("string").as("predicted"),
        col("n_transitions"), col("n_correct"))
    scored.select(col("from_type"), col("predicted"),
        col("n_transitions"), col("n_correct"))
      .unionByName(overall)
      .select(col("from_type"), col("predicted"), col("n_transitions"),
        col("n_correct"),
        when(col("n_transitions") > 0,
          expr("n_correct * 1000000 div n_transitions"))
          .otherwise(lit(0L)).as("accuracy_ppm"))
  }

  /** TRAILING-WINDOW Z-SCORE anomaly flags: per (key, day) event
    * counts scored against the mean/std of the previous `window`
    * PRESENT days (rows-based, strictly before today — today never
    * explains itself away).
    *
    * Variance comes from exact integer Σx and Σx² (population form
    * n·Σx² − (Σx)²), so the only doubles are one subtraction-free
    * integer-to-double conversion, one division, one sqrt, one
    * division — all IEEE correctly-rounded, bit-identical across
    * engines; `z` is additionally rounded to 6 places (repo-wide
    * cross-engine practice). Rows with an incomplete trailing window
    * or zero variance emit NULL z and never flag.
    *
    * Shape at 100 TB: the raw stream collapses to a (key × day) rollup
    * FIRST; the window then runs over that dashboard-sized relation,
    * partitioned by key.
    */
  def trailingZscore(
      events: DataFrame,
      tsCol: String,
      keyCol: String,
      window: Int,
      flagAbove: Double = 3.0): DataFrame = {
    require(window >= 2, s"window must be >= 2: $window")
    val daily = events
      .select(col(keyCol).as("key"), to_date(col(tsCol)).as("d"))
      .groupBy(col("key"), col("d"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("key")).orderBy(col("d"))
      .rowsBetween(-window, -1)
    val stats = daily.select(col("key"), col("d"), col("n"),
      count(col("n")).over(w).as("_cnt"),
      sum(col("n")).over(w).as("_s"),
      sum(col("n") * col("n")).over(w).as("_ss"))
    val nD = lit(window).cast("double")
    val varNum = (col("_ss") * window - col("_s") * col("_s")).cast("double")
    val mean = col("_s").cast("double") / nD
    val std = sqrt(varNum) / nD
    stats.select(col("key"), col("d").cast("string").as("day"), col("n"),
        when(col("_cnt") === window && varNum > 0,
          round((col("n").cast("double") - mean) / std, 6)).as("z"))
      .withColumn("anomaly", coalesce(abs(col("z")) >= flagAbove, lit(false)))
  }

  /** WEEKDAY-ADJUSTED anomaly detection — [[trailingZscore]]'s
    * seasonal repair: a quiet Sunday is normal, the same count on a
    * Tuesday is an incident. Each day scores against its OWN
    * WEEKDAY's distribution: `z = (v·n_g − S_g) / √(n_g·SS_g − S_g²)`
    * — the numerator an exact integer (the cusum scaling, mean-free
    * within weekday by construction), the denominator one IEEE sqrt
    * of an exact integer, one divide, round 6 (the q123 convention:
    * both engines produce identical bits for single correctly-rounded
    * ops).
    *
    * Shape at 100 TB: one shuffle to the (key, day) rollup, per-
    * (key, weekday) windows over that days-sized relation. Days in
    * weekdays with fewer than 2 observations or zero variance emit a
    * NULL z (not silently dropped). */
  def weekdayAdjustedZscore(
      events: DataFrame,
      tsCol: String,
      keyCol: String,
      flagAbove: Double = 3.0): DataFrame = {
    val daily = events
      .select(col(keyCol).as("key"), to_date(col(tsCol)).as("d"))
      .groupBy(col("key"), col("d"))
      .agg(count(lit(1)).as("n"))
      .withColumn("g", dayofweek(col("d")).cast(LongType))
    val w = Window.partitionBy(col("key"), col("g"))
    val stats = daily.select(col("key"), col("d"), col("g"), col("n"),
      count(lit(1)).over(w).as("_ng"),
      sum(col("n")).over(w).as("_s"),
      sum(col("n") * col("n")).over(w).as("_ss"))
    val varNum = (col("_ss") * col("_ng") - col("_s") * col("_s"))
      .cast(DoubleType)
    stats.select(col("key"), col("d").cast("string").as("day"),
        col("g").as("weekday"), col("n"),
        when(col("_ng") >= 2 && varNum > 0,
          round((col("n") * col("_ng") - col("_s")).cast(DoubleType) /
            sqrt(varNum), 6)).as("z"))
      .withColumn("anomaly", coalesce(abs(col("z")) >= flagAbove, lit(false)))
  }

  /** First-digit BENFORD audit — the fraud/data-quality screen over
    * any naturally-spanning amount column: organically generated
    * amounts follow `P(d) = log₁₀(1 + 1/d)`; fabricated or
    * truncated ones don't. Reports, per leading digit, the observed
    * count and ppm next to the Benford expectation (plan literals,
    * generated from the same Scala constants the oracle unrolls —
    * the minHashCoeffsSql discipline), plus each digit's absolute
    * deviation; `Σ|obs − exp|` over the nine rows is the classic
    * total-variation screen, left to the reader's rollup.
    *
    * The leading digit comes from the DECIMAL STRING of the
    * cent-quantized positive amount — no float log₁₀ near a power
    * boundary can misclassify (the integer-log₂ argument from the
    * gap histogram, base 10). Non-positive amounts are excluded
    * (stated: Benford speaks only about magnitudes).
    *
    * Shape at 100 TB: map-only digit extraction, one 9-row rollup. */
  /** Benford expectations in ppm — ONE set of constants drives both
    * the plan literals and the oracle's VALUES list (the
    * minHashCoeffsSql discipline). */
  val benfordExpectedPpm: Seq[(Long, Long)] = (1 to 9).map(d =>
    (d.toLong, math.round(math.log10(1.0 + 1.0 / d) * 1e6)))

  def benfordAudit(df: DataFrame, amountCents: Column): DataFrame = {
    val q = df.select(amountCents.cast(LongType).as("a"))
      .filter(col("a") > 0)
      .select(substring(col("a").cast("string"), 1, 1).cast(LongType)
        .as("digit"))
    val counts = q.groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val expected = benfordExpectedPpm
    val spark = df.sparkSession
    import spark.implicits._
    val exp = expected.toDF("digit", "expected_ppm")
    counts.join(exp, Seq("digit"), "right") // all nine digits, even absent
      .crossJoin(broadcast(counts.agg(
        coalesce(sum(col("n")), lit(0L)).as("_t"))))
      .select(col("digit"), coalesce(col("n"), lit(0L)).as("n"),
        when(col("_t") > 0,
          expr("coalesce(n, 0) * 1000000 div _t")).otherwise(lit(0L))
          .as("observed_ppm"),
        col("expected_ppm"))
      .withColumn("deviation_ppm",
        abs(col("observed_ppm") - col("expected_ppm")))
  }

  /** CO-OCCURRENCE similarity (the item-item collaborative-filtering
    * building block): for items appearing together in the same basket,
    * cosine = n_ab / sqrt(n_a · n_b) over distinct-basket counts, with
    * the global top-k pairs returned.
    *
    * Shape at 100 TB: the (basket, item) postings self-join is the
    * classic quadratic hazard; it is bounded here by `maxBasket` —
    * baskets larger than it are dropped whole (a mega-basket is
    * degenerate signal anyway; the drop is explicit, not silent,
    * via the basket-size semi-join). Fan-out is then ≤ maxBasket per
    * basket row. Counts are exact integers; the cosine is two IEEE
    * ops (sqrt, divide) rounded to 6. Top-k via TakeOrdered on the
    * pair-count relation (items², never the postings).
    */
  def coOccurrenceTopK(
      baskets: DataFrame,
      basketCol: String,
      itemCol: String,
      maxBasket: Int,
      topK: Int): DataFrame = {
    require(maxBasket >= 2, s"maxBasket must be >= 2: $maxBasket")
    require(topK >= 1, s"topK must be >= 1: $topK")
    val bi = baskets.select(col(basketCol).as("b"), col(itemCol).as("i"))
      .distinct()
    val sized = bi.groupBy(col("b")).agg(count(lit(1)).as("_sz"))
      .filter(col("_sz") <= maxBasket)
    val kept = bi.join(sized.select(col("b")), Seq("b"), "left_semi")
    val itemN = kept.groupBy(col("i")).agg(count(lit(1)).as("n_item"))
    val l = kept.select(col("b"), col("i").as("item_a"))
    val r = kept.select(col("b"), col("i").as("item_b"))
    val pairN = l.join(r, Seq("b"))
      .filter(col("item_a") < col("item_b"))
      .groupBy(col("item_a"), col("item_b"))
      .agg(count(lit(1)).as("n_both"))
    pairN
      .join(itemN.withColumnRenamed("i", "item_a")
        .withColumnRenamed("n_item", "n_a"), Seq("item_a"))
      .join(itemN.withColumnRenamed("i", "item_b")
        .withColumnRenamed("n_item", "n_b"), Seq("item_b"))
      .select(col("item_a"), col("item_b"), col("n_both"), col("n_a"),
        col("n_b"),
        round(col("n_both").cast("double") /
          sqrt((col("n_a") * col("n_b")).cast("double")), 6).as("cosine"))
      .orderBy(col("n_both").desc, col("item_a"), col("item_b"))
      .limit(topK)
  }

  /** Per-column data PROFILE: (column, n_rows, n_null, n_distinct,
    * min_str, max_str) for every column of the input — the
    * schema-drift / data-quality audit run before trusting a new
    * snapshot.
    *
    * One aggregation pass: Spark expands the multi-distinct aggregate
    * (one Expand over the input per distinct column — the standard
    * exact-profile cost; swap in approx_count_distinct when ±2 % is
    * acceptable at PB scale). min/max are computed on the NATIVE type
    * (so numeric columns order numerically) and cast to string after.
    * The per-column melt happens on the single aggregated row.
    */
  def profile(df: DataFrame): DataFrame = {
    val cols = df.columns.toSeq
    val aggs = cols.flatMap { c =>
      Seq(count(lit(1)).as(s"_n_$c"),
        count(when(col(c).isNull, 1)).as(s"_nn_$c"),
        countDistinct(col(c)).as(s"_nd_$c"),
        min(col(c)).cast("string").as(s"_mn_$c"),
        max(col(c)).cast("string").as(s"_mx_$c"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val rows = cols.map { c =>
      struct(lit(c).as("column"), col(s"_n_$c").as("n_rows"),
        col(s"_nn_$c").as("n_null"), col(s"_nd_$c").as("n_distinct"),
        col(s"_mn_$c").as("min_str"), col(s"_mx_$c").as("max_str"))
    }
    one.select(explode(array(rows: _*)).as("p")).select(col("p.*"))
  }

  /** Equi-width integer histogram — [[profile]]'s distribution twin:
    * `bin = clamp((v − mn)·nBins div (mx − mn + 1), 0, nBins−1)`,
    * pure integer math so both engines bin identically (no float
    * width, no rounding-mode hazard). The min/max relation is one
    * row (the q72 one-row crossJoin shape); the histogram itself is
    * one partial-aggregating pass; empty bins are absent rows by
    * construction. Output: (bin, n_rows, mn, mx), ordered by bin. */
  def histogram(df: DataFrame, value: Column, nBins: Int): DataFrame = {
    require(nBins >= 1, s"nBins must be >= 1, got $nBins")
    val mm = df.agg(min(value.cast(LongType)).as("mn"),
      max(value.cast(LongType)).as("mx"))
    df.select(value.cast(LongType).as("v"))
      .crossJoin(broadcast(mm))
      .select(
        when(col("mx") === col("mn"), lit(0L))
          .otherwise(least(lit(nBins - 1L),
            expr(s"(v - mn) * $nBins div (mx - mn + 1)"))).as("bin"),
        col("mn"), col("mx"))
      .groupBy(col("bin"), col("mn"), col("mx"))
      .agg(count(lit(1)).as("n_rows"))
      .select(col("bin"), col("n_rows"), col("mn"), col("mx"))
  }

  /** Key-skew audit — the pre-join diagnostic that decides whether a
    * key needs salting / AQE skew handling BEFORE the 100 TB shuffle
    * runs: the top-k heaviest keys with exact ppm share, against the
    * global bucket-size distribution (total rows, distinct keys, mean,
    * p99 and max bucket size).
    *
    * Definitions (all exact integers, deterministic ties):
    *  - mean_n = n_total div n_keys;
    *  - p99_n  = the bucket size at position ceil(0.99 · n_keys) when
    *    buckets are ordered (n ASC, key ASC) — an exact order
    *    statistic, not an estimate;
    *  - hot    = n_rows > 4 · mean_n (the classic skew rule of thumb).
    *
    * Shape at 100 TB: the input collapses to the per-key count
    * relation in one shuffle (map-side partial counts); that relation
    * then collapses AGAIN to the bucket-SIZE histogram (distinct
    * n_rows values — at most ~√(2·n_total) of them, since distinct
    * positive integers summing to n_total are that few), and both
    * order statistics derive from exclusive prefix sums over that
    * histogram, never from a global sort of the key-count relation:
    *  - p99: the value at ascending position P only depends on which
    *    histogram bucket P falls in (the key tiebreak cannot change
    *    the VALUE), so p99_n = the n_rows with
    *    prefix(n_rows) < P ≤ prefix(n_rows) + class_count;
    *  - top-k: a key's global rank under (n_rows DESC, key ASC) is
    *    above(n_rows) + its row_number within its own n_rows class;
    *    only classes with above(n_rows) < topK can reach the top-k, so
    *    the within-class windows (hash-partitioned by n_rows — fully
    *    parallel) see at most topK rows plus boundary ties.
    * The only unpartitioned windows left run over the histogram — the
    * budgetSelect bound: single-node over model-sized state, never
    * over the corpus or the key-count relation. */
  def keySkewAudit(df: DataFrame, keyCol: String, topK: Int): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val counts = df.groupBy(col(keyCol).cast("string").as("key"))
      .agg(count(lit(1)).as("n_rows"))
    // bucket-size histogram: one more map-side-combined shuffle, then
    // everything global runs over this bounded relation
    val hist = counts.groupBy(col("n_rows")).agg(count(lit(1)).as("_c"))
    val ascPrefix = Window.orderBy(col("n_rows").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val descPrefix = Window.orderBy(col("n_rows").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = hist.select(col("n_rows"), col("_c"),
      coalesce(sum(col("_c")).over(ascPrefix), lit(0L)).as("_below"),
      coalesce(sum(col("_c")).over(descPrefix), lit(0L)).as("_above"))
    val totals = counts.agg(
      sum(col("n_rows")).as("n_total"),
      count(lit(1)).as("n_keys"),
      max(col("n_rows")).as("max_n"))
    // p99 = the histogram class containing ascending position
    // ceil(0.99 * n_keys) — an exact order statistic by prefix lookup
    val p99 = cum.crossJoin(broadcast(totals.select(col("n_keys").as("_nk"))))
      .withColumn("_p", ceil(lit(0.99) * col("_nk")).cast(LongType))
      .filter(col("_below") < col("_p") && col("_p") <= col("_below") + col("_c"))
      .select(col("n_rows").as("p99_n"))
    // top-k: join each candidate key to its class's descending prefix;
    // classes that cannot reach rank<=topK are pruned BEFORE the
    // within-class window runs
    val withinClass = Window.partitionBy(col("n_rows")).orderBy(col("key").asc)
    counts
      .join(broadcast(cum.filter(col("_above") < topK)
        .select(col("n_rows"), col("_above"))), Seq("n_rows"))
      .withColumn("rank", (col("_above") + row_number().over(withinClass))
        .cast("int"))
      .filter(col("rank") <= topK)
      .crossJoin(broadcast(totals))
      .crossJoin(broadcast(p99))
      .select(col("rank"), col("key"), col("n_rows"),
        expr("n_rows * 1000000 div n_total").as("share_ppm"),
        col("n_total"), col("n_keys"), col("max_n"), col("p99_n"),
        (col("n_rows") > lit(4L) * expr("n_total div n_keys")).as("hot"))
  }

  /** Pre-join cardinality audit — the "will this join explode"
    * diagnostic that pairs with [[keySkewAudit]]: the EXACT inner-join
    * output size |A ⋈ₖ B| = Σₖ cA(k)·cB(k), computed from the two
    * key-count relations — the data itself never joins, never
    * shuffles beyond its count rollup. One row out: per-side
    * rows/keys, shared-key count, exact join cardinality, and the
    * single worst (key, contribution) pair — the key to salt or
    * filter BEFORE the real join runs.
    *
    * Determinism: the top key is the max (contribution, key) struct —
    * ties to the LARGER key, stated. Exactness envelope: each
    * cA·cB product is guarded against long wrap in-plan (raise_error
    * past Long.MAX / cA — per-key counts beyond ~3e9 each need
    * pre-aggregation, stated); the cross-key sum's headroom is the
    * caller's data contract, same as graft_gram's.
    *
    * Shape at 100 TB: two count rollups (map-side combined), one join
    * of key-count relations (AQE handles their sizes), aggregates over
    * that — output is ONE row regardless of input size. */
  def joinCardinalityAudit(
      a: DataFrame, aKey: String,
      b: DataFrame, bKey: String): DataFrame = {
    val ca = a.groupBy(col(aKey).cast("string").as("key"))
      .agg(count(lit(1)).as("na"))
    val cb = b.groupBy(col(bKey).cast("string").as("key"))
      .agg(count(lit(1)).as("nb"))
    val shared = ca.join(cb, Seq("key"))
      .withColumn("prod",
        when(col("nb") > lit(Long.MaxValue) / col("na"),
          raise_error(lit("joinCardinalityAudit: per-key product exceeds " +
            "the exact-long envelope; pre-aggregate the hot key")))
          .otherwise(col("na") * col("nb")))
    val sa = ca.agg(sum(col("na")).as("n_rows_a"), count(lit(1)).as("n_keys_a"))
    val sb = cb.agg(sum(col("nb")).as("n_rows_b"), count(lit(1)).as("n_keys_b"))
    shared
      .agg(count(lit(1)).as("n_shared_keys"),
        coalesce(sum(col("prod")), lit(0L)).as("join_rows"),
        max(struct(col("prod"), col("key"))).as("_top"))
      .crossJoin(broadcast(sa))
      .crossJoin(broadcast(sb))
      .select(col("n_rows_a"), col("n_keys_a"), col("n_rows_b"),
        col("n_keys_b"), col("n_shared_keys"), col("join_rows"),
        col("_top").getField("key").as("top_key"),
        col("_top").getField("prod").as("top_rows"))
  }

  /** WINDOWED funnel — [[funnel]] with a per-step conversion DEADLINE:
    * step i counts only via its first occurrence that lands STRICTLY
    * after step i−1's resolved time and within `windowSecs` of it
    * ("signed up, then viewed within 48 h, then clicked within 48 h of
    * that"). The plain funnel cannot express this: the deadline makes
    * each step's qualifying minimum CONDITIONAL on the previous step's
    * resolved time, so the per-user rollup runs one stage per step —
    * m₀ = first step-0; mᵢ = min step-i time in (mᵢ₋₁, mᵢ₋₁ + W].
    *
    * Shape at 100 TB: stage i scans ONLY the step-i event slice (the
    * type filter pushes to the scan) and joins the user-reach relation
    * on the user key — k co-partitioned rollup-joins, reach rows carry
    * k longs, and the final output is one steps-sized aggregate. No
    * windows, no per-user event lists.
    *
    * Exact integers: epoch seconds, conversion_ppm vs step 0 by
    * integer div. Equal timestamps do NOT advance (strict >, the K89
    * contract). Output: (step_idx, step, n_users, conversion_ppm). */
  /** Per-user RESOLVED step times under the deadline semantics —
    * [[windowedFunnel]]'s intermediate, exposed because the step
    * LATENCY view needs the times, not just the counts: `m0` is the
    * first `steps(0)`, and `m_i` the first `steps(i)` inside
    * `(m_{i−1}, m_{i−1}+W]`. One column per step, NULL once the
    * chain breaks. Shape: one min-rollup per step, each joined on
    * the user key against the shrinking reached set. */
  def windowedFunnelResolved(
      events: DataFrame,
      userCol: String,
      tsCol: String,
      typeCol: String,
      steps: Seq[String],
      windowSecs: Long): DataFrame = {
    require(steps.nonEmpty && steps.distinct == steps,
      s"steps must be non-empty and distinct: $steps")
    require(windowSecs >= 1, s"windowSecs must be >= 1, got $windowSecs")
    val ev = events.select(col(userCol).as("u"),
      unix_seconds(col(tsCol)).as("sec"), col(typeCol).as("typ"))
    var reach = ev.filter(col("typ") === steps.head)
      .groupBy(col("u")).agg(min(col("sec")).as("m0"))
    for (i <- 1 until steps.length) {
      val prev = s"m${i - 1}"
      val nxt = ev.filter(col("typ") === steps(i))
        .join(reach.select(col("u"), col(prev)), Seq("u"))
        .filter(col("sec") > col(prev) &&
          col("sec") <= col(prev) + windowSecs)
        .groupBy(col("u")).agg(min(col("sec")).as(s"m$i"))
      reach = reach.join(nxt, Seq("u"), "left")
    }
    reach
  }

  /** Funnel STEP LATENCY — "where do users stall": exact percentile
    * bands of the per-user resolution gap `m_i − m_{i−1}` for each
    * consecutive step pair of the windowed funnel, via the
    * histogram-prefix order statistic ([[exactPercentiles]] — no
    * value buffering, no global sort). The companion read to
    * [[windowedFunnel]]'s counts: conversion says HOW MANY make each
    * step, this says HOW LONG the ones who make it took.
    *
    * Shape at 100 TB: the resolved-times relation (user-sized), a
    * ≤ steps-wide unpivot, then the percentile histogram machinery.
    * Output: (pair, pct, gap_secs). */
  def funnelStepLatency(
      events: DataFrame,
      userCol: String,
      tsCol: String,
      typeCol: String,
      steps: Seq[String],
      windowSecs: Long,
      pcts: Seq[Int]): DataFrame = {
    require(steps.length >= 2, s"need at least two steps: $steps")
    val reach = windowedFunnelResolved(events, userCol, tsCol, typeCol,
      steps, windowSecs)
    val gaps = reach.select(explode(array((1 until steps.length).map { i =>
        struct(lit(s"${steps(i - 1)}->${steps(i)}").as("pair"),
          (col(s"m$i") - col(s"m${i - 1}")).as("gap"))
      }: _*)).as("e"))
      .select(col("e.pair").as("pair"), col("e.gap").as("gap"))
      .filter(col("gap").isNotNull)
    exactPercentiles(gaps, "pair", col("gap"), pcts)
      .select(col("key").as("pair"), col("pct"),
        col("value").as("gap_secs"))
  }

  def windowedFunnel(
      events: DataFrame,
      userCol: String,
      tsCol: String,
      typeCol: String,
      steps: Seq[String],
      windowSecs: Long): DataFrame = {
    require(steps.nonEmpty && steps.distinct == steps,
      s"steps must be non-empty and distinct: $steps")
    require(windowSecs >= 1, s"windowSecs must be >= 1, got $windowSecs")
    val reach = windowedFunnelResolved(events, userCol, tsCol, typeCol,
      steps, windowSecs)
    val counts = reach.agg(
      count(col("m0")).as("n0"),
      steps.indices.tail.map(i => count(col(s"m$i")).as(s"n$i")): _*)
    counts.select(explode(array(steps.zipWithIndex.map { case (st, i) =>
        struct(lit(i.toLong).as("step_idx"), lit(st).as("step"),
          col(s"n$i").as("n_users"))
      }: _*)).as("s"), col("n0"))
      .select(col("s.step_idx"), col("s.step"), col("s.n_users"),
        // n0 = 0 (empty input) → NULL ppm, same as the plain funnel's
        // _base guard: Spark's div yields NULL there but DuckDB's //
        // raises, so the guard is also a cross-engine contract
        when(col("n0") > 0,
          expr("s.n_users * 1000000 div n0")).as("conversion_ppm"))
  }

  /** Top user PATHS — the journey rollup next to K91's one-step
    * transition matrix: each user's first `maxSteps` events (event
    * time order, ties by type — stated) join into a `a>b>c` path
    * string, and the paths rank by user count. The "what do people
    * actually do after signup" query every product-analytics tool
    * ships as its pathfinder view.
    *
    * Shape at 100 TB: one user-key shuffle; the row_number window is
    * hash-partitioned by user, the ≤ maxSteps surviving rows per user
    * re-aggregate WITHOUT a second exchange (same partitioning), so
    * the collected list is bounded by maxSteps — never a whole user
    * history. Path ranking is a TakeOrdered over the path rollup
    * (paths-sized, ≤ |types|^maxSteps but Zipf-tiny in practice),
    * ties (n_users DESC, path ASC). */
  def topPaths(
      events: DataFrame,
      userCol: String,
      tsCol: String,
      typeCol: String,
      maxSteps: Int,
      topK: Int): DataFrame = {
    require(maxSteps >= 1 && topK >= 1,
      s"need maxSteps >= 1 and topK >= 1, got $maxSteps/$topK")
    val byUser = Window.partitionBy(col("u"))
      .orderBy(col("ts"), col("typ"))
    val firstN = events
      .select(col(userCol).as("u"), col(tsCol).as("ts"),
        col(typeCol).as("typ"))
      .withColumn("rn", row_number().over(byUser))
      .filter(col("rn") <= maxSteps)
    firstN
      .groupBy(col("u"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("rn"), col("typ")))),
          p => p.getField("typ")), ">").as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_users").desc, col("path"))
      .limit(topK)
  }

  /** Exact per-key percentile BANDS over integer-quantized values —
    * the histogram-prefix order-statistic technique (keySkewAudit /
    * conversionLatency / budgetSelect) packaged as the reusable
    * operator: for each key and percentile p, the value at ascending
    * position ⌈p·n/100⌉ (exact integer ceil: `(p·n + 99) div 100`) is
    * the histogram class where that position falls — computed from
    * per-(key, value) counts and a PER-KEY exclusive prefix window
    * (hash-partitioned, parallel), never by buffering values.
    *
    * Why not `percentile()`: Spark's exact percentile aggregate holds
    * every group value in its buffer — a hot key at 100 TB OOMs the
    * executor. This histogram form carries one row per DISTINCT
    * (key, value) — bounded by the quantized value support — and
    * never materializes a group's values anywhere.
    *
    * Quantization is the caller's contract (cast to cents/millis
    * upstream); percentiles are the LOWER order statistic, exact and
    * interpolation-free. Output: (key, pct, value) rows. */
  def exactPercentiles(
      df: DataFrame,
      keyCol: String,
      value: Column,
      pcts: Seq[Int]): DataFrame = {
    require(pcts.nonEmpty && pcts.forall(p => p >= 1 && p <= 100) &&
      pcts.distinct == pcts, s"pcts must be distinct ints in [1,100]: $pcts")
    val q = df.select(col(keyCol).cast("string").as("key"),
      value.cast(LongType).as("v"))
    val h = q.groupBy(col("key"), col("v")).agg(count(lit(1)).as("_c"))
    val perKey = Window.partitionBy(col("key")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = h.withColumn("_below",
      coalesce(sum(col("_c")).over(perKey), lit(0L)))
    val tot = h.groupBy(col("key")).agg(sum(col("_c")).as("_n"))
    cum.join(tot, Seq("key"))
      .select(col("key"), col("v"), col("_c"), col("_below"), col("_n"),
        explode(array(pcts.map(p => lit(p.toLong)): _*)).as("pct"))
      .filter(col("_below") < expr("(pct * _n + 99) div 100") &&
        expr("(pct * _n + 99) div 100") <= col("_below") + col("_c"))
      .select(col("key"), col("pct"), col("v").as("value"))
  }

  /** Key-distribution ENTROPY — the shuffle-balance score that pairs
    * with [[keySkewAudit]] (which names the offenders) and
    * [[joinCardinalityAudit]] (which sizes the blast radius): Shannon
    * entropy of the key distribution in integer MICRO-nats,
    * `H = ln(N) − (Σ c·ln c)/N`, against its `ln(K)` maximum —
    * `balance_ppm = 10⁶` means perfectly uniform keys, small values
    * mean one key owns the shuffle. Per-key terms quantize to
    * micro-nats BEFORE the exact integer sum (the q67 convention;
    * same accepted ~1-ulp libm caveat), every division integer.
    *
    * Shape at 100 TB: one count rollup, one aggregate over the
    * key-count relation, one row out. */
  def keyEntropy(df: DataFrame, keyCol: String): DataFrame = {
    val counts = df.groupBy(col(keyCol).cast("string").as("key"))
      .agg(count(lit(1)).as("c"))
    counts
      .agg(sum(col("c")).as("n_rows"), count(lit(1)).as("n_keys"),
        sum(col("c") * round(log(col("c").cast(DoubleType)) * 1e6)
          .cast(LongType)).as("_t"))
      .select(col("n_rows"), col("n_keys"),
        (round(log(col("n_rows").cast(DoubleType)) * 1e6).cast(LongType) -
          expr("_t div n_rows")).as("entropy_micro"),
        round(log(col("n_keys").cast(DoubleType)) * 1e6).cast(LongType)
          .as("max_entropy_micro"))
      .withColumn("balance_ppm",
        when(col("max_entropy_micro") > 0,
          expr("entropy_micro * 1000000 div max_entropy_micro"))
          .otherwise(lit(1000000L)))
  }

  /** CUSUM changepoint detection over per-key daily count series —
    * "which day did this metric break": the classic cumulative-sum
    * statistic `S_i = Σ_{j≤i} (v_j − mean)` peaks at the most likely
    * level-shift point. Exact integers throughout: deviations are
    * scaled by n (`d_j = v_j·n − total`, so Σd = 0 exactly and no
    * division ever rounds), the peak is `argmax |S_i|` with the
    * EARLIEST day winning ties, and `peak_share_ppm` reports the
    * peak's magnitude against the series' total scaled volume —
    * a dimensionless break-size score comparable across keys.
    *
    * Shape at 100 TB: one shuffle collapses events to the (key, day)
    * count relation; the running sum and the argmax run over per-key
    * windows on that days-sized rollup (hash-partitioned by key).
    *
    * Exactness envelope (the graft_gram discipline — state the bound,
    * fail loud past it): |S| ≤ 2·total·n, so the running sum holds to
    * total·n < ~4.6e18; the tighter cliff is `peak_share_ppm`'s
    * |S|·10⁶, which wraps silently past |S| ≥ ~9.2e12 — guarded with
    * an in-plan raise_error (Spark would wrap where the oracle engine
    * promotes or errors — a silent cross-engine divergence otherwise).
    * A key past the envelope needs coarser units (weekly rollup) or a
    * pre-scaled series, not this operator's exact-ppm contract.
    *
    * Output: (event_type, n_days, change_day, peak_cusum, total). */
  def cusumChangepoint(
      events: DataFrame,
      typeCol: String,
      tsCol: String): DataFrame = {
    val daily = events
      .groupBy(col(typeCol).as("typ"), to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("v"))
    val perTyp = Window.partitionBy(col("typ"))
    val run = Window.partitionBy(col("typ")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val cus = daily
      .withColumn("n", count(lit(1)).over(perTyp))
      .withColumn("total", sum(col("v")).over(perTyp))
      .withColumn("s", sum(col("v") * col("n") - col("total")).over(run))
    val byPeak = Window.partitionBy(col("typ"))
      .orderBy(abs(col("s")).desc, col("day").asc)
    cus.withColumn("_r", row_number().over(byPeak))
      .filter(col("_r") === 1)
      .select(col("typ").as("event_type"), col("n").as("n_days"),
        col("day").cast("string").as("change_day"),
        col("s").as("peak_cusum"), col("total"),
        when(abs(col("s")) >= lit(9223372036854L),
          raise_error(lit("cusumChangepoint: |peak| * 1e6 exceeds the " +
            "exact-long envelope (|S| >= ~9.2e12); use coarser time units")))
          .otherwise(expr("abs(s) * 1000000 div (total * n)"))
          .as("peak_share_ppm"))
  }

  /** Conversion latency — "how long from first touch to first
    * purchase": for every user whose FIRST `fromType` strictly
    * precedes their FIRST `toType`, the integer seconds between the
    * two, summarized as exact order statistics (n, min, lower-median
    * with (secs, user) tie order, max) — the time-to-convert number
    * product reviews quote next to the K89 funnel's conversion rate.
    *
    * Strict-< on first occurrences (the funnel contract: equal
    * timestamps do not convert); all integer seconds, the median a
    * position-⌈n/2⌉ selection — no interpolation, no floats.
    *
    * Shape at 100 TB: one per-user rollup shuffle (map-side partial
    * mins); the converted-user relation then collapses to the
    * latency-HISTOGRAM (distinct integer seconds — bounded by the time
    * span, e.g. ≤ 7.8M classes for a 90-day window, regardless of user
    * count), and the median is an exclusive-prefix lookup over that
    * histogram: the value at ascending position ⌈n/2⌉ depends only on
    * which class the position falls in (the user tiebreak cannot
    * change the VALUE). No global sort of the converted-user relation
    * ever runs — the one unpartitioned window is over the histogram
    * (the budgetSelect bound: model-sized state, not the corpus).
    *
    * Empty input emits ONE row (n_converted=0, null statistics) — the
    * SQL-aggregate shape, so dashboards see "zero conversions" rather
    * than a missing row. Output: (n_converted, min_s, median_s, max_s). */
  def conversionLatency(
      events: DataFrame,
      userCol: String,
      tsCol: String,
      typeCol: String,
      fromType: String,
      toType: String): DataFrame = {
    val perUser = events.groupBy(col(userCol).as("u"))
      .agg(
        min(when(col(typeCol) === fromType, unix_seconds(col(tsCol)))).as("m0"),
        min(when(col(typeCol) === toType, unix_seconds(col(tsCol)))).as("m1"))
      .filter(col("m0").isNotNull && col("m1").isNotNull && col("m0") < col("m1"))
      .select(col("u"), (col("m1") - col("m0")).as("secs"))
    val hist = perUser.groupBy(col("secs")).agg(count(lit(1)).as("_c"))
    val ascPrefix = Window.orderBy(col("secs").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val med = hist
      .select(col("secs"), col("_c"),
        coalesce(sum(col("_c")).over(ascPrefix), lit(0L)).as("_below"))
      .crossJoin(broadcast(hist.agg(sum(col("_c")).as("_n"))))
      .withColumn("_p", ceil(col("_n") / lit(2.0)).cast(LongType))
      .filter(col("_below") < col("_p") && col("_p") <= col("_below") + col("_c"))
      .select(col("secs").as("median_s"), lit(1).as("_k"))
    perUser.agg(count(lit(1)).as("n_converted"),
        min(col("secs")).as("min_s"), max(col("secs")).as("max_s"))
      .withColumn("_k", lit(1))
      .join(broadcast(med), Seq("_k"), "left")
      .select(col("n_converted"), col("min_s"), col("median_s"), col("max_s"))
  }

  /** Exact per-key MAD (median absolute deviation) of daily counts —
    * the robust spread that pairs with [[theilSenTrend]]'s robust
    * center: one wild day moves a stddev arbitrarily but barely
    * touches the MAD, so `|v − median| > t·MAD` is the outlier gate
    * that still works when the series already contains outliers.
    *
    * Exactness: all values are integers and both medians are the
    * LOWER median — the value at ascending position ⌈n/2⌉ with
    * (value, day) tie order — pure order statistics, no interpolation,
    * no floats anywhere. Output per key: n_days, median, mad, and
    * n_outliers under the classic |v − med| > 3·MAD rule (MAD = 0
    * degenerates to counting any deviation ≠ 0, stated).
    *
    * Shape at 100 TB: one events→(key, day) shuffle; both selections
    * are per-key windows over the days-sized rollup. */
  def madOutliers(
      events: DataFrame,
      typeCol: String,
      tsCol: String): DataFrame = {
    val daily = events
      .groupBy(col(typeCol).as("typ"), to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("v"))
    val perTyp = Window.partitionBy(col("typ"))
    def lowerMedian(df: DataFrame, valueCol: String, as: String): DataFrame = {
      val byV = Window.partitionBy(col("typ"))
        .orderBy(col(valueCol).asc, col("day").asc)
      df.withColumn("_n", count(lit(1)).over(perTyp))
        .withColumn("_r", row_number().over(byV))
        .filter(col("_r") === ceil(col("_n") / lit(2.0)).cast(LongType))
        .select(col("typ"), col(valueCol).as(as))
    }
    val med = lowerMedian(daily, "v", "median_v")
    val dev = daily.join(med, Seq("typ"))
      .withColumn("ad", abs(col("v") - col("median_v")))
    val mad = lowerMedian(dev, "ad", "mad")
    dev.join(mad, Seq("typ"))
      .groupBy(col("typ").as("event_type"))
      .agg(count(lit(1)).as("n_days"),
        max(col("median_v")).as("median_v"),
        max(col("mad")).as("mad"),
        count(when(col("ad") > lit(3L) * col("mad"), 1)).as("n_outliers"))
  }

  /** Last-touch attribution: every conversion event is credited to
    * the most recent STRICTLY-EARLIER channel event of the same user —
    * the marketing-attribution join, which is an as-of join folded
    * into one pass over the stream.
    *
    * Determinism under timestamp ties (where a naive `last() over
    * rows` is partition-order-dependent): the window orders by epoch
    * millis with a RANGE frame ending at −1 — the frame contains
    * exactly the strictly-earlier events regardless of row order —
    * and the credited touch is the MAX of a fixed-width
    * `zero-padded-epoch#channel` string, an order-independent
    * aggregate (ties at the same millisecond go to the
    * lexicographically larger channel, a stated rule, not an
    * accident). Conversions with no prior touch credit 'none'.
    *
    * Shape at 100 TB: one shuffle on the user key; the window runs
    * per user in arrival order; output is channels-sized. Output:
    * (channel, n_conversions, share_ppm). */
  def lastTouchAttribution(
      events: DataFrame,
      userCol: String,
      tsCol: String,
      typeCol: String,
      conversionType: String,
      channelTypes: Seq[String]): DataFrame = {
    require(channelTypes.nonEmpty, "need at least one channel type")
    val w = Window.partitionBy(col(userCol))
      .orderBy(unix_millis(col(tsCol)))
      .rangeBetween(Window.unboundedPreceding, -1)
    val tagged = events.select(col(userCol), col(tsCol), col(typeCol))
      .withColumn("_touch",
        max(when(col(typeCol).isin(channelTypes: _*),
          concat(lpad(unix_millis(col(tsCol)).cast("string"), 20, "0"),
            lit("#"), col(typeCol)))).over(w))
    val conv = tagged.filter(col(typeCol) === conversionType)
      .select(coalesce(substring_index(col("_touch"), "#", -1), lit("none"))
        .as("channel"))
    val counts = conv.groupBy(col("channel")).agg(count(lit(1)).as("n_conversions"))
    counts.crossJoin(broadcast(
        counts.agg(sum(col("n_conversions")).as("_t"))))
      .select(col("channel"), col("n_conversions"),
        expr("n_conversions * 1000000 div _t").as("share_ppm"))
  }

  /** Lag-k autocorrelation of per-key daily count series — the
    * seasonality detector (lag 7 ≈ weekly rhythm) that completes the
    * series-diagnostics family: K92 flags anomalies, K118 finds the
    * break day, K119 the robust trend, this one the periodicity.
    *
    * Same exactness scheme as [[cusumChangepoint]]: deviations scale
    * by n (`d_i = v_i·n − total`, Σd = 0 exactly — true mean-centering
    * with no division), then `num = Σ dᵢ·dᵢ₊ₖ` and `den = Σ dᵢ²` are
    * EXACT long sums; the only float op is the final `round(num/den,
    * 6)` — one division of two exactly-represented integers, bit-equal
    * in every engine. Flat series (den = 0) report a null r.
    *
    * Exactness envelope (the graft_gram discipline): |d| ≤ total·n, so
    * d·d products and their n-term sums wrap silently once
    * |d| ≥ √(Long.MAX / n) — guarded per row with an in-plan
    * raise_error at exactly that n-aware bound (Spark wraps where the
    * oracle engine promotes or errors, a latent cross-engine
    * divergence). A key past the envelope needs coarser time units,
    * not this operator's exact-sum contract.
    *
    * Shape at 100 TB: one events→(key, day) shuffle; the lead() and
    * the sums run per key over the days-sized rollup. Output:
    * (event_type, lag, n_days, num, den, r). */
  def autocorrelation(
      events: DataFrame,
      typeCol: String,
      tsCol: String,
      lag: Int): DataFrame = {
    require(lag >= 1, s"lag must be >= 1, got $lag")
    val daily = events
      .groupBy(col(typeCol).as("typ"), to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("v"))
    val perTyp = Window.partitionBy(col("typ"))
    val byDay = Window.partitionBy(col("typ")).orderBy(col("day"))
    daily
      .withColumn("n", count(lit(1)).over(perTyp))
      .withColumn("total", sum(col("v")).over(perTyp))
      .withColumn("d", col("v") * col("n") - col("total"))
      // n-aware envelope: |d| < sqrt(Long.MAX / n) keeps every product
      // AND the n-term sum exactly representable
      .withColumn("d",
        when(abs(col("d")) >=
            floor(sqrt(lit(9.2233720368547e18) / col("n"))).cast(LongType),
          raise_error(lit("autocorrelation: |v*n - total| exceeds the " +
            "exact-long envelope (|d| >= sqrt(Long.MAX/n)); use coarser " +
            "time units")))
          .otherwise(col("d")))
      .withColumn("dlead", lead(col("d"), lag).over(byDay))
      .groupBy(col("typ").as("event_type"))
      .agg(max(col("n")).as("n_days"),
        coalesce(sum(col("d") * col("dlead")), lit(0L)).as("num"),
        sum(col("d") * col("d")).as("den"))
      .select(col("event_type"), lit(lag.toLong).as("lag"),
        col("n_days"), col("num"), col("den"),
        when(col("den") > 0,
          round(col("num").cast(DoubleType) / col("den"), 6))
          .otherwise(lit(null).cast(DoubleType)).as("r"))
  }

  /** Lag-k CROSS-correlation between two daily count series — the
    * lead–lag detector ([[autocorrelation]] finds a series' own
    * rhythm; this asks whether series X leads series Y by k days:
    * does a signup wave today predict a purchase wave next week).
    *
    * Both series live on the SHARED day axis (days where either type
    * appears; the absent side counts 0 — a day X fired and Y didn't
    * is exactly the signal, not a gap). Same exactness scheme as
    * [[autocorrelation]]: deviations scale by n (`dx = x·n − totX`,
    * Σdx = 0 exactly), `num = Σ dxᵢ·dyᵢ₊ₖ` and both denominators are
    * exact long sums under the same n-aware raise_error envelope; the
    * only float ops are the final two correctly-rounded sqrts, one
    * multiply, one divide, round 6 — a STATED chain, identical bits
    * in both engines. Either flat series (den = 0) reports null r.
    *
    * Shape at 100 TB: one events→day rollup (two conditional sums in
    * the same pass), then the lead() and sums over the days-sized
    * Aggregate child — the one unpartitioned-window shape the plan
    * guards allow. Output one row: (type_x, type_y, lag, n_days,
    * num, den_x, den_y, r). */
  def crossCorrelation(
      events: DataFrame,
      typeCol: String,
      tsCol: String,
      typeX: String,
      typeY: String,
      lag: Int): DataFrame = {
    require(lag >= 1, s"lag must be >= 1, got $lag")
    require(typeX != typeY, "use autocorrelation for a series vs itself")
    val daily = events
      .filter(col(typeCol).isin(typeX, typeY))
      .groupBy(to_date(col(tsCol)).as("day"))
      .agg(sum(when(col(typeCol) === typeX, 1L).otherwise(0L)).as("x"),
        sum(when(col(typeCol) === typeY, 1L).otherwise(0L)).as("y"))
    val all = Window.partitionBy(lit(1))
    val byDay = Window.partitionBy(lit(1)).orderBy(col("day"))
    def centered(vc: String, tot: Column, n: Column): Column = {
      val d = col(vc) * n - tot
      when(abs(d) >=
          floor(sqrt(lit(9.2233720368547e18) / n)).cast(LongType),
        raise_error(lit("crossCorrelation: |v*n - total| exceeds the " +
          "exact-long envelope (|d| >= sqrt(Long.MAX/n)); use coarser " +
          "time units")))
        .otherwise(d)
    }
    daily
      .withColumn("n", count(lit(1)).over(all))
      .withColumn("dx", centered("x", sum(col("x")).over(all), col("n")))
      .withColumn("dy", centered("y", sum(col("y")).over(all), col("n")))
      .withColumn("dylead", lead(col("dy"), lag).over(byDay))
      .groupBy()
      .agg(max(col("n")).as("n_days"),
        coalesce(sum(col("dx") * col("dylead")), lit(0L)).as("num"),
        sum(col("dx") * col("dx")).as("den_x"),
        sum(col("dy") * col("dy")).as("den_y"))
      .select(lit(typeX).as("type_x"), lit(typeY).as("type_y"),
        lit(lag.toLong).as("lag"), col("n_days"), col("num"),
        col("den_x"), col("den_y"),
        when(col("den_x") > 0 && col("den_y") > 0,
          round(col("num").cast(DoubleType) /
            (sqrt(col("den_x").cast(DoubleType)) *
              sqrt(col("den_y").cast(DoubleType))), 6))
          .otherwise(lit(null).cast(DoubleType)).as("r"))
  }

  /** Theil–Sen robust trend over per-key daily count series: the
    * slope estimate is the MEDIAN of all pairwise slopes
    * (v_j − v_i)/(j − i), i < j — robust to ~29% outlier days where a
    * least-squares fit (K77's regression) is pulled arbitrarily far by
    * one bad ingest day. Deterministic selection: pairs order by the
    * IEEE-double slope then (dv, dd, i, j) — the doubles are exactly
    * rounded from small-integer ratios, identical in every engine —
    * and the LOWER median (position ⌈m/2⌉) is reported as the exact
    * integer pair (dv, dd) plus `round(dv/dd, 6)`. No integer
    * division of possibly-negative numbers anywhere (the engines'
    * floor-vs-truncate disagreement).
    *
    * Shape at 100 TB: the per-key pair set is days²-bounded — the
    * TIME axis, not the data — so the self-join and the median window
    * run over a (keys × days²)-sized relation, hash-partitioned by
    * key; events themselves collapse to (key, day) in one shuffle.
    * Keys with fewer than 2 days emit nothing (no slope exists).
    * Output: (event_type, n_days, n_pairs, dv, dd, slope). */
  def theilSenTrend(
      events: DataFrame,
      typeCol: String,
      tsCol: String): DataFrame = {
    val daily = events
      .groupBy(col(typeCol).as("typ"), to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("v"))
    val byDay = Window.partitionBy(col("typ")).orderBy(col("day"))
    val ix = daily
      .withColumn("idx", (row_number().over(byDay) - 1).cast(LongType))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("typ"))))
      .select(col("typ"), col("idx"), col("v"), col("n"))
    val a = ix.select(col("typ"), col("idx").as("i"), col("v").as("vi"), col("n"))
    val b = ix.select(col("typ"), col("idx").as("j"), col("v").as("vj"))
    val pairs = a.join(b, Seq("typ")).filter(col("i") < col("j"))
      .select(col("typ"), col("n"),
        (col("vj") - col("vi")).as("dv"), (col("j") - col("i")).as("dd"),
        col("i"), col("j"))
      .withColumn("_sl", col("dv").cast(DoubleType) / col("dd"))
    val byslope = Window.partitionBy(col("typ"))
      .orderBy(col("_sl").asc, col("dv").asc, col("dd").asc,
        col("i").asc, col("j").asc)
    pairs
      .withColumn("_r", row_number().over(byslope))
      .withColumn("_m", count(lit(1)).over(Window.partitionBy(col("typ"))))
      .filter(col("_r") === ceil(col("_m") / lit(2.0)).cast(LongType))
      .select(col("typ").as("event_type"), col("n").as("n_days"),
        col("_m").as("n_pairs"), col("dv"), col("dd"),
        round(col("dv").cast(DoubleType) / col("dd"), 6).as("slope"))
  }

  /** SAX words over per-key daily count series — Symbolic Aggregate
    * approXimation (Lin et al., DMKD 2007) in exact integer form: each
    * key's day-ordered count series compresses to `windows` PAA means
    * (classic index partition `win = idx·w div n`, integer `sum div
    * count` per window), each mean bins to one of `alphabet` symbols
    * by the q137 equi-width rule over THAT key's PAA range, and the
    * symbols concatenate into the key's SAX word. Two keys with the
    * same word have the same coarse shape — an equality join on
    * `sax_word` is the shape-similarity candidate generator (the LSH
    * band-bucket pattern pointed at time series), with no float
    * z-normalization anywhere so both engines agree bit-for-bit.
    *
    * Shape at 100 TB: events collapse to the (key, day) count relation
    * in ONE shuffle with map-side partials; every window after —
    * indexing, PAA, binning, word assembly — runs over key×days-sized
    * rollups partitioned BY KEY (the per-key windows are
    * hash-partitioned, never global). Output: (event_type, n_days,
    * n_windows, sax_word). */
  def saxWords(
      events: DataFrame,
      typeCol: String,
      tsCol: String,
      windows: Int,
      alphabet: Int): DataFrame = {
    require(windows >= 1, s"windows must be >= 1, got $windows")
    require(alphabet >= 2, s"alphabet must be >= 2, got $alphabet")
    val daily = events
      .groupBy(col(typeCol).as("typ"), to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("v"))
    val byDay = Window.partitionBy(col("typ")).orderBy(col("day"))
    val perTyp = Window.partitionBy(col("typ"))
    val paa = daily
      .withColumn("idx", (row_number().over(byDay) - 1).cast(LongType))
      .withColumn("n", count(lit(1)).over(perTyp))
      .withColumn("win", expr(s"idx * $windows div n"))
      .groupBy(col("typ"), col("win"))
      .agg(expr("sum(v) div count(1)").as("p"), max(col("n")).as("n_days"))
    val mm = Window.partitionBy(col("typ"))
    paa
      .withColumn("mn", min(col("p")).over(mm))
      .withColumn("mx", max(col("p")).over(mm))
      .withColumn("sym",
        when(col("mx") === col("mn"), lit(0L))
          .otherwise(expr(s"(p - mn) * $alphabet div (mx - mn + 1)")))
      .groupBy(col("typ").as("event_type"))
      .agg(max(col("n_days")).as("n_days"),
        count(lit(1)).as("n_windows"),
        array_join(transform(
          array_sort(collect_list(struct(col("win"), col("sym")))),
          e => e.getField("sym").cast("string")), "").as("sax_word"))
  }

  /** Two-proportion z-test A/B harness — the experimentation
    * primitive: users split into arms by the deterministic salted
    * hash (the q51 sampler — same assignment on every engine, every
    * run, every partitioning; no experiment framework needed), each
    * arm counts its converted users, and the pooled two-proportion
    * z-statistic scores the difference.
    *
    * Arithmetic contract: counts are exact integers; the statistic
    * `z = (x₁n₂ − x₂n₁) / √(X(N−X)·n₁n₂/N)` evaluates in the STATED
    * IEEE op order — numerator exact integer, denominator
    * `(X/N)·(N−X)·n₁·n₂` as double mult/div chain then one sqrt —
    * identical bits in both engines (each single op is correctly
    * rounded), rounded to 6. The double detour exists because
    * `X(N−X)n₁n₂` overflows a long at population scale; the division
    * interleaves FIRST by design, and the order is part of the
    * contract.
    *
    * Shape at 100 TB: one user-key rollup (assignment is map-side),
    * a 2-row aggregate, one row out. */
  def abTestHarness(
      events: DataFrame,
      userCol: String,
      typeCol: String,
      conversionType: String,
      salt: String): DataFrame = {
    val perUser = events
      .groupBy(col(userCol).cast("string").as("u"))
      .agg(max(when(col(typeCol) === conversionType, 1L))
        .as("_conv"))
      .select(col("u"),
        (TextDedup.md5Hash60(concat(lit(s"ab:$salt:"), col("u"))) % 2)
          .as("arm"),
        coalesce(col("_conv"), lit(0L)).as("conv"))
    val arms = perUser.groupBy(col("arm"))
      .agg(count(lit(1)).as("n"), sum(col("conv")).as("x"))
    val wide = arms.agg(
      coalesce(sum(when(col("arm") === 0, col("n"))), lit(0L)).as("n_a"),
      coalesce(sum(when(col("arm") === 0, col("x"))), lit(0L)).as("x_a"),
      coalesce(sum(when(col("arm") === 1, col("n"))), lit(0L)).as("n_b"),
      coalesce(sum(when(col("arm") === 1, col("x"))), lit(0L)).as("x_b"))
    wide.select(col("n_a"), col("x_a"), col("n_b"), col("x_b"),
        expr("x_a * 1000000 div n_a").as("rate_a_ppm"),
        expr("x_b * 1000000 div n_b").as("rate_b_ppm"),
        when(col("n_a") > 0 && col("n_b") > 0 &&
          (col("x_a") + col("x_b")) > 0 &&
          (col("x_a") + col("x_b")) < (col("n_a") + col("n_b")),
          round((col("x_a") * col("n_b") - col("x_b") * col("n_a"))
            .cast(DoubleType) /
            sqrt((col("x_a") + col("x_b")).cast(DoubleType) /
              (col("n_a") + col("n_b")).cast(DoubleType) *
              (col("n_a") + col("n_b") - col("x_a") - col("x_b"))
                .cast(DoubleType) *
              col("n_a").cast(DoubleType) * col("n_b").cast(DoubleType)),
            6)).as("z"))
      .withColumn("significant", coalesce(abs(col("z")) >= 1.96, lit(false)))
  }

  /** Weekly retention TRIANGLE — the growth chart behind every
    * cohort analysis deck: users bucket into their first-active ISO
    * week, and each later week's distinct returners score against
    * the cohort size in exact ppm. [[cohortRetention]]'s daily
    * offsets answer "do they come back tomorrow"; the weekly
    * triangle answers "does week-4 retention hold across cohorts" —
    * the axis investors actually read.
    *
    * Weeks are `date_trunc(week)` Mondays in BOTH engines (ISO), so
    * the offset `(week − cohort_week) div 7` is always an exact
    * integer. Shape at 100 TB: one shuffle to the distinct user-week
    * rollup, a user-key min for the cohort, one join back (user-key,
    * same partitioning), one (cohort, offset) rollup. */
  def weeklyRetention(
      events: DataFrame,
      userCol: String,
      tsCol: String): DataFrame = {
    val uw = events.select(col(userCol).as("u"),
      date_trunc("week", col(tsCol)).cast("date").as("wk")).distinct()
    val cohort = uw.groupBy(col("u")).agg(min(col("wk")).as("cw"))
    val sizes = cohort.groupBy(col("cw")).agg(count(lit(1)).as("cohort_size"))
    uw.join(cohort, Seq("u"))
      .select(col("cw"), (datediff(col("wk"), col("cw")) / 7)
        .cast(LongType).as("week_offset"))
      .groupBy(col("cw"), col("week_offset"))
      .agg(count(lit(1)).as("n_active"))
      .join(sizes, Seq("cw"))
      .select(col("cw").cast("string").as("cohort_week"),
        col("week_offset"), col("n_active"), col("cohort_size"),
        expr("n_active * 1000000 div cohort_size").as("retention_ppm"))
  }

  /** DAU/WAU/MAU stickiness — the engagement sheet every product
    * dashboard opens with: per day, the distinct actives that day
    * (DAU), in the trailing 7 days (WAU), and in the trailing 28
    * days (MAU), plus `stickiness_ppm = DAU·10⁶ div WAU` (how much
    * of the weekly audience shows up daily).
    *
    * Sliding-window DISTINCT does not decompose into per-day partial
    * counts (a user active twice in a window counts once), so the
    * user-day rollup fans out to its ≤ 28 target days — the C1
    * 7-day-self-join discipline with a bounded literal offset range,
    * never a per-user state pass — and one aggregate per target day
    * counts distinct carriers with the week/month split read off the
    * offset. Days outside the observed set are dropped by the DAU
    * inner join (a day nobody was active has no row, the dashboard
    * convention).
    *
    * Shape at 100 TB: one shuffle to the user-day rollup, a 28×
    * fan-out of THAT rollup (user-day-sized, not event-sized), one
    * aggregate keyed by day. Output ordered by day. */
  def stickiness(
      events: DataFrame,
      userCol: String,
      tsCol: String): DataFrame = {
    val ud = events.select(col(userCol).as("u"),
      to_date(col(tsCol)).as("day")).distinct()
    val dau = ud.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val spread = ud
      .select(col("u"), explode(sequence(lit(0), lit(27))).as("o"),
        col("day"))
      .select(col("u"), col("o"), date_add(col("day"), col("o")).as("d"))
    val win = spread.groupBy(col("d").as("day"))
      .agg(count_distinct(when(col("o") <= 6, col("u"))).as("wau"),
        count_distinct(col("u")).as("mau"))
    dau.join(win, Seq("day"))
      .select(col("day").cast("string").as("day"), col("dau"),
        col("wau"), col("mau"),
        expr("dau * 1000000 div wau").as("stickiness_ppm"))
  }

  /** Equi-DEPTH histogram — [[histogram]]'s quantile twin (equi-width
    * fixes the bin edges and lets counts vary; this fixes the counts
    * and reads the edges off the data): ascending position p lands in
    * bucket `(p−1)·b div n`, so bucket sizes differ by at most one.
    * A value CLASS (all rows sharing a quantized value) may span
    * buckets; its per-bucket row count is the exact interval overlap
    * `[below+1, below+c] ∩ [p_lo(k), p_hi(k)]`, all closed-form
    * integer arithmetic over the histogram — values never sort
    * globally, rows never buffer (the exactPercentiles discipline;
    * Spark's approx equivalent is sketch-approximate, this is exact).
    *
    * Shape at 100 TB: one shuffle to the value histogram; the only
    * unpartitioned window runs over that Aggregate child (bounded by
    * the quantized value support); the class→bucket explode fans out
    * at most `buckets` rows per class. Output per bucket: n_rows,
    * min/max value — the exact quantile sheet a profiler prints. */
  def equiDepthHistogram(
      df: DataFrame,
      value: Column,
      buckets: Int): DataFrame = {
    require(buckets >= 1 && buckets <= 10000,
      s"buckets must be in [1,10000]: $buckets")
    val q = df.select(value.cast(LongType).as("v")).filter(col("v").isNotNull)
    val h = q.groupBy(col("v")).agg(count(lit(1)).as("c"))
    val byV = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = h.withColumn("below", coalesce(sum(col("c")).over(byV), lit(0L)))
    val tot = h.agg(sum(col("c")).as("n"))
    cum.crossJoin(broadcast(tot))
      .select(col("v"), col("c"), col("below"), col("n"),
        explode(sequence(expr(s"below * $buckets div n"),
          expr(s"(below + c - 1) * $buckets div n"))).as("bucket"))
      .withColumn("_plo", expr(s"(bucket * n + $buckets - 1) div $buckets + 1"))
      .withColumn("_phi", expr(s"(bucket * n + n + $buckets - 1) div $buckets"))
      .withColumn("_k",
        least(col("below") + col("c"), col("_phi")) -
          greatest(col("below") + 1, col("_plo")) + 1)
      .filter(col("_k") > 0)
      .groupBy(col("bucket").cast(LongType).as("bucket"))
      .agg(sum(col("_k")).as("n_rows"),
        min(col("v")).as("min_value"), max(col("v")).as("max_value"))
  }

  /** Two-sample KOLMOGOROV–SMIRNOV drift — "did this feature's
    * distribution move between two cohorts": the supremum CDF gap
    * `D = max_v |F_A(v) − F_B(v)|` in exact integer ppm, the
    * covariate-shift screen a training pipeline runs between train
    * and validation slices (or yesterday's corpus and today's).
    *
    * Both empirical CDFs come from ONE value histogram with
    * per-group conditional counts — the carry-forward problem of
    * merging two separately-built histograms never arises, because
    * every distinct value is a row in the shared histogram and both
    * cumulative sums advance on it together. The scaled gap
    * `|cumA·n_B − cumB·n_A|` is exact; `at_value` is the smallest
    * value attaining the supremum (struct-max ties).
    *
    * Exactness envelope (the graft_gram discipline): the ppm scaling
    * needs `n_A·n_B < 9.2e12` — raise_error-guarded; past it,
    * compare q51-sampled slices (the KS statistic is sample-stable).
    *
    * Shape at 100 TB: one shuffle to the value histogram, an
    * exclusive-prefix window over that Aggregate child, a one-row
    * aggregate. */
  def ksDrift(
      df: DataFrame,
      groupCol: String,
      value: Column,
      groupA: String,
      groupB: String): DataFrame = {
    require(groupA != groupB, "KS needs two distinct groups")
    val q = df.select(col(groupCol).cast("string").as("g"),
      value.cast(LongType).as("v"))
      .filter(col("v").isNotNull && col("g").isin(groupA, groupB))
    val h = q.groupBy(col("v"))
      .agg(count(when(col("g") === groupA, 1)).as("ca"),
        count(when(col("g") === groupB, 1)).as("cb"))
    val byV = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = h
      .withColumn("cuma", sum(col("ca")).over(byV))
      .withColumn("cumb", sum(col("cb")).over(byV))
    val tot = h.agg(coalesce(sum(col("ca")), lit(0L)).as("na"),
      coalesce(sum(col("cb")), lit(0L)).as("nb"))
    cum.crossJoin(broadcast(tot))
      .select(col("na"), col("nb"),
        abs(col("cuma") * col("nb") - col("cumb") * col("na")).as("d"),
        col("v"))
      .agg(max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
        max(struct(col("d"), (-col("v")).as("nv"))).as("_m"))
      .select(col("n_a"), col("n_b"),
        when(col("n_a") === 0 || col("n_b") === 0, lit(0L))
          .otherwise(when(col("n_a") * col("n_b") >= lit(9223372036854L),
            raise_error(lit("ksDrift: n_a * n_b exceeds the exact-long " +
              "ppm envelope (~9.2e12); compare sampled slices")))
            .otherwise(expr("_m.d * 1000000 div (n_a * n_b)")))
          .as("ks_ppm"),
        (-col("_m").getField("nv")).as("at_value"))
  }

  /** PEAK CONCURRENCY per day — the capacity-planning read (how many
    * sessions were open AT ONCE, not how many happened): classic
    * +1/−1 boundary sweep, kept 100 TB-shaped by DAY-PARTITIONING
    * the sweep instead of ordering the world.
    *
    * An interval [start, end] (second granularity, inclusive) fans
    * out to its touched days (`sequence` of dates — require-guarded
    * at ≤ 31 days per interval, a session longer than a month is a
    * data bug, stated): +1 at the start second on the first day, +1
    * at midnight on every later day (the carry-in), −1 after the end
    * second on the last day only. Deltas roll up to a per-(day,
    * second) histogram — the only exchange after the fan-out — and
    * the running sum + argmax run per DAY over that Aggregate child
    * (hash-partitioned by day, never global). `at_second` is the
    * FIRST second attaining the peak (struct-max on (cum, −sec), the
    * K167 supremum trick). Output per day: (day, n_intervals,
    * peak_concurrent, at_second). */
  def peakConcurrency(
      intervals: DataFrame,
      startCol: String,
      endCol: String): DataFrame = {
    val iv = intervals.select(
      unix_timestamp(col(startCol)).as("s"),
      unix_timestamp(col(endCol)).as("e"),
      to_date(col(startCol)).as("d0"),
      to_date(col(endCol)).as("d1"))
      .filter(col("s").isNotNull && col("e").isNotNull &&
        col("s") <= col("e"))
      .withColumn("d1",
        when(datediff(col("d1"), col("d0")) > 31,
          raise_error(lit("peakConcurrency: interval spans more than " +
            "31 days — not a session; clean the input")))
          .otherwise(col("d1")))
    val seg = iv.select(col("s"), col("e"), col("d0"), col("d1"),
      explode(sequence(col("d0"), col("d1"))).as("day"))
    val deltas = seg.select(col("day"),
      when(col("day") === col("d0"), col("s"))
        .otherwise(unix_timestamp(col("day").cast("timestamp")))
        .as("sec"),
      lit(1L).as("delta"))
      .unionByName(seg.filter(col("day") === col("d1"))
        .select(col("day"), (col("e") + 1L).as("sec"),
          lit(-1L).as("delta")))
    val h = deltas.groupBy(col("day"), col("sec"))
      .agg(sum(col("delta")).as("dl"),
        sum(when(col("delta") > 0, 1L).otherwise(0L)).as("n_starts"))
    val bySec = Window.partitionBy(col("day")).orderBy(col("sec"))
      .rowsBetween(Window.unboundedPreceding, 0)
    h.withColumn("cum", sum(col("dl")).over(bySec))
      .groupBy(col("day").cast("string").as("day"))
      .agg(sum(col("n_starts")).as("n_intervals"),
        max(struct(col("cum"), (-col("sec")).as("nv"))).as("_m"))
      .select(col("day"), col("n_intervals"),
        col("_m.cum").as("peak_concurrent"),
        (-col("_m.nv")).as("at_second"))
  }

  /** SPEARMAN RANK CORRELATION — the monotone-association read
    * ([[mannWhitneyU]] compares two slices of one value; this asks
    * whether two VALUES move together without assuming linearity):
    * Pearson's formula over tie-aware midranks.
    *
    * All-integer construction: each column's DOUBLED midranks come
    * off its own value histogram (`2r₀+m+1`, the K178 closed form —
    * no per-row sort, ranks join back to rows on the value), and the
    * key identity is that doubled midranks always sum to `n(n+1)`, so
    * the mean rank is the EXACT integer `n+1` and centered ranks
    * `c = 2R − (n+1)` need no division. `Σ cx·cy`, `Σ cx²`, `Σ cy²`
    * are exact long sums (|c| ≤ n ⇒ the sums bound by n³ — guarded
    * at n ≤ 2·10⁶ with raise_error; Spearman is sample-stable, use
    * the q51 sampler past it); the only floats are the stated
    * two-sqrt/multiply/divide/round-6 tail (the K175 convention).
    * Constant columns (zero rank variance) report null rho. NULLs in
    * either column drop the row, stated.
    *
    * Shape at 100 TB: two histogram rollups, two value-keyed joins
    * back to the rows, one global aggregate. Output one row:
    * (n, sxy, sxx, syy, rho). */
  def spearmanCorrelation(
      df: DataFrame,
      xCol: Column,
      yCol: Column): DataFrame = {
    val q = df.select(xCol.cast(LongType).as("x"),
      yCol.cast(LongType).as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull)
    val tot = q.agg(count(lit(1)).as("n"))
      .select(when(col("n") > 2000000L,
        raise_error(lit("spearmanCorrelation: n exceeds the exact-long " +
          "rank-sum envelope (2e6); correlate a deterministic sample")))
        .otherwise(col("n")).as("n"))
    def ranks(c: String): DataFrame = {
      val h = q.groupBy(col(c)).agg(count(lit(1)).as("m"))
      val byV = Window.orderBy(col(c))
        .rowsBetween(Window.unboundedPreceding, -1)
      h.withColumn("r0", coalesce(sum(col("m")).over(byV), lit(0L)))
        .select(col(c),
          (lit(2L) * col("r0") + col("m") + 1L).as(s"r2$c"))
    }
    q.join(ranks("x"), Seq("x")).join(ranks("y"), Seq("y"))
      .crossJoin(broadcast(tot))
      .select((col("r2x") - (col("n") + 1L)).as("cx"),
        (col("r2y") - (col("n") + 1L)).as("cy"), col("n"))
      .groupBy(col("n"))
      .agg(coalesce(sum(col("cx") * col("cy")), lit(0L)).as("sxy"),
        coalesce(sum(col("cx") * col("cx")), lit(0L)).as("sxx"),
        coalesce(sum(col("cy") * col("cy")), lit(0L)).as("syy"))
      .select(col("n"), col("sxy"), col("sxx"), col("syy"),
        when(col("sxx") > 0 && col("syy") > 0,
          round(col("sxy").cast(DoubleType) /
            (sqrt(col("sxx").cast(DoubleType)) *
              sqrt(col("syy").cast(DoubleType))), 6))
          .otherwise(lit(null).cast(DoubleType)).as("rho"))
  }

  /** KL DIVERGENCE between two CATEGORICAL mixes — the drift screen
    * for enum-valued columns ([[ksDrift]] and [[mannWhitneyU]] need
    * an ordered value; the event-type mix, language mix, or source
    * mix has no order): `KL(P‖Q) = Σ pᵢ·ln(pᵢ/qᵢ)` over the shared
    * category set, P = slice A's mix, Q = slice B's.
    *
    * Cross-engine arithmetic (the q67 convention): each category's
    * term is ONE stated chain — `a·B` and `b·A` exact longs, their
    * double ratio through one libm `ln` (the accepted ~1-ulp caveat),
    * times `a/A`, times 10⁶, rounded to an integer micro term — then
    * summed exactly, so float summation order never exists. KL is
    * INFINITE when P has mass where Q has none: those categories are
    * COUNTED (`n_a_only`) and kl_micro reports NULL rather than a
    * smoothed fiction — the caller chooses the smoothing, not the
    * engine. Either empty slice also reports NULL. Envelope:
    * `a·B < 9.2·10¹⁸` holds to ~3·10⁹ rows/slice, past any enum
    * rollup this operator sees (inputs are category-rollup-sized
    * after one shuffle).
    *
    * Shape at 100 TB: one shuffle to the category rollup with two
    * conditional counts; everything after is categories-sized. */
  def klDivergence(
      df: DataFrame,
      catCol: String,
      groupCol: String,
      groupA: String,
      groupB: String): DataFrame = {
    require(groupA != groupB, "KL needs two distinct slices")
    val cells = df
      .select(col(catCol).cast("string").as("cat"),
        col(groupCol).cast("string").as("g"))
      .filter(col("cat").isNotNull && col("g").isin(groupA, groupB))
      .groupBy(col("cat"))
      .agg(count(when(col("g") === groupA, 1)).as("a"),
        count(when(col("g") === groupB, 1)).as("b"))
    val tot = cells.agg(coalesce(sum(col("a")), lit(0L)).as("ta"),
      coalesce(sum(col("b")), lit(0L)).as("tb"))
    cells.crossJoin(broadcast(tot))
      .withColumn("_term",
        when(col("a") === 0, lit(0L))
          .when(col("b") === 0, lit(null).cast(LongType))
          .otherwise(round(
            col("a").cast(DoubleType) / col("ta").cast(DoubleType) *
              log((col("a") * col("tb")).cast(DoubleType) /
                (col("b") * col("ta")).cast(DoubleType)) * 1e6)
            .cast(LongType)))
      .agg(count(lit(1)).as("n_categories"),
        count(when(col("a") > 0 && col("b") === 0, 1)).as("n_a_only"),
        coalesce(max(col("ta")), lit(0L)).as("n_rows_a"),
        coalesce(max(col("tb")), lit(0L)).as("n_rows_b"),
        sum(col("_term")).as("_kl"))
      .select(col("n_categories"), col("n_a_only"),
        col("n_rows_a"), col("n_rows_b"),
        when(col("n_a_only") > 0 || col("n_rows_a") === 0 ||
            col("n_rows_b") === 0, lit(null).cast(LongType))
          .otherwise(col("_kl")).as("kl_micro"))
  }

  /** MANN–WHITNEY U — [[ksDrift]]'s rank-sum sibling: KS answers "did
    * the distribution change anywhere", U answers "does one slice
    * STOCHASTICALLY DOMINATE the other", and `U/(n_a·n_b)` is the
    * probability-of-superiority effect size (the AUC) every
    * experiment readout wants next to its p-value.
    *
    * Everything is exact integers on the SAME shared value histogram
    * as KS: a tie class of size m occupying ranks r₀+1..r₀+m has
    * midrank (2r₀+m+1)/2, so DOUBLED rank sums stay integral —
    * `2R_A = Σ ca·(2r₀+m+1)` via the exclusive prefix over the
    * histogram (the established Aggregate-child window), then
    * `2U_A = 2R_A − n_a(n_a+1)` and `auc_ppm = 2U_A·10⁶ div
    * (2·n_a·n_b)`. No sort of the data, no per-row ranks — ranks of a
    * class are a closed form of the histogram prefix. Envelope:
    * `n_a·n_b < 4.6·10¹²` for the ppm scaling, raise_error-guarded
    * (the KS discipline); empty slices report auc 0. Output one row:
    * (n_a, n_b, u2_a, u2_b, auc_ppm) — u2 values are DOUBLED U
    * statistics, stated, so ties never force a float. */
  def mannWhitneyU(
      df: DataFrame,
      groupCol: String,
      value: Column,
      groupA: String,
      groupB: String): DataFrame = {
    require(groupA != groupB, "U needs two distinct groups")
    val q = df.select(col(groupCol).cast("string").as("g"),
      value.cast(LongType).as("v"))
      .filter(col("v").isNotNull && col("g").isin(groupA, groupB))
    val h = q.groupBy(col("v"))
      .agg(count(when(col("g") === groupA, 1)).as("ca"),
        count(when(col("g") === groupB, 1)).as("cb"))
      .withColumn("m", col("ca") + col("cb"))
    val byV = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = h.withColumn("r0",
      coalesce(sum(col("m")).over(byV), lit(0L)))
    cum
      .agg(coalesce(sum(col("ca")), lit(0L)).as("n_a"),
        coalesce(sum(col("cb")), lit(0L)).as("n_b"),
        coalesce(sum(col("ca") * (lit(2L) * col("r0") + col("m") + 1L)),
          lit(0L)).as("_r2a"))
      .select(col("n_a"), col("n_b"),
        (col("_r2a") - col("n_a") * (col("n_a") + 1L)).as("u2_a"),
        (lit(2L) * col("n_a") * col("n_b") -
          (col("_r2a") - col("n_a") * (col("n_a") + 1L))).as("u2_b"),
        when(col("n_a") === 0 || col("n_b") === 0, lit(0L))
          .otherwise(when(col("n_a") * col("n_b") >= lit(4611686018427L),
            raise_error(lit("mannWhitneyU: n_a * n_b exceeds the " +
              "exact-long ppm envelope (~4.6e12); compare sampled " +
              "slices")))
            .otherwise(expr(
              "(_r2a - n_a * (n_a + 1)) * 1000000 div (2 * n_a * n_b)")))
          .as("auc_ppm"))
  }

  /** LORENZ curve — "the top decile drives what share of revenue":
    * [[equiDepthHistogram]]'s buckets carrying VALUE MASS as well as
    * counts, plus the cumulative share that IS the Lorenz curve (and
    * whose complement reads off as the Pareto statement). A value
    * class spanning buckets contributes `v · overlap` to each — the
    * same closed-form interval arithmetic, so holders never sort
    * globally and no aggregate buffers a group.
    *
    * `cum_value_ppm` is an exact integer against the total mass; the
    * only unpartitioned windows run over the value histogram and the
    * buckets-sized rollup (both Aggregate children, the established
    * exception). Output: (bucket, n_rows, value_sum, cum_value_ppm),
    * buckets ascending by value. */
  def lorenzCurve(
      df: DataFrame,
      value: Column,
      buckets: Int): DataFrame = {
    require(buckets >= 1 && buckets <= 10000,
      s"buckets must be in [1,10000]: $buckets")
    val q = df.select(value.cast(LongType).as("v")).filter(col("v").isNotNull)
    val h = q.groupBy(col("v")).agg(count(lit(1)).as("c"))
    val byV = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = h.withColumn("below", coalesce(sum(col("c")).over(byV), lit(0L)))
    val tot = h.agg(sum(col("c")).as("n"),
      sum(col("v") * col("c")).as("t"))
    val perBucket = cum.crossJoin(broadcast(tot))
      .select(col("v"), col("c"), col("below"), col("n"), col("t"),
        explode(sequence(expr(s"below * $buckets div n"),
          expr(s"(below + c - 1) * $buckets div n"))).as("bucket"))
      .withColumn("_plo", expr(s"(bucket * n + $buckets - 1) div $buckets + 1"))
      .withColumn("_phi", expr(s"(bucket * n + n + $buckets - 1) div $buckets"))
      .withColumn("_k",
        least(col("below") + col("c"), col("_phi")) -
          greatest(col("below") + 1, col("_plo")) + 1)
      .filter(col("_k") > 0)
      .groupBy(col("bucket").cast(LongType).as("bucket"))
      .agg(sum(col("_k")).as("n_rows"),
        sum(col("v") * col("_k")).as("value_sum"), max(col("t")).as("_t"))
    val byBucket = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, 0)
    perBucket
      .withColumn("_cum", sum(col("value_sum")).over(byBucket))
      .select(col("bucket"), col("n_rows"), col("value_sum"),
        when(col("_t") >= lit(9223372036854L),
          raise_error(lit("lorenzCurve: cum * 1e6 exceeds the exact-long " +
            "envelope (total mass >= ~9.2e12); use coarser value units")))
          .otherwise(when(col("_t") > 0, expr("_cum * 1000000 div _t"))
            .otherwise(lit(0L))).as("cum_value_ppm"))
  }

  /** Markov stationary distribution — the EQUILIBRIUM view next to
    * [[transitionMatrix]]'s one-step probabilities: where does a user
    * spend their time if the observed dynamics run forever. Power
    * iteration `π' = πP` in exact integer ppm, from the uniform
    * vector (the division remainder pinned to the lexicographically
    * smallest state so the start mass is exactly 10⁶); each edge
    * contributes `π_i·c_ij div r_i` (per-edge truncation, identical
    * in both engines — total mass decays by < states·iters units,
    * stated, not hidden); states with NO outgoing transitions are
    * absorbing and hold their mass.
    *
    * Shape at 100 TB: ONE shuffle of events into the per-user lead
    * window builds the (from, to) count matrix — the only
    * corpus-sized work. The matrix itself is types²-sized (the state
    * space is an enum by contract, like k centroids — bounded and
    * require-guarded), so the iteration runs on the DRIVER over the
    * collected rollup in exact longs: a first cut that iterated as
    * `iters`×3 tiny joins spent 31–48 s at sf0.1 purely on
    * per-iteration broadcast-job and planning overhead for work that
    * is microseconds of arithmetic — the lloydStepDeterministic /
    * bpeTrain boundary applies (distribute the corpus pass, collect
    * the bounded rollup).
    *
    * Output: (event_type, n_out, pi_ppm), one row per state. */
  def stationaryDistribution(
      events: DataFrame,
      userCol: String,
      tsCol: String,
      typeCol: String,
      idCol: String,
      iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 64, s"iters must be in [1,64]: $iters")
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(idCol))
    val trans = events
      .select(col(typeCol).as("ft"), lead(col(typeCol), 1).over(w).as("tt"))
      .filter(col("tt").isNotNull)
      .groupBy(col("ft"), col("tt")).agg(count(lit(1)).as("c"))
    // state-space bound FIRST: it is the contract that keeps the types²
    // edge rollup collectable at all, so it must fire before any collect
    val states = boundedCollect(
      events.select(col(typeCol).cast("string").as("typ")).distinct(),
      10000, "stationaryDistribution: state space (enum bound, the " +
        "operator iterates a types^2 rollup)")
      .map(_.getString(0)).sorted
    val edges = boundedCollect(trans, 4000000,
      "stationaryDistribution: transition edges")
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val r = edges.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    var pi: Map[String, Long] =
      if (states.isEmpty) Map.empty
      else {
        val base = 1000000L / states.length
        val rem = 1000000L - base * states.length
        states.map(t =>
          t -> (base + (if (t == states.head) rem else 0L))).toMap
      }
    for (_ <- 1 to iters) {
      val inflow = edges.groupBy(_._2).map { case (to, es) =>
        to -> es.map { case (ft, _, c) => pi(ft) * c / r(ft) }.sum
      }
      pi = states.map { t =>
        t -> (inflow.getOrElse(t, 0L) +
          (if (r.contains(t)) 0L else pi(t))) // absorbing keeps its mass
      }.toMap
    }
    val spark = events.sparkSession
    import spark.implicits._
    states.map(t => (t, r.getOrElse(t, 0L), pi(t))).toSeq
      .toDF("event_type", "n_out", "pi_ppm")
  }

  /** TIME-DECAY ATTRIBUTION — the third member of the attribution
    * family ([[lastTouchAttribution]] gives the closer everything,
    * [[linearAttribution]] splits equally; this weights each touch by
    * HOW RECENTLY it happened): a touch `g` days before the
    * conversion carries literal weight `weights(g)` (the caller's
    * decay table — one Scala constant drives both the plan and the
    * oracle, the minHashCoeffs discipline), each conversion
    * distributes EXACTLY 10⁶ ppm as floor shares
    * `w_c·10⁶ div Σw` with the remainder absorbed by the channel of
    * the MOST RECENT touch (micros precision; ties: smallest channel
    * name, via struct-min — the conservation discipline).
    * Conversions with no touch inside the window credit 'none' in
    * full. Same-microsecond duplicate conversions collapse to one
    * (stated).
    *
    * Shape at 100 TB: the conversion⋈touch join is per-user and
    * day-bounded by the weight table's length (the C1 range-join
    * shape) — fan-out ≤ touches-in-window per conversion; everything
    * after is (conversion, channel)-rollup-sized, and the published
    * relation is channels+1 rows. */
  def timeDecayAttribution(
      events: DataFrame,
      userCol: String,
      tsCol: String,
      typeCol: String,
      convType: String,
      channels: Seq[String],
      weights: Seq[Long]): DataFrame = {
    require(channels.nonEmpty && !channels.contains(convType),
      s"channels must exclude the conversion type: $channels")
    require(weights.nonEmpty && weights.forall(w => w >= 0),
      "weights must be nonnegative, indexed by day gap")
    val maxDays = weights.size - 1
    val e = events.select(col(userCol).cast("string").as("u"),
      col(tsCol).as("ts"), col(typeCol).cast("string").as("t"),
      unix_date(to_date(col(tsCol))).cast(LongType).as("d"))
      .filter(col("u").isNotNull && col("ts").isNotNull)
    val conv = e.filter(col("t") === convType)
      .select(col("u"), unix_micros(col("ts")).as("cus"),
        col("d").as("cd")).distinct()
    val touch = e.filter(col("t").isin(channels: _*))
      .select(col("u"), unix_micros(col("ts")).as("tus"),
        col("d").as("td"), col("t").as("channel"))
    val wArr = array(weights.map(lit): _*)
    val j = conv.join(touch,
      Seq("u")).filter(col("tus") < col("cus") &&
        col("cd") - col("td") <= maxDays && col("cd") >= col("td"))
      .withColumn("w",
        element_at(wArr, (col("cd") - col("td") + 1).cast("int")))
    val perChan = j.groupBy(col("u"), col("cus"), col("channel"))
      .agg(sum(col("w")).as("ws"), max(col("tus")).as("lastT"))
    val perConv = perChan.groupBy(col("u"), col("cus"))
      .agg(sum(col("ws")).as("wtot"),
        min(struct((-col("lastT")).as("nt"),
          col("channel").as("ch"))).as("_win"))
      .select(col("u"), col("cus"), col("wtot"),
        col("_win.ch").as("winner"))
    val based = perChan.join(perConv, Seq("u", "cus"))
      .withColumn("base", when(col("wtot") > 0,
        expr("ws * 1000000 div wtot")).otherwise(lit(0L)))
    val floorSum = based.groupBy(col("u"), col("cus"))
      .agg(sum(col("base")).as("fs"))
    val credited = based.join(floorSum, Seq("u", "cus"))
      .withColumn("credit", col("base") +
        when(col("wtot") > 0 && col("channel") === col("winner"),
          lit(1000000L) - col("fs")).otherwise(lit(0L)))
    val noTouch = conv.join(
        j.select(col("u"), col("cus")).distinct(),
        Seq("u", "cus"), "left_anti")
      .select(lit("none").as("channel"), lit(1000000L).as("credit"))
    credited.select(col("channel"), col("credit"))
      .unionByName(noTouch)
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_conversions"),
        sum(col("credit")).as("credit_ppm_total"))
  }

  /** COHORT LTV curve — the revenue twin of [[weeklyRetention]]
    * (retention asks "do they come back", LTV asks "what are they
    * WORTH over time"): entities cohort by the Monday-aligned integer
    * week of their FIRST transaction (the q194 timezone-proof
    * arithmetic — pure days-since-epoch, 1970-01-05 anchor), revenue
    * accumulates per (cohort, weeks-since-first) in exact integer
    * units, and `cum_per_entity` divides by the FIXED cohort size —
    * the number a payback-period decision reads. Offsets with no
    * revenue emit no row (stated; [[densifyDays]] is the gap-filling
    * tool when a gapless axis is wanted).
    *
    * Shape at 100 TB: one entity-key rollup for the first week, one
    * join back, one (cohort, offset) rollup; the cumulative window
    * partitions on the cohort over the offsets-sized relation. */
  def cohortLtv(
      df: DataFrame,
      entityCol: String,
      tsCol: String,
      value: Column): DataFrame = {
    val q = df.select(col(entityCol).cast("string").as("e"),
      unix_date(to_date(col(tsCol))).cast(LongType).as("ed"),
      value.cast(LongType).as("v"))
      .filter(col("e").isNotNull && col("ed").isNotNull &&
        col("v").isNotNull)
      .withColumn("w", expr("(ed - 4) div 7"))
    val first = q.groupBy(col("e")).agg(min(col("w")).as("w0"))
    val sizes = first.groupBy(col("w0")).agg(count(lit(1)).as("n_entities"))
    val rev = q.join(first, Seq("e"))
      .groupBy(col("w0"), (col("w") - col("w0")).as("offset_weeks"))
      .agg(sum(col("v")).as("revenue"))
    val byOff = Window.partitionBy(col("w0")).orderBy(col("offset_weeks"))
      .rowsBetween(Window.unboundedPreceding, 0)
    rev.withColumn("cum_revenue", sum(col("revenue")).over(byOff))
      .join(sizes, Seq("w0"))
      .select(
        date_add(lit("1970-01-01").cast("date"),
          (lit(4L) + lit(7L) * col("w0")).cast("int"))
          .cast("string").as("cohort_week"),
        col("offset_weeks"), col("n_entities"), col("revenue"),
        col("cum_revenue"),
        expr("cum_revenue div n_entities").as("cum_per_entity"))
  }

  /** AGGREGATE-CONSISTENCY audit — the warehouse invariant
    * [[fkIntegrityAudit]] doesn't check: the parent's STORED total vs
    * the sum of its child rows (order header total vs line sum,
    * account balance vs ledger) — the denormalization-drift detector.
    * Values compare in caller-chosen integer units (cents); the
    * relative gap is `|parent − Σchild|·10⁶ div max(1,|parent|)` in
    * exact ppm, a parent with NO child rows is counted separately
    * (childless is a different bug than inconsistent), and the
    * verdict is one row: parent/childless/violating counts,
    * violating ppm, and the worst relative gap. Envelope: |parent
    * value| < 9.2·10¹² units for the ppm scaling, the keyGini
    * discipline (raise_error, use coarser units past it).
    *
    * Shape at 100 TB: one child rollup on the key, one key join, one
    * global aggregate — keys and two longs on the wire, never rows. */
  def aggregateConsistencyAudit(
      parent: DataFrame,
      parentKey: String,
      parentValue: Column,
      child: DataFrame,
      childKey: String,
      childValue: Column,
      tolerancePpm: Long): DataFrame = {
    require(tolerancePpm >= 0, s"tolerancePpm must be >= 0: $tolerancePpm")
    val p = parent.select(col(parentKey).cast("string").as("key"),
      parentValue.cast(LongType).as("pv"))
      .filter(col("key").isNotNull && col("pv").isNotNull)
      .withColumn("pv",
        when(abs(col("pv")) >= lit(9223372036854L),
          raise_error(lit("aggregateConsistencyAudit: |parent value| " +
            "exceeds the exact-long ppm envelope (~9.2e12); use " +
            "coarser units"))).otherwise(col("pv")))
    val c = child.select(col(childKey).cast("string").as("key"),
      childValue.cast(LongType).as("cv"))
      .filter(col("key").isNotNull && col("cv").isNotNull)
      .groupBy(col("key")).agg(sum(col("cv")).as("cs"))
    p.join(c, Seq("key"), "left")
      .select(col("key"), col("cs").isNull.as("childless"),
        when(col("cs").isNull, lit(0L))
          .otherwise(expr(
            "abs(pv - cs) * 1000000 div greatest(1, abs(pv))"))
          .as("rel_gap_ppm"))
      .agg(count(lit(1)).as("n_parents"),
        count(when(col("childless"), 1)).as("n_childless"),
        count(when(!col("childless") &&
          col("rel_gap_ppm") > tolerancePpm, 1)).as("n_violating"),
        coalesce(max(when(!col("childless"), col("rel_gap_ppm"))),
          lit(0L)).as("max_rel_gap_ppm"))
      .select(col("n_parents"), col("n_childless"), col("n_violating"),
        when(col("n_parents") > 0,
          expr("n_violating * 1000000 div n_parents"))
          .otherwise(lit(0L)).as("violating_ppm"),
        col("max_rel_gap_ppm"))
  }

  /** CALENDAR DENSIFICATION — make the missing days EXIST: every
    * series operator here defines its own absent-day stance
    * ([[crossCorrelation]] zero-fills, [[autocorrelation]] skips);
    * this op materializes the dense per-type day axis once — every
    * day in the type's [min, max] span, observed count or an
    * explicit zero with `is_gap` — so downstream windows can assume
    * a gapless axis, plus the per-type gap accounting.
    *
    * Shape at 100 TB: one events→(type, day) rollup; the fan-out is
    * `sequence(min_day, max_day)` per TYPE (span-sized, not
    * data-sized) left-joined back to the rollup. */
  def densifyDays(
      events: DataFrame,
      typeCol: String,
      tsCol: String): DataFrame = {
    val daily = events
      .groupBy(col(typeCol).cast("string").as("typ"),
        to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("v"))
    val span = daily.groupBy(col("typ"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    span.select(col("typ"),
        explode(sequence(col("d0"), col("d1"))).as("day"))
      .join(daily, Seq("typ", "day"), "left")
      .select(col("typ").as("event_type"),
        col("day").cast("string").as("day"),
        coalesce(col("v"), lit(0L)).as("v"),
        col("v").isNull.as("is_gap"))
  }

  /** BEHAVIORAL DIVERSITY — [[keyEntropy]] turned inward: per-USER
    * Shannon entropy over the event-type mix (0 = does one thing,
    * ln(types) = samples everything), rolled into quarter-nat
    * buckets — the exploration-vs-routine segmentation a product
    * team reads next to [[stickiness]].
    *
    * Per-user terms use the exact keyEntropy arithmetic (micro-nat
    * quantization BEFORE the integer sum, H = ln(n)·10⁶ −
    * Σc·ln(c)micro div n — a single-type user scores exactly 0, no
    * float residue). The per-user relation is users-sized (one
    * shuffle); the published relation is the BUCKET histogram
    * (≤ ~40 rows for any realistic type count), so output stays
    * bounded at any corpus size. */
  def behavioralDiversity(
      events: DataFrame,
      userCol: String,
      typeCol: String): DataFrame = {
    val ut = events
      .select(col(userCol).cast("string").as("u"),
        col(typeCol).cast("string").as("t"))
      .filter(col("u").isNotNull && col("t").isNotNull)
      .groupBy(col("u"), col("t")).agg(count(lit(1)).as("c"))
    val per = ut.groupBy(col("u"))
      .agg(sum(col("c")).as("n"), count(lit(1)).as("n_types"),
        sum(col("c") * round(log(col("c")) * 1e6).cast(LongType))
          .as("_t"))
      .select(col("u"), col("n_types"),
        (round(log(col("n")) * 1e6).cast(LongType) -
          expr("_t div n")).as("h_micro"))
    // greatest(·,0): quantization can leave a −1 residue on a
    // near-zero entropy, and the engines' div/floor disagree there
    per.groupBy(expr("greatest(h_micro, 0) div 250000").as("bucket"))
      .agg(count(lit(1)).as("n_users"),
        min(col("h_micro")).as("min_h_micro"),
        max(col("h_micro")).as("max_h_micro"),
        max(col("n_types")).as("max_types"))
  }

  /** FREQUENCY-RESPONSE curve — "how many touches does a conversion
    * take": per user, the count of `touchType` events STRICTLY before
    * their first `convType` event (all touches if they never
    * convert), bucketed with a cap, with the exact conversion rate
    * per bucket — the diminishing-returns read behind every
    * frequency-capping decision ([[lastTouchAttribution]] says which
    * channel; this says how much exposure).
    *
    * Strict-before is the deterministic tie rule (a same-timestamp
    * touch does not count toward its own conversion — stated; the
    * K89 equal-timestamps-don't-advance convention). One user-key
    * rollup (two conditional aggregates in one pass), then a
    * cap+1-sized histogram. */
  def frequencyResponse(
      events: DataFrame,
      userCol: String,
      tsCol: String,
      typeCol: String,
      touchType: String,
      convType: String,
      cap: Int = 10): DataFrame = {
    require(cap >= 1, s"cap must be >= 1: $cap")
    val per = events
      .select(col(userCol).cast("string").as("u"), col(tsCol).as("ts"),
        col(typeCol).cast("string").as("t"))
      .filter(col("u").isNotNull)
      .groupBy(col("u"))
      .agg(min(when(col("t") === convType, col("ts"))).as("conv_ts"),
        count(when(col("t") === touchType, 1)).as("all_touches"))
    val touches = events
      .select(col(userCol).cast("string").as("u"), col(tsCol).as("ts"),
        col(typeCol).cast("string").as("t"))
      .filter(col("t") === touchType)
      .join(per.select(col("u"), col("conv_ts")), Seq("u"))
      .filter(col("conv_ts").isNotNull && col("ts") < col("conv_ts"))
      .groupBy(col("u")).agg(count(lit(1)).as("pre_touches"))
    per.join(touches, Seq("u"), "left")
      .select(col("u"), col("conv_ts").isNotNull.as("converted"),
        when(col("conv_ts").isNotNull,
          coalesce(col("pre_touches"), lit(0L)))
          .otherwise(col("all_touches")).as("touches"))
      .groupBy(least(col("touches"), lit(cap.toLong)).as("touch_bucket"))
      .agg(count(lit(1)).as("n_users"),
        count(when(col("converted"), 1)).as("n_converted"))
      .select(col("touch_bucket"), col("n_users"), col("n_converted"),
        expr("n_converted * 1000000 div n_users").as("conversion_ppm"))
  }

  /** FUNCTIONAL-DEPENDENCY audit — the profiler piece K94 (describe)
    * and K165 (drift) leave open: which columns DETERMINE which
    * (candidate keys, denormalization opportunities, silently broken
    * invariants like "order → one status"). For every ordered pair
    * (A, B) from a literal column list: A → B holds iff every
    * A-group carries exactly one distinct B; reported as group
    * counts + violating-group ppm, so a 99.9%-held dependency (a
    * data bug, not a modeling fact) is visible rather than boolean-
    * rounded away.
    *
    * Rows with a NULL on either side are excluded per pair (NULL
    * neither determines nor violates, and engines disagree on NULL
    * distinctness — stated): per A-group, a dependent participates
    * only where it is non-null (`_n` counts carriers), so the
    * per-pair group universe matches the pairwise filter exactly.
    *
    * Shape at 100 TB: ONE rollup per DETERMINANT, not per ordered
    * pair (the round-11 q219 fix — k·(k−1) separate rollups re-scan
    * the table k·(k−1) times and ReuseExchange cannot collapse
    * different grouping keys; grouping once per determinant computes
    * every dependent's distinct count in the same pass, k scans
    * total, require-capped at 8 columns). The multi-distinct
    * aggregate plans as Spark's Expand + two-phase agg: the exchange
    * carries (A, dependent-value) partials — the union of the
    * per-pair exchanges the old shape paid, for 1/(k−1) of the
    * scans. The verdict explode is over a ONE-ROW relation. */
  def functionalDependencies(
      df: DataFrame,
      cols: Seq[String]): DataFrame = {
    require(cols.size >= 2 && cols.size <= 8,
      s"need 2..8 literal columns, got ${cols.size}")
    require(cols.distinct == cols, s"duplicate columns in $cols")
    val casted = df.select(cols.map(c => col(c).cast("string").as(c)): _*)
    cols.map { a =>
      val deps = cols.filterNot(_ == a)
      val perGroup = casted.filter(col(a).isNotNull)
        .groupBy(col(a))
        .agg(
          count(col(deps.head)).as(s"_n_${deps.head}"),
          (countDistinct(col(deps.head)).as(s"_d_${deps.head}") +:
            deps.tail.flatMap(b => Seq(
              count(col(b)).as(s"_n_$b"),
              countDistinct(col(b)).as(s"_d_$b")))): _*)
      val verdicts = perGroup.agg(
        count(when(col(s"_n_${deps.head}") > 0, 1)).as(s"_g_${deps.head}"),
        (count(when(col(s"_d_${deps.head}") > 1, 1)).as(s"_v_${deps.head}") +:
          deps.tail.flatMap(b => Seq(
            count(when(col(s"_n_$b") > 0, 1)).as(s"_g_$b"),
            count(when(col(s"_d_$b") > 1, 1)).as(s"_v_$b")))): _*)
      verdicts.select(explode(array(deps.map(b =>
          struct(lit(a).as("determinant"), lit(b).as("dependent"),
            col(s"_g_$b").as("n_groups"),
            col(s"_v_$b").as("n_violating"))): _*)).as("_r"))
        .select(col("_r.determinant").as("determinant"),
          col("_r.dependent").as("dependent"),
          col("_r.n_groups").as("n_groups"),
          col("_r.n_violating").as("n_violating"),
          when(col("_r.n_groups") > 0,
            expr("_r.n_violating * 1000000 div _r.n_groups"))
            .otherwise(lit(0L)).as("violating_ppm"))
    }.reduce(_ unionByName _)
  }

  /** HOLT double-exponential smoothing — [[ewmaBaseline]] plus a
    * TREND state (an EWMA lags a ramping series forever; Holt's
    * second recurrence learns the slope and the one-step forecast
    * `level + trend` stops trailing): per type over daily counts, in
    * exact integer micro units,
    * `l₁ = v₁·10⁶, b₁ = 0`,
    * `l_t = α·v_t + (10⁶−α)·(l_{t−1}+b_{t−1}) div 10⁶`,
    * `b_t = trunc(β·(l_t−l_{t−1}), 10⁶) + trunc((10⁶−β)·b_{t−1}, 10⁶)`
    * where trunc is division TRUNCATED TOWARD ZERO on both sides —
    * the trend is the one signed quantity in the family, so the
    * truncation direction is contractual (the q193 sign-split
    * convention; the oracle mirrors it explicitly, floor-div would
    * silently differ on falling series).
    *
    * Runs at the [[ewmaBaseline]] driver boundary (same ≤ 10⁵-row
    * guard, same v < 9.2·10⁶ envelope — |b| ≤ level scale keeps every
    * product long-exact); oracle = the identical recurrence as a
    * recursive CTE. Output per (type, day): v, level_micro,
    * trend_micro, forecast_micro (= next day's l+b, the number a
    * monitor compares tomorrow against). */
  def holtSmoothing(
      events: DataFrame,
      typeCol: String,
      tsCol: String,
      alphaPpm: Long,
      betaPpm: Long,
      maxRows: Int = 100000): DataFrame = {
    require(alphaPpm >= 1 && alphaPpm <= 1000000,
      s"alphaPpm must be in [1, 1e6]: $alphaPpm")
    require(betaPpm >= 1 && betaPpm <= 1000000,
      s"betaPpm must be in [1, 1e6]: $betaPpm")
    val daily = events
      .groupBy(col(typeCol).cast("string").as("typ"),
        to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("v"))
      .select(col("typ"), col("day").cast("string").as("day"), col("v"))
    val rows = boundedCollect(daily, maxRows,
      "holtSmoothing: (type, day) rows")
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    rows.foreach { case (_, _, v) =>
      // half the ewma envelope: the trend state can overshoot the
      // level past max(v)·10⁶ transiently, so keep 2× headroom
      require(v < 4600000L,
        "holtSmoothing: daily count exceeds the exact-long micro " +
          "envelope (4.6e6); use coarser units")
    }
    val out = rows.groupBy(_._1).toSeq.flatMap { case (typ, rs) =>
      val sorted = rs.sortBy(_._2)
      var l = 0L
      var b = 0L
      sorted.zipWithIndex.map { case ((_, day, v), i) =>
        if (i == 0) { l = v * 1000000L; b = 0L }
        else {
          val lPrev = l
          l = alphaPpm * v + (1000000L - alphaPpm) * (l + b) / 1000000L
          b = betaPpm * (l - lPrev) / 1000000L +
            (1000000L - betaPpm) * b / 1000000L
        }
        (typ, day, v, l, b, l + b)
      }
    }
    val spark = events.sparkSession
    import spark.implicits._
    out.toDF("event_type", "day", "v", "level_micro", "trend_micro",
      "forecast_micro")
  }

  /** HOLT–WINTERS ADDITIVE (weekly) — [[holtSmoothing]] plus the
    * seasonal state a 7-day business cycle actually needs (K141
    * showed weekday seasonality dominates event volume; Holt alone
    * chases Mondays as trend):
    *
    *   l_t = α(y_t − s_{w}) + (1−α)(l_{t−1} + b_{t−1})
    *   b_t = β(l_t − l_{t−1}) + (1−β)b_{t−1}
    *   s_w ← γ(y_t − l_t) + (1−γ)s_w,   w = epoch_day mod 7
    *
    * All states integer micro (y = v·10⁶); every ppm product divides
    * by 10⁶ with TRUNCATION toward zero (Scala `/` — the q226/q227
    * signed-division convention the oracle mirrors with the tdiv
    * CASE). Seasonal slots start at 0 (cold start is the level's
    * problem, stated). `forecast_micro` is the one-step-ahead read
    * l + b + s_{w+1 mod 7} against the NEXT calendar slot.
    *
    * Driver-fold operator (the holtSmoothing contract): the recurrence
    * is sequential per type, the relation is bounded to (types ×
    * days) rows by [[boundedCollect]], and the envelope keeps every
    * product inside exact longs (v < 2.3e6 — seasonal deltas give the
    * state 2× the Holt headroom requirement). */
  def holtWinters(
      events: DataFrame,
      typeCol: String,
      tsCol: String,
      alphaPpm: Long,
      betaPpm: Long,
      gammaPpm: Long,
      maxRows: Int = 100000): DataFrame = {
    for ((p, n) <- Seq(alphaPpm -> "alphaPpm", betaPpm -> "betaPpm",
        gammaPpm -> "gammaPpm"))
      require(p >= 1 && p <= 1000000, s"$n must be in [1, 1e6]: $p")
    val daily = events
      .groupBy(col(typeCol).cast("string").as("typ"),
        to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("v"))
      .select(col("typ"), col("day").cast("string").as("day"), col("v"))
    val rows = boundedCollect(daily, maxRows,
      "holtWinters: (type, day) rows")
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    rows.foreach { case (_, _, v) =>
      require(v < 2300000L,
        "holtWinters: daily count exceeds the exact-long micro " +
          "envelope (2.3e6); use coarser units")
    }
    val out = rows.groupBy(_._1).toSeq.flatMap { case (typ, rs) =>
      val sorted = rs.sortBy(_._2)
      var l = 0L
      var b = 0L
      val s = Array.fill(7)(0L)
      sorted.zipWithIndex.map { case ((_, day, v), i) =>
        val w = (java.time.LocalDate.parse(day).toEpochDay % 7).toInt
        val y = v * 1000000L
        if (i == 0) { l = y; b = 0L }
        else {
          val lPrev = l
          l = alphaPpm * (y - s(w)) / 1000000L +
            (1000000L - alphaPpm) * (l + b) / 1000000L
          b = betaPpm * (l - lPrev) / 1000000L +
            (1000000L - betaPpm) * b / 1000000L
        }
        s(w) = gammaPpm * (y - l) / 1000000L +
          (1000000L - gammaPpm) * s(w) / 1000000L
        (typ, day, v, l, b, s(w), l + b + s((w + 1) % 7))
      }
    }
    val spark = events.sparkSession
    import spark.implicits._
    out.toDF("event_type", "day", "v", "level_micro", "trend_micro",
      "season_micro", "forecast_micro")
  }

  /** PETTITT CHANGEPOINT — [[cusumChangepoint]]'s NONPARAMETRIC twin
    * (CUSUM finds a mean shift and is dragged by one outlier day;
    * Pettitt, AMS 1979, asks at which day the rank distribution
    * splits — robust to any monotone rescaling of the counts): the
    * statistic is `K = max_{t<n} |U_t|`, `U_t = Σ_{i≤t}Σ_{j>t}
    * sgn(xᵢ−xⱼ)`, and the load-bearing identity is
    * `U_t = Σ_{i≤t} 2Rᵢ − t·(n+1)` over DOUBLED midranks — ties
    * contribute their exact zero through the midrank, and everything
    * stays an integer (the K178 rank algebra applied along time).
    *
    * Per type: the daily-count histogram yields each day's doubled
    * midrank (no sort of days by value), a day-ordered per-type
    * window accumulates `Σ 2R`, and the split maximizing |U| (first
    * day on ties — struct-max) is the changepoint candidate. All
    * windows hash-partition on the type; the relation is days-sized
    * after one shuffle. Output per type: (event_type, n_days, k2 =
    * max|U_t| in doubled units, at_day). Series shorter than 2 days
    * emit k2 = 0 with a null at_day. */
  def pettittChangepoint(
      events: DataFrame,
      typeCol: String,
      tsCol: String): DataFrame = {
    val daily = events
      .groupBy(col(typeCol).cast("string").as("typ"),
        to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("v"))
    val h = daily.groupBy(col("typ"), col("v"))
      .agg(count(lit(1)).as("m"))
    val byV = Window.partitionBy(col("typ")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranks = h
      .withColumn("r0", coalesce(sum(col("m")).over(byV), lit(0L)))
      .select(col("typ"), col("v"),
        (lit(2L) * col("r0") + col("m") + 1L).as("r2"))
    val perTyp = Window.partitionBy(col("typ"))
    val byDay = Window.partitionBy(col("typ")).orderBy(col("day"))
    daily.join(ranks, Seq("typ", "v"))
      .withColumn("n", count(lit(1)).over(perTyp))
      .withColumn("t", row_number().over(byDay).cast(LongType))
      .withColumn("cum", sum(col("r2")).over(
        byDay.rowsBetween(Window.unboundedPreceding, 0)))
      .filter(col("t") < col("n"))
      .withColumn("u2", col("cum") - col("t") * (col("n") + 1L))
      .groupBy(col("typ").as("event_type"))
      .agg(max(col("n")).as("n_days"),
        max(struct(abs(col("u2")).as("a"),
          (-unix_date(col("day"))).as("nd"))).as("_m"))
      .select(col("event_type"), col("n_days"),
        col("_m.a").as("k2"),
        date_from_unix_date((-col("_m.nd")).cast("int"))
          .cast("string").as("at_day"))
      .unionByName(
        daily.groupBy(col("typ").as("event_type"))
          .agg(count(lit(1)).as("n_days"))
          .filter(col("n_days") < 2)
          .select(col("event_type"), col("n_days"),
            lit(0L).as("k2"), lit(null).cast("string").as("at_day")))
  }

  /** EWMA BASELINE over per-type daily counts — the smoothed
    * "expected volume" every alerting rule subtracts from ([[zscore
    * anomalies|weekdayAdjustedZscore]] need a distribution; an EWMA
    * needs only yesterday's state, which is why production monitors
    * run it): `s₁ = v₁·10⁶`, `s_t = α·v_t + (10⁶−α)·s_{t−1} div 10⁶`
    * in exact integer MICRO units (α in ppm), plus each day's
    * deviation from the standing baseline `v_t·10⁶ − s_{t−1}`
    * (0 for the first day, stated).
    *
    * The recurrence is inherently sequential per type, so it runs at
    * the lloydStepDeterministic/stationaryDistribution boundary: ONE
    * shuffle builds the days-sized (type, day, v) rollup, the fold
    * runs on the DRIVER over the collected rollup (require-guarded ≤
    * 10⁵ rows — a types×days relation, nowhere near data-sized), and
    * the result returns as a local relation. The oracle mirrors the
    * identical recurrence as a recursive CTE. Envelope: `(10⁶−α)·s`
    * must stay in a long, i.e. daily v < 9.2·10⁶ — require-guarded;
    * coarser units past it. */
  def ewmaBaseline(
      events: DataFrame,
      typeCol: String,
      tsCol: String,
      alphaPpm: Long,
      maxRows: Int = 100000): DataFrame = {
    require(alphaPpm >= 1 && alphaPpm <= 1000000,
      s"alphaPpm must be in [1, 1e6]: $alphaPpm")
    val daily = events
      .groupBy(col(typeCol).cast("string").as("typ"),
        to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("v"))
      .select(col("typ"), col("day").cast("string").as("day"), col("v"))
    val rows = boundedCollect(daily, maxRows,
      "ewmaBaseline: (type, day) rows")
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    rows.foreach { case (_, _, v) =>
      require(v < 9200000L,
        "ewmaBaseline: daily count exceeds the exact-long micro " +
          "envelope (9.2e6); use coarser units")
    }
    val out = rows.groupBy(_._1).toSeq.flatMap { case (typ, rs) =>
      val sorted = rs.sortBy(_._2)
      var s = 0L
      sorted.zipWithIndex.map { case ((_, day, v), i) =>
        val dev = if (i == 0) 0L else v * 1000000L - s
        s = if (i == 0) v * 1000000L
            else alphaPpm * v + (1000000L - alphaPpm) * s / 1000000L
        (typ, day, v, s, dev)
      }
    }
    val spark = events.sparkSession
    import spark.implicits._
    out.toDF("event_type", "day", "v", "ewma_micro", "dev_micro")
  }

  /** Linear multi-touch attribution — [[lastTouchAttribution]]'s
    * fair-split twin: every conversion distributes EXACTLY 10⁶ ppm of
    * credit equally across its prior channel touches (each touch gets
    * `10⁶ div n`; the LAST touch absorbs the division remainder so
    * per-conversion credit sums to 10⁶ exactly — deterministic, no
    * fractional drift). Conversions with no prior touch credit the
    * 'none' channel in full.
    *
    * The per-conversion touch MULTISET never materializes: linear
    * credit needs only per-channel touch COUNTS before each
    * conversion — one running `count FILTER (type = c)` window per
    * literal channel (the frame excludes same-millisecond rows, the
    * last-touch convention) — so a user with a million touches costs
    * columns, not rows. Credits then unpivot through a literal
    * channel array (rows = conversions × channels, bounded by the
    * literal list).
    *
    * Shape at 100 TB: one shuffle on the user key, per-user windows,
    * channel-sized output. Output: (channel, n_conversions, touches,
    * credit_ppm, share_ppm) — share_ppm is exact-integer credit
    * against 10⁶ per conversion. */
  def linearAttribution(
      events: DataFrame,
      userCol: String,
      tsCol: String,
      typeCol: String,
      conversionType: String,
      channelTypes: Seq[String]): DataFrame = {
    require(channelTypes.nonEmpty, "need at least one channel type")
    val w = Window.partitionBy(col(userCol))
      .orderBy(unix_millis(col(tsCol)))
      .rangeBetween(Window.unboundedPreceding, -1)
    val counted = channelTypes.zipWithIndex.foldLeft(
      events.select(col(userCol), col(tsCol), col(typeCol))
        .withColumn("_last",
          max(when(col(typeCol).isin(channelTypes: _*),
            concat(lpad(unix_millis(col(tsCol)).cast("string"), 20, "0"),
              lit("#"), col(typeCol)))).over(w))) {
      case (d, (c, i)) =>
        d.withColumn(s"_n$i",
          coalesce(sum(when(col(typeCol) === c, 1L)).over(w), lit(0L)))
    }
    val conv = counted.filter(col(typeCol) === conversionType)
      .withColumn("_nt",
        channelTypes.indices.map(i => col(s"_n$i")).reduce(_ + _))
      .withColumn("_lastCh", substring_index(col("_last"), "#", -1))
    val credited = conv.select(
      explode(array(channelTypes.zipWithIndex.map { case (c, i) =>
        struct(lit(c).as("channel"), col(s"_n$i").as("touches"),
          when(col("_nt") === 0, lit(0L))
            .otherwise(col(s"_n$i") * expr("1000000 div _nt") +
              when(col("_lastCh") === c,
                lit(1000000L) - col("_nt") * expr("1000000 div _nt"))
                .otherwise(lit(0L))).as("credit"))
      } :+ struct(lit("none").as("channel"), lit(0L).as("touches"),
        when(col("_nt") === 0, lit(1000000L)).otherwise(lit(0L))
          .as("credit")): _*)).as("e"))
      .select(col("e.channel").as("channel"), col("e.touches").as("touches"),
        col("e.credit").as("credit"))
    val totals = credited.groupBy(col("channel"))
      .agg(count(when(col("credit") > 0, 1)).as("n_conversions"),
        sum(col("touches")).as("touches"),
        sum(col("credit")).as("credit_ppm"))
      .filter(col("touches") > 0 || col("credit_ppm") > 0)
    totals.crossJoin(broadcast(
        credited.agg(expr("sum(credit) div 1000000").as("_t"))))
      .select(col("channel"), col("n_conversions"), col("touches"),
        col("credit_ppm"),
        when(col("_t") > 0, expr("credit_ppm div _t"))
          .otherwise(lit(0L)).as("share_ppm"))
  }

  /** Weekday-seasonality strength — "is this metric weekly-periodic":
    * the between-group share of variance (one-way ANOVA) with the
    * days grouped by weekday, on the 0…10⁶-ppm scale. Completes the
    * series-diagnostics family: K92 flags anomalies, K118 finds the
    * break day, K119 the trend, K120 the rhythm at a CHOSEN lag —
    * this scores the weekly rhythm without choosing one.
    *
    * Exact integers via the cusum scaling: deviations are scaled by n
    * (`d_i = v_i·n − T`, Σd = 0 exactly), so SST = Σd², and a
    * weekday's deviation mass D_g = Σ_{i∈g} d_i gives
    * SSB = Σ_g D_g²/n_g — evaluated as `D_g² div n_g` (stated
    * integer-division semantics, identical in both engines; error
    * ≤ 1 per group against ~10⁶-scale sums). `peak_weekday` is the
    * weekday with the largest positive deviation mass (smallest
    * weekday wins ties), 1 = Sunday … 7 = Saturday.
    *
    * Shape at 100 TB: one shuffle to the (type, day) rollup; windows
    * are per-type (hash-partitioned) over the days-sized relation;
    * the weekday regroup is 7 rows per type.
    *
    * Exactness envelope (the graft_gram discipline): SST needs
    * Σd² < 2⁶³, guaranteed when `T·n < 3.03e9` per type — guarded
    * with an in-plan raise_error; past it, roll up to coarser units
    * first (weekly counts have no weekday question left anyway). */
  def weekdaySeasonality(
      events: DataFrame,
      typeCol: String,
      tsCol: String): DataFrame = {
    val daily = events
      .groupBy(col(typeCol).as("typ"), to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("v"))
    val perTyp = Window.partitionBy(col("typ"))
    val dev = daily
      .withColumn("n", count(lit(1)).over(perTyp))
      .withColumn("total", sum(col("v")).over(perTyp))
      .withColumn("_guard",
        when(col("total") * col("n") >= lit(3030000000L),
          raise_error(lit("weekdaySeasonality: total * n_days exceeds " +
            "the exact-long envelope (~3.03e9); use coarser units")))
          .otherwise(lit(0L)))
      .withColumn("d", col("v") * col("n") - col("total") + col("_guard"))
      .withColumn("g", dayofweek(col("day")).cast(LongType))
    val byGroup = dev
      .groupBy(col("typ"), col("g"))
      .agg(sum(col("d")).as("dg"), count(lit(1)).as("ng"),
        sum(col("d") * col("d")).as("sst_part"),
        max(col("n")).as("n_days"))
    byGroup
      .groupBy(col("typ").as("event_type"))
      .agg(max(col("n_days")).as("n_days"),
        sum(col("sst_part")).as("_sst"),
        sum(expr("dg * dg div ng")).as("_ssb"),
        max(struct(col("dg"), (-col("g")).as("ng"))).as("_pk"))
      .select(col("event_type"), col("n_days"),
        when(col("_sst") > 0, expr("_ssb * 1000000 div _sst"))
          .otherwise(lit(0L)).as("seasonality_ppm"),
        (-col("_pk").getField("ng")).as("peak_weekday"))
  }

  /** Inter-event gap histogram — "how bursty is the activity": the
    * distribution of per-user gaps between CONSECUTIVE events, in
    * power-of-two second buckets (`bucket = ⌊log₂ gap⌋ + 1` via the
    * binary-string length — an INTEGER log₂, immune to the
    * floor(ln/ln) boundary hazard; bucket 0 = same-second). The
    * session-gap parameter every sessionizer guesses (q35's
    * `session_window`, the streaming sessionizer's timeout) should be
    * READ off this histogram instead.
    *
    * Determinism under ties: consecutive order is (second, type);
    * fully-identical rows permute only among themselves, so the gap
    * MULTISET is tie-invariant. Shape at 100 TB: one hash-partitioned
    * per-user window pass, then a ≤64-row histogram rollup. */
  def interEventGaps(
      events: DataFrame,
      userCol: String,
      tsCol: String,
      typeCol: String): DataFrame = {
    val e = events.select(col(userCol).as("u"),
      unix_seconds(col(tsCol)).as("sec"), col(typeCol).as("typ"))
    val byUser = Window.partitionBy(col("u"))
      .orderBy(col("sec"), col("typ"))
    e.withColumn("gap", col("sec") - lag(col("sec"), 1).over(byUser))
      .filter(col("gap").isNotNull)
      .withColumn("bucket",
        when(col("gap") === 0, lit(0L))
          .otherwise(length(bin(col("gap"))).cast(LongType)))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_gaps"),
        min(col("gap")).as("min_gap_secs"),
        max(col("gap")).as("max_gap_secs"))
  }

  /** Referential-integrity audit — "how many child rows point at a
    * parent that does not exist": the warehouse-hygiene check a load
    * pipeline runs after every ingest (the reference's import jobs
    * assume clean FKs; this VERIFIES instead of assuming). NULL
    * foreign keys are reported separately, not as orphans (a NULL FK
    * is an absent reference, not a dangling one — the SQL convention).
    *
    * Shape at 100 TB: the child collapses to its key-count relation
    * (one shuffle; map-side partials make the exchange key-sized),
    * the parent to its distinct keys; the anti-join then carries ONLY
    * keys and counts — the child bodies never move. One row out.
    * `orphan_ppm` is integer against the non-null child rows. */
  def fkIntegrityAudit(
      child: DataFrame,
      childKey: String,
      parent: DataFrame,
      parentKey: String,
      relation: String): DataFrame = {
    val ck = child.select(col(childKey).cast("string").as("key"))
    val nulls = ck.filter(col("key").isNull)
      .agg(coalesce(count(lit(1)), lit(0L)).as("n_null_rows"))
    val counts = ck.filter(col("key").isNotNull)
      .groupBy(col("key")).agg(count(lit(1)).as("c"))
    val pk = parent.select(col(parentKey).cast("string").as("key"))
      .filter(col("key").isNotNull).distinct()
    val orphans = counts.join(pk, Seq("key"), "left_anti")
      .agg(coalesce(sum(col("c")), lit(0L)).as("n_orphan_rows"),
        count(lit(1)).as("n_orphan_keys"))
    val base = counts
      .agg(coalesce(sum(col("c")), lit(0L)).as("n_child_rows"),
        count(lit(1)).as("n_child_keys"))
    base.crossJoin(orphans).crossJoin(nulls)
      .select(lit(relation).as("relation"),
        col("n_child_rows"), col("n_child_keys"), col("n_null_rows"),
        col("n_orphan_rows"), col("n_orphan_keys"),
        when(col("n_child_rows") > 0,
          expr("n_orphan_rows * 1000000 div n_child_rows"))
          .otherwise(lit(0L)).as("orphan_ppm"))
  }

  /** Key-concentration GINI — the third leg of the pre-shuffle
    * diagnostics triptych ([[keySkewAudit]] names the offenders,
    * [[keyEntropy]] scores balance, this scores CONCENTRATION on the
    * classic 0 = uniform … 1 = one-key-owns-everything scale):
    * `G = (2·Σᵢ i·x₍ᵢ₎ − (n+1)·Σx) / (n·Σx)` over the ascending
    * per-key counts x₍ᵢ₎.
    *
    * The rank-weighted sum never sorts keys globally: keys with the
    * SAME count form one histogram class whose ranks are a contiguous
    * run, so `Σ i·x₍ᵢ₎` collapses to a per-class closed form
    * `c·(m·r₀ + m·(m+1)/2)` over the counts-of-counts relation
    * (r₀ = keys in strictly smaller classes, via an exclusive prefix
    * window over that Aggregate-child histogram — bounded by the
    * distinct count values, the q137 convention).
    *
    * Exactness envelope (the graft_gram discipline): the ppm scaling
    * needs `|2S − (n+1)T| · 10⁶` inside a long, i.e. roughly
    * `n_keys · n_rows < 9.2e12` — guarded with an in-plan raise_error
    * (Spark wraps where the oracle engine promotes — a silent
    * cross-engine divergence otherwise). Past the envelope, run over
    * a deterministic key sample (the q51 sampler): Gini is
    * sample-stable in the key dimension. */
  def keyGini(df: DataFrame, keyCol: String): DataFrame = {
    val counts = df.groupBy(col(keyCol).cast("string").as("key"))
      .agg(count(lit(1)).as("c"))
    val cc = counts.groupBy(col("c")).agg(count(lit(1)).as("m"))
    val byC = Window.orderBy(col("c"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cls = cc.withColumn("r0", coalesce(sum(col("m")).over(byC), lit(0L)))
    cls
      .agg(sum(col("c") * col("m")).as("n_rows"),
        sum(col("m")).as("n_keys"),
        sum(col("c") * (col("m") * col("r0") +
          expr("m * (m + 1) div 2"))).as("_s"))
      .select(col("n_rows"), col("n_keys"),
        when(col("n_rows") <= 0 || col("n_keys") <= 1, lit(0L))
          .otherwise(when(
            abs(lit(2L) * col("_s") - (col("n_keys") + 1L) * col("n_rows"))
              >= lit(9223372036854L),
            raise_error(lit("keyGini: |2S - (n+1)T| * 1e6 exceeds the " +
              "exact-long envelope (~9.2e12); audit a deterministic " +
              "key sample instead")))
            .otherwise(expr(
              "(2 * _s - (n_keys + 1) * n_rows) * 1000000" +
                " div (n_keys * n_rows)")))
          .as("gini_ppm"))
  }

  /** Count–Min HEAVY HITTERS (Cormode & Muthukrishnan, J. Algorithms
    * 2005, determinized on the house hash): every key holding at least
    * `minSharePpm` of the rows, with its EXACT count — without ever
    * shuffling the full distinct-key relation.
    *
    * Why not `groupBy(key).count().filter(...)`: that exchange is
    * distinct-keys-sized — at 10¹⁰ keys of which a dozen are heavy,
    * the shuffle IS the cost, and it is all spent on keys the answer
    * discards. Here every exchange is bounded by construction:
    * `depth` bucket-count rollups of `width` rows each (map-side
    * combine collapses the data to ≤ width partials per task), then a
    * row-level probe through `depth` BROADCAST joins against those
    * tiny sketches — a row survives only if every one of its buckets
    * clears the threshold, and a heavy key's buckets always do
    * (c_bucket ≥ c_key: no false negatives) — and finally an exact
    * count over the SURVIVORS only (heavy keys + hash-collision false
    * positives), which the exact filter then removes. Correctness is
    * width-INDEPENDENT (width=1 degrades to the plain rollup's
    * answer at the plain rollup's cost); width only buys selectivity.
    * The trade, stated: depth+1 scans of one projected column —
    * scans being the cheap resource where exchanges are the scarce
    * one. Threshold is a SHARE (ppm), resolved in-plan against the
    * row count, so the same call is meaningful at every scale. NULL
    * keys are excluded (a NULL is not a key, and `GROUP BY` engines
    * disagree on its identity). Salt `cm<i>:` decouples the rows from
    * every other house-hash use. */
  /** CONTRIBUTION ANALYSIS — the "why did the metric move" drill-down
    * behind every week-over-week dashboard ([[Analytics]] q193 plots
    * the first derivative; this DECOMPOSES it): per-segment row counts
    * under two period predicates, the signed delta, and each segment's
    * share of the TOTAL ABSOLUTE movement in exact ppm.
    *
    * Shares CONSERVE exactly: each segment takes
    * `|Δ|·10⁶ div Σ|Δ|` and the remainder from truncation is absorbed
    * by the LARGEST mover (ties: smallest segment name — via struct-
    * min, no ordered window), so `Σ share_ppm = 10⁶` whenever anything
    * moved at all — the linearAttribution conservation discipline.
    * `Σ|Δ| = 0` (nothing moved) emits all-zero shares, never a
    * division by zero. Rows matching neither predicate are ignored;
    * rows matching both count on both sides (the predicates define
    * the two periods, the operator does not require them disjoint).
    *
    * Shape at 100 TB: one filter + one shuffle of (segment) partial
    * counts into the segment rollup, then three tiny aggregates over
    * that rollup (total movement, winner, floor-share sum) broadcast
    * back — no ordered or unpartitioned window anywhere. */
  /** AUDIENCE OVERLAP matrix — do the same users fire both event
    * types (feature adoption overlap, the segmentation read behind
    * "viewers also purchase"): for every unordered type pair, the
    * exact distinct-user counts, the intersection, and the Jaccard of
    * the two audiences in exact ppm.
    *
    * Shape at 100 TB: ONE shuffle to the distinct (user, type)
    * relation — the only data-sized exchange; the intersection counts
    * come from self-joining that relation on the user key (both sides
    * hash-partition the same way, AQE plans a co-partitioned join)
    * with `type_a < type_b` keeping each pair once, and the per-user
    * fan-out is C(T_u, 2) ≤ types² — enum-bounded, so the pair
    * exchange collapses to types² partial counts under map-side
    * combine. The grid is the types×types broadcast cross of the
    * totals left-joined to the intersections, zero-filled: pairs with
    * NO shared user still emit their row (that absence is the
    * finding). NULL users/types excluded, stated. */
  def audienceOverlap(
      events: DataFrame,
      typeCol: String,
      userCol: String): DataFrame = {
    val ut = events
      .select(col(userCol).cast("string").as("u"),
        col(typeCol).cast("string").as("t"))
      .filter(col("u").isNotNull && col("t").isNotNull)
      .distinct()
    val totals = ut.groupBy(col("t")).agg(count(lit(1)).as("n"))
    val both = ut.select(col("u"), col("t").as("type_a"))
      .join(ut.select(col("u"), col("t").as("type_b")), Seq("u"))
      .filter(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_both"))
    totals.select(col("t").as("type_a"), col("n").as("n_a"))
      .crossJoin(totals.select(col("t").as("type_b"), col("n").as("n_b")))
      .filter(col("type_a") < col("type_b"))
      .join(both, Seq("type_a", "type_b"), "left")
      .withColumn("n_both", coalesce(col("n_both"), lit(0L)))
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
        col("n_both"),
        expr("n_both * 1000000 div (n_a + n_b - n_both)")
          .as("jaccard_ppm"))
  }

  /** TRIANGLE CENSUS over an undirected edge list — the graph-shape
    * read on the near-dup pair graph (how CLIQUISH is the duplication:
    * boilerplate families close their triangles, chains of drifting
    * revisions don't): node/edge counts, wedges `Σ d·(d−1)/2`,
    * closed triangles, and the global clustering coefficient
    * `3·Δ·10⁶ div wedges` in exact ppm.
    *
    * Edges are canonicalized in-plan (least/greatest, self-loops
    * dropped, duplicates and reversals collapsed by DISTINCT), so the
    * caller can hand over any pair relation. Each triangle x<y<z is
    * counted exactly once through its middle vertex: wedges come from
    * joining canonical edges (x,y)⋈(y,z) on the shared middle, closed
    * ones survive the semi-join against (x,z).
    *
    * Shape at 100 TB: the wedge join's output is Σ d² — the census is
    * only as scalable as the graph's degree bound, which is exactly
    * why it belongs on the LSH pair graph: bucket caps bound the
    * degree by construction (K2), so the wedge relation is
    * cap²-per-bucket bounded. On an uncapped graph, cap degrees
    * first (the K24 per-domain-cap shape). Exchanges shuffle 16-byte
    * edges on their join keys; nothing is ever collected. */
  def triangleCensus(
      pairs: DataFrame,
      aCol: String = "a",
      bCol: String = "b",
      maxDegree: Int = Int.MaxValue): DataFrame = {
    require(maxDegree >= 1, s"maxDegree must be >= 1: $maxDegree")
    val e0 = pairs
      .select(least(col(aCol), col(bCol)).as("x"),
        greatest(col(aCol), col(bCol)).as("y"))
      .filter(col("x") < col("y"))
      .distinct()
    // Degree cap (the K24 shape, now first-class): on a DENSE dup
    // graph the wedge join's Σd² goes quadratic — measured: the 10×
    // scale-fixture corpus (31-word vocab ⇒ near-clique dup graph)
    // took the uncapped census from 3.9 s to >600 s. Each node keeps
    // its maxDegree smallest-id neighbors; an edge survives only if
    // BOTH endpoints keep it — deterministic, engine-mirrorable, and
    // the census cost drops to cap²·nodes. Uncapped (the default)
    // preserves exact semantics for bounded graphs like the
    // LSH-capped near-dup relation at real-corpus densities.
    val e = if (maxDegree == Int.MaxValue) e0 else {
      val half = e0.select(col("x").as("v"), col("y").as("w"))
        .unionByName(e0.select(col("y").as("v"), col("x").as("w")))
      val byN = Window.partitionBy(col("v")).orderBy(col("w"))
      half.withColumn("_r", row_number().over(byN))
        .filter(col("_r") <= maxDegree)
        .groupBy(least(col("v"), col("w")).as("x"),
          greatest(col("v"), col("w")).as("y"))
        .agg(count(lit(1)).as("_k"))
        .filter(col("_k") === 2)
        .select(col("x"), col("y"))
    }
    val deg = e.select(explode(array(col("x"), col("y"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    val shape = deg.agg(count(lit(1)).as("n_nodes"),
      coalesce(sum(expr("d * (d - 1) div 2")), lit(0L)).as("n_wedges"))
    val edges = e.agg(count(lit(1)).as("n_edges"))
    val tri = e.as("e1")
      .join(e.as("e2"), col("e1.y") === col("e2.x"))
      .select(col("e1.x").as("x"), col("e2.y").as("y"))
      .join(e, Seq("x", "y"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    shape.crossJoin(edges).crossJoin(tri)
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        when(col("n_wedges") > 0,
          expr("3 * n_triangles * 1000000 div n_wedges"))
          .otherwise(lit(0L)).as("clustering_ppm"))
  }

  /** CHI-SQUARE INDEPENDENCE audit — are two categorical columns
    * associated (event mix shifts by weekday, language mix by source):
    * Pearson's X² = Σ_cells (O−E)²/E over the FULL r×c contingency
    * grid, zero-observed cells included (they carry E>0 mass; a
    * cells-present-only sum understates the statistic).
    *
    * Cross-engine arithmetic (the q67 quantize-then-exact-sum
    * convention): each cell's term is ONE stated IEEE chain —
    * `d = O·N − R·C` exact in longs, then `round(d·d / ((R·C)·N) ·
    * 10⁶)` with the casts and op order fixed — rounded to an integer
    * MICRO term per cell, then summed exactly, so no float ever
    * crosses cells and summation order cannot matter. Exactness
    * envelope: `d` must stay double-exact (|d| ≤ N² < 2⁵³), guarded
    * in-plan at N ≤ 9.4·10⁷ rows with raise_error — past it, run over
    * a deterministic sample (the q51 sampler) or pre-aggregated
    * periods; the statistic is sample-stable. NULL categories are
    * excluded (stated).
    *
    * Shape at 100 TB: one shuffle to the (a, b) cell rollup; row and
    * column totals re-aggregate the rollup; the grid is the r×c
    * broadcast cross of the two marginal relations left-joined back
    * to the cells — everything past the first rollup is
    * marginal-sized. Output one row: n_rows, n_a, n_b, dof,
    * chi2_micro. */
  def chiSquareIndependence(
      df: DataFrame,
      aCol: String,
      bCol: String): DataFrame = {
    val cells = df
      .select(col(aCol).cast("string").as("a"),
        col(bCol).cast("string").as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull)
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("o"))
    val rowT = cells.groupBy(col("a")).agg(sum(col("o")).as("r"))
    val colT = cells.groupBy(col("b")).agg(sum(col("o")).as("c"))
    val tot = cells.agg(sum(col("o")).as("n"),
      countDistinct(col("a")).as("n_a"),
      countDistinct(col("b")).as("n_b"))
    val grid = rowT.crossJoin(colT)
      .join(cells, Seq("a", "b"), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
      .crossJoin(broadcast(tot))
    val guarded = grid.withColumn("_n",
      when(col("n") > 94000000L,
        raise_error(lit("chiSquareIndependence: N exceeds the " +
          "double-exact envelope (9.4e7 rows); audit a deterministic " +
          "sample instead"))).otherwise(col("n")))
    val d = (col("o") * col("_n") - col("r") * col("c")).cast(DoubleType)
    val denom = (col("r") * col("c")).cast(DoubleType) *
      col("_n").cast(DoubleType)
    guarded
      .withColumn("_term", round(d * d / denom * 1e6).cast(LongType))
      .groupBy(col("n"), col("n_a"), col("n_b"))
      .agg(sum(col("_term")).as("chi2_micro"))
      .select(col("n").as("n_rows"), col("n_a"), col("n_b"),
        ((col("n_a") - 1) * (col("n_b") - 1)).as("dof"),
        col("chi2_micro"))
  }

  def contributionAnalysis(
      df: DataFrame,
      segmentCol: String,
      inA: Column,
      inB: Column): DataFrame = {
    val seg = df.filter(inA || inB)
      .groupBy(col(segmentCol).cast("string").as("segment"))
      .agg(sum(when(inA, 1L).otherwise(0L)).as("n_a"),
        sum(when(inB, 1L).otherwise(0L)).as("n_b"))
      .withColumn("delta", col("n_b") - col("n_a"))
    val tot = seg.agg(
      coalesce(sum(abs(col("delta"))), lit(0L)).as("_s"),
      min(struct((-abs(col("delta"))).as("_negabs"),
        col("segment").as("_w"))).as("_win"))
      .select(col("_s"), col("_win._w").as("_w"))
    val based = seg.crossJoin(broadcast(tot))
      .withColumn("_base", when(col("_s") > 0,
        expr("abs(delta) * 1000000 div _s")).otherwise(lit(0L)))
    val floorSum = based.agg(
      coalesce(sum(col("_base")), lit(0L)).as("_fs"))
    based.crossJoin(broadcast(floorSum))
      .select(col("segment"), col("n_a"), col("n_b"), col("delta"),
        (col("_base") + when(col("_s") > 0 && col("segment") === col("_w"),
          lit(1000000L) - col("_fs")).otherwise(lit(0L)))
          .as("share_ppm"))
  }

  def heavyHitters(
      df: DataFrame,
      keyCol: String,
      minSharePpm: Long,
      depth: Int = 3,
      width: Int = 1024): DataFrame = {
    require(minSharePpm >= 1 && minSharePpm <= 1000000,
      s"minSharePpm must be in [1, 1e6]: $minSharePpm")
    require(depth >= 1 && width >= 1, s"need depth, width >= 1: $depth/$width")
    val rows = df.select(col(keyCol).cast("string").as("key"))
      .filter(col("key").isNotNull)
    val thr = rows.agg(count(lit(1)).as("_n"))
      .select(greatest(lit(1L),
        expr(s"_n * $minSharePpm div 1000000")).as("_t"))
    def bucket(i: Int): Column =
      TextDedup.md5Hash60(concat(lit(s"cm$i:"), col("key"))) % width
    val probed = (0 until depth).foldLeft(rows) { (acc, i) =>
      val sketch = rows.groupBy(bucket(i).as(s"_b$i"))
        .agg(count(lit(1)).as(s"_c$i"))
      acc.withColumn(s"_b$i", bucket(i))
        .join(broadcast(sketch), Seq(s"_b$i"))
    }
    val survivors = probed.crossJoin(broadcast(thr))
      .filter((0 until depth).map(i => col(s"_c$i") >= col("_t"))
        .reduce(_ && _))
    survivors.groupBy(col("key")).agg(count(lit(1)).as("n_rows"))
      .crossJoin(broadcast(thr))
      .filter(col("n_rows") >= col("_t"))
      .select(col("key"), col("n_rows"))
  }

  /** MARKET-BASKET ASSOCIATION RULES — support / confidence / lift for
    * item pairs that co-occur in the same basket (order), the classic
    * affinity mine behind "customers who bought A also bought B".
    * Outputs one row per unordered pair with pair support ≥
    * `minSupport`, both directional confidences and the symmetric lift,
    * all in exact integer ppm.
    *
    * Pair generation is a basket-key self-join of the deduplicated
    * (basket, item) relation, so candidates per basket are
    * `size·(size−1)/2` — bounded by `basketCap`: baskets with more
    * than `basketCap` distinct items are DROPPED before the join (the
    * guard-family discipline; one pathological "basket" — a crawler
    * account, a merged cart — would otherwise contribute cap-free
    * quadratic pairs, the same mega-bucket shape the dedup cascade
    * budgets against). The cap is a stated part of the contract, like
    * the funnel's step enum.
    *
    * Shape at 100 TB: one shuffle to dedup (basket, item), a window on
    * the same basket key for the cap (partitioning reused), the
    * self-join co-located on that key, then an aggregation keyed by the
    * pair — whose cardinality the support threshold prunes map-side
    * only AFTER the count, so the exchange carries (pair → partial
    * count) combines, never raw pair rows per occurrence. Supports and
    * the basket total join back item-keyed / broadcast.
    *
    * Exactness envelope: `lift_ppm = n_ab·N·10⁶ div (n_a·n_b)` needs
    * `n_ab·N < 9.2e12` — raise_error past it (mine a sampled slice or
    * raise `minSupport`; lift is ratio-stable under q51 sampling). */
  def associationRules(
      df: DataFrame,
      basketCol: String,
      itemCol: String,
      minSupport: Long,
      basketCap: Int = 100): DataFrame = {
    require(minSupport >= 1, s"minSupport must be >= 1: $minSupport")
    require(basketCap >= 2 && basketCap <= 100000,
      s"basketCap must be in [2, 100000]: $basketCap")
    val b0 = df.select(col(basketCol).as("_bk"), col(itemCol).as("_it"))
      .filter(col("_bk").isNotNull && col("_it").isNotNull)
      .distinct()
    val wb = Window.partitionBy(col("_bk"))
    val b = b0.withColumn("_sz", count(lit(1)).over(wb))
      .filter(col("_sz") <= basketCap)
      .drop("_sz")
    val nb = b.agg(count_distinct(col("_bk")).as("n_baskets"))
    val supp = b.groupBy(col("_it")).agg(count(lit(1)).as("_s"))
    val pairs = b.select(col("_bk"), col("_it").as("item_a"))
      .join(b.select(col("_bk"), col("_it").as("item_b")), Seq("_bk"))
      .filter(col("item_a") < col("item_b"))
      .groupBy(col("item_a"), col("item_b"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minSupport)
    pairs
      .join(supp.select(col("_it").as("item_a"), col("_s").as("n_a")),
        Seq("item_a"))
      .join(supp.select(col("_it").as("item_b"), col("_s").as("n_b")),
        Seq("item_b"))
      .crossJoin(broadcast(nb))
      .select(col("item_a"), col("item_b"), col("n_ab"), col("n_a"),
        col("n_b"), col("n_baskets"),
        // guard by DIVISION — the comparison product itself is 64-bit,
        // so `n_ab * n_baskets >= L` would wrap negative (and pass) at
        // ≥ 2^63 (round-13 ADVICE item #3); n_ab ≥ ⌊L/n_baskets⌋ fires
        // (conservatively, by < one n_baskets) without overflowing
        when(col("n_ab") >=
            expr("9223372036854 div greatest(n_baskets, 1)"),
          raise_error(lit("associationRules: n_ab * n_baskets exceeds " +
            "the exact-long ppm envelope (~9.2e12); raise minSupport or " +
            "mine a q51-sampled slice")))
          .otherwise(expr("n_ab * n_baskets * 1000000 div (n_a * n_b)"))
          .as("lift_ppm"),
        expr("n_ab * 1000000 div n_a").as("conf_ab_ppm"),
        expr("n_ab * 1000000 div n_b").as("conf_ba_ppm"))
  }

  /** ACTIVITY HEATMAP — the weekday × hour usage grid every analytics
    * console renders: per cell, row count and exact ppm share of the
    * corpus, plus the weekday-local share (the "when within the day"
    * read that stays comparable across weekdays of different traffic).
    * Weekday = epoch_day mod 7 (the [[holtWinters]] convention, 0 =
    * Thursday, stated) so both engines derive it from arithmetic, not
    * locale calendars. One map-only classify and one ≤168-row rollup. */
  def activityHeatmap(
      events: DataFrame,
      tsCol: String): DataFrame = {
    val base = events.select(to_date(col(tsCol)).as("_d"),
      hour(col(tsCol)).cast(LongType).as("hour"))
      .filter(col("_d").isNotNull)
      .select((datediff(col("_d"), lit("1970-01-01").cast("date")) % 7)
        .cast(LongType).as("weekday"), col("hour"))
    val cells = base.groupBy(col("weekday"), col("hour"))
      .agg(count(lit(1)).as("n_rows"))
    val tot = cells.agg(sum(col("n_rows")).as("_n"))
    val wd = Window.partitionBy(col("weekday"))
    cells.crossJoin(broadcast(tot))
      .withColumn("_wdn", sum(col("n_rows")).over(wd))
      .select(col("weekday"), col("hour"), col("n_rows"),
        expr("n_rows * 1000000 div _n").as("share_ppm"),
        expr("n_rows * 1000000 div _wdn").as("weekday_share_ppm"))
  }

  /** FREQUENT TRIPLES — the Apriori step above [[associationRules]]:
    * 3-itemsets with support ≥ `minSupport`, mined WITHOUT a three-way
    * basket self-join. The anti-monotone pruning that makes itemset
    * mining tractable at scale: a frequent triple's (a,b) pair must
    * itself be frequent, so candidates extend the FREQUENT-PAIR
    * relation (tiny after the support floor) with co-basket items,
    * and the exact (a<b<c) recount then enforces the full
    * anti-monotone property on the output (a triple at support s
    * necessarily has all three pairs at ≥ s — the extra pair
    * semi-joins classic Apriori adds would shrink only the
    * intermediate, which the support floor already bounds). Basket
    * capping is inherited verbatim from the rules miner.
    *
    * Shape at 100 TB: the basket relation shuffles once (dedup +
    * cap); frequent pairs are support-floored BEFORE the extension
    * join, so the three-way candidate generation touches only
    * baskets×frequent-pairs — the full cubic itemset lattice never
    * exists. */
  def frequentTriples(
      df: DataFrame,
      basketCol: String,
      itemCol: String,
      minSupport: Long,
      basketCap: Int = 100): DataFrame = {
    require(minSupport >= 1, s"minSupport must be >= 1: $minSupport")
    val b0 = df.select(col(basketCol).as("_bk"), col(itemCol).as("_it"))
      .filter(col("_bk").isNotNull && col("_it").isNotNull)
      .distinct()
    val wb = Window.partitionBy(col("_bk"))
    val b = b0.withColumn("_sz", count(lit(1)).over(wb))
      .filter(col("_sz") <= basketCap)
      .drop("_sz")
      .localCheckpoint(true,
        org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val pairs = b.select(col("_bk"), col("_it").as("a"))
      .join(b.select(col("_bk"), col("_it").as("b")), Seq("_bk"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minSupport)
    val cand = pairs
      .join(b.select(col("_bk"), col("_it").as("a")), Seq("a"))
      .join(b.select(col("_bk"), col("_it").as("b")), Seq("_bk", "b"))
      .join(b.select(col("_bk"), col("_it").as("c")), Seq("_bk"))
      .filter(col("c") > col("b"))
      .groupBy(col("a"), col("b"), col("c"))
      .agg(count(lit(1)).as("n_abc"))
      .filter(col("n_abc") >= minSupport)
    cand.select(col("a").as("item_a"), col("b").as("item_b"),
      col("c").as("item_c"), col("n_abc"))
  }

  /** Exact quintile score (0–4) per row of `df` on integer column
    * `metric`, TIES SHARE A SCORE (every row of a value class gets the
    * class's first-row quintile, the standard analyst convention —
    * ntile would split ties arbitrarily AND sort every row through one
    * partition). Distributive: one histogram shuffle on the metric
    * value, an exclusive-prefix window over that Aggregate child
    * (bounded by the value support, the equiDepthHistogram
    * discipline), then a value-keyed join back — rows never globally
    * sort. */
  private def withQuintile(
      df: DataFrame, metric: String, out: String): DataFrame = {
    val h = df.groupBy(col(metric).as("_v")).agg(count(lit(1)).as("_c"))
    val byV = Window.orderBy(col("_v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = h.withColumn("_below",
      coalesce(sum(col("_c")).over(byV), lit(0L)))
    val tot = h.agg(sum(col("_c")).as("_n"))
    val scored = cum.crossJoin(broadcast(tot))
      .select(col("_v").as(metric), expr("_below * 5 div _n").as(out))
    df.join(scored, Seq(metric))
  }

  /** RFM SEGMENTATION — the classic customer-value grid: per customer
    * Recency (days since last order, against the corpus max date so
    * the segmentation is reproducible from the data alone), Frequency
    * (order count) and Monetary (exact cents, scored on whole-dollar
    * quantization so the quintile histogram's support stays bounded),
    * each scored into exact quintiles (5 = best; recency inverts), then
    * rolled up to the 5×5×5 segment grid with customer counts and
    * cent-exact revenue.
    *
    * Scores use [[withQuintile]]: ties share a quintile and no row-level
    * global sort exists anywhere — the three score joins are
    * value-keyed against histogram-sized relations.
    *
    * Shape at 100 TB: one shuffle of orders to the customer key; three
    * metric-histogram shuffles over the CUSTOMER-sized relation (each
    * further reduced to its value support before windowing); one final
    * rollup to ≤ 125 rows. */
  def rfmSegments(
      orders: DataFrame,
      custCol: String,
      dateCol: String,
      amountCents: Column): DataFrame = {
    val perCust = orders
      .select(col(custCol).as("_cust"), to_date(col(dateCol)).as("_d"),
        amountCents.cast(LongType).as("_amt"))
      .filter(col("_cust").isNotNull && col("_d").isNotNull)
      .groupBy(col("_cust"))
      .agg(max(col("_d")).as("_last"), count(lit(1)).as("frequency"),
        sum(col("_amt")).as("cents"))
    val anchor = perCust.agg(max(col("_last")).as("_anchor"))
    val m = perCust.crossJoin(broadcast(anchor))
      .select(col("_cust"), col("frequency"), col("cents"),
        datediff(col("_anchor"), col("_last")).cast(LongType)
          .as("recency_days"),
        expr("cents div 100").as("_dollars"))
    val scored =
      withQuintile(
        withQuintile(
          withQuintile(m, "recency_days", "_qr"),
          "frequency", "_qf"),
        "_dollars", "_qm")
    scored
      .select((lit(5L) - col("_qr")).as("r_score"),
        (col("_qf") + 1L).as("f_score"), (col("_qm") + 1L).as("m_score"),
        col("cents"))
      .groupBy(col("r_score"), col("f_score"), col("m_score"))
      .agg(count(lit(1)).as("n_customers"), sum(col("cents")).as("total_cents"))
      .withColumn("avg_cents", expr("total_cents div n_customers"))
  }

  /** Cumulative Poisson(1) thresholds ×10⁶ (floor), the CONTRACT
    * constants of [[bootstrapCi]]'s weight draw: a uniform micro-draw
    * u lands weight k = #{thresholds ≤ u}. Fixed integers so Spark and
    * the oracle CASE on identical boundaries — fidelity to Poisson(1)
    * beyond 1e-6 is irrelevant to the resample's validity. */
  val PoissonCdfMicro: Seq[Long] =
    Seq(367879L, 735759L, 919699L, 981012L, 996340L, 999406L, 999917L,
      999990L, 999999L)

  /** POISSON-BOOTSTRAP CONFIDENCE INTERVALS — the one-pass resampling
    * scheme that works at 100 TB: instead of materializing B sampled
    * copies of the data (impossible) each row contributes to replicate
    * b with a DETERMINISTIC Poisson(1) weight drawn from
    * md5("boot:" + b + ":" + id), so all B weighted means build in one
    * explode → map-side-combined aggregation and the whole resample is
    * reproducible on any engine (same rows → same intervals; no rand()).
    * Per group: the exact micro-unit point estimate plus the five-number
    * summary (min/q1/median/q3/max) of the B replicate means — the
    * spread IS the sampling distribution of the mean.
    *
    * Replicates whose total weight is zero (only reachable on toy
    * groups; P ≈ e^(−n)) are dropped and `n_reps` reports the survivor
    * count; order-statistic positions are computed from it.
    *
    * Shape at 100 TB: the explode fans each row ×B but feeds partial
    * aggregation immediately — the exchange carries (group × B) partial
    * sums, not row data; everything downstream is replicate-sized.
    * Exactness: values quantize to micro units once (round ×10⁶, the
    * q228 cents discipline); all sums and the `div` means are integer.
    * Envelope: Σ w·v_micro per replicate must stay under 2⁶³ — at
    * |v|≤10³ that is ~10⁹ rows per group per replicate; past it,
    * bootstrap a q51-sampled slice (the CI width is what sampling
    * preserves). */
  def bootstrapCi(
      df: DataFrame,
      groupCol: String,
      idCol: String,
      value: Column,
      reps: Int = 32): DataFrame = {
    require(reps >= 4 && reps <= 1000, s"reps must be in [4, 1000]: $reps")
    val base = df.select(col(groupCol).cast("string").as("g"),
      col(idCol).cast("string").as("_id"),
      round(value * 1000000L).cast(LongType).as("v"))
      .filter(col("g").isNotNull && col("_id").isNotNull &&
        col("v").isNotNull)
    val point = base.groupBy(col("g"))
      .agg(count(lit(1)).as("n_rows"), sum(col("v")).as("_sv"))
      .select(col("g"), col("n_rows"), expr("_sv div n_rows").as("mean_micro"))
    val u = TextDedup.md5Hash60(
      concat(lit("boot:"), col("_b").cast("string"), lit(":"),
        col("_id"))) % 1000000L
    val w = PoissonCdfMicro.reverse.foldLeft(lit(9L)) { (acc, t) =>
      when(col("_u") < t, lit(PoissonCdfMicro.indexOf(t).toLong))
        .otherwise(acc)
    }
    // spread before the reps-way explode + per-(row, rep) md5 — the
    // expensive narrow phase. GATED on input splits: the downstream
    // aggregation is (g, rep)-keyed, no reuse on a wide input
    // (see util.Spread)
    val means = graft.util.Spread.byKeyIfNarrow(base, col("_id"))
      .select(col("g"), col("_id"), col("v"),
        explode(sequence(lit(0), lit(reps - 1))).as("_b"))
      .withColumn("_u", u)
      .withColumn("_w", w)
      .groupBy(col("g"), col("_b"))
      .agg(sum(col("_w")).as("_sw"), sum(col("_w") * col("v")).as("_swv"))
      .filter(col("_sw") > 0)
      .select(col("g"), col("_b"), expr("_swv div _sw").as("_m"))
    val wg = Window.partitionBy(col("g"))
    val ranked = means
      .withColumn("_rn", row_number().over(
        wg.orderBy(col("_m"), col("_b"))))
      .withColumn("_bt", count(lit(1)).over(wg))
    val stats = ranked.groupBy(col("g"))
      .agg(max(col("_bt")).as("n_reps"),
        max(when(col("_rn") === 1, col("_m"))).as("boot_min"),
        max(when(col("_rn") === expr("(_bt - 1) div 4 + 1"), col("_m")))
          .as("boot_q1"),
        max(when(col("_rn") === expr("(_bt - 1) * 2 div 4 + 1"), col("_m")))
          .as("boot_med"),
        max(when(col("_rn") === expr("(_bt - 1) * 3 div 4 + 1"), col("_m")))
          .as("boot_q3"),
        max(when(col("_rn") === col("_bt"), col("_m"))).as("boot_max"))
    point.join(stats, Seq("g"))
      .withColumnRenamed("g", groupCol)
  }

  /** Z-ORDER LOCALITY AUDIT — the quantified case for writing a table
    * in z-order: bucket the relation two ways into `2^bucketBits`
    * buckets — (a) by the top bits of the two-column
    * [[graft.functions.GraftFunctions.zValue]] (the z-ordered file
    * layout) and (b) by the top bits of column a alone (the plain
    * single-column sort layout) — and report each layout's mean
    * per-bucket min/max EXTENT on both columns. A file pruner skips a
    * file when the predicate misses its [min,max]; mean extent IS the
    * expected skip power: the plain layout leaves column b full-range
    * in every bucket, z-order keeps both extents near range/2^(bits/2).
    *
    * Exact integers throughout (bit algebra + integer div); one
    * aggregation per layout over the value-pair relation, outputs 2
    * rows. The audit is the DECISION input; the write itself is
    * `df.repartitionByRange(zValue(a,b)).sortWithinPartitions(...)` —
    * plain Spark, no new machinery. */
  def zOrderAudit(
      df: DataFrame,
      colA: String,
      colB: String,
      bits: Int = 16,
      bucketBits: Int = 8): DataFrame = {
    require(bucketBits >= 1 && bucketBits <= bits,
      s"bucketBits must be in [1, bits=$bits]: $bucketBits")
    import graft.functions.GraftFunctions.zValue
    val base = df.select(
      col(colA).cast(LongType).bitwiseAND(lit((1L << bits) - 1)).as("a"),
      col(colB).cast(LongType).bitwiseAND(lit((1L << bits) - 1)).as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull)
    def audit(layout: String, bucket: Column): DataFrame =
      base.withColumn("_bk", bucket)
        .groupBy(col("_bk"))
        .agg((max(col("a")) - min(col("a"))).as("_ea"),
          (max(col("b")) - min(col("b"))).as("_eb"))
        .agg(count(lit(1)).as("n_buckets"),
          expr("sum(_ea) div count(1)").as("avg_extent_a"),
          expr("sum(_eb) div count(1)").as("avg_extent_b"))
        .select(lit(layout).as("layout"), col("n_buckets"),
          col("avg_extent_a"), col("avg_extent_b"))
    audit("zorder",
      shiftright(zValue(col("a"), col("b"), bits), 2 * bits - bucketBits))
      .unionByName(audit("sort_a", shiftright(col("a"), bits - bucketBits)))
  }

  /** PAGERANK over an undirected pair relation (the near-dup graph) —
    * "which documents sit at the center of large duplication
    * families": canonical-pick and crawl-audit signal the plain degree
    * misses (a hub bridging two families outranks an equal-degree
    * clique member). Exact integer micro-mass contract so any engine
    * reproduces it bit-for-bit:
    * every node starts at 10⁶ micro; each iteration a node with
    * degree d sends each neighbor `damping·r div (100·d)` and every
    * node resets to `(100−damping)·10⁴` plus its inflow. Floor losses
    * and dangling (isolated) mass are DROPPED — stated; ranking is
    * unaffected and conservation-exact variants cost an extra global
    * agg per iteration for no decision value.
    *
    * Shape at 100 TB: each round of [[graft.util.Fixpoint.iterate]] is
    * one join on src with [[graft.util.Fixpoint.symmetricEdges]] (kept
    * to `nodes`) and one inflow aggregation on dst. Iterations are a fixed constant (the
    * stationary-distribution contract), not convergence-tested —
    * deterministic plans, and 10 rounds is past decision-stability on
    * graphs whose diameter the dedup banding bounds. */
  def pageRank(
      edges: DataFrame,
      nodes: DataFrame,
      idCol: String,
      iters: Int = 10,
      dampingPct: Int = 85,
      srcCol: String = "a",
      dstCol: String = "b"): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters must be in [1,50]: $iters")
    require(dampingPct >= 1 && dampingPct <= 99,
      s"dampingPct must be in [1,99]: $dampingPct")
    val base = (100 - dampingPct) * 10000L
    // The loop runs over the closure restricted to src,dst ∈ nodes
    // (`undLoop`): every node that sends also receives (its reverse
    // edge is present), so the inflow aggregation enumerates the loop
    // nodes and no round joins `nodes`. A node with no in-`nodes`
    // neighbor ranks `base`, which the final coalesce supplies.
    // Degrees count EVERY und neighbor (in or out of `nodes`).
    val und = Fixpoint.symmetricEdges(edges, srcCol, dstCol)
    val deg = und.groupBy(col("src")).agg(count(lit(1)).as("d"))
    val ids = nodes.select(col(idCol).as("id"))
    val undLoop = und.join(deg, Seq("src"))
      .join(ids.select(col("id").as("src")), Seq("src"), "left_semi")
      .join(ids.select(col("id").as("dst")), Seq("dst"), "left_semi")
      .localCheckpoint(true,
        org.apache.spark.storage.StorageLevel.DISK_ONLY)
    // round 1 folded: inflow₁(u) = Σ_{v∈N(u)} damping·10⁶ div (100·d_v)
    val ranks1 = undLoop
      .select(col("dst").as("id"),
        expr(s"$dampingPct * 1000000 div (100 * d)").as("c"))
      .groupBy(col("id"))
      .agg((lit(base) + sum(col("c"))).as("r"))
    val ranks = Fixpoint.iterate(ranks1, iters - 1) { ranks =>
      undLoop
        .join(ranks.withColumnRenamed("id", "src"), Seq("src"))
        .select(col("dst").as("id"),
          expr(s"$dampingPct * r div (100 * d)").as("c"))
        .groupBy(col("id"))
        .agg((lit(base) + sum(col("c"))).as("r"))
    }
    nodes.select(col(idCol).as("id"))
      .join(ranks, Seq("id"), "left")
      .join(deg.withColumnRenamed("src", "id"), Seq("id"), "left")
      .select(col("id"), coalesce(col("d"), lit(0L)).as("degree"),
        coalesce(col("r"), lit(base)).as("rank_micro"))
  }

  /** POPULATION STABILITY INDEX — the deployed-scorer drift metric
    * next to [[ksDrift]] (ordered two-sample) and [[klDivergence]]
    * (categorical): the BASELINE slice's [min,max] fixes `nBins`
    * equal-width bins (the binning that shipped with the model — the
    * point of PSI is that the bins do NOT re-fit), the current slice
    * clamps into the edge bins, and each bin contributes
    * `(p_cur − p_base)·ln(p_cur/p_base)`. Counts are add-one smoothed
    * over the FULL bin space — every bin 0..nBins−1 is emitted, even
    * ones empty in both slices, so the smoothed shares genuinely sum
    * to ~10⁶ ppm (textbook PSI; unlike KL the caller expects a finite
    * number here). An EMPTY baseline slice fails fast in-plan
    * (raise_error): without baseline rows the bin grid is undefined
    * and any smoothed shares would be meaningless.
    *
    * Cross-engine arithmetic (the q67/q211 convention): shares as
    * exact ppm of the smoothed totals, the log ratio as ONE libm ln
    * of an exact-long ratio rounded to micro-nats, the term as
    * `(ppm diff)·(micro ln) div 10⁶` — an exact integer in
    * micro-PSI units; Σ term_micro over bins is the PSI reading
    * (<10⁴ stable, >2.5·10⁵ action — the industry rule of thumb,
    * scaled). Shape: one pass for the baseline min/max, one map-only
    * classify + a ≤nBins rollup. */
  def psiDrift(
      df: DataFrame,
      groupCol: String,
      score: Column,
      baseline: String,
      current: String,
      nBins: Int = 10): DataFrame = {
    require(baseline != current, "PSI needs two distinct slices")
    require(nBins >= 2 && nBins <= 10000, s"nBins must be in [2,1e4]: $nBins")
    val q = df.select(col(groupCol).cast("string").as("g"),
        score.cast(LongType).as("_s"))
      .filter(col("_s").isNotNull && col("g").isin(baseline, current))
    val mm = q.filter(col("g") === baseline)
      .agg(min(col("_s")).as("_mn"), max(col("_s")).as("mx"))
      .select(
        when(col("_mn").isNull,
          raise_error(lit("psiDrift: baseline slice has no rows — the " +
            "bin grid is undefined; check the baseline key")))
          .otherwise(col("_mn")).as("mn"),
        col("mx"))
    val counts = q.crossJoin(broadcast(mm))
      .select(col("g"),
        when(col("mx") === col("mn"), lit(0L))
          .otherwise(greatest(lit(0L), least(lit(nBins - 1L),
            expr(s"(_s - mn) * $nBins div (mx - mn + 1)")))).as("bin"))
      .groupBy(col("bin"))
      .agg(count(when(col("g") === baseline, 1)).as("n_base"),
        count(when(col("g") === current, 1)).as("n_cur"))
    // full bin space: bins empty in BOTH slices still smooth and sum
    val binned = df.sparkSession.range(nBins).select(col("id").as("bin"))
      .join(counts, Seq("bin"), "left")
      .select(col("bin"),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
    val tot = binned.agg(coalesce(sum(col("n_base")), lit(0L)).as("tb"),
      coalesce(sum(col("n_cur")), lit(0L)).as("tc"))
    binned.crossJoin(broadcast(tot))
      .select(col("bin"), col("n_base"), col("n_cur"),
        expr(s"(n_base + 1) * 1000000 div (tb + $nBins)").as("p_base_ppm"),
        expr(s"(n_cur + 1) * 1000000 div (tc + $nBins)").as("p_cur_ppm"),
        round(log(((col("n_cur") + 1) * (col("tb") + nBins)).cast("double") /
            ((col("n_base") + 1) * (col("tc") + nBins)).cast("double")) * 1e6)
          .cast(LongType).as("_lr"))
      .select(col("bin"), col("n_base"), col("n_cur"),
        col("p_base_ppm"), col("p_cur_ppm"),
        expr("(p_cur_ppm - p_base_ppm) * _lr div 1000000").as("term_micro"))
  }

  /** EXACT TRIMMED MEAN per group — the robust KPI next to
    * [[madOutliers]] and `Curation.winsorize`: drop the lowest and
    * highest `trimPpm` of ROWS per group (k = n·trim div 10⁶ each
    * side, an exact count) and average the remainder — but computed
    * from the per-(group, value) COUNT relation, never a per-row
    * sort: the cut masses come from cumulative windows over the
    * value support, with the boundary value class taken PARTIALLY
    * (exactly the rows a row-ranked trim would drop). Integer
    * division truncates toward zero — the fixture keeps values
    * nonnegative, and signed callers get the stated q252 sign-split
    * in their oracle. Fails fast when trimming would eat the whole
    * group. Output: group, n_rows, n_trimmed_each, trimmed_mean,
    * plain_mean. */
  def trimmedMean(
      df: DataFrame,
      groupCol: String,
      value: Column,
      trimPpm: Long): DataFrame = {
    require(trimPpm >= 0 && trimPpm < 500000,
      s"trimPpm must be in [0, 5e5): $trimPpm")
    val q = df.select(col(groupCol).cast("string").as("g"),
        value.cast(LongType).as("v"))
      .filter(col("g").isNotNull && col("v").isNotNull)
    val h = q.groupBy(col("g"), col("v")).agg(count(lit(1)).as("c"))
    val asc = Window.partitionBy(col("g")).orderBy(col("v").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val all = Window.partitionBy(col("g"))
    val e = h
      .withColumn("_cum", sum(col("c")).over(asc))
      .withColumn("_n", sum(col("c")).over(all))
      .withColumn("_sv", sum(col("c") * col("v")).over(all))
      .withColumn("_k", expr(s"_n * $trimPpm div 1000000"))
      .withColumn("_lo",
        least(col("c"), greatest(lit(0L), col("_k") - (col("_cum") - col("c")))))
      .withColumn("_hi",
        least(col("c"), greatest(lit(0L), col("_k") - (col("_n") - col("_cum")))))
    e.groupBy(col("g"))
      .agg(max(col("_n")).as("n_rows"), max(col("_k")).as("n_trimmed_each"),
        max(col("_sv")).as("_svm"),
        sum(col("_lo") * col("v")).as("_losum"),
        sum(col("_hi") * col("v")).as("_hisum"))
      .select(col("g").as(groupCol), col("n_rows"), col("n_trimmed_each"),
        when(col("n_rows") - col("n_trimmed_each") * 2 <= 0,
          raise_error(lit("trimmedMean: trim eats the whole group — " +
            "lower trimPpm or drop the group")))
          .otherwise(expr(
            "(_svm - _losum - _hisum) div (n_rows - 2 * n_trimmed_each)"))
          .as("trimmed_mean"),
        expr("_svm div n_rows").as("plain_mean"))
  }

  /** MAJORITY LABEL PROPAGATION over an undirected pair relation —
    * semi-supervised label SPREADING: a small seeded subset (human
    * labels, trusted-source tags) pushes labels across the near-dup /
    * similarity graph in `iters` synchronous rounds, the standard way
    * a corpus gets weak labels from few annotations. Deterministic by
    * construction: seeds are CLAMPED (never overwritten), an unseeded
    * node takes the majority label among its LABELED neighbors from
    * the previous round with ties broken (count DESC, label ASC), and
    * a node with no labeled neighbor keeps its previous label (null
    * until first reached). Fixed round count, not convergence-tested
    * (the [[pageRank]] contract — deterministic plans).
    *
    * Shape at 100 TB: each round of [[graft.util.Fixpoint.iterate]]
    * is one join with [[graft.util.Fixpoint.symmetricEdges]] + one
    * (node, label)-keyed count + one top-1 window; labels are the only
    * thing that shuffles. The window partitions by node id over the per-(node, label) COUNT relation — bounded by a
    * node's distinct neighbor labels, never its raw degree. */
  def labelPropagation(
      edges: DataFrame,
      nodes: DataFrame,
      idCol: String,
      seeds: DataFrame, // (idCol, label)
      iters: Int = 3,
      srcCol: String = "a",
      dstCol: String = "b"): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters must be in [1,50]: $iters")
    // the seed column rides inside the loop state: no round re-joins it
    val und = Fixpoint.symmetricEdges(edges, srcCol, dstCol)
    val ids = nodes.select(col(idCol).as("id"))
    val seed = seeds.select(col(idCol).as("id"), col("label").as("_seed"))
    val lab0 = ids.join(seed, Seq("id"), "left")
      .select(col("id"), col("_seed").as("label"), col("_seed"))
    val lab = Fixpoint.iterate(lab0, iters) { lab =>
      val counts = und
        .join(lab.select(col("id").as("dst"), col("label").as("_nl")),
          Seq("dst"))
        .filter(col("_nl").isNotNull)
        .groupBy(col("src").as("id"), col("_nl"))
        .agg(count(lit(1)).as("_c"))
      val top = Window.partitionBy(col("id"))
        .orderBy(col("_c").desc, col("_nl").asc)
      val maj = counts.withColumn("_rn", row_number().over(top))
        .filter(col("_rn") === 1)
        .select(col("id"), col("_nl").as("_maj"))
      lab.join(maj, Seq("id"), "left")
        .select(col("id"),
          coalesce(col("_seed"), col("_maj"), col("label")).as("label"),
          col("_seed"))
    }
    lab.select(col("id"), col("label"), col("_seed").isNotNull.as("is_seed"))
  }

  /** RELIABILITY DIAGRAM — the calibration audit for any scorer a
    * curation gate trusts (quality scorer, toxicity model, dedup
    * confidence): scores bin into `nBins` equal-width buckets (the
    * [[histogram]] binning contract, exact integer) and each bucket
    * reports its size, exact mean score and positive-label rate in
    * ppm. A well-calibrated scorer's pos_ppm rises monotonically with
    * the bin; a flat or folded curve means thresholds on this score
    * are arbitrary — the check that belongs next to K198's
    * classification report. One pass for min/max (broadcast scalar),
    * one map-only classify + a ≤nBins rollup. */
  def reliabilityDiagram(
      df: DataFrame,
      score: Column, // integer-valued
      label: Column, // boolean
      nBins: Int = 10): DataFrame = {
    require(nBins >= 2 && nBins <= 10000, s"nBins must be in [2,1e4]: $nBins")
    val base = df.select(score.cast(LongType).as("_s"),
        label.cast("boolean").as("_y"))
      .filter(col("_s").isNotNull && col("_y").isNotNull)
    val mm = base.agg(min(col("_s")).as("mn"), max(col("_s")).as("mx"))
    base.crossJoin(broadcast(mm))
      .select(
        when(col("mx") === col("mn"), lit(0L))
          .otherwise(least(lit(nBins - 1L),
            expr(s"(_s - mn) * $nBins div (mx - mn + 1)"))).as("bin"),
        col("_s"), col("_y"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("_s")).as("_ss"),
        count(when(col("_y"), 1)).as("_np"))
      .select(col("bin"), col("n_rows"),
        expr("_ss div n_rows").as("mean_score"),
        expr("_np * 1000000 div n_rows").as("pos_ppm"))
  }

  /** U-SHAPED (position-based, 40/20/40) ATTRIBUTION — the third
    * point of the attribution family next to last-touch (K122),
    * linear (K143) and time-decay (K196): per conversion the FIRST
    * touch gets 40%, the LAST 40%, and the middles split the
    * remaining 20% equally — exact integer ppm with the remainder of
    * the middle split pinned to the FIRST touch (stated; the K143
    * remainder-to-last convention mirrored to the U-shape's
    * first-touch emphasis). One touch → 100%; two → 50/50 by touch
    * (a repeated channel accumulates). Zero-touch conversions credit
    * the 'none' channel. Same-timestamp touches order by
    * (timestamp, type) — the K122 lexicographic contract.
    *
    * Shape: one pass over events with three running windows (first
    * touch, last touch, per-channel counts) — no per-conversion touch
    * list ever materializes. */
  def positionAttribution(
      events: DataFrame,
      userCol: String,
      tsCol: String,
      typeCol: String,
      conversionType: String,
      channelTypes: Seq[String]): DataFrame = {
    require(channelTypes.nonEmpty, "need at least one channel type")
    val w = Window.partitionBy(col(userCol))
      .orderBy(unix_millis(col(tsCol)))
      .rangeBetween(Window.unboundedPreceding, -1)
    def touchKey: Column =
      when(col(typeCol).isin(channelTypes: _*),
        concat(lpad(unix_millis(col(tsCol)).cast("string"), 20, "0"),
          lit("#"), col(typeCol)))
    val counted = channelTypes.zipWithIndex.foldLeft(
      events.select(col(userCol), col(tsCol), col(typeCol))
        .withColumn("_first", min(touchKey).over(w))
        .withColumn("_last", max(touchKey).over(w))) {
      case (d, (c, i)) =>
        d.withColumn(s"_n$i",
          coalesce(sum(when(col(typeCol) === c, 1L)).over(w), lit(0L)))
    }
    val conv = counted.filter(col(typeCol) === conversionType)
      .withColumn("_k",
        channelTypes.indices.map(i => col(s"_n$i")).reduce(_ + _))
      .withColumn("_fc", substring_index(col("_first"), "#", -1))
      .withColumn("_lc", substring_index(col("_last"), "#", -1))
      // middle share per touch and its remainder (k >= 3 only)
      .withColumn("_m", when(col("_k") >= 3,
        expr("200000 div (_k - 2)")).otherwise(lit(0L)))
      .withColumn("_rem", when(col("_k") >= 3,
        lit(200000L) - (col("_k") - 2) * col("_m")).otherwise(lit(0L)))
    val credited = conv.select(
      explode(array(channelTypes.zipWithIndex.map { case (c, i) =>
        val isF = col("_fc") === c
        val isL = col("_lc") === c
        val credit =
          when(col("_k") === 0, lit(0L))
            .when(col("_k") === 1, when(isF, lit(1000000L)).otherwise(lit(0L)))
            .when(col("_k") === 2,
              when(isF, lit(500000L)).otherwise(lit(0L)) +
                when(isL, lit(500000L)).otherwise(lit(0L)))
            .otherwise(
              when(isF, lit(400000L) + col("_rem")).otherwise(lit(0L)) +
                when(isL, lit(400000L)).otherwise(lit(0L)) +
                (col(s"_n$i")
                  - when(isF, lit(1L)).otherwise(lit(0L))
                  - when(isL, lit(1L)).otherwise(lit(0L))) * col("_m"))
        struct(lit(c).as("channel"), col(s"_n$i").as("touches"),
          credit.as("credit"))
      } :+ struct(lit("none").as("channel"), lit(0L).as("touches"),
        when(col("_k") === 0, lit(1000000L)).otherwise(lit(0L))
          .as("credit")): _*)).as("e"))
      .select(col("e.channel").as("channel"), col("e.touches").as("touches"),
        col("e.credit").as("credit"))
    credited.groupBy(col("channel"))
      .agg(count(when(col("credit") > 0, 1)).as("n_conversions"),
        sum(col("touches")).as("touches"),
        sum(col("credit")).as("credit_ppm"))
      .filter(col("touches") > 0 || col("credit_ppm") > 0)
  }

  /** COHEN'S KAPPA — chance-corrected agreement between two raters
    * over the same rows: the label-quality audit a human-annotation or
    * LLM-judge pipeline runs before trusting its labels (two judges
    * that agree 80% of the time sound good until chance alone gives
    * 75%). κ = (p_o − p_e)/(1 − p_e) with p_o the observed agreement
    * share and p_e the chance agreement Σ_k p_A(k)·p_B(k).
    *
    * Exact integers end to end: p_o and p_e as ppm of n and n²
    * (envelope n ≤ 3.03·10⁶ so Σ_k rowMarg·colMarg·10⁶ stays inside
    * long — raise_error past it, audit a sampled slice), κ itself as
    * `(po − pe)·10⁶ div (10⁶ − pe)` in ppm. Degenerate chance-perfect
    * marginals (pe = 10⁶: both raters constant on the same label)
    * yield NULL — κ is undefined there, stated. Rows where either
    * rating is NULL are dropped (stated).
    *
    * Shape at 100 TB: one classes² cell rollup off a single shuffle,
    * marginal joins on the label (classes-sized), a one-row verdict. */
  def cohenKappa(df: DataFrame, raterA: Column, raterB: Column): DataFrame = {
    val q = df.select(raterA.cast("string").as("a"),
        raterB.cast("string").as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull)
    val cells = q.groupBy(col("a"), col("b")).agg(count(lit(1)).as("c"))
    val ra = cells.groupBy(col("a").as("k")).agg(sum(col("c")).as("na"))
    val rb = cells.groupBy(col("b").as("k")).agg(sum(col("c")).as("nb"))
    val marg = ra.join(rb, Seq("k"), "full_outer")
      .select(col("k"), coalesce(col("na"), lit(0L)).as("na"),
        coalesce(col("nb"), lit(0L)).as("nb"))
    val core = cells.agg(sum(col("c")).as("n"),
      coalesce(sum(when(col("a") === col("b"), col("c"))), lit(0L))
        .as("n_agree"))
    val chance = marg.agg(count(lit(1)).as("n_classes"),
      sum(col("na") * col("nb")).as("pe_num"))
    core.crossJoin(broadcast(chance))
      .select(col("n"), col("n_agree"), col("n_classes"),
        when(col("n") > 3030000L,
          raise_error(lit("cohenKappa: n exceeds the exact-long ppm " +
            "envelope (~3.03e6); audit a sampled slice")))
          .otherwise(expr("n_agree * 1000000 div n")).as("po_ppm"),
        expr("pe_num * 1000000 div (n * n)").as("pe_ppm"))
      .select(col("n"), col("n_agree"), col("n_classes"),
        col("po_ppm"), col("pe_ppm"),
        when(col("pe_ppm") === 1000000L, lit(null).cast(LongType))
          .otherwise(expr(
            "(po_ppm - pe_ppm) * 1000000 div (1000000 - pe_ppm)"))
          .as("kappa_ppm"))
  }

  /** BRADLEY–TERRY preference strengths — the pairwise-comparison
    * model under every RLHF preference dataset and chat-arena
    * leaderboard: matches (winner, loser) → a latent strength π per
    * item with P(i beats j) = π_i/(π_i + π_j), fit by Hunter's MM
    * iteration π_i ← W_i / Σ_j n_ij/(π_i + π_j) from a uniform start,
    * renormalized each round to Σπ = nItems·10⁶.
    *
    * Exact integer µ-units cross-engine: the pair term is
    * `n_ij·10¹² div (π_i + π_j)` (envelope n_ij < 9.2·10⁶
    * raise_error-guarded — past it, aggregate matches to coarser
    * units), the update `W_i·10¹² div D_i`, the renormalization
    * `π·(nItems·10⁶) div Σπ`. A fixed `iters` unrolls in the oracle
    * as one CTE per round — convergence is geometric and rank order
    * stabilizes in a handful of rounds; never-winners sit at 0
    * (their MLE), never-losers soak the normalized mass (stated;
    * the true MLE diverges there).
    *
    * Shape at 100 TB: matches roll up ONCE to the pair relation
    * (items²-bounded, in practice comparison-graph-sized); each MM
    * round is pair⋈strengths joins on item-keyed relations —
    * corpus-sized data is touched exactly once. The rounds run on
    * [[graft.util.Fixpoint.iterate]]. */
  def bradleyTerry(
      matches: DataFrame,
      winnerCol: String,
      loserCol: String,
      iters: Int = 4): DataFrame = {
    require(iters >= 1 && iters <= 8, s"iters must be in [1,8]: $iters")
    val m = matches.select(col(winnerCol).cast("string").as("w"),
        col(loserCol).cast("string").as("l"))
      .filter(col("w").isNotNull && col("l").isNotNull &&
        col("w") =!= col("l"))
    val g = m.select(least(col("w"), col("l")).as("i"),
        greatest(col("w"), col("l")).as("j"),
        (col("w") < col("l")).as("lo_won"))
      .groupBy(col("i"), col("j"))
      .agg(count(lit(1)).as("n"),
        coalesce(sum(when(col("lo_won"), 1L)), lit(0L)).as("wi"))
      .select(col("i"), col("j"),
        when(col("n") >= 9200000L,
          raise_error(lit("bradleyTerry: n_ij exceeds the exact-long " +
            "term envelope (~9.2e6 matches per pair); aggregate first")))
          .otherwise(col("n")).as("n"),
        col("wi"))
    val wins = m.groupBy(col("w").as("item")).agg(count(lit(1)).as("n_wins"))
    val items = m.select(col("w").as("item"))
      .unionByName(m.select(col("l").as("item"))).distinct()
    // pair- and item-sized anchors, each read by EVERY MM round: one
    // materialization apiece keeps the per-round plan flat
    val gC = g.localCheckpoint()
    val stats = items
      .join(wins, Seq("item"), "left")
      .select(col("item"), coalesce(col("n_wins"), lit(0L)).as("n_wins"))
      .localCheckpoint()
    val pi0 = stats.select(col("item"), lit(1000000L).as("r"))
    val pi = Fixpoint.iterate(pi0, iters) { pi =>
      val terms = gC
        .join(pi.select(col("item").as("i"), col("r").as("ri")), Seq("i"))
        .join(pi.select(col("item").as("j"), col("r").as("rj")), Seq("j"))
        .select(explode(array(
          struct(col("i").as("item"),
            expr("n * 1000000000000 div (ri + rj)").as("t")),
          struct(col("j").as("item"),
            expr("n * 1000000000000 div (ri + rj)").as("t")))).as("e"))
        .select(col("e.item").as("item"), col("e.t").as("t"))
      val d = terms.groupBy(col("item")).agg(sum(col("t")).as("dsum"))
      val raw = stats.join(d, Seq("item"), "left")
        .select(col("item"),
          when(col("dsum").isNull || col("n_wins") === 0, lit(0L))
            .otherwise(expr("n_wins * 1000000000000 div dsum")).as("r1"))
      // items-sized relation: the two unpartitioned windows are over
      // the MM state, never the match corpus. nItems ≤ 2000 keeps
      // r1·nItems·10⁶ provably inside long (r1 ≤ 2·10⁶·nItems).
      raw
        .withColumn("_tot", sum(col("r1")).over(Window.partitionBy()))
        .withColumn("_cnt", count(lit(1)).over(Window.partitionBy()))
        .select(col("item"),
          when(col("_cnt") > 2000L,
            raise_error(lit("bradleyTerry: item count exceeds the " +
              "normalization envelope (2000); shard the leaderboard")))
            .otherwise(expr("r1 * (_cnt * 1000000) div _tot")).as("r"))
    }
    val nMatches = gC.select(explode(array(
        struct(col("i").as("item"), col("n")),
        struct(col("j").as("item"), col("n")))).as("e"))
      .groupBy(col("e.item").as("item")).agg(sum(col("e.n")).as("n_matches"))
    stats.join(nMatches, Seq("item"), "left")
      .join(pi, Seq("item"))
      .select(col("item"), col("n_wins"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        col("r").as("strength_micro"))
  }

  /** QUANTILE-SKETCH AUDIT — certifies Spark's own mergeable
    * percentile sketch (`percentile_approx`, the KLL-style digest
    * that IS the 100 TB quantile path: partials merge, nothing
    * sorts globally) against its rank-error contract on real data.
    * For each group and requested percentile, the sketch's returned
    * ELEMENT is located exactly in the per-(group, value) histogram:
    * rank interval [#<v + 1, #≤v] vs the target rank ⌈p·n⌉; the miss
    * distance in ppm of n must stay within 10⁶/accuracy (+ slack).
    * The oracle pins `within_eps` true and re-derives (group, n) —
    * the q241 audit convention for sketch outputs an oracle cannot
    * reproduce; the spec exercises the rank math on hand fixtures.
    * Shape: one value-histogram shuffle + one sketch aggregation;
    * the audit join is (groups × percentiles)-sized. */
  def quantileSketchAudit(
      df: DataFrame,
      groupCol: String,
      value: Column,
      percentilesPpm: Seq[Long],
      accuracy: Int = 10000,
      slackPpm: Long = 0L): DataFrame = {
    require(percentilesPpm.nonEmpty &&
      percentilesPpm.forall(p => p >= 0 && p <= 1000000),
      "percentiles must be ppm in [0, 1e6]")
    require(accuracy >= 100, s"accuracy must be >= 100: $accuracy")
    val q = df.select(col(groupCol).cast("string").as("g"),
        value.cast(LongType).as("v"))
      .filter(col("g").isNotNull && col("v").isNotNull)
    val h = q.groupBy(col("g"), col("v")).agg(count(lit(1)).as("c"))
    val pcts = percentilesPpm.map(_ / 1e6)
    val approx = q.groupBy(col("g"))
      .agg(percentile_approx(col("v"),
        array(pcts.map(lit): _*), lit(accuracy)).as("_av"))
      .select(col("g"), posexplode(col("_av")).as(Seq("_pi", "_val")))
      .select(col("g"),
        element_at(
          array(percentilesPpm.map(lit): _*), col("_pi") + 1).as("pctile_ppm"),
        col("_val"))
    val ranked = approx.join(h, Seq("g"))
      .groupBy(col("g"), col("pctile_ppm"), col("_val"))
      .agg(sum(col("c")).as("n_rows"),
        coalesce(sum(when(col("v") < col("_val"), col("c"))), lit(0L))
          .as("_lo"),
        coalesce(sum(when(col("v") <= col("_val"), col("c"))), lit(0L))
          .as("_hi"))
    ranked
      .withColumn("_t", // target rank ⌈p·n⌉, floored at 1 (p=0 = the min)
        greatest(lit(1L),
          expr("(pctile_ppm * n_rows + 999999) div 1000000")))
      .withColumn("_err",
        when(col("_t") >= col("_lo") + 1 && col("_t") <= col("_hi"), lit(0L))
          .otherwise(least(abs(col("_t") - (col("_lo") + 1)),
            abs(col("_t") - col("_hi")))))
      .select(col("g").as(groupCol), col("pctile_ppm"), col("n_rows"),
        (expr("_err * 1000000 div greatest(n_rows, 1)") <=
          lit(1000000L / accuracy + slackPpm)).as("within_eps"))
  }

  /** BRIER-SCORE DECOMPOSITION — the scalar companion to the q270
    * reliability diagram: mean squared probability error split into
    * Murphy's reliability − resolution + uncertainty over equal-width
    * probability bins. Exact integers in micro (ppm-of-ppm²) units:
    * per-row (p_ppm − o·10⁶)² summed exactly then `div (n·10⁶)`; per
    * bin, n_k·(p̄_k − ō_k)² and n_k·(ō_k − ō)² with the bin means as
    * exact ppm `div` — the integer identity holds up to the stated
    * truncations (each TERM is exact for its formula; the real-number
    * identity brier = rel − res + unc is approximate, stated). The
    * n ≤ 9.2·10⁶ long envelope is raise_error-guarded (sample past
    * it). Shape: one nBins rollup, one-row verdict. */
  def brierDecomposition(
      df: DataFrame,
      probPpm: Column,
      outcome: Column,
      nBins: Int = 10): DataFrame = {
    require(nBins >= 2 && nBins <= 1000, s"nBins must be in [2,1e3]: $nBins")
    val q = df.select(probPpm.cast(LongType).as("p"),
        outcome.cast("boolean").as("o"))
      .filter(col("p").isNotNull && col("o").isNotNull)
      .select(col("p"), when(col("o"), 1L).otherwise(0L).as("ob"))
    val binned = q
      .select(col("p"), col("ob"),
        least(lit(nBins - 1L), expr(s"p * $nBins div 1000001")).as("bin"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("nk"), sum(col("p")).as("sp"),
        sum(col("ob")).as("so"),
        sum(expr("(p - ob * 1000000) * (p - ob * 1000000)")).as("sq"))
    val tot = binned.agg(sum(col("nk")).as("n"), sum(col("so")).as("son"),
      sum(col("sq")).as("sqn"))
    binned.crossJoin(broadcast(tot))
      .select(col("n"),
        when(col("n") > 9200000L,
          raise_error(lit("brierDecomposition: n exceeds the exact-long " +
            "sum-of-squares envelope (~9.2e6); sample first")))
          .otherwise(expr("son * 1000000 div n")).as("obar"),
        col("sqn"), col("nk"),
        expr("sp div nk").as("pbar"),
        expr("so * 1000000 div nk").as("okbar"))
      .groupBy(col("n"), col("obar"), col("sqn"))
      .agg(
        sum(expr("nk * ((pbar - okbar) * (pbar - okbar))")).as("reln"),
        sum(expr("nk * ((okbar - obar) * (okbar - obar))")).as("resn"))
      .select(col("n"),
        expr("sqn div (n * 1000000)").as("brier_micro"),
        expr("reln div (n * 1000000)").as("reliability_micro"),
        expr("resn div (n * 1000000)").as("resolution_micro"),
        expr("obar * (1000000 - obar) div 1000000").as("uncertainty_micro"))
  }

  /** PROPENSITY-SCORE MATCHING (ATT, with replacement, caliper) —
    * the observational-causal read the experimentation family
    * (A/B q195, DiD [[diffInDiff]]) can't give when assignment
    * wasn't randomized: every treated row matches the control CLASS
    * with the nearest propensity score (equidistant ties: the lower
    * score side — fully deterministic), takes that class's EXACT
    * mean outcome (every control at the matched score is equally
    * near; averaging them is the lowest-variance deterministic
    * choice), reports unmatched-past-the-caliper instead of silently
    * dropping it, and states ATT as the exact mean treated−matched
    * gap in micro units.
    *
    * Shape at 100 TB: controls collapse FIRST to one class per
    * DISTINCT integer score, treated classes explode to 3
    * caliper-width bucket keys so the match is an EQUI-join (hash,
    * never a nested loop) — and because scores are integers,
    * classes-in-range is ≤ 2·caliper+1 by construction: bounded
    * fan-out, no global sort anywhere. */
  def propensityMatch(
      df: DataFrame,
      treatedCol: Column,
      scorePpm: Column,
      outcome: Column,
      caliperPpm: Long = 10000L): DataFrame = {
    require(caliperPpm >= 0 && caliperPpm <= 1000000,
      s"caliperPpm must be in [0, 1e6]: $caliperPpm")
    val q = df.select(treatedCol.cast("boolean").as("t"),
        scorePpm.cast(LongType).as("s"),
        outcome.cast(LongType).as("y"))
      .filter(col("t").isNotNull && col("s").isNotNull && col("y").isNotNull)
    val bsz = math.max(caliperPpm, 1L)
    // one class per distinct control score, carrying its exact mean
    val reps = q.filter(!col("t"))
      .groupBy(col("s").as("cs"))
      .agg(expr("sum(y) * 1000000 div count(1)").as("cy_micro"))
      .withColumn("cbk", expr(s"cs div $bsz"))
    // treated classes (distinct (s, y) with multiplicity) x 3 buckets
    val classes = q.filter(col("t")).groupBy(col("s"), col("y"))
      .agg(count(lit(1)).as("n"))
    val cand = classes
      .withColumn("jb", explode(array(expr(s"s div $bsz - 1"),
        expr(s"s div $bsz"), expr(s"s div $bsz + 1"))))
      .join(reps, col("jb") === col("cbk") &&
        abs(col("cs") - col("s")) <= lit(caliperPpm))
    val best = cand
      .groupBy(col("s"), col("y"), col("n"))
      .agg(min(struct(abs(col("cs") - col("s")).as("d"),
        col("cs").as("cs"), col("cy_micro").as("cy"))).as("m"))
      .select(col("s"), col("y"), col("n"), col("m.cy").as("cy_micro"))
    val matched = classes.join(best, Seq("s", "y", "n"), "left")
    matched.agg(
        sum(col("n")).as("n_treated"),
        coalesce(sum(when(col("cy_micro").isNotNull, col("n"))), lit(0L))
          .as("n_matched"),
        coalesce(sum(when(col("cy_micro").isNotNull,
          (col("y") * 1000000L - col("cy_micro")) * col("n"))), lit(0L))
          .as("_sd"))
      .select(col("n_treated"), col("n_matched"),
        expr("n_matched * 1000000 div greatest(n_treated, 1)")
          .as("match_rate_ppm"),
        when(col("n_matched") === 0, lit(null).cast(LongType))
          .otherwise(expr("_sd div n_matched")).as("att_micro"))
  }

  /** DIFFERENCE-IN-DIFFERENCES — the parallel-trends causal estimate
    * over a 2×2 (treated × pre/post) design: cell means as exact
    * micro integers, DiD = (T,post − T,pre) − (C,post − C,pre). One
    * 4-cell rollup; the estimate is arithmetic over it. Cells with
    * no rows fail fast (the design is broken, not zero). */
  def diffInDiff(
      df: DataFrame,
      treatedCol: Column,
      postCol: Column,
      value: Column): DataFrame = {
    val q = df.select(treatedCol.cast("boolean").as("t"),
        postCol.cast("boolean").as("p"),
        value.cast(LongType).as("v"))
      .filter(col("t").isNotNull && col("p").isNotNull && col("v").isNotNull)
    val cells = q.groupBy(col("t"), col("p"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
      .select(col("t"), col("p"), col("n"),
        expr("sv * 1000000 div n").as("mean_micro"))
    cells.agg(
        count(lit(1)).as("_cells"),
        sum(when(col("t") && col("p"), col("n"))).as("n_t_post"),
        sum(when(col("t") && !col("p"), col("n"))).as("n_t_pre"),
        sum(when(!col("t") && col("p"), col("n"))).as("n_c_post"),
        sum(when(!col("t") && !col("p"), col("n"))).as("n_c_pre"),
        sum(when(col("t") && col("p"), col("mean_micro"))).as("m_t_post"),
        sum(when(col("t") && !col("p"), col("mean_micro"))).as("m_t_pre"),
        sum(when(!col("t") && col("p"), col("mean_micro"))).as("m_c_post"),
        sum(when(!col("t") && !col("p"), col("mean_micro"))).as("m_c_pre"))
      .select(
        when(col("_cells") < 4,
          raise_error(lit("diffInDiff: a (treated, period) cell has no " +
            "rows — the 2x2 design is incomplete")))
          .otherwise(col("n_t_pre")).as("n_t_pre"),
        col("n_t_post"), col("n_c_pre"), col("n_c_post"),
        col("m_t_pre"), col("m_t_post"), col("m_c_pre"), col("m_c_post"),
        ((col("m_t_post") - col("m_t_pre")) -
          (col("m_c_post") - col("m_c_pre"))).as("did_micro"))
  }

  /** CUPED VARIANCE REDUCTION — the industry-standard experiment
    * sensitivity boost: adjust the metric by a pre-period covariate,
    * y' = y − θ(x − x̄), with θ = cov(x,y)/var(x) fit on ALL units
    * (assignment-independent, so the adjustment is unbiased). θ in
    * exact ppm off the n-scaled integer moments (covN = n·Σxy−Σx·Σy,
    * varN = n·Σx²−(Σx)², both exact longs under the stated n·Σ
    * envelope — raise_error past it); per-group adjusted means as
    * the exact integer chain; the achieved variance-reduction share
    * ρ² as ONE stated IEEE chain (two multiplies, one divide,
    * round-to-ppm). Zero covariate variance fails fast. Shape: one
    * moments rollup + one group rollup. */
  def cupedAdjust(
      df: DataFrame,
      groupCol: String,
      covariate: Column,
      metric: Column): DataFrame = {
    val q = df.select(col(groupCol).cast("string").as("g"),
        covariate.cast(LongType).as("x"), metric.cast(LongType).as("y"))
      .filter(col("g").isNotNull && col("x").isNotNull && col("y").isNotNull)
    val mom = q.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("y") * col("y")).as("syy"))
      // n-aware envelope (the graft_gram discipline): the n-scaled
      // products n·Σx², n·Σxy, n·Σy² need Σ < Long.MAX div n, and the
      // sum-squares (Σx)², Σx·Σy, (Σy)² need |Σ| < √Long.MAX ≈ 3.03e9
      .select(col("n"),
        when(greatest(col("sxx"), abs(col("sxy")), col("syy")) >=
            expr("9223372036854775807 div n") ||
            greatest(abs(col("sx")), abs(col("sy"))) >= lit(3037000499L),
          raise_error(lit("cupedAdjust: the n-scaled moments exceed the " +
            "exact-long envelope (sum >= Long.MAX/n or |sum| >= ~3.03e9); " +
            "use coarser metric units")))
          .otherwise(col("sx")).as("sx"),
        col("sy"), col("sxx"), col("sxy"), col("syy"))
      .select(col("n"), col("sx"), col("sy"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("varn"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("covn"),
        (col("n") * col("syy") - col("sy") * col("sy")).as("varny"))
      .select(col("n"), col("sx"), col("sy"), col("varn"),
        when(col("varn") <= 0,
          raise_error(lit("cupedAdjust: covariate has zero variance — " +
            "CUPED is undefined; pick a real pre-period covariate")))
          .otherwise(expr("covn * 1000000 div varn")).as("theta_ppm"),
        round(col("covn").cast(DoubleType) * col("covn").cast(DoubleType) /
          (col("varn").cast(DoubleType) * col("varny").cast(DoubleType))
          * 1e6).cast(LongType).as("rho2_ppm"))
    val grp = q.groupBy(col("g"))
      .agg(count(lit(1)).as("n_g"), sum(col("x")).as("sxg"),
        sum(col("y")).as("syg"))
    grp.crossJoin(broadcast(mom))
      .select(col("g").as(groupCol), col("n_g"),
        expr("syg * 1000000 div n_g").as("mean_micro"),
        (expr("syg * 1000000 div n_g") -
          expr("theta_ppm * (sxg * 1000000 div n_g - sx * 1000000 div n) " +
            "div 1000000")).as("adjusted_micro"),
        col("theta_ppm"), col("rho2_ppm"))
  }

  /** McNEMAR'S PAIRED TEST — did model B actually beat model A, or
    * did they just disagree on different rows? The paired-predictions
    * significance read next to [[cohenKappa]] (agreement) and the
    * win-rate matrix (unpaired): only the DISCORDANT counts carry
    * signal (b = A-only-correct, c = B-only-correct), and the
    * continuity-corrected statistic (|b−c|−1)²/(b+c) is exact integer
    * micro. Zero discordance yields NULL (the test is undefined, not
    * zero — models that always agree cannot be separated by this
    * test, stated). One 4-cell rollup off a map-only classify. */
  def mcnemarTest(
      df: DataFrame,
      predA: Column,
      predB: Column,
      truth: Column): DataFrame = {
    val q = df.select(predA.cast("string").as("a"),
        predB.cast("string").as("b"), truth.cast("string").as("t"))
      .filter(col("a").isNotNull && col("b").isNotNull && col("t").isNotNull)
      .select((col("a") === col("t")).as("ca"),
        (col("b") === col("t")).as("cb"))
    q.agg(count(lit(1)).as("n"),
        coalesce(sum(when(col("ca") && col("cb"), 1L)), lit(0L))
          .as("n_both_correct"),
        coalesce(sum(when(col("ca") && !col("cb"), 1L)), lit(0L))
          .as("n_a_only"),
        coalesce(sum(when(!col("ca") && col("cb"), 1L)), lit(0L))
          .as("n_b_only"),
        coalesce(sum(when(!col("ca") && !col("cb"), 1L)), lit(0L))
          .as("n_both_wrong"))
      .select(col("n"), col("n_both_correct"), col("n_a_only"),
        col("n_b_only"), col("n_both_wrong"),
        when(col("n_a_only") + col("n_b_only") === 0,
          lit(null).cast(LongType))
          .otherwise(expr(
            """(abs(n_a_only - n_b_only) - 1) * (abs(n_a_only - n_b_only) - 1)
               * 1000000 div (n_a_only + n_b_only)"""))
          .as("chi2_micro"))
  }

  /** MINIMUM DETECTABLE EFFECT — the power-analysis read an
    * experimenter runs BEFORE the A/B (q195) and alongside CUPED
    * ([[cupedAdjust]]): at α = 5% two-sided and 80% power, the
    * smallest true lift this arm split could reliably detect,
    * MDE = (z_α + z_β)·√(σ²/n_a + σ²/n_b) with σ² pooled from the
    * n-scaled exact long moments. The z constants and the √/×/÷
    * tail are ONE stated IEEE chain (both engines bit-identical);
    * everything before it is exact integers under a raise_error'd
    * n-aware envelope (Σv² < Long.MAX/n, |Σv|, n < ~3.03e9).
    * Degenerate inputs fail fast: fewer than two arms, or an arm
    * with < 2 rows. Output also
    * states the MDE relative to the CONTROL (first-sorted arm) mean
    * in ppm — the number a product owner actually reads. */
  def minDetectableEffect(
      df: DataFrame,
      armCol: String,
      value: Column): DataFrame = {
    val q = df.select(col(armCol).cast("string").as("g"),
        value.cast(LongType).as("v"))
      .filter(col("g").isNotNull && col("v").isNotNull)
    val arms = q.groupBy(col("g"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"),
        sum(col("v") * col("v")).as("svv"))
    val two = arms
      .select(struct(col("g"), col("n"), col("sv"), col("svv")).as("a"))
      .agg(count(lit(1)).as("_k"), min(col("a")).as("lo"),
        max(col("a")).as("hi"))
      .select(
        when(col("_k") =!= 2,
          raise_error(lit("minDetectableEffect: exactly two arms " +
            "required; got a different arm count")))
          .otherwise(col("lo.g")).as("arm_a"),
        col("hi.g").as("arm_b"),
        col("lo.n").as("n_a"), col("hi.n").as("n_b"),
        col("lo.sv").as("sva"), col("hi.sv").as("svb"),
        col("lo.svv").as("svva"), col("hi.svv").as("svvb"))
    two
      .select(col("arm_a"), col("arm_b"), col("n_a"), col("n_b"),
        when(col("n_a") < 2 || col("n_b") < 2,
          raise_error(lit("minDetectableEffect: each arm needs >= 2 rows")))
          .otherwise(expr("sva * 1000000 div n_a")).as("mean_a_micro"),
        expr("svb * 1000000 div n_b").as("mean_b_micro"),
        // per-arm sample variance in DOUBLE from exact long pieces —
        // the stated IEEE chain starts here. n-aware envelope first
        // (the graft_gram discipline): n·Σv² needs Σv² < Long.MAX/n,
        // (Σv)² and n·(n−1) need |Σv|, n < √Long.MAX ≈ 3.03e9
        ((when(col("svva") >= expr("9223372036854775807 div n_a") ||
            col("svvb") >= expr("9223372036854775807 div n_b") ||
            greatest(abs(col("sva")), abs(col("svb")), col("n_a"),
              col("n_b")) >= lit(3037000499L),
          raise_error(lit("minDetectableEffect: the n-scaled moments " +
            "exceed the exact-long envelope (sum-sq >= Long.MAX/n or " +
            "|sum| >= ~3.03e9); use coarser metric units")))
          .otherwise(col("n_a")) * col("svva") - col("sva") * col("sva"))
          .cast(DoubleType) /
          (col("n_a") * (col("n_a") - 1)).cast(DoubleType)).as("_s2a"),
        ((col("n_b") * col("svvb") - col("svb") * col("svb"))
          .cast(DoubleType) /
          (col("n_b") * (col("n_b") - 1)).cast(DoubleType)).as("_s2b"))
      .select(col("arm_a"), col("arm_b"), col("n_a"), col("n_b"),
        col("mean_a_micro"), col("mean_b_micro"),
        // z_{0.025} + z_{0.20} = 1.96 + 0.8416 = 2.8016, two-sided 5%
        // at 80% power — the same literal in both engines
        round(lit(2.8016) *
          sqrt(col("_s2a") / col("n_a").cast(DoubleType) +
            col("_s2b") / col("n_b").cast(DoubleType)) * 1e6)
          .cast(LongType).as("mde_abs_micro"))
      .select(col("arm_a"), col("arm_b"), col("n_a"), col("n_b"),
        col("mean_a_micro"), col("mean_b_micro"), col("mde_abs_micro"),
        when(col("mean_a_micro") <= 0, lit(null).cast(LongType))
          .otherwise(expr("mde_abs_micro * 1000000 div mean_a_micro"))
          .as("mde_rel_ppm"))
  }

  /** PAIRWISE WIN-RATE MATRIX with Wilson 95% intervals — the model-
    * eval sheet next to [[bradleyTerry]]: per unordered pair, how
    * often the lexicographically-lesser item won, with the interval
    * that says whether the edge is real or five coin flips. Win rate
    * is exact ppm; the Wilson bound is the ONE stated IEEE chain both
    * engines run identically (adds, multiplies, one sqrt — all
    * correctly-rounded per IEEE-754 — then round-to-ppm):
    * `(ŵ + z²/2 ± z·√(ŵ(1−ŵ)/n + z²/4n)) / (n + z²)` scaled by n.
    * Shape: one pair rollup, map-only math after it. */
  def winRateMatrix(
      matches: DataFrame,
      winnerCol: String,
      loserCol: String): DataFrame = {
    val m = matches.select(col(winnerCol).cast("string").as("w"),
        col(loserCol).cast("string").as("l"))
      .filter(col("w").isNotNull && col("l").isNotNull &&
        col("w") =!= col("l"))
    val g = m.select(least(col("w"), col("l")).as("item_a"),
        greatest(col("w"), col("l")).as("item_b"),
        (col("w") < col("l")).as("a_won"))
      .groupBy(col("item_a"), col("item_b"))
      .agg(count(lit(1)).as("n_matches"),
        coalesce(sum(when(col("a_won"), 1L)), lit(0L)).as("wins_a"))
    // z = 1.96, z² = 3.8416: the same literals in both engines
    g.select(col("item_a"), col("item_b"), col("n_matches"), col("wins_a"),
        expr("wins_a * 1000000 div n_matches").as("win_rate_ppm"),
        round(((col("wins_a") + lit(3.8416) / 2) / (col("n_matches") + lit(3.8416)) -
          lit(1.96) * sqrt(col("wins_a") * (col("n_matches") - col("wins_a")) /
              col("n_matches") + lit(3.8416) / 4) /
            (col("n_matches") + lit(3.8416))) * 1e6)
          .cast(LongType).as("wilson_lo_ppm"),
        round(((col("wins_a") + lit(3.8416) / 2) / (col("n_matches") + lit(3.8416)) +
          lit(1.96) * sqrt(col("wins_a") * (col("n_matches") - col("wins_a")) /
              col("n_matches") + lit(3.8416) / 4) /
            (col("n_matches") + lit(3.8416))) * 1e6)
          .cast(LongType).as("wilson_hi_ppm"))
  }

  /** RATIO-METRIC DELTA-METHOD CI — the variance read every A/B on a
    * per-unit RATIO (purchases per view, revenue per session) needs:
    * the naive binomial/mean CI is wrong because numerator and
    * denominator are correlated WITHIN units. Per arm, the ratio
    * R = Σy/Σx with the delta-method standard error
    * `se² = (s_yy − 2R·s_xy + R²·s_xx) / (n·x̄²)` off the n-scaled
    * exact long moments (s_ab = (n·Σab − Σa·Σb)/(n(n−1)), the sample
    * covariance). The ratio itself is exact ppm (Σy·1e6 div Σx); the
    * se and the ±1.96 CI are ONE stated IEEE chain. The same
    * n-aware raise_error envelope as [[cupedAdjust]] guards the
    * moment products. Shape: one arm rollup, map-only math after. */
  def ratioMetricCi(
      df: DataFrame,
      armCol: String,
      denom: Column,
      numer: Column): DataFrame = {
    val q = df.select(col(armCol).cast("string").as("arm"),
        denom.cast(LongType).as("x"), numer.cast(LongType).as("y"))
      .filter(col("arm").isNotNull && col("x").isNotNull && col("y").isNotNull)
    q.groupBy(col("arm"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("arm"), col("n"),
        when(col("n") < 2 || col("sx") <= 0,
          raise_error(lit("ratioMetricCi: each arm needs >= 2 units and " +
            "a positive denominator mass")))
          .otherwise(
            when(greatest(col("sxx"), abs(col("sxy")), col("syy")) >=
                expr("9223372036854775807 div n") ||
                greatest(abs(col("sx")), abs(col("sy"))) >= lit(3037000499L),
              raise_error(lit("ratioMetricCi: the n-scaled moments exceed " +
                "the exact-long envelope (sum >= Long.MAX/n or |sum| >= " +
                "~3.03e9); use coarser metric units")))
              .otherwise(col("sx"))).as("sum_x"),
        col("sy").as("sum_y"),
        // the CASE guards keep ANSI division-by-zero out of the plan
        // on the degenerate arms; the raise_error above is what the
        // caller actually sees
        expr("CASE WHEN sx > 0 THEN sy * 1000000 div sx END")
          .as("ratio_ppm"),
        // the stated IEEE chain: R, the three n-scaled covariances,
        // the delta-method se, then round-to-micro
        expr("""CASE WHEN n >= 2 AND sx > 0 THEN
          CAST(round(sqrt(greatest(0.0d,
            ((CAST(n * syy - sy * sy AS DOUBLE)
              - 2.0 * (CAST(sy AS DOUBLE) / CAST(sx AS DOUBLE))
                * CAST(n * sxy - sx * sy AS DOUBLE)
              + (CAST(sy AS DOUBLE) / CAST(sx AS DOUBLE))
                * (CAST(sy AS DOUBLE) / CAST(sx AS DOUBLE))
                * CAST(n * sxx - sx * sx AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))
            / (CAST(n AS DOUBLE)
               * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
               * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))))
          * 1000000.0) AS BIGINT) END""").as("se_micro"))
      .select(col("arm"), col("n"), col("sum_x"), col("sum_y"),
        col("ratio_ppm"), col("se_micro"),
        expr("""CAST(round(CAST(ratio_ppm AS DOUBLE)
            - 1.96 * CAST(se_micro AS DOUBLE)) AS BIGINT)""")
          .as("ci_lo_ppm"),
        expr("""CAST(round(CAST(ratio_ppm AS DOUBLE)
            + 1.96 * CAST(se_micro AS DOUBLE)) AS BIGINT)""")
          .as("ci_hi_ppm"))
  }

  /** SAMPLE-RATIO-MISMATCH AUDIT — the first thing to check when an
    * experiment reads strange: if the realized arm split is
    * incompatible with the configured split, the assignment plumbing
    * is broken and EVERY downstream metric is invalid. One-df
    * chi-square of the observed 2-arm counts against the expected
    * share: counts are exact longs; the statistic is ONE stated IEEE
    * chain off them, quantized to micro; the flag trips at the 5%
    * critical value 3.841459 (the same literal in both engines). */
  def srmCheck(
      units: DataFrame,
      armCol: Column,
      expectedAPpm: Long = 500000L): DataFrame = {
    require(expectedAPpm > 0 && expectedAPpm < 1000000L,
      "srmCheck: expected share must be inside (0, 1e6) ppm")
    val q = units.select(armCol.cast(LongType).as("arm"))
      .filter(col("arm").isin(0L, 1L))
    q.agg(count(when(col("arm") === 0, 1)).as("n_a"),
        count(when(col("arm") === 1, 1)).as("n_b"))
      .select(col("n_a"), col("n_b"),
        when(col("n_a") + col("n_b") === 0,
          raise_error(lit("srmCheck: no units in either arm")))
          .otherwise(lit(expectedAPpm)).as("expected_a_ppm"),
        expr("n_a * 1000000 div (n_a + n_b)").as("observed_a_ppm"))
      .select(col("n_a"), col("n_b"), col("expected_a_ppm"),
        col("observed_a_ppm"),
        expr(s"""CAST(round(
            ((CAST(n_a AS DOUBLE) - CAST(n_a + n_b AS DOUBLE)
              * ($expectedAPpm / 1000000.0)) *
             (CAST(n_a AS DOUBLE) - CAST(n_a + n_b AS DOUBLE)
              * ($expectedAPpm / 1000000.0)))
            / (CAST(n_a + n_b AS DOUBLE) * ($expectedAPpm / 1000000.0)
               * (1.0 - $expectedAPpm / 1000000.0))
            * 1000000.0) AS BIGINT)""").as("chi2_micro"))
      .withColumn("srm_detected", col("chi2_micro") > lit(3841459L))
  }

  /** mSPRT SEQUENTIAL A/B MONITOR — the always-valid p-value (the
    * mixture sequential probability ratio test, Johari et al.) that
    * lets an experimenter PEEK at the dashboard daily without
    * inflating false positives: unlike the fixed-horizon z-test
    * (q195), the running p is valid at EVERY stopping time. Input is
    * one row per experimental unit (enrollment day, arm 0/1,
    * converted 0/1); output is one row per enrollment day with the
    * cumulative counts, the mixture log-likelihood-ratio, its
    * running maximum, and the always-valid p.
    *
    * Determinism contract (the q209 discipline): cumulative counts
    * are exact longs from day-rollup windows; each day's log-LR is
    * ONE stated IEEE chain off those longs —
    * `llr = 0.5·ln(v/(v+τ²)) + (p̂_a−p̂_b)²·τ²/(2v(v+τ²))` with
    * pooled `v = p̂(1−p̂)(1/n_a+1/n_b)` and τ² = tau2Micro/1e6 —
    * quantized to micro BEFORE the running max, so the extremum is
    * taken over exact longs (no cross-engine tie ambiguity); the
    * final `p = min(1, exp(−maxllr))` is a second stated IEEE step
    * off that long. Days with an undefined statistic (an empty arm,
    * zero or total pooled conversions) carry NULL and p = 1.
    *
    * Shape at 100 TB: one shuffle to the (day, arm) rollup, two
    * windows over the days-sized relation, map-only math after. */
  def msprtMonitor(
      units: DataFrame,
      dayCol: Column,
      armCol: Column,
      convertedCol: Column,
      tau2Micro: Long = 10000L): DataFrame = {
    require(tau2Micro > 0, "msprtMonitor: the mixture variance must be > 0")
    val daily = units
      .select(dayCol.cast("date").as("day"),
        armCol.cast(LongType).as("arm"),
        convertedCol.cast(LongType).as("conv"))
      .filter(col("day").isNotNull && col("arm").isin(0L, 1L))
      .groupBy(col("day"))
      .agg(count(when(col("arm") === 0, 1)).as("d_na"),
        coalesce(sum(when(col("arm") === 0, col("conv"))), lit(0L)).as("d_xa"),
        count(when(col("arm") === 1, 1)).as("d_nb"),
        coalesce(sum(when(col("arm") === 1, col("conv"))), lit(0L)).as("d_xb"))
    val byDay = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = daily
      .withColumn("n_a", sum(col("d_na")).over(byDay))
      .withColumn("x_a", sum(col("d_xa")).over(byDay))
      .withColumn("n_b", sum(col("d_nb")).over(byDay))
      .withColumn("x_b", sum(col("d_xb")).over(byDay))
    val llr = cum
      .withColumn("t2", lit(tau2Micro).cast(DoubleType) / lit(1000000.0))
      .withColumn("v", expr(
        """CASE WHEN n_a > 0 AND n_b > 0 AND x_a + x_b > 0
                 AND x_a + x_b < n_a + n_b
                THEN (CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)) *
                  (1.0 - CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)) *
                  (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))
           END"""))
      .withColumn("log_lr_micro", expr(
        """CASE WHEN v IS NOT NULL
                THEN CAST(round((0.5 * ln(v / (v + t2)) +
                  (CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE) -
                   CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE)) *
                  (CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE) -
                   CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE)) *
                  t2 / (2.0 * v * (v + t2))) * 1000000.0) AS BIGINT)
           END"""))
    llr
      .withColumn("max_log_lr_micro",
        max(col("log_lr_micro")).over(byDay))
      .select(col("day"), col("n_a"), col("x_a"), col("n_b"), col("x_b"),
        col("log_lr_micro"),
        col("max_log_lr_micro"),
        expr(
          """CASE WHEN max_log_lr_micro IS NULL THEN 1000000
                  ELSE LEAST(1000000, CAST(round(
                    exp(-max_log_lr_micro / 1000000.0) * 1000000.0)
                    AS BIGINT))
             END""").as("always_valid_p_ppm"))
      .withColumn("reject_at_5pct", col("always_valid_p_ppm") <= 50000L)
  }
}
