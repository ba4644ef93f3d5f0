package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.sources.Tables

/** North-star relational analytics over the star schema (SURVEY.md §7 item
  * 6): grouped aggregation, rollup, broadcast/shuffle joins, semi/anti
  * joins, window ranking and running totals, event-time bucketing and
  * sessionization.
  *
  * Scale notes:
  *  - dimension joins (`region`/`nation`/`supplier`/`customer`) are
  *    broadcast explicitly — at 100 TB the fact side never shuffles for
  *    these;
  *  - aggregations are partial/final hash aggs (map-side combine) by
  *    construction — no distinct-heavy plans where a sort would do;
  *  - event-time logic runs on epoch-micro longs derived once at the scan
  *    ([[graft.sources.Tables.eventUs]]) — cheap integer math after that,
  *    no timezone re-binding per row.
  */
object RelationalQueries {
  import QueryDef._

  private val dec = DecimalType(18, 4)
  // Exact revenue term: price * (1 - discount) in DECIMAL, summed exactly.
  private def revenueTerm =
    col("l_extendedprice").cast(dec) * (lit(1).cast(dec) - col("l_discount").cast(dec))
  private val revenueSql =
    "CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))"

  val defs: Map[String, QueryDef] = Map(

    // TPC-H Q1 shape: single-pass grouped aggregation with exact-decimal
    // sums; the filter must push to parquet.
    "q1_pricing_summary" -> QueryDef(
      fn = (s, d) =>
        t(s, d, "lineitem")
          .where(col("l_shipdate") <= lit(java.sql.Timestamp.valueOf("1998-09-02 00:00:00")))
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            dsum(col("l_quantity")).as("sum_qty"),
            dsum(col("l_extendedprice")).as("sum_base_price"),
            sum(revenueTerm).cast("double").as("sum_disc_price"),
            davg(col("l_quantity")).as("avg_qty"),
            davg(col("l_discount")).as("avg_disc"),
            count(lit(1)).as("count_order"))
          .orderBy("l_returnflag", "l_linestatus"),
      oracle = Some(s"""
        SELECT l_returnflag, l_linestatus,
               ${DSUM.format("l_quantity")} AS sum_qty,
               ${DSUM.format("l_extendedprice")} AS sum_base_price,
               CAST(sum($revenueSql) AS DOUBLE) AS sum_disc_price,
               ${DSUM.format("l_quantity")} / count(l_quantity) AS avg_qty,
               ${DSUM.format("l_discount")} / count(l_discount) AS avg_disc,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus"""),
      bench = true),

    // TPC-H Q3 shape: 3-way join, grouped top-k. orders and customer are
    // fact-sized relations (~1/4 and ~1/15 of lineitem) — no broadcast
    // hints; AQE broadcasts at small SF and shuffles past the threshold.
    "q3_top_revenue" -> QueryDef(
      fn = (s, d) => {
        val cust = t(s, d, "customer").where(col("c_mktsegment") === "BUILDING")
        val ord = t(s, d, "orders")
          .where(col("o_orderdate") < lit(java.sql.Timestamp.valueOf("1998-01-01 00:00:00")))
        val li = t(s, d, "lineitem")
          .where(col("l_shipdate") > lit(java.sql.Timestamp.valueOf("1998-01-01 00:00:00")))
        li.join(ord.join(cust,
            col("o_custkey") === col("c_custkey")),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("l_orderkey"), col("o_orderdate").cast("date").as("o_odate"))
          .agg(sum(revenueTerm).cast("double").as("revenue"))
          .orderBy(col("revenue").desc, col("l_orderkey"))
          .limit(10)
      },
      oracle = Some(s"""
        SELECT l_orderkey, CAST(o_orderdate AS DATE) AS o_odate,
               CAST(sum($revenueSql) AS DOUBLE) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
          AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY l_orderkey, CAST(o_orderdate AS DATE)
        ORDER BY revenue DESC, l_orderkey LIMIT 10"""),
      bench = true),

    // TPC-H Q5 shape: 6-way star join. True dimensions (supplier, nation,
    // region) broadcast; orders/customer are fact-sized, left to AQE.
    "q5_local_supplier" -> QueryDef(
      fn = (s, d) => {
        val region = t(s, d, "region").where(col("r_name") === "ASIA")
        val nation = t(s, d, "nation")
        val cust = t(s, d, "customer")
        val supp = t(s, d, "supplier")
        val ord = t(s, d, "orders").where(
          col("o_orderdate") >= lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")) &&
          col("o_orderdate") < lit(java.sql.Timestamp.valueOf("1998-01-01 00:00:00")))
        val li = t(s, d, "lineitem")
        li.join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
          .join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(cust,
            col("o_custkey") === col("c_custkey") &&
            col("c_nationkey") === col("s_nationkey"))
          .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
          .groupBy("n_name")
          .agg(sum(revenueTerm).cast("double").as("revenue"))
          .orderBy(col("revenue").desc, col("n_name"))
      },
      oracle = Some(s"""
        SELECT n_name, CAST(sum($revenueSql) AS DOUBLE) AS revenue
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY n_name ORDER BY revenue DESC, n_name"""),
      bench = true),

    // TPC-H Q10 shape: returned-item revenue per customer — fact filtered
    // on return flag, quarter-windowed orders, top-20 by exact-decimal
    // revenue with a unique-key tie-break. Only nation (25 rows) gets a
    // broadcast hint; orders/customer join strategy is AQE's call.
    "q10_returned_items" -> QueryDef(
      fn = (s, d) => {
        val cust = t(s, d, "customer")
        val nation = t(s, d, "nation")
        val ord = t(s, d, "orders").where(
          col("o_orderdate") >= lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")) &&
          col("o_orderdate") < lit(java.sql.Timestamp.valueOf("1996-04-01 00:00:00")))
        t(s, d, "lineitem").where(col("l_returnflag") === "R")
          .join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(cust, col("o_custkey") === col("c_custkey"))
          .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
          .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
          .agg(sum(revenueTerm).cast("double").as("revenue"))
          .orderBy(col("revenue").desc, col("c_custkey"))
          .limit(20)
      },
      oracle = Some(s"""
        SELECT c_custkey, c_name, c_acctbal, n_name,
               CAST(sum($revenueSql) AS DOUBLE) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        GROUP BY c_custkey, c_name, c_acctbal, n_name
        ORDER BY revenue DESC, c_custkey LIMIT 20""")),

    // Funnel / sequence analysis: per user, how many clicks convert —
    // i.e. follow a view by the same user within 30 minutes. The
    // match_recognize-class pattern expressed as one window pass: a
    // running "last view time" with an UNBOUNDED..1 PRECEDING frame, then
    // a conditional rollup — no self-join, one shuffle on the user key.
    "events_funnel" -> QueryDef(
      fn = (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("us"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        t(s, d, "events")
          .where(col("event_type").isin("view", "click"))
          .select(col("user_id"), col("event_id"),
            Tables.eventUs.as("us"), col("event_type"))
          .withColumn("last_view_us",
            max(when(col("event_type") === "view", col("us"))).over(w))
          .groupBy("user_id")
          .agg(
            sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("n_views"),
            sum(when(col("event_type") === "click" &&
              col("last_view_us").isNotNull &&
              col("us") - col("last_view_us") <= 1800000000L, 1L).otherwise(0L))
              .as("n_conversions"))
          .orderBy("user_id")
      },
      oracle = Some("""
        WITH vc AS (
          SELECT user_id, event_id, epoch_us(ts) AS us, event_type
          FROM events WHERE event_type IN ('view', 'click')),
        wlv AS (
          SELECT user_id, event_type, us,
                 max(CASE WHEN event_type = 'view' THEN us END)
                   OVER (PARTITION BY user_id ORDER BY us, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS last_view_us
          FROM vc)
        SELECT user_id,
               CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_views,
               CAST(sum(CASE WHEN event_type = 'click'
                              AND last_view_us IS NOT NULL
                              AND us - last_view_us <= 1800000000
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_conversions
        FROM wlv GROUP BY user_id ORDER BY user_id""")),

    // Event-transition mining: per-user consecutive event-type bigrams —
    // the Markov-chain first look at behavioral data (what follows what).
    // One window pass (lag/lead over the per-user ordering the
    // sessionizers already use) feeding a grouped count; at 100 TB this
    // is one shuffle by user plus one by transition pair, both
    // partial-aggregated map-side.
    "events_transitions" -> QueryDef(
      fn = (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("us"), col("event_id"))
        t(s, d, "events")
          .select(col("user_id"), Tables.eventUs.as("us"),
            col("event_id"), col("event_type"))
          .withColumn("to_type", lead(col("event_type"), 1).over(w))
          .where(col("to_type").isNotNull)
          .groupBy(col("event_type").as("from_type"), col("to_type"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("from_type"), col("to_type"))
      },
      oracle = Some("""
        SELECT event_type AS from_type, to_type, count(*) AS n
        FROM (SELECT event_type,
                     lead(event_type, 1) OVER (PARTITION BY user_id
                       ORDER BY epoch_us(ts), event_id) AS to_type
              FROM events)
        WHERE to_type IS NOT NULL
        GROUP BY 1, 2 ORDER BY n DESC, from_type, to_type""")),

    // Wilson score intervals (Wilson, JASA 1927) for each cohort's
    // conversion rate — the proportion CI that stays inside [0,1] and
    // behaves at small n where the Wald interval collapses; the
    // per-cohort uncertainty card beside events_ab_test's point z-test.
    // Same md5-parity cohorts and conversion threshold as the z-test.
    // Determinism: every term is the IDENTICAL IEEE expression on both
    // engines (z² as the literal product 1.96*1.96, one sqrt of a
    // rational of exact integers), closed by round 6; `+ 0.0` folds a
    // potential −0.0 at a zero-rate lower bound.
    "events_wilson_ci" -> QueryDef(
      fn = (s, d) => {
        val per = t(s, d, "events")
          .groupBy("user_id")
          .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("np"))
        val g = per.groupBy(
            graft.operators.Experiment.cohort(col("user_id")).as("grp"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("np") > 12, 1L).otherwise(0L)).as("conv"))
        val z = lit(1.96)
        val z2 = lit(1.96) * lit(1.96)
        val nD = col("n").cast("double")
        val r = col("conv").cast("double") / nD
        val den = lit(1.0) + z2 / nD
        val ctr = (r + z2 / (lit(2.0) * nD)) / den
        val hf = z * sqrt(r * (lit(1.0) - r) / nD
          + z2 / (lit(4.0) * nD * nD)) / den
        g.select(col("grp"), col("n"), col("conv"),
            round(r, 6).as("rate"),
            (round(ctr - hf, 6) + lit(0.0)).as("ci_lo"),
            round(ctr + hf, 6).as("ci_hi"))
          .orderBy("grp")
      },
      oracle = Some("""
        WITH per AS (
          SELECT user_id,
                 sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS np
          FROM events GROUP BY user_id),
        g AS (
          SELECT CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12)
                      AS BIGINT) % 2 AS grp,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CASE WHEN np > 12 THEN 1 ELSE 0 END) AS BIGINT)
                   AS conv
          FROM per GROUP BY 1)
        SELECT grp, n, conv,
               round(CAST(conv AS DOUBLE) / n, 6) AS rate,
               round(((CAST(conv AS DOUBLE) / n)
                      + (1.96 * 1.96) / (2.0 * n))
                     / (1.0 + (1.96 * 1.96) / n)
                     - 1.96 * sqrt((CAST(conv AS DOUBLE) / n)
                                   * (1.0 - CAST(conv AS DOUBLE) / n) / n
                                   + (1.96 * 1.96) / (4.0 * n * n))
                       / (1.0 + (1.96 * 1.96) / n), 6) + 0.0 AS ci_lo,
               round(((CAST(conv AS DOUBLE) / n)
                      + (1.96 * 1.96) / (2.0 * n))
                     / (1.0 + (1.96 * 1.96) / n)
                     + 1.96 * sqrt((CAST(conv AS DOUBLE) / n)
                                   * (1.0 - CAST(conv AS DOUBLE) / n) / n
                                   + (1.96 * 1.96) / (4.0 * n * n))
                       / (1.0 + (1.96 * 1.96) / n), 6) AS ci_hi
        FROM g ORDER BY grp""")),

    // Stationary distribution of the event-type Markov chain (power
    // iteration on the row-normalized transition matrix — the PageRank
    // primitive applied to the BEHAVIORAL graph): where a user's session
    // spends its time in the long run, the baseline against which
    // events_transition_entropy's per-state surprise reads. Mechanics:
    // the per-user lead window + (from, to) count aggregate is the one
    // corpus shuffle (the events_transitions plan); the k x k count
    // matrix (k = event types, bounded) is pulled to the driver and
    // iterated 12 rounds — trainer pattern, k^2 driver state. Each term
    // pi_f * c_ft / rowsum_f is rounded to 6dp and the per-target sums
    // accumulate in exact DECIMAL, so iteration order cannot perturb the
    // curve and the oracle replays all 12 rounds as chained CTEs
    // bit-exactly (the LR-weights quantization discipline).
    "events_markov_stationary" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("us"), col("event_id"))
        val counts = t(s, d, "events")
          .select(col("user_id"), Tables.eventUs.as("us"),
            col("event_id"), col("event_type"))
          .withColumn("to_type", lead(col("event_type"), 1).over(w))
          .where(col("to_type").isNotNull)
          .groupBy(col("event_type").as("f"), col("to_type").as("tt"))
          .agg(count(lit(1)).as("n"))
          .collect()
          .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
        val types = counts.keys.flatMap { case (a, b) => Seq(a, b) }
          .toSeq.distinct.sorted
        val rowSum = types.map(tp =>
          tp -> counts.collect { case ((f, _), n) if f == tp => n }.sum).toMap
        def bd6(x: Double) =
          BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        var pi = types.map(_ -> (1.0 / types.size)).toMap
        for (_ <- 1 to 12) {
          val terms = counts.toSeq.map { case ((f, tt), n) =>
            tt -> bd6(pi(f) * n / rowSum(f))
          }
          pi = types.map { tp =>
            tp -> terms.collect { case (t2, v) if t2 == tp => v }
              .foldLeft(BigDecimal(0))(_ + _).toDouble
          }.toMap
        }
        types.map(tp => (tp, pi(tp), rowSum(tp)))
          .toDF("event_type", "stationary_p", "n_out")
          .orderBy("event_type")
      },
      oracle = {
        val rounds = (1 to 12).map { r =>
          s"""pi$r AS MATERIALIZED (
                SELECT ty.et,
                       CAST(coalesce(
                         sum(CAST(round(pi.p * tc.c / rs.rs, 6)
                                  AS DECIMAL(18,6))),
                         CAST(0 AS DECIMAL(18,6))) AS DOUBLE) AS p
                FROM ty
                LEFT JOIN tc ON tc.tt = ty.et
                LEFT JOIN rs ON rs.f = tc.f
                LEFT JOIN pi${r - 1} pi ON pi.et = tc.f
                GROUP BY ty.et)"""
        }.mkString(",\n")
        Some(s"""
        WITH pairs AS (
          SELECT event_type AS f,
                 lead(event_type, 1) OVER (PARTITION BY user_id
                   ORDER BY epoch_us(ts), event_id) AS tt
          FROM events),
        tc AS MATERIALIZED (
          SELECT f, tt, CAST(count(*) AS BIGINT) AS c
          FROM pairs WHERE tt IS NOT NULL GROUP BY 1, 2),
        rs AS (SELECT f, CAST(sum(c) AS BIGINT) AS rs FROM tc GROUP BY f),
        ty AS (SELECT DISTINCT et
               FROM (SELECT f AS et FROM tc UNION ALL SELECT tt FROM tc)),
        pi0 AS (
          SELECT et, 1.0 / (SELECT CAST(count(*) AS BIGINT) FROM ty) AS p
          FROM ty),
        $rounds
        SELECT ty.et AS event_type, pi12.p AS stationary_p,
               CAST(coalesce(r2.rs, 0) AS BIGINT) AS n_out
        FROM ty
        JOIN pi12 ON pi12.et = ty.et
        LEFT JOIN rs r2 ON r2.f = ty.et
        ORDER BY event_type""")
      }),

    // Linear multi-touch attribution (the standard marketing-analytics
    // credit model; Shapley'53 value with order-independent uniform
    // weights degenerates to exactly this split): each 'purchase'
    // conversion divides one unit of credit (and its revenue) equally
    // across the marketing touches (click/view/signup) since the user's
    // previous conversion. Mechanics: one per-user cumulative-conversion
    // window assigns every touch to its NEXT conversion (cum + 1) and
    // every purchase its own sequence number (cum includes itself, so
    // same-timestamp touches attribute by the deterministic
    // (us, event_id) order); an equi-join on (user, seq) pairs them,
    // dropping post-last-conversion touches. 100 TB shape: one shuffle
    // by user for the window, one (user, seq)-keyed join of two slices
    // of the SAME windowed relation, then group-bounded rollups.
    // Determinism: credit fractions c/k are exact-integer IEEE
    // divisions rounded to 6dp into DECIMAL before summing.
    "events_attribution" -> QueryDef(
      fn = (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("us"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val base = t(s, d, "events")
          .select(col("user_id"), Tables.eventUs.as("us"),
            col("event_id"), col("event_type"), col("value"))
          .withColumn("cum",
            sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
              .over(w))
        val tch = base
          .where(col("event_type").isin("click", "view", "signup"))
          .select(col("user_id"), col("event_type").as("channel"),
            (col("cum") + 1).as("seq"))
        val cv = base.where(col("event_type") === "purchase")
          .select(col("user_id"), col("cum").as("seq"), col("value").as("v"))
        val frac = col("c").cast("double") / col("k").cast("double")
        tch.join(cv, Seq("user_id", "seq"))
          .groupBy("user_id", "seq", "channel")
          .agg(max(col("v")).as("v"), count(lit(1)).as("c"))
          .withColumn("k",
            sum(col("c")).over(Window.partitionBy("user_id", "seq")))
          .groupBy("channel")
          .agg(sum(col("c")).as("n_touches"),
            sum(round(frac, 6).cast(DecimalType(18, 6)))
              .cast("double").as("credit"),
            sum(round(col("v") * frac, 6).cast(DecimalType(18, 6)))
              .cast("double").as("attributed_value"))
          .orderBy("channel")
      },
      oracle = Some("""
        WITH base AS (
          SELECT user_id, event_id, event_type, value,
                 sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id
                         ORDER BY epoch_us(ts), event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum
          FROM events),
        tch AS (
          SELECT user_id, event_type AS channel, cum + 1 AS seq
          FROM base WHERE event_type IN ('click', 'view', 'signup')),
        cv AS (
          SELECT user_id, cum AS seq, value AS v
          FROM base WHERE event_type = 'purchase'),
        g AS (
          SELECT t.user_id, t.seq, t.channel, max(c.v) AS v, count(*) AS c
          FROM tch t
          JOIN cv c ON c.user_id = t.user_id AND c.seq = t.seq
          GROUP BY 1, 2, 3),
        kk AS (
          SELECT *, sum(c) OVER (PARTITION BY user_id, seq) AS k FROM g)
        SELECT channel,
               CAST(sum(c) AS BIGINT) AS n_touches,
               CAST(sum(CAST(round(CAST(c AS DOUBLE) / CAST(k AS DOUBLE), 6)
                 AS DECIMAL(18,6))) AS DOUBLE) AS credit,
               CAST(sum(CAST(round(v * (CAST(c AS DOUBLE)
                 / CAST(k AS DOUBLE)), 6)
                 AS DECIMAL(18,6))) AS DOUBLE) AS attributed_value
        FROM kk GROUP BY channel ORDER BY channel""")),

    // Seasonality-conditioned rate anomaly: each hour's event count
    // z-scored against its OWN hour-of-day baseline (mean/std of that
    // wall-clock hour across the series) — the monitor that catches a
    // quiet-hour spike a global threshold hides behind daytime volume
    // (events_anomaly z-scores VALUES per type; this z-scores RATES per
    // diurnal slot, composing events_seasonality's baseline with the
    // z-gate). Two aggregates over the day-span-bounded hourly relation;
    // all moments are exact integer sums, z is one IEEE chain, NULL for
    // degenerate (zero-variance) slots.
    "events_seasonal_anomaly" -> QueryDef(
      fn = (s, d) => {
        val hourly = t(s, d, "events")
          .select(Tables.eventHour.as("hr"))
          .groupBy("hr").agg(count(lit(1)).as("n_events"))
          .withColumn("hod", col("hr") % 24)
        val base = hourly.groupBy("hod")
          .agg(count(lit(1)).as("nh"),
            sum(col("n_events")).as("s"),
            sum(col("n_events") * col("n_events")).as("s2"))
          .select(col("hod"),
            (col("s").cast("double") / col("nh").cast("double")).as("mean"),
            sqrt((col("s2").cast("double")
              - col("s").cast("double") * col("s").cast("double")
                / col("nh").cast("double")) / col("nh").cast("double"))
              .as("sd"))
        hourly.join(base, Seq("hod"))
          .select(col("hr"), col("hod"), col("n_events"),
            when(col("sd") > 0,
              round((col("n_events").cast("double") - col("mean"))
                / col("sd"), 6))
              .otherwise(lit(null).cast("double")).as("z"))
          .orderBy("hr")
      },
      oracle = Some("""
        WITH hourly AS (
          SELECT epoch_us(ts) // 3600000000 AS hr, count(*) AS n_events
          FROM events GROUP BY 1),
        h AS (SELECT hr, n_events, hr % 24 AS hod FROM hourly),
        b AS (
          SELECT hod, count(*) AS nh, sum(n_events) AS s,
                 sum(n_events * n_events) AS s2
          FROM h GROUP BY hod),
        st AS (
          SELECT hod,
                 CAST(s AS DOUBLE) / CAST(nh AS DOUBLE) AS mean,
                 sqrt((CAST(s2 AS DOUBLE)
                       - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                         / CAST(nh AS DOUBLE)) / CAST(nh AS DOUBLE)) AS sd
          FROM b)
        SELECT h.hr, CAST(h.hod AS BIGINT) AS hod,
               h.n_events,
               CASE WHEN st.sd > 0
                    THEN round((CAST(h.n_events AS DOUBLE) - st.mean)
                               / st.sd, 6)
                    ELSE NULL END AS z
        FROM h JOIN st USING (hod)
        ORDER BY h.hr""")),

    // Market-basket association over per-user event-type sets (Agrawal
    // et al. SIGMOD'93 support/confidence + the lift correction): for
    // every unordered type pair, how often users who do A also do B and
    // whether that exceeds independence — the feature-coupling view
    // behind "users who error also churn" dashboards. Shape: one
    // DISTINCT (user, type) shuffle, a user-co-partitioned self-join
    // bounded by (types-per-user choose 2), then joins against the
    // TYPE-cardinality-bounded count relation (AQE broadcasts 5 rows).
    // All metrics are exact-integer ratios; single IEEE divisions,
    // rounded at 6dp.
    "events_basket_assoc" -> QueryDef(
      fn = (s, d) => graft.Blocks.scope { scope =>
        val ut = scope.persist(t(s, d, "events")
          .select(col("user_id"), col("event_type")).distinct())
        val nUsers = ut.select("user_id").distinct().count()
        val tc = ut.groupBy(col("event_type").as("t")).agg(count(lit(1)).as("n"))
        val pairs = ut.as("x").join(ut.as("y"),
            col("x.user_id") === col("y.user_id") &&
              col("x.event_type") < col("y.event_type"))
          .groupBy(col("x.event_type").as("type_a"),
            col("y.event_type").as("type_b"))
          .agg(count(lit(1)).as("n_both"))
        scope.result(pairs
          .join(tc.select(col("t").as("type_a"), col("n").as("n_a")), Seq("type_a"))
          .join(tc.select(col("t").as("type_b"), col("n").as("n_b")), Seq("type_b"))
          .select(col("type_a"), col("type_b"), col("n_both"),
            col("n_a"), col("n_b"),
            round(col("n_both").cast("double") / lit(nUsers.toDouble), 6)
              .as("support"),
            round(col("n_both").cast("double") / col("n_a").cast("double"), 6)
              .as("confidence"),
            round((col("n_both") * lit(nUsers)).cast("double")
              / (col("n_a") * col("n_b")).cast("double"), 6).as("lift"))
          .orderBy("type_a", "type_b"))
      },
      oracle = Some("""
        WITH ut AS (
          SELECT DISTINCT user_id, event_type FROM events),
        nu AS (SELECT count(DISTINCT user_id) AS n_users FROM ut),
        tc AS (SELECT event_type AS t, count(*) AS n FROM ut GROUP BY 1),
        pr AS (
          SELECT x.event_type AS type_a, y.event_type AS type_b,
                 count(*) AS n_both
          FROM ut x JOIN ut y
            ON x.user_id = y.user_id AND x.event_type < y.event_type
          GROUP BY 1, 2)
        SELECT type_a, type_b,
               CAST(n_both AS BIGINT) AS n_both,
               CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b,
               round(CAST(n_both AS DOUBLE) / CAST(nu.n_users AS DOUBLE), 6)
                 AS support,
               round(CAST(n_both AS DOUBLE) / CAST(a.n AS DOUBLE), 6)
                 AS confidence,
               round(CAST(n_both * nu.n_users AS DOUBLE)
                     / CAST(a.n * b.n AS DOUBLE), 6) AS lift
        FROM pr
        JOIN tc a ON a.t = pr.type_a
        JOIN tc b ON b.t = pr.type_b, nu
        ORDER BY type_a, type_b""")),

    // Gini coefficient of per-user event volume — the whale/concentration
    // number ("what share of traffic is a handful of users") every abuse
    // and capacity review quotes. Computed in the GROUPED form: instead
    // of ranking every user (a global sort of the per-user relation),
    // the activity-level HISTOGRAM (distinct count values — bounded by
    // max activity, not user count) carries block rank-sums
    // x·(f·r_prev + f(f+1)/2), so the only window runs over the bounded
    // histogram. Everything is exact integer arithmetic until the single
    // closing IEEE division — bit-identical across engines with no
    // rounding discipline needed.
    "events_gini" -> QueryDef(
      fn = (s, d) => {
        val wRun = Window.orderBy("x")
          .rowsBetween(Window.unboundedPreceding, -1)
        t(s, d, "events")
          .groupBy("user_id").agg(count(lit(1)).as("x"))
          .groupBy("x").agg(count(lit(1)).as("f"))
          .withColumn("rprev", coalesce(sum(col("f")).over(wRun), lit(0L)))
          .withColumn("blk",
            col("x") * (col("f") * col("rprev") +
              expr("f * (f + 1) DIV 2")))
          .agg(sum(col("f")).as("n"), sum(col("x") * col("f")).as("s"),
            sum(col("blk")).as("sixi"))
          .select(col("n").as("n_users"), col("s").as("total_events"),
            round((lit(2L) * col("sixi") - (col("n") + 1) * col("s"))
              .cast("double")
              / (col("n") * col("s")).cast("double"), 6).as("gini"))
      },
      oracle = Some("""
        WITH ux AS (
          SELECT user_id, count(*) AS x FROM events GROUP BY user_id),
        h AS (SELECT x, count(*) AS f FROM ux GROUP BY x),
        r AS (
          SELECT x, f,
                 coalesce(sum(f) OVER (ORDER BY x
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS rprev
          FROM h),
        b AS (
          SELECT x, f, rprev,
                 x * (f * rprev + (f * (f + 1)) // 2) AS blk
          FROM r),
        t AS (
          SELECT sum(f) AS n, sum(x * f) AS s, sum(blk) AS sixi FROM b)
        SELECT CAST(n AS BIGINT) AS n_users,
               CAST(s AS BIGINT) AS total_events,
               round(CAST(2 * sixi - (n + 1) * s AS DOUBLE)
                     / CAST(n * s AS DOUBLE), 6) AS gini
        FROM t""")),

    // CUSUM changepoint statistic (Page'54) over the daily event series:
    // per day, the cumulative sum of deviations from the series mean —
    // the curve's extremum localizes the most likely level shift, THE
    // classic drift/changepoint monitor over ingest volume (a pipeline
    // dashboard plots exactly this under every rate chart). Shape: one
    // day-grouped aggregate (bounded by the corpus day span), then
    // windows over that bounded relation. Per-day deviations round to
    // 6dp into DECIMAL so the running sums are exact; the peak flag is
    // an exact decimal comparison.
    "events_cusum" -> QueryDef(
      fn = (s, d) => {
        val dec = DecimalType(18, 6)
        val daily = t(s, d, "events")
          .select(Tables.eventDay.as("day"))
          .groupBy("day").agg(count(lit(1)).as("n_events"))
        val mu = sum(col("n_events")).over(Window.partitionBy())
          .cast("double") /
          count(lit(1)).over(Window.partitionBy()).cast("double")
        val wRun = Window.orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        daily
          .withColumn("dev",
            round(col("n_events").cast("double") - mu, 6).cast(dec))
          .withColumn("cusum", sum(col("dev")).over(wRun))
          .withColumn("is_peak",
            abs(col("cusum")) === max(abs(col("cusum")))
              .over(Window.partitionBy()))
          .select(col("day"), col("n_events"),
            col("cusum").cast("double").as("cusum"), col("is_peak"))
          .orderBy("day")
      },
      oracle = Some("""
        WITH daily AS (
          SELECT epoch_us(ts) // 86400000000 AS day, count(*) AS n_events
          FROM events GROUP BY 1),
        m AS (
          SELECT day, n_events,
                 CAST(sum(n_events) OVER () AS DOUBLE)
                 / CAST(count(*) OVER () AS DOUBLE) AS mu
          FROM daily),
        dv AS (
          SELECT day, n_events,
                 CAST(round(CAST(n_events AS DOUBLE) - mu, 6)
                   AS DECIMAL(18,6)) AS dev
          FROM m),
        cs AS (
          SELECT day, n_events,
                 sum(dev) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum
          FROM dv)
        SELECT day, n_events,
               CAST(cusum AS DOUBLE) AS cusum,
               abs(cusum) = max(abs(cusum)) OVER () AS is_peak
        FROM cs ORDER BY day""")),

    // Kaplan–Meier survival curve (Kaplan & Meier'58) over user
    // lifetimes: per day-step t, the at-risk count, the churn count
    // (users whose observed lifetime is exactly t days), and the product-
    // limit estimate S(t) = Π_{i≤t}(1 − d_i/n_i) — THE retention curve a
    // growth dashboard plots (events_retention gives fixed-window cohort
    // rates; this gives the full curve). Shape: one user-keyed aggregate
    // → a lifetime histogram bounded by the corpus day span, then
    // windows over that bounded relation — never a per-user sort.
    // Determinism: the product is exp(Σ ln), each step's ln of an exact
    // integer ratio rounded to 6dp into DECIMAL (order-independent
    // cumulative sums); the final step (everyone at risk churns) is an
    // exact 0.0 on both sides rather than ln(0).
    "events_survival" -> QueryDef(
      fn = (s, d) => {
        val dec = DecimalType(18, 6)
        val lt = t(s, d, "events")
          .select(col("user_id"), Tables.eventDay.as("day"))
          .groupBy("user_id")
          .agg((max(col("day")) - min(col("day"))).as("t"))
        val wRun = Window.orderBy("t")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val km = lt.groupBy("t").agg(count(lit(1)).as("d"))
          .withColumn("cum", sum(col("d")).over(wRun))
          .withColumn("n_total", sum(col("d")).over(Window.partitionBy()))
          .withColumn("n_risk", col("n_total") - (col("cum") - col("d")))
        val term = when(col("n_risk") === col("d"),
            lit(null).cast(dec))
          .otherwise(round(log((col("n_risk") - col("d")).cast("double")
            / col("n_risk").cast("double")), 6).cast(dec))
        km.withColumn("cterm", sum(term).over(wRun))
          .select(col("t").as("t_days"), col("n_risk"),
            col("d").as("n_churned"),
            when(col("cum") === col("n_total"), lit(0.0))
              .otherwise(round(exp(col("cterm").cast("double")), 6))
              .as("survival"))
          .orderBy("t_days")
      },
      oracle = Some("""
        WITH lt AS (
          SELECT user_id,
                 max(epoch_us(ts) // 86400000000)
                 - min(epoch_us(ts) // 86400000000) AS t
          FROM events GROUP BY user_id),
        dd AS (SELECT t, count(*) AS d FROM lt GROUP BY t),
        km AS (
          SELECT t, d,
                 sum(d) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                 sum(d) OVER () AS n_total
          FROM dd),
        tm AS (
          SELECT t, d, cum, n_total,
                 n_total - (cum - d) AS n_risk,
                 CASE WHEN n_total - (cum - d) = d THEN NULL
                      ELSE CAST(round(ln(
                             CAST((n_total - (cum - d)) - d AS DOUBLE)
                             / CAST(n_total - (cum - d) AS DOUBLE)), 6)
                           AS DECIMAL(18,6)) END AS term
          FROM km),
        ct AS (
          SELECT *, sum(term) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cterm
          FROM tm)
        SELECT CAST(t AS BIGINT) AS t_days,
               CAST(n_risk AS BIGINT) AS n_risk,
               CAST(d AS BIGINT) AS n_churned,
               CASE WHEN cum = n_total THEN 0.0
                    ELSE round(exp(CAST(cterm AS DOUBLE)), 6) END AS survival
        FROM ct ORDER BY t_days""")),

    // Trailing exponential smoothing (8-tap EWMA, weight 2^-j on the
    // j-th lag): the per-entity metric smoother — half-decay weights are
    // EXACT in decimal (2^-7 = 0.0078125 needs 10 fractional digits),
    // lagged values round to 6dp into decimal, and the weight mass
    // renormalizes over the lags that exist near a series head, so the
    // numerator/denominator are exact decimals and only the final
    // division is IEEE (identical both engines). One per-user window,
    // no unbounded frame.
    "events_ewma" -> QueryDef(
      fn = (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("us"), col("event_id"))
        val taps = 0 until 8
        val lagged = taps.map(j =>
          round(lag(col("value"), j).over(w), 6)
            .cast(DecimalType(18, 6)).as(s"v$j"))
        val base = t(s, d, "events")
          .select(col("user_id"), Tables.eventUs.as("us"),
            col("event_id"), col("value"))
          .select(Seq(col("user_id"), col("us"), col("event_id")) ++ lagged: _*)
        val wj = taps.map(j => BigDecimal(0.5).pow(j))
        val num = taps.map(j =>
          when(col(s"v$j").isNotNull,
            col(s"v$j") * lit(wj(j).bigDecimal)).otherwise(lit(BigDecimal(0).bigDecimal)))
          .reduce(_ + _)
        val den = taps.map(j =>
          when(col(s"v$j").isNotNull, lit(wj(j).bigDecimal))
            .otherwise(lit(BigDecimal(0).bigDecimal)))
          .reduce(_ + _)
        base.select(col("user_id"), col("event_id"),
            round(num.cast("double") / den.cast("double"), 6).as("ewma"))
          .orderBy("user_id", "event_id")
      },
      oracle = Some {
        val taps = 0 until 8
        val lags = taps.map(j =>
          s"CAST(round(lag(value, $j) OVER (PARTITION BY user_id " +
            s"ORDER BY epoch_us(ts), event_id), 6) AS DECIMAL(18,6)) AS v$j")
          .mkString(", ")
        def wj(j: Int) = BigDecimal(0.5).pow(j).toString
        val num = taps.map(j =>
          s"CASE WHEN v$j IS NOT NULL THEN v$j * ${wj(j)} ELSE 0 END")
          .mkString(" + ")
        val den = taps.map(j =>
          s"CASE WHEN v$j IS NOT NULL THEN ${wj(j)} ELSE 0 END")
          .mkString(" + ")
        s"""
        WITH lagged AS (
          SELECT user_id, event_id, $lags FROM events)
        SELECT user_id, event_id,
               round(CAST($num AS DOUBLE) / CAST($den AS DOUBLE), 6) AS ewma
        FROM lagged ORDER BY user_id, event_id"""
      }),

    // A/B experiment readout: two-proportion z-test between md5-parity
    // user cohorts on a heavy-buyer conversion metric (> 12 purchases —
    // the fixture's per-user purchase counts straddle 12 at every SF) —
    // the analysis every experimentation platform runs per metric.
    // Cohort assignment is the same deterministic md5-bucket machinery as
    // split_assign (no RNG, so the whole readout hash-matches); per-user
    // conversion is one conditional aggregate, cohort rollups one global
    // conditional aggregate, and the pooled-variance z closes in a single
    // projection of IEEE arithmetic both engines evaluate identically —
    // NULL when degenerate (empty cohort or 0%/100% pooled rate), never
    // a divide-by-zero. Scale: one events scan + one user-keyed
    // aggregate; output is one row.
    "events_ab_test" -> QueryDef(
      fn = (s, d) => {
        import graft.operators.Experiment
        val users = t(s, d, "events")
          .groupBy("user_id")
          .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("np"))
          .select(when(col("np") > 12, 1L).otherwise(0L).as("cv"),
            Experiment.cohort(col("user_id")).as("grp"))
        Experiment.zReadout(Experiment.cohortCounts(users))
      },
      oracle = Some("""
        WITH u AS (
          SELECT user_id,
                 sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS np
          FROM events GROUP BY user_id),
        g AS (
          SELECT CASE WHEN np > 12 THEN 1 ELSE 0 END AS cv,
                 CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12)
                      AS BIGINT) % 2 AS grp
          FROM u),
        c AS (
          SELECT CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                 CAST(sum(CASE WHEN grp = 0 THEN cv ELSE 0 END) AS BIGINT) AS conv_a,
                 CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
                 CAST(sum(CASE WHEN grp = 1 THEN cv ELSE 0 END) AS BIGINT) AS conv_b
          FROM g)
        SELECT n_a, conv_a, n_b, conv_b,
               CASE WHEN n_a > 0
                    THEN round(CAST(conv_a AS DOUBLE) / n_a, 6) END AS rate_a,
               CASE WHEN n_b > 0
                    THEN round(CAST(conv_b AS DOUBLE) / n_b, 6) END AS rate_b,
               CASE WHEN n_a = 0 OR n_b = 0 OR conv_a + conv_b = 0
                         OR conv_a + conv_b = n_a + n_b THEN NULL
                    ELSE round((CAST(conv_a AS DOUBLE) / n_a
                                - CAST(conv_b AS DOUBLE) / n_b)
                      / sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                             * (1.0 - CAST(conv_a + conv_b AS DOUBLE)
                                      / (n_a + n_b))
                             * (1.0 / n_a + 1.0 / n_b)), 6)
               END AS z
        FROM c"""))
      ,

    // Windowed funnel conversion: step B counts only within 1 hour of the
    // step-A anchor (first view / first click) — the bounded-window form
    // every real conversion funnel uses (unbounded "ever converted"
    // overstates attribution). Same single-scan shape as
    // events_time_to_convert: per-user window anchors + one co-partitioned
    // conditional aggregate + a 2-element explode; rates close in one IEEE
    // division per step.
    "events_funnel_windowed" -> QueryDef(
      fn = (s, d) => {
        val windowUs = 3600000000L // 1 hour
        val ev = t(s, d, "events")
          .select(col("user_id"), Tables.eventUs.as("us"), col("event_type"))
        val w = Window.partitionBy("user_id")
        val anchored = ev
          .withColumn("ta1",
            min(when(col("event_type") === "view", col("us"))).over(w))
          .withColumn("ta2",
            min(when(col("event_type") === "click", col("us"))).over(w))
        val perUser = anchored.groupBy("user_id").agg(
          min(col("ta1")).as("ta1"),
          min(col("ta2")).as("ta2"),
          min(when(col("event_type") === "click" &&
            col("us") > col("ta1") &&
            col("us") <= col("ta1") + windowUs, col("us"))).as("tb1"),
          min(when(col("event_type") === "purchase" &&
            col("us") > col("ta2") &&
            col("us") <= col("ta2") + windowUs, col("us"))).as("tb2"))
        perUser
          .select(explode(array(
            struct(lit("view->click").as("step"),
              when(col("ta1").isNotNull, 1L).otherwise(0L).as("anc"),
              when(col("tb1").isNotNull, 1L).otherwise(0L).as("cv")),
            struct(lit("click->purchase").as("step"),
              when(col("ta2").isNotNull, 1L).otherwise(0L).as("anc"),
              when(col("tb2").isNotNull, 1L).otherwise(0L).as("cv"))))
            .as("st"))
          .groupBy(col("st.step").as("step"))
          .agg(sum(col("st.anc")).as("n_anchor"),
            sum(col("st.cv")).as("n_converted"))
          .select(col("step"), col("n_anchor"), col("n_converted"),
            when(col("n_anchor") > 0,
              round(col("n_converted").cast("double") / col("n_anchor"), 6))
              .otherwise(lit(null).cast("double")).as("rate"))
          .orderBy("step")
      },
      oracle = Some("""
        WITH ev AS (
          SELECT user_id, epoch_us(ts) AS us, event_type FROM events),
        anch AS (
          SELECT user_id,
                 min(CASE WHEN event_type = 'view' THEN us END) AS ta1,
                 min(CASE WHEN event_type = 'click' THEN us END) AS ta2
          FROM ev GROUP BY user_id),
        per AS (
          SELECT a.user_id, a.ta1, a.ta2,
                 min(CASE WHEN e.event_type = 'click' AND e.us > a.ta1
                          AND e.us <= a.ta1 + 3600000000 THEN e.us END) AS tb1,
                 min(CASE WHEN e.event_type = 'purchase' AND e.us > a.ta2
                          AND e.us <= a.ta2 + 3600000000 THEN e.us END) AS tb2
          FROM anch a JOIN ev e USING (user_id)
          GROUP BY a.user_id, a.ta1, a.ta2),
        steps AS (
          SELECT 'view->click' AS step,
                 CASE WHEN ta1 IS NOT NULL THEN 1 ELSE 0 END AS anc,
                 CASE WHEN tb1 IS NOT NULL THEN 1 ELSE 0 END AS cv
          FROM per
          UNION ALL
          SELECT 'click->purchase' AS step,
                 CASE WHEN ta2 IS NOT NULL THEN 1 ELSE 0 END AS anc,
                 CASE WHEN tb2 IS NOT NULL THEN 1 ELSE 0 END AS cv
          FROM per)
        SELECT step,
               CAST(sum(anc) AS BIGINT) AS n_anchor,
               CAST(sum(cv) AS BIGINT) AS n_converted,
               CASE WHEN sum(anc) > 0
                    THEN round(CAST(sum(cv) AS DOUBLE)
                               / CAST(sum(anc) AS BIGINT), 6) END AS rate
        FROM steps GROUP BY step ORDER BY step""")),

    // CUPED variance reduction (Deng, Xu, Kohavi & Walker, WSDM'13 —
    // "Improving the Sensitivity of Online Controlled Experiments"): the
    // standard pre-experiment-covariate adjustment every experimentation
    // platform applies before the z-test. Pre/post periods split at the
    // event-time midpoint; per user x = pre-period purchases (covariate),
    // y = post-period purchases (metric); θ = cov(x,y)/var(x) pooled over
    // all users; adjusted cohort means ŷ = mean(y) − θ(mean(x) − mean(x̄))
    // and the achieved variance-reduction fraction r² =
    // cov²/(var(x)·var(y)). Every moment is an EXACT INTEGER sum (counts
    // and their products), so one user-keyed aggregate + one global
    // conditional aggregate produce the whole readout, and the closing
    // arithmetic is identical scalar IEEE on both engines — no
    // accumulation-order hazard anywhere. NULLs when degenerate (zero
    // variance or an empty cohort), never a divide-by-zero.
    "events_cuped" -> QueryDef(
      fn = (s, d) => {
        val ev = t(s, d, "events")
          .select(col("user_id"), Tables.eventUs.as("us"), col("event_type"))
        val mm = ev.agg(min(col("us")), max(col("us"))).head()
        val tmid = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) / 2
        val isP = col("event_type") === "purchase"
        val per = ev.groupBy("user_id").agg(
            sum(when(isP && col("us") <= tmid, 1L).otherwise(0L)).as("x"),
            sum(when(isP && col("us") > tmid, 1L).otherwise(0L)).as("y"))
          .select(col("x"), col("y"),
            (conv(substring(md5(col("user_id").cast("string")), 1, 12), 16, 10)
              .cast("long") % 2).as("grp"))
        val m = per.agg(
          count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("y") * col("y")).as("syy"),
          sum(when(col("grp") === 0, 1L).otherwise(0L)).as("n_a"),
          sum(when(col("grp") === 0, col("x")).otherwise(0L)).as("sxa"),
          sum(when(col("grp") === 0, col("y")).otherwise(0L)).as("sya"),
          sum(when(col("grp") === 1, 1L).otherwise(0L)).as("n_b"),
          sum(when(col("grp") === 1, col("x")).otherwise(0L)).as("sxb"),
          sum(when(col("grp") === 1, col("y")).otherwise(0L)).as("syb"))
        val nD = col("n").cast("double")
        val mx = col("sx").cast("double") / nD
        val my = col("sy").cast("double") / nD
        val varx = col("sxx").cast("double") / nD - mx * mx
        val vary = col("syy").cast("double") / nD - my * my
        val covxy = col("sxy").cast("double") / nD - mx * my
        val ok = col("n_a") > 0 && col("n_b") > 0
        val okv = ok && varx > 0 && vary > 0
        val theta = covxy / varx
        def adj(sy_ : org.apache.spark.sql.Column, sx_ : org.apache.spark.sql.Column,
            n_ : org.apache.spark.sql.Column) =
          sy_.cast("double") / n_ - theta *
            (sx_.cast("double") / n_ - mx)
        m.select(col("n_a"), col("n_b"),
          when(ok, round(col("sya").cast("double") / col("n_a"), 6))
            .otherwise(lit(null).cast("double")).as("mean_a_raw"),
          when(ok, round(col("syb").cast("double") / col("n_b"), 6))
            .otherwise(lit(null).cast("double")).as("mean_b_raw"),
          when(okv, round(adj(col("sya"), col("sxa"), col("n_a")), 6))
            .otherwise(lit(null).cast("double")).as("mean_a_adj"),
          when(okv, round(adj(col("syb"), col("sxb"), col("n_b")), 6))
            .otherwise(lit(null).cast("double")).as("mean_b_adj"),
          when(okv, round(theta, 6))
            .otherwise(lit(null).cast("double")).as("theta"),
          when(okv, round(covxy * covxy / (varx * vary), 6))
            .otherwise(lit(null).cast("double")).as("var_reduction"))
      },
      oracle = Some("""
        WITH b AS (
          SELECT min(epoch_us(ts))
                   + (max(epoch_us(ts)) - min(epoch_us(ts))) // 2 AS tmid
          FROM events),
        per AS (
          SELECT user_id,
                 sum(CASE WHEN event_type = 'purchase'
                          AND epoch_us(ts) <= (SELECT tmid FROM b)
                          THEN 1 ELSE 0 END) AS x,
                 sum(CASE WHEN event_type = 'purchase'
                          AND epoch_us(ts) > (SELECT tmid FROM b)
                          THEN 1 ELSE 0 END) AS y
          FROM events GROUP BY user_id),
        g AS (
          SELECT x, y,
                 CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12)
                      AS BIGINT) % 2 AS grp
          FROM per),
        m AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                 CAST(sum(x * x) AS BIGINT) AS sxx,
                 CAST(sum(x * y) AS BIGINT) AS sxy,
                 CAST(sum(y * y) AS BIGINT) AS syy,
                 CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                 CAST(sum(CASE WHEN grp = 0 THEN x ELSE 0 END) AS BIGINT) AS sxa,
                 CAST(sum(CASE WHEN grp = 0 THEN y ELSE 0 END) AS BIGINT) AS sya,
                 CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
                 CAST(sum(CASE WHEN grp = 1 THEN x ELSE 0 END) AS BIGINT) AS sxb,
                 CAST(sum(CASE WHEN grp = 1 THEN y ELSE 0 END) AS BIGINT) AS syb
          FROM g),
        s AS (
          SELECT *,
                 CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mx,
                 CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS my
          FROM m),
        v AS (
          SELECT *,
                 CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE) - mx * mx AS varx,
                 CAST(syy AS DOUBLE) / CAST(n AS DOUBLE) - my * my AS vary,
                 CAST(sxy AS DOUBLE) / CAST(n AS DOUBLE) - mx * my AS covxy
          FROM s)
        SELECT n_a, n_b,
               CASE WHEN n_a > 0 AND n_b > 0
                    THEN round(CAST(sya AS DOUBLE) / n_a, 6) END AS mean_a_raw,
               CASE WHEN n_a > 0 AND n_b > 0
                    THEN round(CAST(syb AS DOUBLE) / n_b, 6) END AS mean_b_raw,
               CASE WHEN n_a > 0 AND n_b > 0 AND varx > 0 AND vary > 0
                    THEN round(CAST(sya AS DOUBLE) / n_a - (covxy / varx)
                               * (CAST(sxa AS DOUBLE) / n_a - mx), 6)
               END AS mean_a_adj,
               CASE WHEN n_a > 0 AND n_b > 0 AND varx > 0 AND vary > 0
                    THEN round(CAST(syb AS DOUBLE) / n_b - (covxy / varx)
                               * (CAST(sxb AS DOUBLE) / n_b - mx), 6)
               END AS mean_b_adj,
               CASE WHEN n_a > 0 AND n_b > 0 AND varx > 0 AND vary > 0
                    THEN round(covxy / varx, 6) END AS theta,
               CASE WHEN n_a > 0 AND n_b > 0 AND varx > 0 AND vary > 0
                    THEN round(covxy * covxy / (varx * vary), 6)
               END AS var_reduction
        FROM v"""))
      ,

    // Sequential experiment monitoring: Wald's SPRT (Wald, "Sequential
    // Tests of Statistical Hypotheses", Ann. Math. Stat. 1945) over the
    // daily conversion Bernoullis — the always-valid alternative to
    // peeking at a fixed-horizon z-test (each peek at events_ab_test
    // inflates false positives; the SPRT's thresholds hold at EVERY day).
    // Trial = an active (user, day); success = that user purchased that
    // day. H0: p = 0.3 vs H1: p = 0.4, alpha = beta = 0.05. The cumulative
    // log-likelihood ratio after day d is cs·ln(p1/p0) + (cn−cs)·
    // ln((1−p1)/(1−p0)); decision crosses ±ln(19). DETERMINISM: both ln
    // constants and the threshold are rounded HALF_UP to 6dp ON THE
    // DRIVER and injected into the Spark plan AND the generated oracle as
    // decimal literals, so the whole curve is exact integer×decimal
    // arithmetic — no cross-engine transcendental at all (stricter than
    // the 6dp-round-then-decimal-sum LM pattern: here even the constants
    // can't drift). Scale: one events scan, one (day,user) aggregate, one
    // day rollup, one cumulative window over ≤ #days rows — bounded.
    "events_sequential_sprt" -> QueryDef(
      fn = (s, d) => {
        val ud = t(s, d, "events")
          .select(Tables.eventDay.as("day"), col("user_id"), col("event_type"))
          .groupBy("day", "user_id")
          .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("sc"))
        graft.operators.Experiment.sprtCurve(ud)
      },
      oracle = {
        val c1 = graft.operators.Experiment.SprtC1.toString
        val c2 = graft.operators.Experiment.SprtC2.toString
        val a = graft.operators.Experiment.SprtA.toString
        Some(s"""
        WITH ud AS (
          SELECT epoch_us(ts) // 86400000000 AS day, user_id,
                 max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS sc
          FROM events GROUP BY 1, 2),
        daily AS (
          SELECT day, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(sc) AS BIGINT) AS s
          FROM ud GROUP BY day),
        cum AS (
          SELECT day,
                 CAST(sum(n) OVER w AS BIGINT) AS cn,
                 CAST(sum(s) OVER w AS BIGINT) AS cs
          FROM daily
          WINDOW w AS (ORDER BY day
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        l AS (
          SELECT day, cn, cs,
                 CAST(cs AS DECIMAL(20,0)) * ($c1)
                   + CAST(cn - cs AS DECIMAL(20,0)) * ($c2) AS llr
          FROM cum)
        SELECT day, cn AS n_trials, cs AS n_success,
               CAST(round(llr, 6) AS DOUBLE) AS llr,
               CASE WHEN llr >= ($a) THEN 'accept_h1'
                    WHEN llr <= -($a) THEN 'accept_h0'
                    ELSE 'continue' END AS decision
        FROM l ORDER BY day""")
      }),

    // Difference-in-differences readout (Card & Krueger AER'94 made the
    // design canonical): cohort × period double difference — the
    // quasi-experimental estimate when only one cohort receives a change
    // mid-stream and raw post-period deltas confound with time trends.
    // Cohorts are the same deterministic md5-parity buckets as
    // events_ab_test; periods split at the event-time midpoint like
    // events_cuped; metric = per-user purchases per period. DID =
    // (mean_b_post − mean_b_pre) − (mean_a_post − mean_a_pre). Every cell
    // total is an exact integer sum, so the whole card is one user-keyed
    // conditional aggregate + one global aggregate + scalar IEEE closes —
    // NULL-guarded when a cohort is empty. Output is one row.
    "events_did" -> QueryDef(
      fn = (s, d) => {
        val ev = t(s, d, "events")
          .select(col("user_id"), Tables.eventUs.as("us"), col("event_type"))
        val mm = ev.agg(min(col("us")), max(col("us"))).head()
        val tmid = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) / 2
        val isP = col("event_type") === "purchase"
        val per = ev.groupBy("user_id").agg(
            sum(when(isP && col("us") <= tmid, 1L).otherwise(0L)).as("x"),
            sum(when(isP && col("us") > tmid, 1L).otherwise(0L)).as("y"))
          .select(col("x"), col("y"),
            graft.operators.Experiment.cohort(col("user_id")).as("grp"))
        val m = per.agg(
          sum(when(col("grp") === 0, 1L).otherwise(0L)).as("n_a"),
          sum(when(col("grp") === 0, col("x")).otherwise(0L)).as("sxa"),
          sum(when(col("grp") === 0, col("y")).otherwise(0L)).as("sya"),
          sum(when(col("grp") === 1, 1L).otherwise(0L)).as("n_b"),
          sum(when(col("grp") === 1, col("x")).otherwise(0L)).as("sxb"),
          sum(when(col("grp") === 1, col("y")).otherwise(0L)).as("syb"))
        val ok = col("n_a") > 0 && col("n_b") > 0
        def mean(sm: org.apache.spark.sql.Column, n: org.apache.spark.sql.Column) =
          sm.cast("double") / n
        val did = (mean(col("syb"), col("n_b")) - mean(col("sxb"), col("n_b"))) -
          (mean(col("sya"), col("n_a")) - mean(col("sxa"), col("n_a")))
        m.select(col("n_a"), col("n_b"),
          when(ok, round(mean(col("sxa"), col("n_a")), 6))
            .otherwise(lit(null).cast("double")).as("mean_a_pre"),
          when(ok, round(mean(col("sya"), col("n_a")), 6))
            .otherwise(lit(null).cast("double")).as("mean_a_post"),
          when(ok, round(mean(col("sxb"), col("n_b")), 6))
            .otherwise(lit(null).cast("double")).as("mean_b_pre"),
          when(ok, round(mean(col("syb"), col("n_b")), 6))
            .otherwise(lit(null).cast("double")).as("mean_b_post"),
          when(ok, round(did, 6))
            .otherwise(lit(null).cast("double")).as("did"))
      },
      oracle = Some("""
        WITH b AS (
          SELECT min(epoch_us(ts))
                   + (max(epoch_us(ts)) - min(epoch_us(ts))) // 2 AS tmid
          FROM events),
        per AS (
          SELECT user_id,
                 sum(CASE WHEN event_type = 'purchase'
                          AND epoch_us(ts) <= (SELECT tmid FROM b)
                          THEN 1 ELSE 0 END) AS x,
                 sum(CASE WHEN event_type = 'purchase'
                          AND epoch_us(ts) > (SELECT tmid FROM b)
                          THEN 1 ELSE 0 END) AS y
          FROM events GROUP BY user_id),
        g AS (
          SELECT x, y,
                 CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12)
                      AS BIGINT) % 2 AS grp
          FROM per),
        m AS (
          SELECT CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                 CAST(sum(CASE WHEN grp = 0 THEN x ELSE 0 END) AS BIGINT) AS sxa,
                 CAST(sum(CASE WHEN grp = 0 THEN y ELSE 0 END) AS BIGINT) AS sya,
                 CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
                 CAST(sum(CASE WHEN grp = 1 THEN x ELSE 0 END) AS BIGINT) AS sxb,
                 CAST(sum(CASE WHEN grp = 1 THEN y ELSE 0 END) AS BIGINT) AS syb
          FROM g)
        SELECT n_a, n_b,
               CASE WHEN n_a > 0 AND n_b > 0
                    THEN round(CAST(sxa AS DOUBLE) / n_a, 6) END AS mean_a_pre,
               CASE WHEN n_a > 0 AND n_b > 0
                    THEN round(CAST(sya AS DOUBLE) / n_a, 6) END AS mean_a_post,
               CASE WHEN n_a > 0 AND n_b > 0
                    THEN round(CAST(sxb AS DOUBLE) / n_b, 6) END AS mean_b_pre,
               CASE WHEN n_a > 0 AND n_b > 0
                    THEN round(CAST(syb AS DOUBLE) / n_b, 6) END AS mean_b_post,
               CASE WHEN n_a > 0 AND n_b > 0
                    THEN round((CAST(syb AS DOUBLE) / n_b
                                - CAST(sxb AS DOUBLE) / n_b)
                               - (CAST(sya AS DOUBLE) / n_a
                                  - CAST(sxa AS DOUBLE) / n_a), 6) END AS did
        FROM m""")),

    // Burst/rate-limit audit: per-user peak events-per-minute vs a cap —
    // the abuse/bot gate every event pipeline fronts with (a scraper
    // shows a hot minute where an organic user's peak stays low).
    // Minute bucketing is integer DIV; two bounded aggregates, report =
    // only the violators.
    "events_rate_limit_audit" -> QueryDef(
      fn = (s, d) => {
        val cap = 2L // low threshold fits the sparse fixture; a parameter in production
        val minute = expr("unix_micros(cast(ts AS timestamp)) DIV 60000000")
        t(s, d, "events")
          .groupBy(col("user_id"), minute.as("minute"))
          .agg(count(lit(1)).as("c"))
          .groupBy("user_id")
          .agg(max(col("c")).as("peak_per_minute"),
            count(lit(1)).as("n_active_minutes"))
          .where(col("peak_per_minute") >= cap)
          .orderBy("user_id")
      },
      oracle = Some("""
        SELECT user_id, max(c) AS peak_per_minute,
               count(*) AS n_active_minutes
        FROM (SELECT user_id, epoch_us(ts) // 60000000 AS minute,
                     count(*) AS c
              FROM events GROUP BY 1, 2)
        GROUP BY user_id
        HAVING max(c) >= 2
        ORDER BY user_id""")),

    // Exponentially time-decayed event counts (half-life 24h): each
    // event contributes 2^(-age/h) relative to the corpus's newest
    // timestamp — the recency-weighted popularity primitive behind
    // trending rankings and decayed feature stores. Decay is mergeable
    // (a partial computed against any later reference T rescales by one
    // factor 2^(-(T'-T)/h)), so partition partials combine and standing
    // snapshots roll forward without rescanning history. The reference
    // time is one driver-pulled max; per-event weights round to 6dp into
    // DECIMAL so accumulation order cannot perturb the sums.
    "events_decayed_counts" -> QueryDef(
      fn = (s, d) => {
        val halfLifeUs = 86400000000L // 24h
        val ev = t(s, d, "events")
          .select(col("event_type"), Tables.eventUs.as("us"))
        val tMax: Long = ev.agg(max(col("us"))).head.getLong(0)
        ev.select(col("event_type"),
            round(pow(lit(2.0),
              -((lit(tMax) - col("us")).cast("double") /
                lit(halfLifeUs.toDouble))), 6)
              .cast(DecimalType(18, 6)).as("wt"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"),
            round(sum(col("wt")).cast("double"), 6).as("decayed"))
          .orderBy("event_type")
      },
      oracle = Some("""
        WITH ev AS (
          SELECT event_type, epoch_us(ts) AS us FROM events),
        tm AS (SELECT max(us) AS t FROM ev),
        wts AS (
          SELECT event_type,
                 CAST(round(pow(2.0,
                        -(CAST(tm.t - us AS DOUBLE) / 86400000000.0)), 6)
                      AS DECIMAL(18,6)) AS wt
          FROM ev, tm)
        SELECT event_type, count(*) AS n_events,
               round(CAST(sum(wt) AS DOUBLE), 6) AS decayed
        FROM wts GROUP BY event_type ORDER BY event_type""")),

    // Sequential path mining one step deeper than the pair transitions:
    // top-20 length-3 event paths per user timeline (two lead windows
    // over the same per-user ordering events_transitions uses). The
    // trigram flow view that finds multi-step loops and dead-ends a
    // pair matrix hides; path counts are group-cardinality-bounded
    // (≤|types|³ rows), so everything after the one user-keyed window
    // shuffle is sketch-scale.
    "events_path_mining" -> QueryDef(
      fn = (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("us"), col("event_id"))
        t(s, d, "events")
          .select(col("user_id"), Tables.eventUs.as("us"),
            col("event_id"), col("event_type"))
          .withColumn("step2", lead(col("event_type"), 1).over(w))
          .withColumn("step3", lead(col("event_type"), 2).over(w))
          .where(col("step2").isNotNull && col("step3").isNotNull)
          .groupBy(col("event_type").as("step1"), col("step2"), col("step3"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("step1"), col("step2"), col("step3"))
          .limit(20)
      },
      oracle = Some("""
        SELECT step1, step2, step3, count(*) AS n
        FROM (SELECT event_type AS step1,
                     lead(event_type, 1) OVER (PARTITION BY user_id
                       ORDER BY epoch_us(ts), event_id) AS step2,
                     lead(event_type, 2) OVER (PARTITION BY user_id
                       ORDER BY epoch_us(ts), event_id) AS step3
              FROM events)
        WHERE step2 IS NOT NULL AND step3 IS NOT NULL
        GROUP BY 1, 2, 3
        ORDER BY n DESC, step1, step2, step3 LIMIT 20""")),

    // Funnel step latency: per conversion step, how long users take —
    // first A to first subsequent B per user, summarized as p50/p90 over
    // the deterministic bottom-64-by-md5(user) sample (the
    // agg_quantile_sketch machinery: a mergeable uniform sample, so per-
    // partition sketches roll up without sorting per-user delays
    // globally — at 100 TB "sort all converting users per step" is the
    // cost this avoids). Exact converted-user counts ride along as
    // evidence. All-integer order statistics; ceil-rank indices.
    "events_time_to_convert" -> QueryDef(
      fn = (s, d) => graft.Blocks.scope { scope =>
        val k = 64
        val ev = t(s, d, "events")
          .select(col("user_id"), Tables.eventUs.as("us"), col("event_type"))
        // ONE events scan for both funnel steps: a per-user window pins
        // the step anchors (first view / first click) onto every row,
        // then a per-user conditional min picks the first post-anchor
        // conversion. The groupBy keys on the window's partition column,
        // so the aggregate reuses the window's hash partitioning — one
        // shuffle total (previously: four events scans across two
        // aggregate+join step builders).
        val w = Window.partitionBy("user_id")
        val anchored = ev
          .withColumn("ta1",
            min(when(col("event_type") === "view", col("us"))).over(w))
          .withColumn("ta2",
            min(when(col("event_type") === "click", col("us"))).over(w))
        val perUser = anchored.groupBy("user_id").agg(
          min(col("ta1")).as("ta1"),
          min(col("ta2")).as("ta2"),
          min(when(col("event_type") === "click" && col("us") > col("ta1"),
            col("us"))).as("tb1"),
          min(when(col("event_type") === "purchase" && col("us") > col("ta2"),
            col("us"))).as("tb2"))
        // Both steps unfold from the ONE per-user row (a 2-element array
        // explode), not a union of two branches — a union would execute
        // the per-user aggregate twice. delay_us is null exactly when the
        // step did not convert (tb null ⇒ the subtraction is null).
        val all = scope.persist(perUser
          .select(col("user_id"), explode(array(
            struct(lit("view->click").as("step"),
              (col("tb1") - col("ta1")).as("delay_us")),
            struct(lit("click->purchase").as("step"),
              (col("tb2") - col("ta2")).as("delay_us")))).as("st"))
          .select(col("st.step").as("step"), col("user_id"),
            col("st.delay_us").as("delay_us"))
          .where(col("delay_us").isNotNull))
        val n = all.groupBy("step").agg(count(lit(1)).as("n_converted"))
        val samp = all.withColumn("h",
            conv(substring(md5(col("user_id").cast("string")), 1, 12), 16, 10)
              .cast("long"))
          .withColumn("rn", row_number().over(
            Window.partitionBy("step").orderBy(col("h"), col("user_id"))))
          .where(col("rn") <= k)
        val ranked = samp
          .withColumn("vr", row_number().over(
            Window.partitionBy("step").orderBy(col("delay_us"), col("user_id"))))
          .join(samp.groupBy("step").agg(count(lit(1)).as("m")), "step")
        val p50 = ranked.where(col("vr") === ceil(col("m") * 0.5))
          .select(col("step"), col("delay_us").as("p50_us"))
        val p90 = ranked.where(col("vr") === ceil(col("m") * 0.9))
          .select(col("step"), col("delay_us").as("p90_us"))
        scope.result(n.join(p50, "step").join(p90, "step").orderBy("step"))
      },
      oracle = Some("""
        WITH ev AS (
          SELECT user_id, epoch_us(ts) AS us, event_type FROM events),
        ta1 AS (SELECT user_id, min(us) AS ta FROM ev
                WHERE event_type = 'view' GROUP BY user_id),
        d1 AS (
          SELECT 'view->click' AS step, e.user_id,
                 min(e.us) - t.ta AS delay_us
          FROM ev e JOIN ta1 t USING (user_id)
          WHERE e.event_type = 'click' AND e.us > t.ta
          GROUP BY e.user_id, t.ta),
        ta2 AS (SELECT user_id, min(us) AS ta FROM ev
                WHERE event_type = 'click' GROUP BY user_id),
        d2 AS (
          SELECT 'click->purchase' AS step, e.user_id,
                 min(e.us) - t.ta AS delay_us
          FROM ev e JOIN ta2 t USING (user_id)
          WHERE e.event_type = 'purchase' AND e.us > t.ta
          GROUP BY e.user_id, t.ta),
        alld AS (SELECT * FROM d1 UNION ALL SELECT * FROM d2),
        n AS (SELECT step, count(*) AS n_converted FROM alld GROUP BY step),
        h AS (
          SELECT step, user_id, delay_us,
                 CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12)
                      AS BIGINT) AS h
          FROM alld),
        samp AS (
          SELECT * FROM (
            SELECT step, user_id, delay_us,
                   row_number() OVER (PARTITION BY step ORDER BY h, user_id)
                     AS rn
            FROM h)
          WHERE rn <= 64),
        m AS (SELECT step, count(*) AS m FROM samp GROUP BY step),
        ranked AS (
          SELECT s.step, s.delay_us, m.m,
                 row_number() OVER (PARTITION BY s.step
                                    ORDER BY s.delay_us, s.user_id) AS vr
          FROM samp s JOIN m USING (step)),
        p50 AS (SELECT step, delay_us AS p50_us FROM ranked
                WHERE vr = ceil(m * 0.5)),
        p90 AS (SELECT step, delay_us AS p90_us FROM ranked
                WHERE vr = ceil(m * 0.9))
        SELECT n.step, n.n_converted, p50.p50_us, p90.p90_us
        FROM n JOIN p50 USING (step) JOIN p90 USING (step)
        ORDER BY step""")),

    // Hour-of-day seasonality profile: each event type's share of
    // activity per UTC hour — the diurnal fingerprint that separates
    // organic traffic (follows the sun) from automated load (flat), and
    // the baseline a rate-anomaly monitor normalizes against before
    // alerting. Two group-cardinality-sized aggregates (|types|·24 and
    // |types| rows); shares are int/int IEEE divisions.
    "events_seasonality" -> QueryDef(
      fn = (s, d) => {
        val hourOfDay = Tables.eventHour % 24 // integer DIV, never /
        val byHour = t(s, d, "events")
          .groupBy(col("event_type"), hourOfDay.as("hour"))
          .agg(count(lit(1)).as("n"))
        val byType = byHour.groupBy("event_type")
          .agg(sum(col("n")).as("total"))
        byHour.join(byType, "event_type")
          .select(col("event_type"), col("hour"), col("n"),
            round(col("n").cast("double") / col("total").cast("double"), 6)
              .as("share"))
          .orderBy("event_type", "hour")
      },
      oracle = Some("""
        WITH bh AS (
          SELECT event_type, (epoch_us(ts) // 3600000000) % 24 AS hour,
                 count(*) AS n
          FROM events GROUP BY 1, 2),
        bt AS (
          SELECT event_type, CAST(sum(n) AS BIGINT) AS total
          FROM bh GROUP BY event_type)
        SELECT bh.event_type, bh.hour, bh.n,
               round(CAST(bh.n AS DOUBLE) / bt.total, 6) AS share
        FROM bh JOIN bt USING (event_type)
        ORDER BY bh.event_type, bh.hour""")),

    // Per-state transition entropy over the same lead-window transition
    // counts as events_transitions: H(from) = -Σ p·ln(p) over the
    // next-state distribution. The sequence-predictability signal
    // (bot/replay traffic shows near-zero entropy, organic browsing sits
    // high) and the information-theoretic summary a Markov model of user
    // flows starts from. Per-term p·ln(p) values round to 6dp into
    // DECIMAL and accumulate exactly — the unigram-logprob determinism
    // pattern — so the per-state sums hash-match; ratios are int/int
    // IEEE divisions both engines compute identically. Transition counts
    // are group-cardinality-sized (|types|²), so everything after the
    // one lead window is sketch-scale.
    "events_transition_entropy" -> QueryDef(
      fn = (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("us"), col("event_id"))
        val trans = t(s, d, "events")
          .select(col("user_id"), Tables.eventUs.as("us"),
            col("event_id"), col("event_type"))
          .withColumn("to_type", lead(col("event_type"), 1).over(w))
          .where(col("to_type").isNotNull)
          .groupBy(col("event_type").as("from_type"), col("to_type"))
          .agg(count(lit(1)).as("n"))
        val tot = trans.groupBy("from_type")
          .agg(sum(col("n")).as("total"))
        trans.join(tot, "from_type")
          .select(col("from_type"), col("total"),
            round((col("n").cast("double") / col("total").cast("double")) *
              log(col("n").cast("double") / col("total").cast("double")), 6)
              .cast(DecimalType(18, 6)).as("plp"))
          .groupBy("from_type")
          .agg(max(col("total")).as("n_transitions"),
            // + 0.0 folds a possible -0.0 (single-successor state, all
            // terms zero) to +0.0 on both engines before formatting
            round(-sum(col("plp")).cast("double") + lit(0.0), 6).as("entropy"))
          .orderBy("from_type")
      },
      oracle = Some("""
        WITH trans AS (
          SELECT event_type AS from_type, to_type, count(*) AS n
          FROM (SELECT event_type,
                       lead(event_type, 1) OVER (PARTITION BY user_id
                         ORDER BY epoch_us(ts), event_id) AS to_type
                FROM events)
          WHERE to_type IS NOT NULL
          GROUP BY 1, 2),
        tot AS (
          SELECT from_type, CAST(sum(n) AS BIGINT) AS total
          FROM trans GROUP BY from_type),
        terms AS (
          SELECT t.from_type, o.total,
                 CAST(round((CAST(t.n AS DOUBLE) / o.total) *
                            ln(CAST(t.n AS DOUBLE) / o.total), 6)
                      AS DECIMAL(18,6)) AS plp
          FROM trans t JOIN tot o USING (from_type))
        SELECT from_type, max(total) AS n_transitions,
               round(-CAST(sum(plp) AS DOUBLE) + 0.0, 6) AS entropy
        FROM terms GROUP BY from_type ORDER BY from_type""")),

    // TPC-H Q6 shape: the pure pushdown benchmark — a conjunctive range
    // filter that must reach the parquet scan and a single exact-decimal
    // aggregate, no joins, no shuffle beyond the final combine.
    "q6_forecast_revenue" -> QueryDef(
      fn = (s, d) =>
        t(s, d, "lineitem")
          .where(
            col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")) &&
            col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00")) &&
            col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
            col("l_quantity") < 24)
          .agg(sum((col("l_extendedprice").cast(dec) * col("l_discount").cast(dec)))
            .cast("double").as("revenue")),
      oracle = Some("""
        SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                        * CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
          AND l_discount >= 0.05 AND l_discount <= 0.07
          AND l_quantity < 24""")),

    // TPC-H Q7 shape: bilateral shipping volume — the same dimension
    // (nation) joined twice under different roles, an OR-of-pairs
    // predicate that only resolves after both joins, and a year-grouped
    // exact-decimal rollup.
    "q7_volume_shipping" -> QueryDef(
      fn = (s, d) => {
        val n1 = t(s, d, "nation").select(
          col("n_nationkey").as("s_nkey"), col("n_name").as("supp_nation"))
        val n2 = t(s, d, "nation").select(
          col("n_nationkey").as("c_nkey"), col("n_name").as("cust_nation"))
        t(s, d, "lineitem")
          .join(broadcast(t(s, d, "supplier")), col("l_suppkey") === col("s_suppkey"))
          .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
          .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
          .join(broadcast(n1), col("s_nationkey") === col("s_nkey"))
          .join(broadcast(n2), col("c_nationkey") === col("c_nkey"))
          .where(
            (col("supp_nation") === "NATION_18" && col("cust_nation") === "NATION_19") ||
            (col("supp_nation") === "NATION_19" && col("cust_nation") === "NATION_18"))
          .groupBy(col("supp_nation"), col("cust_nation"),
            year(col("l_shipdate")).cast("long").as("l_year"))
          .agg(sum(revenueTerm).cast("double").as("revenue"))
          .orderBy("supp_nation", "cust_nation", "l_year")
      },
      oracle = Some(s"""
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(year(l_shipdate) AS BIGINT) AS l_year,
               CAST(sum($revenueSql) AS DOUBLE) AS revenue
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE (n1.n_name = 'NATION_18' AND n2.n_name = 'NATION_19')
           OR (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_18')
        GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""")),

    // TPC-H Q18 shape: large-volume orders — a HAVING subselect over the
    // fact feeds back as a semi-filter on the same fact, then joins
    // customer/orders. The big-order set is selective but still grows
    // linearly with the fact, and orders/customer are fact-sized, so no
    // side carries a forced broadcast — AQE picks per actual size.
    "q18_large_orders" -> QueryDef(
      fn = (s, d) => {
        val li = t(s, d, "lineitem")
        val big = li.groupBy("l_orderkey")
          .agg(sum(col("l_quantity").cast(dec)).as("sq"))
          .where(col("sq") > 300)
          .select(col("l_orderkey").as("big_orderkey"))
        li.join(big, col("l_orderkey") === col("big_orderkey"))
          .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
          .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
          .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
          .agg(sum(col("l_quantity").cast(dec)).cast("double").as("total_qty"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .limit(100)
      },
      oracle = Some("""
        SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS total_qty
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE l_orderkey IN (
          SELECT l_orderkey FROM lineitem
          GROUP BY l_orderkey
          HAVING sum(CAST(l_quantity AS DECIMAL(18,4))) > 300)
        GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""")),

    // TPC-H Q14 shape: fact-to-mid-dimension equi-join (part broadcasts at
    // this SF; past the broadcast threshold AQE falls back to a shuffled
    // hash join) with a conditional-aggregate promo ratio in exact
    // decimals.
    "q14_promo_revenue" -> QueryDef(
      fn = (s, d) => {
        val li = t(s, d, "lineitem")
        val promo = dsum(when(col("p_type").startsWith("PROMO"), revenueTerm)
          .otherwise(lit(0).cast(dec)))
        li.join(broadcast(t(s, d, "part")), col("l_partkey") === col("p_partkey"))
          .groupBy("p_brand")
          .agg(promo.as("promo_rev"), dsum(revenueTerm).as("total_rev"),
            count(lit(1)).as("n"))
          .orderBy("p_brand")
      },
      oracle = Some(s"""
        SELECT p_brand,
               CAST(sum(CASE WHEN p_type LIKE 'PROMO%' THEN $revenueSql
                             ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
                 AS promo_rev,
               ${DSUM.format(revenueSql)} AS total_rev,
               count(*) AS n
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand ORDER BY p_brand"""),
      bench = true),

    // Explicit GROUPING SETS (by-flag and by-status, no grand total).
    "agg_grouping_sets" -> QueryDef(
      fn = (s, d) => {
        val li = t(s, d, "lineitem")
          .select("l_returnflag", "l_linestatus", "l_quantity")
        li.createOrReplaceTempView("li_gs")
        s.sql(s"""
          SELECT l_returnflag, l_linestatus, count(*) AS n,
                 CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
          FROM li_gs
          GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
          ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""")
      },
      oracle = Some(s"""
        SELECT l_returnflag, l_linestatus, count(*) AS n,
               ${DSUM.format("l_quantity")} AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""")),

    // Exact interpolated percentiles per group (Spark `percentile` and
    // DuckDB `quantile_cont` share the linear-interpolation definition;
    // rounded to escape low-bit accumulation differences).
    "agg_percentiles" -> QueryDef(
      fn = (s, d) =>
        t(s, d, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            round(expr("percentile(l_extendedprice, 0.5)"), 4).as("p50"),
            round(expr("percentile(l_extendedprice, 0.95)"), 4).as("p95"),
            count(lit(1)).as("n"))
          .orderBy("l_returnflag"),
      oracle = Some("""
        SELECT l_returnflag,
               round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
               round(quantile_cont(l_extendedprice, 0.95), 4) AS p95,
               count(*) AS n
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // CUBE grouping sets (all 4 combinations); NULLS FIRST pinned.
    "agg_cube" -> QueryDef(
      fn = (s, d) =>
        t(s, d, "lineitem")
          .cube("l_returnflag", "l_linestatus")
          .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
          .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first),
      oracle = Some(s"""
        SELECT l_returnflag, l_linestatus, count(*) AS n,
               ${DSUM.format("l_quantity")} AS sum_qty
        FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""")),

    // lead(): inter-event gap per user — the analytic complement of the
    // lag-based sessionization below.
    "window_lead_gap" -> QueryDef(
      fn = (s, d) => {
        // portable event-time domain is epoch-MICROS: DuckDB truncates the
        // nano timestamps on read, so ordering and differences must both
        // happen at µs resolution (integer DIV, never `/` above 2^53)
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("us"), col("event_id"))
        t(s, d, "events")
          .select(col("user_id"), col("event_id"), Tables.eventUs.as("us"))
          .withColumn("gap_us", lead(col("us"), 1).over(w) - col("us"))
          .select("user_id", "event_id", "gap_us")
          .orderBy("user_id", "event_id")
      },
      oracle = Some("""
        SELECT user_id, event_id,
               lead(epoch_us(ts), 1) OVER (PARTITION BY user_id
                                           ORDER BY epoch_us(ts), event_id)
                 - epoch_us(ts) AS gap_us
        FROM events ORDER BY user_id, event_id""")),

    // Range (interval-containment) join: error events located inside the
    // user's browsing sessions (sessions built from click/view events,
    // 8-hour gap — wide on purpose so the fixture's sparse per-user events
    // form multi-event sessions). Engine: bucketized equi-join
    // (graft.operators.RangeJoin) with the bucket width derived from the
    // sessions' median span - no inequality-join nested loop, no guessed
    // constant; oracle: the declarative BETWEEN join.
    "join_range" -> QueryDef(
      fn = (s, d) => {
        val ev = t(s, d, "events")
          .select(col("user_id"), Tables.eventUs.as("us"),
            col("event_id"), col("event_type"))
        val byUser = Window.partitionBy(col("user_id"))
          .orderBy(col("us"), col("event_id"))
        val sessions = ev
          .where(col("event_type").isin("click", "view"))
          .withColumn("prev_us", lag(col("us"), 1).over(byUser))
          .withColumn("new_session",
            when(col("prev_us").isNull ||
              col("us") - col("prev_us") > lit(28800000000L), lit(1)).otherwise(lit(0)))
          .withColumn("session_id",
            sum(col("new_session")).over(
              byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy("user_id", "session_id")
          .agg(min(col("us")).as("start_us"), max(col("us")).as("end_us"))
        val errors = ev.where(col("event_type") === "error")
          .select("user_id", "us", "event_id")
        graft.operators.RangeJoin
          .intervalJoin(errors, sessions, key = "user_id", time = "us",
            start = "start_us", end = "end_us")
          .groupBy("user_id", "session_id", "start_us", "end_us")
          .agg(count(lit(1)).as("n_errors"))
          .orderBy("user_id", "session_id")
      },
      oracle = Some("""
        WITH ev AS (
          SELECT user_id, epoch_us(ts) AS us, event_id, event_type FROM events),
        brows AS (
          SELECT user_id, us, event_id,
                 lag(us) OVER w AS prev_us
          FROM ev WHERE event_type IN ('click', 'view')
          WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        flagged AS (
          SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > 28800000000
                         THEN 1 ELSE 0 END AS new_session
          FROM brows),
        numbered AS (
          SELECT *, CAST(sum(new_session) OVER (
            PARTITION BY user_id ORDER BY us, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
              AS session_id
          FROM flagged),
        sessions AS (
          SELECT user_id, session_id, min(us) AS start_us, max(us) AS end_us
          FROM numbered GROUP BY 1, 2),
        errors AS (SELECT user_id, us FROM ev WHERE event_type = 'error')
        SELECT s.user_id AS user_id, s.session_id AS session_id,
               s.start_us AS start_us, s.end_us AS end_us,
               count(*) AS n_errors
        FROM errors e JOIN sessions s
          ON e.user_id = s.user_id AND e.us >= s.start_us AND e.us <= s.end_us
        GROUP BY 1, 2, 3, 4
        ORDER BY user_id, session_id""")),

    // Interval-OVERLAP join (RangeJoin.overlapJoin) — the
    // interval×interval sibling of join_range: browsing sessions joined
    // to ±30-min incident windows around error events on the same user,
    // per-session overlapping-window counts. Scale shape: both interval
    // sets explode to covered 1-hour buckets and equi-join on
    // (user, bucket); the exact overlap predicate runs after the hash
    // join, and the report-once rule (emit only in the bucket holding
    // greatest(starts)) kills duplicate pairs with a scan-side comparison
    // instead of a DISTINCT shuffle. The oracle is the quadratic overlap
    // join — proving the banded path exact. Sessions with no incident
    // overlap drop on both sides (inner semantics, like join_range).
    "join_interval_overlap" -> QueryDef(
      fn = (s, d) => {
        val ev = t(s, d, "events")
          .select(col("user_id"), Tables.eventUs.as("us"),
            col("event_id"), col("event_type"))
        val byUser = Window.partitionBy(col("user_id"))
          .orderBy(col("us"), col("event_id"))
        val sessions = ev
          .where(col("event_type").isin("click", "view"))
          .withColumn("prev_us", lag(col("us"), 1).over(byUser))
          .withColumn("new_session",
            when(col("prev_us").isNull ||
              col("us") - col("prev_us") > lit(28800000000L), lit(1))
              .otherwise(lit(0)))
          .withColumn("session_id",
            sum(col("new_session")).over(
              byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy("user_id", "session_id")
          .agg(min(col("us")).as("start_us"), max(col("us")).as("end_us"))
        val errWins = ev.where(col("event_type") === "error")
          .select(col("user_id"),
            (col("us") - lit(1800000000L)).as("w_start"),
            (col("us") + lit(1800000000L)).as("w_end"))
        graft.operators.RangeJoin
          .overlapJoin(sessions, errWins, key = "user_id",
            aStart = "start_us", aEnd = "end_us",
            bStart = "w_start", bEnd = "w_end",
            bucketWidth = 3600000000L)
          .groupBy("user_id", "session_id", "start_us", "end_us")
          .agg(count(lit(1)).as("n_err_windows"))
          .orderBy("user_id", "session_id")
      },
      oracle = Some("""
        WITH ev AS (
          SELECT user_id, epoch_us(ts) AS us, event_id, event_type FROM events),
        brows AS (
          SELECT user_id, us, event_id,
                 lag(us) OVER w AS prev_us
          FROM ev WHERE event_type IN ('click', 'view')
          WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        flagged AS (
          SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > 28800000000
                         THEN 1 ELSE 0 END AS new_session
          FROM brows),
        numbered AS (
          SELECT *, CAST(sum(new_session) OVER (
            PARTITION BY user_id ORDER BY us, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
              AS session_id
          FROM flagged),
        sessions AS (
          SELECT user_id, session_id, min(us) AS start_us, max(us) AS end_us
          FROM numbered GROUP BY 1, 2),
        ew AS (
          SELECT user_id, us - 1800000000 AS w_start, us + 1800000000 AS w_end
          FROM ev WHERE event_type = 'error')
        SELECT s.user_id AS user_id, s.session_id AS session_id,
               s.start_us AS start_us, s.end_us AS end_us,
               count(*) AS n_err_windows
        FROM sessions s JOIN ew e
          ON e.user_id = s.user_id
         AND s.start_us <= e.w_end AND e.w_start <= s.end_us
        GROUP BY 1, 2, 3, 4
        ORDER BY user_id, session_id""")),

    // As-of join: each click matched to the user's most recent prior view
    // (graft.operators.AsOfJoin - union + sorted carry-forward, one
    // shuffle). The oracle uses DuckDB's native ASOF LEFT JOIN; event time
    // in epoch-micros on both sides.
    // Tolerance-bounded as-of: the backward match survives only when it
    // is <= 1h old — stale-quote rejection, the production variant of
    // join_asof (the matched right TIME rides the same one-shuffle
    // union-and-carry, so freshness is a scan-side projection, never a
    // second join). Oracle = DuckDB's native ASOF with a post-join CASE.
    "join_asof_tolerance" -> QueryDef(
      fn = (s, d) => {
        val ev = t(s, d, "events")
          .select(col("user_id"), col("event_id"), Tables.eventUs.as("us"),
            col("event_type"), col("value"))
        val clicks = ev.where(col("event_type") === "click")
          .select("user_id", "event_id", "us")
        val views = ev.where(col("event_type") === "view")
          .select("user_id", "us", "value")
        graft.operators.AsOfJoin
          .asOfTolerance(clicks, views, key = "user_id", time = "us",
            payload = Seq("value"), tolerance = 3600000000L)
          .orderBy("user_id", "event_id")
      },
      oracle = Some("""
        WITH ev AS (
          SELECT user_id, event_id, epoch_us(ts) AS us, event_type, value
          FROM events),
        c AS (SELECT user_id, event_id, us FROM ev WHERE event_type = 'click'),
        v AS (SELECT user_id, us, max(value) AS asof_value
              FROM ev WHERE event_type = 'view' GROUP BY 1, 2)
        SELECT c.user_id AS user_id, c.event_id AS event_id, c.us AS us,
               CASE WHEN v.us IS NOT NULL AND c.us - v.us <= 3600000000
                    THEN c.us - v.us END AS gap_us,
               CASE WHEN v.us IS NOT NULL AND c.us - v.us <= 3600000000
                    THEN v.asof_value END AS asof_value
        FROM c ASOF LEFT JOIN v
          ON c.user_id = v.user_id AND c.us >= v.us
        ORDER BY c.user_id, c.event_id""")),

    "join_asof" -> QueryDef(
      fn = (s, d) => {
        val ev = t(s, d, "events")
          .select(col("user_id"), col("event_id"), Tables.eventUs.as("us"),
            col("event_type"), col("value"))
        val clicks = ev.where(col("event_type") === "click")
          .select("user_id", "event_id", "us")
        val views = ev.where(col("event_type") === "view")
          .select("user_id", "us", "value")
        graft.operators.AsOfJoin
          .asOf(clicks, views, key = "user_id", time = "us", payload = Seq("value"))
          .orderBy("user_id", "event_id")
      },
      oracle = Some("""
        WITH ev AS (
          SELECT user_id, event_id, epoch_us(ts) AS us, event_type, value
          FROM events),
        c AS (SELECT user_id, event_id, us FROM ev WHERE event_type = 'click'),
        v AS (SELECT user_id, us, max(value) AS asof_value
              FROM ev WHERE event_type = 'view' GROUP BY 1, 2)
        SELECT c.user_id AS user_id, c.event_id AS event_id, c.us AS us,
               v.asof_value AS asof_value
        FROM c ASOF LEFT JOIN v
          ON c.user_id = v.user_id AND c.us >= v.us
        ORDER BY c.user_id, c.event_id""")),

    // FORWARD as-of join — the attribution direction of join_asof: each
    // click matched to the user's EARLIEST view at-or-after it
    // (next-touch semantics). Same union + sorted-carry shape with the
    // partition sort reversed; the oracle uses DuckDB's native forward
    // ASOF (`ON c.us <= v.us`).
    "join_asof_forward" -> QueryDef(
      fn = (s, d) => {
        val ev = t(s, d, "events")
          .select(col("user_id"), col("event_id"), Tables.eventUs.as("us"),
            col("event_type"), col("value"))
        val clicks = ev.where(col("event_type") === "click")
          .select("user_id", "event_id", "us")
        val views = ev.where(col("event_type") === "view")
          .select("user_id", "us", "value")
        graft.operators.AsOfJoin
          .asOfForward(clicks, views, key = "user_id", time = "us",
            payload = Seq("value"))
          .orderBy("user_id", "event_id")
      },
      oracle = Some("""
        WITH ev AS (
          SELECT user_id, event_id, epoch_us(ts) AS us, event_type, value
          FROM events),
        c AS (SELECT user_id, event_id, us FROM ev WHERE event_type = 'click'),
        v AS (SELECT user_id, us, max(value) AS asof_value
              FROM ev WHERE event_type = 'view' GROUP BY 1, 2)
        SELECT c.user_id AS user_id, c.event_id AS event_id, c.us AS us,
               v.asof_value AS asof_value
        FROM c ASOF LEFT JOIN v
          ON c.user_id = v.user_id AND c.us <= v.us
        ORDER BY c.user_id, c.event_id""")),

    // NEAREST-event join — the third as-of direction: each click matched
    // to the view CLOSEST in time either way (sensor-alignment /
    // nearest-quote semantics), ties at equal distance to the BACKWARD
    // (causal) side. AsOfJoin.nearest computes both carries inside ONE
    // key partition — one hash Exchange, two per-partition sorts — never
    // a join of two as-of results and never an inequality nested loop.
    // The oracle composes DuckDB's two native ASOF directions and picks
    // the nearer with the same tie rule.
    "join_nearest" -> QueryDef(
      fn = (s, d) => {
        val ev = t(s, d, "events")
          .select(col("user_id"), col("event_id"), Tables.eventUs.as("us"),
            col("event_type"), col("value"))
        val clicks = ev.where(col("event_type") === "click")
          .select("user_id", "event_id", "us")
        val views = ev.where(col("event_type") === "view")
          .select("user_id", "us", "value")
        graft.operators.AsOfJoin
          .nearest(clicks, views, key = "user_id", time = "us",
            payload = Seq("value"))
          .orderBy("user_id", "event_id")
      },
      oracle = Some("""
        WITH ev AS (
          SELECT user_id, event_id, epoch_us(ts) AS us, event_type, value
          FROM events),
        c AS (SELECT user_id, event_id, us FROM ev WHERE event_type = 'click'),
        v AS (SELECT user_id, us, max(value) AS val
              FROM ev WHERE event_type = 'view' GROUP BY 1, 2),
        b AS (
          SELECT c.user_id, c.event_id, c.us, v.val AS bval, v.us AS bus
          FROM c ASOF LEFT JOIN v
            ON c.user_id = v.user_id AND c.us >= v.us),
        f AS (
          SELECT c.user_id, c.event_id, c.us, v.val AS fval, v.us AS fus
          FROM c ASOF LEFT JOIN v
            ON c.user_id = v.user_id AND c.us <= v.us)
        SELECT b.user_id AS user_id, b.event_id AS event_id, b.us AS us,
               CASE WHEN bus IS NULL AND fus IS NULL THEN NULL
                    WHEN bus IS NOT NULL
                         AND (fus IS NULL OR (b.us - bus) <= (fus - b.us))
                    THEN 'backward' ELSE 'forward' END AS direction,
               CASE WHEN bus IS NOT NULL
                         AND (fus IS NULL OR (b.us - bus) <= (fus - b.us))
                    THEN b.us - bus ELSE fus - b.us END AS gap_us,
               CASE WHEN bus IS NOT NULL
                         AND (fus IS NULL OR (b.us - bus) <= (fus - b.us))
                    THEN bval ELSE fval END AS nearest_value
        FROM b JOIN f ON f.user_id = b.user_id AND f.event_id = b.event_id
        ORDER BY b.user_id, b.event_id""")),

    // ROLLUP grouping sets; NULLS FIRST pinned on both sides (Spark default
    // asc = nulls first, DuckDB default = nulls last).
    "agg_rollup" -> QueryDef(
      fn = (s, d) =>
        t(s, d, "lineitem")
          .rollup("l_returnflag", "l_linestatus")
          .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
          .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first),
      oracle = Some(s"""
        SELECT l_returnflag, l_linestatus, count(*) AS n,
               ${DSUM.format("l_quantity")} AS sum_qty
        FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""")),

    // Exact distinct aggregation (expand + two-phase agg in Spark).
    "agg_distinct" -> QueryDef(
      fn = (s, d) =>
        t(s, d, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            countDistinct(col("l_suppkey")).as("n_supp"),
            countDistinct(col("l_partkey")).as("n_part"),
            count(lit(1)).as("n"))
          .orderBy("l_returnflag"),
      oracle = Some("""
        SELECT l_returnflag, count(DISTINCT l_suppkey) AS n_supp,
               count(DISTINCT l_partkey) AS n_part, count(*) AS n
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // Semi join: customers having at least one urgent order (EXISTS).
    "join_semi" -> QueryDef(
      fn = (s, d) => {
        val urgent = t(s, d, "orders").where(col("o_orderpriority") === "1-URGENT")
        t(s, d, "customer")
          .join(urgent, col("c_custkey") === col("o_custkey"), "left_semi")
          .select("c_custkey", "c_name", "c_mktsegment")
          .orderBy("c_custkey")
      },
      oracle = Some("""
        SELECT c_custkey, c_name, c_mktsegment FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
        ORDER BY c_custkey""")),

    // Anti join: customers with no urgent orders (NOT EXISTS).
    "join_anti" -> QueryDef(
      fn = (s, d) => {
        val urgent = t(s, d, "orders").where(col("o_orderpriority") === "1-URGENT")
        t(s, d, "customer")
          .join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
          .select("c_custkey", "c_name", "c_acctbal")
          .orderBy("c_custkey")
      },
      oracle = Some("""
        SELECT c_custkey, c_name, c_acctbal FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderpriority = '1-URGENT')
        ORDER BY c_custkey""")),

    // Bloom-pruned shuffle join: the dimension side's keyset becomes a
    // literal bit table that pre-filters the fact AT THE SCAN, so only
    // possibly-matching rows are shuffled — the 100 TB shape for joins
    // whose dimension side exceeds the broadcast threshold but whose
    // keyset fits a few MB of bits. Deliberately a SHUFFLE join (no
    // broadcast hint): with a broadcast the hash table would already
    // filter map-side and the Bloom would be redundant. No false
    // negatives, so the oracle is the PLAIN join — the Bloom is pure
    // physical pruning, invisible in the result (BloomSpec asserts the
    // pruning itself).
    "join_bloom_pruned" -> QueryDef(
      fn = (s, d) => {
        val ord = t(s, d, "orders").where(
          col("o_orderpriority") === "1-URGENT" &&
          col("o_orderdate") >= lit(java.sql.Timestamp.valueOf("2001-01-01 00:00:00")))
        val pruned = graft.operators.BloomJoin.pruneFact(
          t(s, d, "lineitem"), "l_orderkey", ord.select("o_orderkey"), "o_orderkey")
        pruned.join(ord, col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_lines"),
            sum(revenueTerm).cast("double").as("revenue"))
          .orderBy("o_orderpriority")
      },
      oracle = Some(s"""
        SELECT o_orderpriority, count(*) AS n_lines,
               CAST(sum($revenueSql) AS DOUBLE) AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderpriority = '1-URGENT'
          AND o_orderdate >= TIMESTAMP '2001-01-01 00:00:00'
        GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // Fuzzy self-join via deletion neighborhoods (the SymSpell trick):
    // two strings are within edit distance 1 iff they share a variant in
    // {self} ∪ {one char deleted} — so candidates come from an EQUI-join
    // on exploded variants (|s|+1 per string, linear), then exact
    // levenshtein verifies (shared-deletion pairs can be distance 2).
    // The 100 TB fuzzy-match shape: never a cross join with an edit-
    // distance predicate — the oracle runs that quadratic form over the
    // (small) distinct-name relation to prove the pruned path exact.
    "join_fuzzy_names" -> QueryDef(
      fn = (s, d) => {
        val names = t(s, d, "part").select("p_name").distinct()
        val variants = names.select(col("p_name"), explode(expr(
          """array_distinct(concat(array(p_name),
             transform(sequence(1, length(p_name)),
               i -> concat(substring(p_name, 1, i-1),
                           substring(p_name, i+1, length(p_name))))))"""))
          .as("v"))
        variants.as("a")
          .join(variants.as("b"),
            col("a.v") === col("b.v") && col("a.p_name") < col("b.p_name"))
          .select(col("a.p_name").as("name_a"), col("b.p_name").as("name_b"))
          .distinct()
          .where(levenshtein(col("name_a"), col("name_b")) <= 1)
          .orderBy("name_a", "name_b")
      },
      oracle = Some("""
        WITH n AS (SELECT DISTINCT p_name FROM part)
        SELECT a.p_name AS name_a, b.p_name AS name_b
        FROM n a JOIN n b
          ON a.p_name < b.p_name AND levenshtein(a.p_name, b.p_name) <= 1
        ORDER BY name_a, name_b""")),

    // Equi-width histogram: integer bucket arithmetic (floor of a double
    // division) — deterministic binning on both engines, the standard
    // first look at any column's distribution before choosing partition
    // or salt boundaries.
    "agg_histogram" -> QueryDef(
      fn = (s, d) =>
        t(s, d, "lineitem")
          .groupBy(floor(col("l_extendedprice") / 5000.0).cast("long").as("bucket"))
          .agg(count(lit(1)).as("n"),
            round(min(col("l_extendedprice")), 2).as("lo"),
            round(max(col("l_extendedprice")), 2).as("hi"))
          .orderBy("bucket"),
      oracle = Some("""
        SELECT CAST(floor(l_extendedprice / 5000.0) AS BIGINT) AS bucket,
               count(*) AS n,
               round(min(l_extendedprice), 2) AS lo,
               round(max(l_extendedprice), 2) AS hi
        FROM lineitem GROUP BY 1 ORDER BY 1""")),

    // ntile + first_value in one per-customer window: quartile bucketing
    // and best-order reference — the ranking-bucket shapes (ntile's
    // uneven-remainder semantics match across engines once the ORDER BY
    // is total).
    "window_ntile_quartiles" -> QueryDef(
      fn = (s, d) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice"), col("o_orderkey"))
        t(s, d, "orders")
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
            ntile(4).over(w).cast("long").as("quartile"),
            first_value(col("o_orderkey")).over(w).as("cheapest_order"))
          .orderBy("o_custkey", "o_orderkey")
      },
      oracle = Some("""
        SELECT o_custkey, o_orderkey, o_totalprice,
               CAST(ntile(4) OVER w AS BIGINT) AS quartile,
               first_value(o_orderkey) OVER w AS cheapest_order
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
        ORDER BY o_custkey, o_orderkey""")),

    // Correlation per group WITHOUT order-sensitive double accumulation:
    // all five second-moment sums run in exact DECIMAL (2-decimal inputs →
    // 8-decimal products, exact at any accumulation order), then the
    // Pearson formula is one deterministic double expression over the
    // exact sums — the same trick dsum uses, extended to second moments.
    // Shape: a single hash aggregate; the shuffled state per group is six
    // numbers regardless of corpus size.
    "agg_corr" -> QueryDef(
      fn = (s, d) => {
        // Per-row products stay in the input double domain — exact here
        // (<= 4 decimal places, magnitudes far below 2^53) — then are
        // cast to DECIMAL(28,4) for order-independent summation. A
        // decimal×decimal product would overflow DuckDB's int64-backed
        // DECIMAL(18) physical type oracle-side.
        val (x, y) = (col("l_quantity"), col("l_extendedprice"))
        def dsum28(c: org.apache.spark.sql.Column) =
          sum(c.cast(DecimalType(28, 4))).cast("double")
        val n = count(lit(1)).cast("double")
        val (sx, sy) = (dsum28(x), dsum28(y))
        val (sxy, sxx, syy) = (dsum28(x * y), dsum28(x * x), dsum28(y * y))
        t(s, d, "lineitem")
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            round((n * sxy - sx * sy) /
              sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
              .as("corr_qty_price"))
          .orderBy("l_returnflag")
      },
      oracle = Some {
        def s28(e: String) = s"CAST(sum(CAST($e AS DECIMAL(28,4))) AS DOUBLE)"
        val (nD, sx, sy) = ("CAST(count(*) AS DOUBLE)",
          s28("l_quantity"), s28("l_extendedprice"))
        val (sxy, sxx, syy) = (s28("l_quantity * l_extendedprice"),
          s28("l_quantity * l_quantity"),
          s28("l_extendedprice * l_extendedprice"))
        s"""
        SELECT l_returnflag, count(*) AS n,
               round(($nD * $sxy - $sx * $sy)
                     / sqrt(($nD * $sxx - $sx * $sx)
                            * ($nD * $syy - $sy * $sy)),
                     6) AS corr_qty_price
        FROM lineitem GROUP BY 1 ORDER BY l_returnflag"""
      }),

    // Unpivot (wide → long): the inverse of agg_pivot through Spark's
    // native unpivot operator — zero-count combinations survive the
    // round-trip (a plain GROUP BY would drop them). The oracle writes
    // the unpivot as its UNION ALL expansion.
    "agg_unpivot" -> QueryDef(
      fn = (s, d) =>
        t(s, d, "orders")
          .groupBy("o_orderpriority")
          .pivot("o_orderstatus", Seq("F", "O", "P"))
          .agg(count(lit(1)))
          .select(col("o_orderpriority"),
            coalesce(col("F"), lit(0L)).as("F"),
            coalesce(col("O"), lit(0L)).as("O"),
            coalesce(col("P"), lit(0L)).as("P"))
          .unpivot(Array(col("o_orderpriority")),
            Array(col("F"), col("O"), col("P")), "status", "n")
          .orderBy("o_orderpriority", "status"),
      oracle = Some("""
        WITH wide AS (
          SELECT o_orderpriority,
                 count(*) FILTER (WHERE o_orderstatus = 'F') AS f,
                 count(*) FILTER (WHERE o_orderstatus = 'O') AS o,
                 count(*) FILTER (WHERE o_orderstatus = 'P') AS p
          FROM orders GROUP BY 1)
        SELECT o_orderpriority, 'F' AS status, f AS n FROM wide
        UNION ALL
        SELECT o_orderpriority, 'O', o FROM wide
        UNION ALL
        SELECT o_orderpriority, 'P', p FROM wide
        ORDER BY o_orderpriority, status""")),

    // Least-squares fit per group (price ~ quantity) from the same exact
    // DECIMAL second moments agg_corr uses: slope and intercept are one
    // deterministic double expression over order-independent sums.
    "agg_regr" -> QueryDef(
      fn = (s, d) => {
        val (x, y) = (col("l_quantity"), col("l_extendedprice"))
        def dsum28(c: org.apache.spark.sql.Column) =
          sum(c.cast(DecimalType(28, 4))).cast("double")
        val n = count(lit(1)).cast("double")
        val (sx, sy) = (dsum28(x), dsum28(y))
        val (sxy, sxx) = (dsum28(x * y), dsum28(x * x))
        val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
        t(s, d, "lineitem")
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            round(slope, 6).as("slope"),
            round((sy - slope * sx) / n, 6).as("intercept"))
          .orderBy("l_returnflag")
      },
      oracle = Some {
        def s28(e: String) = s"CAST(sum(CAST($e AS DECIMAL(28,4))) AS DOUBLE)"
        val (nD, sx, sy) = ("CAST(count(*) AS DOUBLE)",
          s28("l_quantity"), s28("l_extendedprice"))
        val (sxy, sxx) = (s28("l_quantity * l_extendedprice"),
          s28("l_quantity * l_quantity"))
        val slope = s"(($nD * $sxy - $sx * $sy) / ($nD * $sxx - $sx * $sx))"
        s"""
        SELECT l_returnflag, count(*) AS n,
               round($slope, 6) AS slope,
               round(($sy - $slope * $sx) / $nD, 6) AS intercept
        FROM lineitem GROUP BY 1 ORDER BY l_returnflag"""
      }),

    // RANGE-framed window (value-based frame, not row-based): trailing
    // 1-hour event-value sum per user in epoch-micros. Peers at the same
    // timestamp share a frame on both engines; the frame sum runs in
    // exact DECIMAL so intra-frame order can't perturb bits.
    "window_range_frame" -> QueryDef(
      fn = (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
          .rangeBetween(-3600000000L, 0)
        t(s, d, "events")
          .select(col("event_id"), col("user_id"),
            Tables.eventUs.as("us"), col("value"))
          .withColumn("hour_sum",
            sum(col("value").cast(DecimalType(18, 4))).over(w).cast("double"))
          .select("event_id", "user_id", "us", "hour_sum")
          .orderBy("event_id")
      },
      oracle = Some("""
        SELECT event_id, user_id, epoch_us(ts) AS us,
               CAST(sum(CAST(value AS DECIMAL(18,4))) OVER (
                 PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
                 AS DOUBLE) AS hour_sum
        FROM events ORDER BY event_id""")),

    // Sliding 7-day distinct users (the MAU/WAU curve) off MERGEABLE daily
    // KMV sketches — the sliding-window-distinct shape that actually ships
    // at 100 TB: an exact trailing distinct re-touches 7 days of raw
    // events PER DAY (7× amplification, and distinct-over-window cannot
    // partial-aggregate), while the sketch path maintains one bottom-64
    // sketch per day (the standing table a streaming sink would keep) and
    // answers every window from 7×64 standing rows by the lossless KMV
    // union-recut (any hash among the window's 64 smallest is among its
    // own day's 64 smallest — Beyer et al. SIGMOD'07). When the merged
    // union holds < 64 distinct hashes every contributing daily sketch
    // was complete, so the estimate IS the exact count. The window fan-out
    // is an explode of each day's 64 sketch rows to the ≤7 target days —
    // an equi-join, never a range nested-loop. The exact side here is
    // oracle evidence, bounded at harness scale.
    "events_mau_sketch" -> QueryDef(
      fn = (s, d) => graft.Blocks.scope { scope =>
        val k = 64
        val H = 281474976710656.0 // 2^48, the md5-prefix hash range
        // localCheckpoint: du feeds four subtrees (days, the sketch
        // window, the exact side); materialized blocks behind a leaf plan
        // beat a pin each consumer re-inlines (see
        // graft.dedup.Dedup.ngramJaccardPairs for the measured rationale)
        val du = scope.checkpoint(t(s, d, "events")
          .select(Tables.eventDay.as("day"), col("user_id")).distinct())
        val days = du.select(col("day")).distinct()
        val wDay = Window.partitionBy(col("day"))
          .orderBy(col("h"), col("user_id"))
        val sk = du
          .withColumn("h",
            conv(substring(md5(col("user_id").cast("string")), 1, 12), 16, 10)
              .cast("long"))
          .withColumn("rn", row_number().over(wDay))
          .where(col("rn") <= k)
          .select("day", "h", "user_id")
        val contrib = sk
          .select(col("h"), col("user_id"),
            explode(sequence(col("day"), col("day") + 6)).as("tday"))
          .join(days.select(col("day").as("tday")), Seq("tday"), "left_semi")
          .select(col("tday"), col("h"), col("user_id")).distinct()
        val wT = Window.partitionBy(col("tday"))
          .orderBy(col("h"), col("user_id"))
        val est = contrib
          .withColumn("rn", row_number().over(wT))
          .where(col("rn") <= k)
          .groupBy("tday")
          .agg(count(lit(1)).as("m"),
            max(when(col("rn") === k, col("h"))).as("hk"))
          .select(col("tday").as("day"),
            when(col("m") < k, col("m").cast("double"))
              .otherwise(lit((k - 1).toDouble * H) / col("hk")).as("raw"))
        val exact = du
          .select(col("user_id"),
            explode(sequence(col("day"), col("day") + 6)).as("tday"))
          .join(days.select(col("day").as("tday")), Seq("tday"), "left_semi")
          .groupBy("tday").agg(countDistinct(col("user_id")).as("n_exact"))
          .select(col("tday").as("day"), col("n_exact"))
        // SCALE BOUND of the exact-evidence side (declared semantics): the
        // n_exact column re-touches 7 days of distinct (day, user) rows
        // per target day — the 7× amplification the sketch path exists to
        // avoid — and its per-day windows are day-partitioned (never
        // single-partition), bounded at harness scale (≤ 30 days × users).
        // A production deployment drops n_exact and reads the sketch side,
        // whose state is days × k = sketch-sized at any volume.
        scope.result(exact.join(est, Seq("day"))
          .select(col("day"), col("n_exact"), round(col("raw"), 6).as("est"))
          .orderBy("day"))
      },
      oracle = Some("""
        WITH du AS (
          SELECT DISTINCT epoch_us(ts) // 86400000000 AS day, user_id
          FROM events),
        days AS (SELECT DISTINCT day FROM du),
        hs AS (
          SELECT day, user_id,
                 CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12)
                      AS BIGINT) AS h
          FROM du),
        sk AS (
          SELECT day, h, user_id
          FROM (SELECT day, h, user_id,
                       row_number() OVER (PARTITION BY day
                                          ORDER BY h, user_id) AS rn
                FROM hs)
          WHERE rn <= 64),
        contrib AS (
          SELECT DISTINCT t.day AS tday, s.h, s.user_id
          FROM sk s JOIN days t ON t.day BETWEEN s.day AND s.day + 6),
        mr AS (
          SELECT tday, h,
                 row_number() OVER (PARTITION BY tday
                                    ORDER BY h, user_id) AS rn
          FROM contrib),
        est AS (
          SELECT tday AS day, count(*) AS m,
                 max(CASE WHEN rn = 64 THEN h END) AS hk
          FROM mr WHERE rn <= 64 GROUP BY 1),
        ex AS (
          SELECT t.day, count(DISTINCT u.user_id) AS n_exact
          FROM du u JOIN days t ON t.day BETWEEN u.day AND u.day + 6
          GROUP BY 1)
        SELECT ex.day, ex.n_exact,
               round(CASE WHEN est.m < 64 THEN CAST(est.m AS DOUBLE)
                          ELSE 63.0 * 281474976710656 / est.hk END, 6)
                 AS est
        FROM ex JOIN est ON est.day = ex.day
        ORDER BY ex.day""")),

    // Sliding DISTINCT count over a value-based frame: per user, the
    // maximum number of distinct event types seen in any trailing 1-hour
    // window. Spark has no DISTINCT window aggregate, so the engine form
    // is size(collect_set() OVER range-frame) — per-frame set size bounded
    // by the event-type vocabulary, one shuffle on the user key; the frame
    // is value-based so timestamp peers agree on both engines.
    "window_sliding_distinct" -> QueryDef(
      fn = (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
          .rangeBetween(-3600000000L, 0)
        t(s, d, "events")
          .select(col("user_id"), Tables.eventUs.as("us"), col("event_type"))
          .withColumn("d", size(collect_set(col("event_type")).over(w)).cast("long"))
          .groupBy("user_id").agg(max(col("d")).as("max_types_1h"))
          .orderBy("user_id")
      },
      oracle = Some("""
        WITH wd AS (
          SELECT user_id,
                 CAST(count(DISTINCT event_type) OVER (
                   PARTITION BY user_id ORDER BY epoch_us(ts)
                   RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS d
          FROM events)
        SELECT user_id, max(d) AS max_types_1h
        FROM wd GROUP BY user_id ORDER BY user_id""")),

    // Time-grid resampling (gap filling): one row per user-hour across
    // each user's active span, zeros where no events landed — the densify
    // step before any fixed-step time-series model. The grid explode is
    // bounded by per-user span length and joins co-partitioned on
    // (user, hour); nothing is quadratic and no driver-side calendar is
    // built. Scoped to every 50th user to keep the harness result narrow.
    "events_gapfill" -> QueryDef(
      fn = (s, d) => {
        val ev = t(s, d, "events")
          .where(col("user_id") % 50 === 0)
          .select(col("user_id"), Tables.eventHour.as("h"))
        val hourly = ev.groupBy("user_id", "h").agg(count(lit(1)).as("n"))
        val grid = ev.groupBy("user_id")
          .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
          .select(col("user_id"), explode(expr("sequence(h0, h1)")).as("h"))
        grid.join(hourly, Seq("user_id", "h"), "left")
          .select(col("user_id"), col("h"),
            coalesce(col("n"), lit(0L)).as("n_events"))
          .orderBy("user_id", "h")
      },
      oracle = Some("""
        WITH ev AS (
          SELECT user_id, epoch_ns(ts) // 3600000000000 AS h
          FROM events WHERE user_id % 50 = 0),
        hourly AS (SELECT user_id, h, count(*) AS n FROM ev GROUP BY 1, 2),
        grid AS (
          SELECT user_id, unnest(generate_series(h0, h1)) AS h
          FROM (SELECT user_id, min(h) AS h0, max(h) AS h1
                FROM ev GROUP BY user_id))
        SELECT g.user_id, g.h, coalesce(hh.n, 0) AS n_events
        FROM grid g
        LEFT JOIN hourly hh ON hh.user_id = g.user_id AND hh.h = g.h
        ORDER BY g.user_id, g.h""")),

    // Time-series resampling with LINEAR INTERPOLATION: the hourly grid
    // (as in events_gapfill) carries each user's mean value, and silent
    // hours get prev + (next-prev) * elapsed/gap between the surrounding
    // observations (edges carry the nearest value). The carry-forward /
    // carry-backward scan is two windows over the per-user grid — state
    // is one row per (user, hour), never the raw events. Both engines
    // compute the identical IEEE expression, so the result hash-matches
    // without rounding.
    "events_interpolate" -> QueryDef(
      fn = (s, d) => {
        val ev = t(s, d, "events")
          .where(col("user_id") % 50 === 0)
          .select(col("user_id"), Tables.eventHour.as("h"),
            col("value"))
        val obs = ev.groupBy("user_id", "h")
          .agg((sum(col("value").cast(DecimalType(18, 4))).cast("double") /
            count(lit(1))).as("v"))
        val grid = ev.groupBy("user_id")
          .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
          .select(col("user_id"), explode(expr("sequence(h0, h1)")).as("h"))
        val wPrev = Window.partitionBy("user_id").orderBy("h")
          .rowsBetween(Window.unboundedPreceding, 0)
        val wNext = Window.partitionBy("user_id").orderBy("h")
          .rowsBetween(0, Window.unboundedFollowing)
        val hObs = when(col("v").isNotNull, col("h"))
        grid.join(obs, Seq("user_id", "h"), "left")
          .withColumn("pv", last(col("v"), ignoreNulls = true).over(wPrev))
          .withColumn("ph", last(hObs, ignoreNulls = true).over(wPrev))
          .withColumn("nv", first(col("v"), ignoreNulls = true).over(wNext))
          .withColumn("nh", first(hObs, ignoreNulls = true).over(wNext))
          .select(col("user_id"), col("h"),
            when(col("v").isNotNull, col("v"))
              .when(col("pv").isNotNull && col("nv").isNotNull,
                col("pv") + (col("nv") - col("pv")) *
                  (col("h") - col("ph")).cast("double") /
                  (col("nh") - col("ph")).cast("double"))
              .otherwise(coalesce(col("pv"), col("nv"))).as("v"))
          .orderBy("user_id", "h")
      },
      oracle = Some(s"""
        WITH ev AS (
          SELECT user_id, epoch_ns(ts) // 3600000000000 AS h, value
          FROM events WHERE user_id % 50 = 0),
        obs AS (SELECT user_id, h,
                       ${DSUM.format("value")} / count(*) AS v
                FROM ev GROUP BY 1, 2),
        grid AS (
          SELECT user_id, unnest(generate_series(h0, h1)) AS h
          FROM (SELECT user_id, min(h) AS h0, max(h) AS h1
                FROM ev GROUP BY user_id)),
        joined AS (
          SELECT g.user_id, g.h, o.v
          FROM grid g
          LEFT JOIN obs o ON o.user_id = g.user_id AND o.h = g.h),
        scanned AS (
          SELECT user_id, h, v,
                 last_value(v IGNORE NULLS) OVER wp AS pv,
                 last_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS)
                   OVER wp AS ph,
                 first_value(v IGNORE NULLS) OVER wn AS nv,
                 first_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS)
                   OVER wn AS nh
          FROM joined
          WINDOW wp AS (PARTITION BY user_id ORDER BY h
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 wn AS (PARTITION BY user_id ORDER BY h
                        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        SELECT user_id, h,
               CASE WHEN v IS NOT NULL THEN v
                    WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
                      pv + (nv - pv) * CAST(h - ph AS DOUBLE)
                                     / CAST(nh - ph AS DOUBLE)
                    ELSE coalesce(pv, nv) END AS v
        FROM scanned ORDER BY user_id, h""")),

    // Pivot (wide cross-tab): order counts per priority x status, with the
    // status domain pinned explicitly (`pivot(col, values)`) so the plan is
    // a single groupBy — no extra distinct-values job and a stable column
    // set at any scale. Absent combinations surface as 0, matching SQL's
    // FILTER-ed counts.
    "agg_pivot" -> QueryDef(
      fn = (s, d) =>
        t(s, d, "orders")
          .groupBy("o_orderpriority")
          .pivot("o_orderstatus", Seq("F", "O", "P"))
          .agg(count(lit(1)))
          .select(col("o_orderpriority"),
            coalesce(col("F"), lit(0L)).as("n_f"),
            coalesce(col("O"), lit(0L)).as("n_o"),
            coalesce(col("P"), lit(0L)).as("n_p"))
          .orderBy("o_orderpriority"),
      oracle = Some("""
        SELECT o_orderpriority,
               count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
               count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
               count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
        FROM orders GROUP BY 1 ORDER BY o_orderpriority""")),

    // Relative-rank windows: percent_rank + cume_dist of order value within
    // each priority class. Both are exact small-integer ratios ((rank-1)/
    // (n-1), peers/n), so doubles are bit-identical across engines; rounded
    // to 6 anyway to keep the oracle contract uniform.
    "window_percent_rank" -> QueryDef(
      fn = (s, d) => {
        val w = Window.partitionBy(col("o_orderpriority"))
          .orderBy(col("o_totalprice"))
        t(s, d, "orders")
          .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"),
            round(percent_rank().over(w), 6).as("pct_rank"),
            round(cume_dist().over(w), 6).as("cume"))
          .orderBy("o_orderkey")
      },
      oracle = Some("""
        SELECT o_orderkey, o_orderpriority, o_totalprice,
               round(percent_rank() OVER w, 6) AS pct_rank,
               round(cume_dist() OVER w, 6) AS cume
        FROM orders
        WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice)
        ORDER BY o_orderkey""")),

    // Set operations with SET semantics (distinct): customers active in
    // 1996 but not 1997 (EXCEPT → anti over distinct), and in both
    // (INTERSECT → semi over distinct). Spark's except/intersect are the
    // DISTINCT forms, matching the SQL operators exactly.
    "set_except_active" -> QueryDef(
      fn = (s, d) => {
        def active(yr: Int) = t(s, d, "orders")
          .where(year(col("o_orderdate")) === yr)
          .select("o_custkey").distinct()
        active(1996).except(active(1997)).orderBy("o_custkey")
      },
      oracle = Some("""
        SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
        EXCEPT
        SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997
        ORDER BY o_custkey""")),

    "set_intersect_active" -> QueryDef(
      fn = (s, d) => {
        def active(yr: Int) = t(s, d, "orders")
          .where(year(col("o_orderdate")) === yr)
          .select("o_custkey").distinct()
        active(1996).intersect(active(1997)).orderBy("o_custkey")
      },
      oracle = Some("""
        SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
        INTERSECT
        SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997
        ORDER BY o_custkey""")),

    // Window ranking: top-3 orders per customer, fully tie-broken.
    "window_topk_per_group" -> QueryDef(
      fn = (s, d) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        t(s, d, "orders")
          .withColumn("rnk", row_number().over(w).cast("long"))
          .where(col("rnk") <= 3)
          .select("o_custkey", "rnk", "o_orderkey", "o_totalprice")
          .orderBy("o_custkey", "rnk")
      },
      oracle = Some("""
        SELECT o_custkey, rnk, o_orderkey, o_totalprice
        FROM (SELECT *, row_number() OVER (
                PARTITION BY o_custkey
                ORDER BY o_totalprice DESC, o_orderkey) AS rnk
              FROM orders)
        WHERE rnk <= 3 ORDER BY o_custkey, rnk""")),

    // The same per-group top-3 computed by the PARTIAL-AGGREGATION path:
    // a typed bounded-buffer Aggregator (TopKAgg) keeps k rows per group
    // map-side, so the shuffle carries at most k rows per group per
    // partition. (Spark's WindowGroupLimit rule gives the bare window
    // form above the same bounded shuffle — ScaleSmoke measures both
    // ~200 KiB on a 240 MB relation; the Aggregator's standing value is
    // riding inside a groupBy NEXT TO other aggregates, where the window
    // form forces a second pass over the fact.) Same total order,
    // identical oracle rows.
    "agg_topk_partial" -> QueryDef(
      fn = (s, d) => {
        val topk = udaf(new graft.functions.TopKAgg(3))
        t(s, d, "orders")
          .groupBy("o_custkey")
          .agg(topk(col("o_totalprice"), col("o_orderkey")).as("r"))
          .select(col("o_custkey"),
            posexplode(expr("arrays_zip(r.ords, r.ties)")).as(Seq("p", "s")))
          .select(col("o_custkey"), (col("p") + 1).cast("long").as("rnk"),
            col("s.ties").as("o_orderkey"), col("s.ords").as("o_totalprice"))
          .orderBy("o_custkey", "rnk")
      },
      oracle = Some("""
        SELECT o_custkey, rnk, o_orderkey, o_totalprice
        FROM (SELECT *, row_number() OVER (
                PARTITION BY o_custkey
                ORDER BY o_totalprice DESC, o_orderkey) AS rnk
              FROM orders)
        WHERE rnk <= 3 ORDER BY o_custkey, rnk""")),

    // Window running total (frame: unbounded preceding → current row).
    // (l_orderkey, l_linenumber) is NOT unique in this generator — the sort
    // must be a total order or the running sum is nondeterministic.
    "window_running_sum" -> QueryDef(
      fn = (s, d) => {
        val w = Window.partitionBy(col("l_orderkey"))
          .orderBy(col("l_linenumber"), col("l_partkey"), col("l_quantity"),
            col("l_extendedprice"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
            col("l_quantity"), col("l_extendedprice"))
          .withColumn("running_qty", sum(col("l_quantity")).over(w))
          .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_quantity",
            "l_extendedprice")
      },
      oracle = Some("""
        SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice,
               sum(l_quantity) OVER (
                 PARTITION BY l_orderkey
                 ORDER BY l_linenumber, l_partkey, l_quantity, l_extendedprice
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_qty
        FROM lineitem
        ORDER BY l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice""")),

    // Event-time bucketing on the epoch-micro scan-side key (Tables.eventHour
    // uses integer `DIV`, NOT `/` — double division would round the inputs).
    "events_hourly" -> QueryDef(
      fn = (s, d) =>
        t(s, d, "events")
          .withColumn("hour_bucket", Tables.eventHour)
          .groupBy("hour_bucket", "event_type")
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
          .orderBy("hour_bucket", "event_type"),
      oracle = Some(s"""
        SELECT epoch_ns(ts) // 3600000000000 AS hour_bucket, event_type,
               count(*) AS n, ${DSUM.format("value")} AS sum_value
        FROM events GROUP BY 1, 2 ORDER BY hour_bucket, event_type"""),
      bench = true),

    // Gap-based sessionization: lag + cumulative session counter — the
    // batch analog of streaming session windows (30 min gap).
    "events_sessionize" -> QueryDef(
      fn = (s, d) => {
        // The portable event-time domain is epoch-micros on both sides
        // (fixture stores timestamp[us]; DuckDB compares via epoch_us).
        val byUser = Window.partitionBy(col("user_id"))
          .orderBy(col("ts_us"), col("event_id"))
        val ev = t(s, d, "events")
          .select(col("user_id"), Tables.eventUs.as("ts_us"),
            col("event_id"), col("value"))
          .withColumn("prev_ts", lag(col("ts_us"), 1).over(byUser))
          .withColumn("new_session",
            when(col("prev_ts").isNull ||
              col("ts_us") - col("prev_ts") > lit(1800000000L), lit(1))
              .otherwise(lit(0)))
          .withColumn("session_id",
            sum(col("new_session")).over(
              byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        ev.groupBy("user_id", "session_id")
          .agg(count(lit(1)).as("n_events"),
            min(col("ts_us")).as("start_us"), max(col("ts_us")).as("end_us"),
            dsum(col("value")).as("sum_value"))
          .orderBy("user_id", "session_id")
      },
      oracle = Some(s"""
        WITH ev AS (
          SELECT user_id, epoch_us(ts) AS ts_us, event_id, value,
                 lag(epoch_us(ts)) OVER w AS prev_ts
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
        flagged AS (
          SELECT *, CASE WHEN prev_ts IS NULL OR ts_us - prev_ts > 1800000000
                         THEN 1 ELSE 0 END AS new_session
          FROM ev),
        sessions AS (
          SELECT *, CAST(sum(new_session) OVER (
            PARTITION BY user_id ORDER BY ts_us, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
          FROM flagged)
        SELECT user_id, session_id, count(*) AS n_events,
               min(ts_us) AS start_us, max(ts_us) AS end_us,
               ${DSUM.format("value")} AS sum_value
        FROM sessions GROUP BY user_id, session_id
        ORDER BY user_id, session_id"""),
      bench = true),

    // Cohort retention: users grouped by their first-activity day, counted
    // on each later day they return (offsets 0..7). The product-analytics
    // staple next to funnel/sessionize. Shape at scale: both the first-day
    // aggregate and the distinct (user, day) relation shuffle on user_id,
    // so the join is co-partitioned (one Exchange reused); the final
    // (cohort, offset) aggregate is tiny. Day arithmetic stays in integer
    // epoch-micros DIV — timezone-free and exact on both engines.
    "events_retention" -> QueryDef(
      fn = (s, d) => {
        val ev = t(s, d, "events")
          .select(col("user_id"), Tables.eventDay.as("day"))
        val firsts = ev.groupBy("user_id").agg(min(col("day")).as("cohort_day"))
        val active = ev.distinct()
        active.join(firsts, "user_id")
          .select(col("cohort_day"),
            (col("day") - col("cohort_day")).as("day_offset"), col("user_id"))
          .where(col("day_offset") <= 7)
          .groupBy("cohort_day", "day_offset")
          .agg(countDistinct(col("user_id")).as("n_users"))
          .orderBy("cohort_day", "day_offset")
      },
      oracle = Some("""
        WITH ev AS (
          SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
        firsts AS (
          SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY user_id),
        active AS (SELECT DISTINCT user_id, day FROM ev)
        SELECT f.cohort_day, a.day - f.cohort_day AS day_offset,
               count(DISTINCT a.user_id) AS n_users
        FROM active a JOIN firsts f USING (user_id)
        WHERE a.day - f.cohort_day <= 7
        GROUP BY 1, 2 ORDER BY cohort_day, day_offset""")),

    // Population z-score outliers per event type (|z| >= 3): the metric
    // sanity gate in front of any events-derived training signal. One
    // grouped aggregate (tiny: one row per event type, broadcast back) +
    // one scan — no window, no second shuffle. Determinism: value is
    // 2-decimal data, so sum(x) and sum(x²) accumulate EXACTLY in
    // DECIMAL(18,4)/its product scale; both engines then derive
    // mean/sd/z from identical doubles with the same expression tree.
    "events_anomaly" -> QueryDef(
      fn = (s, d) => {
        val v = col("value").cast(dec)
        val ev = t(s, d, "events")
          .select(col("event_id"), col("event_type"), col("value"))
        val stats = ev.groupBy("event_type").agg(
          count(lit(1)).as("n"),
          sum(v).cast("double").as("s"),
          sum(v * v).cast("double").as("s2"))
          .select(col("event_type"), (col("s") / col("n")).as("mean"),
            sqrt((col("s2") - col("s") * col("s") / col("n")) / col("n")).as("sd"))
        ev.join(broadcast(stats), "event_type")
          .select(col("event_id"), col("event_type"), col("value"),
            round((col("value") - col("mean")) / col("sd"), 6).as("z"))
          .where(abs(col("z")) >= 3)
          .orderBy("event_id")
      },
      oracle = Some("""
        WITH s AS (
          SELECT event_type, count(*) AS n,
                 CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS s,
                 CAST(sum(CAST(value AS DECIMAL(18,4))
                          * CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS s2
          FROM events GROUP BY event_type),
        st AS (
          SELECT event_type, s / n AS mean, sqrt((s2 - s*s/n)/n) AS sd FROM s)
        SELECT e.event_id, e.event_type, e.value,
               round((e.value - st.mean)/st.sd, 6) AS z
        FROM events e JOIN st USING (event_type)
        WHERE abs(round((e.value - st.mean)/st.sd, 6)) >= 3
        ORDER BY e.event_id"""))
  )
}
