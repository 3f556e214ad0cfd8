package graft.catalog

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.core.Tables
import graft.operators.MarkovKernel

/** Headline analytical queries (TPC-H-shaped) over the corpus.
  *
  * The reference has no SQL layer — each of these would be a hand-assembled
  * chain of MapReduce jobs with temp dirs (cf. the gridmix2 "monsterQuery"
  * 3-stage chain, reference: src/benchmarks/gridmix2/.../GridMixRunner.java:230-275).
  * Here each is ONE declarative plan: Catalyst does predicate pushdown,
  * column pruning and join ordering; AQE picks broadcast vs shuffle join at
  * runtime from actual sizes — at 100 TB the dimension tables stop being
  * broadcastable and the same plan degrades gracefully to shuffle joins.
  *
  * Numeric policy for oracle parity: every floating aggregate is rounded in
  * BOTH engines; rounding scales are chosen so the mathematically exact
  * value has strictly fewer decimals than the rounding scale (sums of
  * 2-decimal money values rounded at 2, of 4-decimal products at 4), so a
  * few ULPs of summation-order noise cannot flip the rounded digit.
  */
object Analytics extends QueryModule {

  /** TPC-H Q1 shape: single scan, 2-key hash aggregate; partial aggregation
    * (the reference's "combiner", mapred/MapTask.java:1271) is automatic.
    */
  def q1Agg(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.filter(col("l_shipdate") <= lit("2000-01-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
          .as("sum_disc_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
  }

  private val q1Sql =
    """SELECT l_returnflag, l_linestatus,
      |  round(sum(l_quantity), 2) AS sum_qty,
      |  round(sum(l_extendedprice), 2) AS sum_base_price,
      |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
      |  round(avg(l_quantity), 4) AS avg_qty,
      |  round(avg(l_discount), 4) AS avg_disc,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '2000-01-01'
      |GROUP BY l_returnflag, l_linestatus""".stripMargin

  /** TPC-H Q6 shape: the pure pushdown query — three selective predicates
    * and a one-row aggregate, no join, no wide columns. At 100 TB this is
    * the query whose cost is ENTIRELY scan-bound: the predicates reach the
    * parquet reader (PushedFilters) and row-group stats skip most of the
    * file; the plan must stay a single scan + partial/final agg.
    */
  def q6Revenue(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount") >= 0.03 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24)
      .agg(round(sum(col("l_extendedprice") * col("l_discount")), 4).as("revenue"),
        count(lit(1)).as("n_rows"))

  private val q6Sql =
    """SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue,
      |  count(*) AS n_rows
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |  AND l_shipdate < TIMESTAMP '1997-01-01'
      |  AND l_discount >= 0.03 AND l_discount <= 0.07
      |  AND l_quantity < 24""".stripMargin

  /** TPC-H Q3 shape: selective dimension filter → 3-way join → agg → top-k.
    * Top-k ordering is on the ROUNDED revenue with a unique tie-break key so
    * both engines cut the same 10 rows.
    */
  def q3TopRevenue(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir).filter(col("c_mktsegment") === "BUILDING")
    val ord  = Tables.orders(spark, dir)
      .filter(col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
    val li   = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") > lit("1997-01-01").cast("timestamp"))
    cust.join(ord, col("c_custkey") === col("o_custkey"))
      .join(li, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
        .as("revenue"))
      .select(col("l_orderkey"), col("revenue"),
        col("o_orderdate").cast("date").as("orderdate"), col("o_orderpriority"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  private val q3Sql =
    """SELECT l_orderkey,
      |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
      |  CAST(o_orderdate AS DATE) AS orderdate, o_orderpriority
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |  JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1997-01-01'
      |  AND l_shipdate > TIMESTAMP '1997-01-01'
      |GROUP BY l_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, l_orderkey
      |LIMIT 10""".stripMargin

  /** TPC-H Q5 shape: snowflake join (region→nation→{customer,supplier}) with
    * the c_nationkey = s_nationkey correlation, grouped revenue per nation.
    * region/nation/supplier are tiny → Catalyst broadcasts them; the
    * orders⋈lineitem spine stays a shuffle join that scales out.
    */
  def q5RegionRevenue(spark: SparkSession, dir: String): DataFrame = {
    val region = Tables.region(spark, dir).filter(col("r_name") === "ASIA")
    val nation = Tables.nation(spark, dir)
    val cust   = Tables.customer(spark, dir)
    val supp   = Tables.supplier(spark, dir)
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
              col("o_orderdate") <  lit("1998-01-01").cast("timestamp"))
    val li = Tables.lineitem(spark, dir)
    region.join(nation, col("r_regionkey") === col("n_regionkey"))
      .join(cust, col("n_nationkey") === col("c_nationkey"))
      .join(ord, col("c_custkey") === col("o_custkey"))
      .join(li, col("o_orderkey") === col("l_orderkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey") &&
                  col("s_nationkey") === col("c_nationkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
        .as("revenue"))
  }

  private val q5Sql =
    """SELECT n_name,
      |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
      |FROM region JOIN nation ON r_regionkey = n_regionkey
      |  JOIN customer ON n_nationkey = c_nationkey
      |  JOIN orders ON c_custkey = o_custkey
      |  JOIN lineitem ON o_orderkey = l_orderkey
      |  JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1998-01-01'
      |GROUP BY n_name""".stripMargin

  /** Tumbling 1-hour window aggregate over the events log, computed directly
    * on the epoch-nanos long (see [[Tables.events]]). Batch twin of
    * [[graft.streaming.StreamingOps.windowedAgg]].
    */
  def eventsWindowAgg(spark: SparkSession, dir: String): DataFrame = {
    val hourNs = 3600L * 1000 * 1000 * 1000
    // Integer `div`, not `/`: epoch-nanos (~1.7e18) exceeds double's 2^53
    // exact range, so float division would mis-bucket boundary events.
    Tables.events(spark, dir)
      .groupBy(expr(s"ts div ${hourNs}L").as("hour_bucket"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           round(sum(col("value")), 2).as("sum_value"))
  }

  private val eventsWindowSql =
    """SELECT epoch_ns(ts) // 3600000000000 AS hour_bucket, event_type,
      |  count(*) AS n_events, round(sum(value), 2) AS sum_value
      |FROM events
      |GROUP BY 1, 2""".stripMargin

  /** Gap-based sessionization (30-min inactivity): per-user ordered lag →
    * session-start flags → running sum. One shuffle on user_id; all window
    * functions share the same partitioning.
    */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    // Work in epoch-MICROseconds: DuckDB truncates the corpus' ns timestamps
    // to µs on read, so µs is the finest granularity both engines agree on.
    val gapUs = 30L * 60 * 1000 * 1000
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val newSess = when(
      col("ts_us") - lag(col("ts_us"), 1).over(byUser) > lit(gapUs), 1).otherwise(0)
    Tables.events(spark, dir)
      .withColumn("ts_us", expr("ts div 1000"))
      .withColumn("is_new", when(lag(col("ts_us"), 1).over(byUser).isNull, lit(1))
        .otherwise(newSess))
      .withColumn("session_seq", sum(col("is_new")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(count(lit(1)).as("n_events"),
           min(col("ts_us")).as("session_start_us"),
           max(col("ts_us")).as("session_end_us"))
  }

  // DuckDB's windowed sum(int) yields HUGEINT (arrow decimal128) while Spark
  // writes int64 — CAST to BIGINT so the value-level hash compare agrees.
  // event_id is carried through `flagged` and into the `sess` window's ORDER
  // BY to mirror the Spark plan's tie-break: without it, duplicate per-user
  // µs timestamps would make the ROWS-frame running sum nondeterministic.
  private val sessionizeSql =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
      |), flagged AS (
      |  SELECT user_id, event_id, ts_us,
      |    CASE WHEN lag(ts_us) OVER w IS NULL THEN 1
      |         WHEN ts_us - lag(ts_us) OVER w > 1800000000 THEN 1
      |         ELSE 0 END AS is_new
      |  FROM e
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
      |), sess AS (
      |  SELECT user_id, ts_us,
      |    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
      |  FROM flagged
      |)
      |SELECT user_id, session_seq, count(*) AS n_events,
      |  min(ts_us) AS session_start_us, max(ts_us) AS session_end_us
      |FROM sess GROUP BY user_id, session_seq""".stripMargin

  /** As-of join: every purchase matched to the user's most recent click at
    * or before the purchase instant (null when the user never clicked
    * before). Engine: [[graft.operators.TemporalJoin.asOfJoin]] — one
    * shuffle of the tagged union on user_id, zero joins. Oracle: DuckDB's
    * native `ASOF LEFT JOIN`, an independently-implemented merge algorithm.
    *
    * Clicks are pre-collapsed to one per (user_id, µs) keeping max
    * event_id — ASOF is undefined under duplicate right timestamps, so both
    * engines resolve ties identically before the join.
    */
  def asofPurchaseClick(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).withColumn("ts_us", expr("ts div 1000"))
    val clicks = ev.where(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts_us"))
      .agg(max(col("event_id")).as("click_event_id"))
      .withColumn("click_ts_us", col("ts_us"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts_us")
    graft.operators.TemporalJoin
      .asOfJoin(purchases, clicks, key = "user_id", time = "ts_us",
        payload = Seq("click_event_id", "click_ts_us"),
        leftTie = "event_id", rightTie = "click_event_id")
      .withColumnRenamed("asof_click_event_id", "click_event_id")
      .withColumnRenamed("asof_click_ts_us", "click_ts_us")
      .withColumn("gap_us", col("ts_us") - col("click_ts_us"))
  }

  private val asofSql =
    """WITH c AS (
      |  SELECT user_id, epoch_us(ts) AS ts_us, max(event_id) AS click_event_id
      |  FROM events WHERE event_type = 'click' GROUP BY 1, 2
      |), p AS (
      |  SELECT event_id, user_id, epoch_us(ts) AS ts_us
      |  FROM events WHERE event_type = 'purchase'
      |)
      |SELECT p.event_id, p.user_id, p.ts_us,
      |  c.click_event_id, c.ts_us AS click_ts_us,
      |  p.ts_us - c.ts_us AS gap_us
      |FROM p ASOF LEFT JOIN c
      |  ON p.user_id = c.user_id AND p.ts_us >= c.ts_us""".stripMargin

  /** Forward as-of: each purchase's NEXT click at-or-after it (time-to-
    * next-action analysis — the question funnels ask between stages).
    * Engine: [[graft.operators.TemporalJoin.asOfJoinForward]] — the same
    * one-shuffle tagged union with the window frame reversed. Right side
    * pre-collapsed to min(event_id) per (user, ts) so the earliest-tie
    * choice is engine-independent; oracle = DuckDB's native forward ASOF
    * (`<=`), an independent merge implementation.
    */
  def asofNextClick(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).withColumn("ts_us", expr("ts div 1000"))
    val clicks = ev.where(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts_us"))
      .agg(min(col("event_id")).as("click_event_id"))
      .withColumn("click_ts_us", col("ts_us"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts_us")
    graft.operators.TemporalJoin
      .asOfJoinForward(purchases, clicks, key = "user_id", time = "ts_us",
        payload = Seq("click_event_id", "click_ts_us"),
        leftTie = "event_id", rightTie = "click_event_id")
      .withColumnRenamed("asof_click_event_id", "click_event_id")
      .withColumnRenamed("asof_click_ts_us", "click_ts_us")
      .withColumn("wait_us", col("click_ts_us") - col("ts_us"))
  }

  private val asofForwardSql =
    """WITH c AS (
      |  SELECT user_id, epoch_us(ts) AS ts_us, min(event_id) AS click_event_id
      |  FROM events WHERE event_type = 'click' GROUP BY 1, 2
      |), p AS (
      |  SELECT event_id, user_id, epoch_us(ts) AS ts_us
      |  FROM events WHERE event_type = 'purchase'
      |)
      |SELECT p.event_id, p.user_id, p.ts_us,
      |  c.click_event_id, c.ts_us AS click_ts_us,
      |  c.ts_us - p.ts_us AS wait_us
      |FROM p ASOF LEFT JOIN c
      |  ON p.user_id = c.user_id AND p.ts_us <= c.ts_us""".stripMargin

  /** Band (range) join: per error event, the count and value-sum of ALL
    * clicks — any user — within ±1 hour. Engine:
    * [[graft.operators.TemporalJoin.bandJoin]] — equi-join on an hour
    * bucket with a 3-bucket left fan-out, exact µs re-filter; candidates
    * bounded by bucket occupancy, never |errors|×|clicks|. The oracle is a
    * plain inequality join (DuckDB IEJoin) — a genuinely different
    * algorithm arriving at the same pairs.
    */
  def rangeJoinNearby(spark: SparkSession, dir: String): DataFrame = {
    val hourUs = 3600L * 1000 * 1000
    val ev = Tables.events(spark, dir).withColumn("ts_us", expr("ts div 1000"))
    val errors = ev.where(col("event_type") === "error")
      .select("event_id", "ts_us")
    val clicks = ev.where(col("event_type") === "click")
      .select("ts_us", "value")
    graft.operators.TemporalJoin
      .bandJoin(errors, clicks, time = "ts_us", radius = hourUs,
        payload = Seq("value"))
      .groupBy(col("event_id"), col("ts_us"))
      .agg(count(col("band_value")).as("n_nearby_clicks"),
           round(coalesce(sum(col("band_value")), lit(0.0)), 2).as("nearby_value"))
  }

  private val rangeJoinSql =
    """WITH e AS (
      |  SELECT event_id, epoch_us(ts) AS ts_us FROM events
      |  WHERE event_type = 'error'
      |), c AS (
      |  SELECT epoch_us(ts) AS ts_us, value FROM events
      |  WHERE event_type = 'click'
      |)
      |SELECT e.event_id, e.ts_us,
      |  count(c.ts_us) AS n_nearby_clicks,
      |  round(coalesce(sum(c.value), 0), 2) AS nearby_value
      |FROM e LEFT JOIN c ON abs(e.ts_us - c.ts_us) <= 3600000000
      |GROUP BY 1, 2""".stripMargin

  /** Cross-tab reshape: user × event_type counts as one wide row per user.
    * The pivot value list is FIXED (the 5 known types), so this stays a
    * single hash aggregate — no driver-side distinct-collect, which is the
    * difference between `pivot(col, values)` and `pivot(col)` at scale.
    */
  def pivotEvents(spark: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    Tables.events(spark, dir)
      .groupBy(col("user_id")).pivot("event_type", types).count()
      .select(col("user_id") +: types.map(t =>
        coalesce(col(t), lit(0L)).as(t)): _*)
  }

  private val pivotEventsSql =
    """SELECT user_id,
      |  count(*) FILTER (event_type = 'click') AS click,
      |  count(*) FILTER (event_type = 'error') AS error,
      |  count(*) FILTER (event_type = 'purchase') AS purchase,
      |  count(*) FILTER (event_type = 'signup') AS signup,
      |  count(*) FILTER (event_type = 'view') AS view
      |FROM events GROUP BY user_id""".stripMargin

  /** Hopping (sliding) window aggregate: 1-hour windows every 15 minutes,
    * so each event lands in exactly 4 windows. Batch twin of Structured
    * Streaming's `window(ts, "1 hour", "15 minutes")`, expressed as an
    * explicit 4-way fan-out (explode of the k=0..3 hop offsets) so the
    * whole thing is one codegen scan + one hash aggregate; works directly
    * on the epoch-µs long with integer `div` bucketing.
    */
  def slidingWindowAgg(spark: SparkSession, dir: String): DataFrame = {
    val hopUs = 15L * 60 * 1000 * 1000
    Tables.events(spark, dir)
      .withColumn("ts_us", expr("ts div 1000"))
      .withColumn("k", explode(sequence(lit(0), lit(3))))
      .withColumn("win_start_us",
        (expr(s"ts_us div ${hopUs}L") - col("k")) * lit(hopUs))
      .groupBy(col("win_start_us"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           round(sum(col("value")), 2).as("sum_value"))
  }

  private val slidingWindowSql =
    """SELECT (epoch_us(ts) // 900000000 - k.k) * 900000000 AS win_start_us,
      |  event_type, count(*) AS n_events, round(sum(value), 2) AS sum_value
      |FROM events CROSS JOIN range(0, 4) k(k)
      |GROUP BY 1, 2""".stripMargin

  /** Exact discrete percentiles (p50/p90/p99) of `value` per event_type:
    * the element at rank ceil(q·n) under (value, event_id) order — an
    * actual data point, no interpolation, so the result is engine-exact.
    * One shuffle on event_type; the rank window and the conditional-max
    * fold share that partitioning. (The 100 TB variant swaps the exact
    * window for a QuantileSummaries/t-digest sketch — kept exact here
    * because exactness is what the oracle can attest.)
    */
  def percentilesExact(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value"), col("event_id"))
    val ranked = Tables.events(spark, dir)
      .select(col("event_type"), col("value"), col("event_id"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("event_type"))))
    // ceil(q·n/100) in pure integer math — float division could land a
    // hair under an integer boundary and miss the rank row entirely.
    def pick(q: Int) = max(when(
      col("rn") === expr(s"(n * $q + 99) div 100"), col("value")))
    ranked.groupBy(col("event_type"))
      .agg(pick(50).as("p50"), pick(90).as("p90"), pick(99).as("p99"))
  }

  private val percentilesSql =
    """WITH r AS (
      |  SELECT event_type, value,
      |    row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
      |    count(*) OVER (PARTITION BY event_type) AS n
      |  FROM events
      |)
      |SELECT event_type,
      |  max(value) FILTER (rn = (n * 50 + 99) // 100) AS p50,
      |  max(value) FILTER (rn = (n * 90 + 99) // 100) AS p90,
      |  max(value) FILTER (rn = (n * 99 + 99) // 100) AS p99
      |FROM r GROUP BY event_type""".stripMargin

  /** CUBE over (event_type, day): all four grouping-set combinations in one
    * pass with an explicit grouping id — the multi-rollup shape reporting
    * pipelines run. Partial aggregation applies per grouping set before the
    * shuffle, exactly like a flat groupBy.
    */
  def cubeAgg(spark: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400L * 1000 * 1000
    Tables.events(spark, dir)
      .withColumn("day_bucket", expr(s"(ts div 1000) div ${dayUs}L"))
      .cube(col("event_type"), col("day_bucket"))
      .agg(count(lit(1)).as("n_events"), grouping_id().as("gid"))
  }

  private val cubeAggSql =
    """SELECT event_type, epoch_us(ts) // 86400000000 AS day_bucket,
      |  count(*) AS n_events,
      |  GROUPING(event_type, epoch_us(ts) // 86400000000) AS gid
      |FROM events
      |GROUP BY CUBE (event_type, epoch_us(ts) // 86400000000)""".stripMargin

  /** Arbitrary GROUPING SETS — the third member of the cube/rollup family:
    * exactly the requested set list ((type), (day), ()), not the full
    * lattice, in ONE pass via Catalyst's Expand (each input row fans out
    * once per set, partial-aggregated map-side — never one job per set,
    * which is the reference's only expression of this). grouping_id
    * disambiguates the null-key rows from genuine nulls.
    */
  def groupingSetsAgg(spark: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400L * 1000 * 1000
    Tables.events(spark, dir)
      .withColumn("day_bucket", expr(s"(ts div 1000) div ${dayUs}L"))
      .withColumn("cv", expr("CAST(round(value * 100) AS BIGINT)"))
      .groupingSets(
        Seq(Seq(col("event_type")), Seq(col("day_bucket")), Seq.empty),
        col("event_type"), col("day_bucket"))
      .agg(count(lit(1)).as("n_events"), sum(col("cv")).as("cents"),
        grouping_id().as("gid"))
  }

  private val groupingSetsSql =
    """SELECT event_type, epoch_us(ts) // 86400000000 AS day_bucket,
      |  count(*) AS n_events,
      |  CAST(sum(round(value * 100)::BIGINT) AS BIGINT) AS cents,
      |  GROUPING(event_type, epoch_us(ts) // 86400000000) AS gid
      |FROM events
      |GROUP BY GROUPING SETS ((event_type), (epoch_us(ts) // 86400000000), ())""".stripMargin

  /** The distribution half of the window surface: percent_rank and
    * cume_dist over each user's purchase timeline, completing window_funcs
    * (rank/dense_rank/ntile/lead/lag). Both are exact small-integer ratios
    * evaluated identically in either engine; rounded at 6 to keep the
    * compare clear of formatting noise. Same single fused Window pass —
    * one shuffle on user_id.
    */
  def windowPctFuncs(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    Tables.events(spark, dir)
      .where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), expr("ts div 1000").as("ts_us"))
      .withColumn("pct_rank", round(percent_rank().over(w), 6))
      .withColumn("cum_dist", round(cume_dist().over(w), 6))
      .select(col("user_id"), col("event_id"), col("pct_rank"), col("cum_dist"))
  }

  private val windowPctSql =
    """SELECT user_id, event_id,
      |  round(percent_rank() OVER w, 6) AS pct_rank,
      |  round(cume_dist() OVER w, 6) AS cum_dist
      |FROM (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
      |      WHERE event_type = 'purchase')
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)""".stripMargin

  /** Ordered funnel: per user, the first view, the first click AFTER that
    * view, and the first purchase AFTER that click (nulls where the user
    * never progressed). Three stage aggregates + two stage joins, all
    * keyed on user_id — one partitioning reused through the whole chain;
    * no window over the full event list, so a user's events never need to
    * fit in memory together.
    */
  def funnelStages(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), expr("ts div 1000").as("ts_us"))
    // t1/t2 are |users|-bounded and each has two consumers (the next
    // stage's gate + the final left join) — materialized so a reference
    // does not re-run the earlier stages' corpus scans
    val t1 = graft.core.Materialize(e.where(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts_us").as("first_view_us")))
    val t2 = graft.core.Materialize(e.where(col("event_type") === "click")
      .join(t1, "user_id").where(col("ts_us") > col("first_view_us"))
      .groupBy("user_id").agg(min("ts_us").as("first_click_us")))
    val t3 = e.where(col("event_type") === "purchase")
      .join(t2, "user_id").where(col("ts_us") > col("first_click_us"))
      .groupBy("user_id").agg(min("ts_us").as("first_purchase_us"))
    t1.join(t2, Seq("user_id"), "left").join(t3, Seq("user_id"), "left")
  }

  private val funnelSql =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events
      |), t1 AS (
      |  SELECT user_id, min(ts_us) AS first_view_us FROM e
      |  WHERE event_type = 'view' GROUP BY 1
      |), t2 AS (
      |  SELECT e.user_id, min(ts_us) AS first_click_us
      |  FROM e JOIN t1 ON e.user_id = t1.user_id
      |  WHERE event_type = 'click' AND ts_us > t1.first_view_us GROUP BY 1
      |), t3 AS (
      |  SELECT e.user_id, min(ts_us) AS first_purchase_us
      |  FROM e JOIN t2 ON e.user_id = t2.user_id
      |  WHERE event_type = 'purchase' AND ts_us > t2.first_click_us GROUP BY 1
      |)
      |SELECT t1.user_id, t1.first_view_us, t2.first_click_us, t3.first_purchase_us
      |FROM t1 LEFT JOIN t2 ON t1.user_id = t2.user_id
      |  LEFT JOIN t3 ON t1.user_id = t3.user_id""".stripMargin

  /** First-order transition counts over each user's event sequence (the
    * Markov-chain summary): lag window per user → (prev, next) pair
    * counts. One shuffle on user_id for the window, one for the pair
    * aggregate.
    */
  def eventTransitions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("event_id"),
        expr("ts div 1000").as("ts_us"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .where(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type"))
      .agg(count(lit(1)).as("n"))
  }

  private val eventTransitionsSql =
    """WITH s AS (
      |  SELECT user_id, event_type,
      |    lag(event_type) OVER (
      |      PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_type
      |  FROM events
      |)
      |SELECT prev_type, event_type, count(*) AS n
      |FROM s WHERE prev_type IS NOT NULL GROUP BY 1, 2""".stripMargin

  // ---- last-touch conversion attribution -----------------------------------
  /** Marketing-style attribution: each purchase credits the user's most
    * recent NON-purchase event before it (last-touch). One user-partitioned
    * window pass — `last(..., ignoreNulls)` over the preceding-rows frame
    * resolves the latest qualifying touch without a self-join against the
    * timeline — then a bounded per-touch-type aggregate of conversions and
    * integer-cents revenue. The window sorts within user partitions only
    * (the same shuffle profile as [[eventTransitions]]); nothing global.
    */
  def attributionLastTouch(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("event_id"),
        expr("ts div 1000").as("ts_us"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .withColumn("touch",
        last(when(col("event_type") =!= "purchase", col("event_type")),
          ignoreNulls = true).over(w))
      .where(col("event_type") === "purchase" && col("touch").isNotNull)
      .groupBy(col("touch"))
      .agg(count(lit(1)).as("n_conversions"),
        sum(col("cents")).as("revenue_cents"))
  }

  private val attributionLastTouchSql =
    """WITH t AS (
      |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents,
      |    last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
      |               IGNORE NULLS) OVER (
      |      PARTITION BY user_id ORDER BY epoch_us(ts), event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
      |  FROM events
      |)
      |SELECT touch, count(*) AS n_conversions,
      |  CAST(sum(cents) AS BIGINT) AS revenue_cents
      |FROM t WHERE event_type = 'purchase' AND touch IS NOT NULL
      |GROUP BY touch""".stripMargin

  /** Position-based (U-shaped) multi-touch attribution — the multi-credit
    * upgrade of [[attributionLastTouch]]: each conversion's credit is split
    * over the user's preceding touch journey as 40% first touch, 40% last
    * touch, 20% spread over the middle (100% / 50-50 for 1- and 2-touch
    * journeys), in exact integer basis points (`2000 div (n−2)` per middle
    * touch — floor remainder stays unassigned, documented). A touch belongs
    * to the NEXT purchase at-or-after it in the user's timeline, so each
    * journey is the inter-purchase window.
    *
    * Scale shape: two window passes over the SAME (user_id) partitioning
    * (forward-fill of the next conversion id, then rank/count within the
    * (user, conversion) journey — the second window's keys refine the
    * first's, no extra shuffle) + one equi-join to the conversions frame
    * keyed by (user, conv); no self-join over journeys.
    */
  def attributionPosition(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("event_id"),
        expr("ts div 1000").as("ts_us"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    val wFwd = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val touches = ev
      .withColumn("conv_id",
        first(when(col("event_type") === "purchase", col("event_id")),
          ignoreNulls = true).over(wFwd))
      .where(col("event_type") =!= "purchase" && col("conv_id").isNotNull)
    val wj = Window.partitionBy(col("user_id"), col("conv_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val credited = touches
      .withColumn("rn", row_number().over(wj))
      .withColumn("cnt",
        count(lit(1)).over(Window.partitionBy(col("user_id"), col("conv_id"))))
      .withColumn("weight_bp",
        expr("CASE WHEN cnt = 1 THEN 10000L WHEN cnt = 2 THEN 5000L " +
          "WHEN rn = 1 OR rn = cnt THEN 4000L ELSE 2000L div (cnt - 2) END"))
    val conv = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("conv_id"), col("cents"))
    credited.drop("cents").join(conv, Seq("user_id", "conv_id"))
      .groupBy(col("event_type").as("touch"))
      .agg(count(lit(1)).as("n_touches"),
        sum(col("weight_bp")).as("weight_bp_total"),
        sum(expr("cents * weight_bp")).as("revenue_cents_bp"))
  }

  private val attributionPositionSql =
    """WITH ev AS (
      |  SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us,
      |         CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events
      |), t AS (
      |  SELECT user_id, event_type, event_id, ts_us,
      |    first_value(CASE WHEN event_type = 'purchase' THEN event_id END
      |                IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS conv_id
      |  FROM ev
      |), tou AS (
      |  SELECT user_id, event_type, conv_id,
      |    row_number() OVER (PARTITION BY user_id, conv_id
      |                       ORDER BY ts_us, event_id) AS rn,
      |    count(*) OVER (PARTITION BY user_id, conv_id) AS cnt
      |  FROM t WHERE event_type <> 'purchase' AND conv_id IS NOT NULL
      |), cr AS (
      |  SELECT user_id, event_type, conv_id,
      |    CASE WHEN cnt = 1 THEN 10000 WHEN cnt = 2 THEN 5000
      |         WHEN rn = 1 OR rn = cnt THEN 4000
      |         ELSE 2000 // (cnt - 2) END AS weight_bp
      |  FROM tou
      |), cv AS (
      |  SELECT user_id, event_id AS conv_id, cents
      |  FROM ev WHERE event_type = 'purchase'
      |)
      |SELECT cr.event_type AS touch, count(*) AS n_touches,
      |  CAST(sum(weight_bp) AS BIGINT) AS weight_bp_total,
      |  CAST(sum(cv.cents * cr.weight_bp) AS BIGINT) AS revenue_cents_bp
      |FROM cr JOIN cv ON cr.user_id = cv.user_id AND cr.conv_id = cv.conv_id
      |GROUP BY cr.event_type""".stripMargin

  // ---- Markov stationary distribution --------------------------------------
  private val MarkovRounds = 10

  /** Stationary distribution of the [[eventTransitions]] Markov chain —
    * the long-run "where do users spend their time" vector that a single
    * transition-count table only implies. The distributed pass is the
    * transition aggregate (bounded by event-type vocabulary squared); the
    * 10-round power iteration runs on that k×k table — driver-side here
    * (25 cells), join-shaped in the oracle. Fixed-point contract mirrors
    * [[LlmPipeline.pcaPower]]: π is a Q20 probability vector (Σπ ≈ 2^20),
    * each round's per-edge term is the truncating integer division
    * (n_ab·π_a) div outdeg_a — term-wise truncation makes the sum
    * order-free, so the DuckDB replay (10 MATERIALIZED CTE rounds; the
    * materialization lesson from pca_power applies) is bit-identical.
    */
  def markovStationary(spark: SparkSession, dir: String): DataFrame = {
    val c = eventTransitions(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val dom = c.map(_._1).distinct.sorted
    val rs = c.groupBy(_._1).map { case (a, es) => a -> es.map(_._3).sum }
    var pi: Map[String, Long] = dom.map(_ -> (1L << 20)).toMap
    (1 to MarkovRounds).foreach { _ =>
      // forward push along edges ([[graft.operators.MarkovKernel]]):
      // group by destination, read the SOURCE's current mass
      val w = MarkovKernel.round(
        c.filter(e => dom.contains(e._2) && pi.contains(e._1)), rs,
        key = (_, b) => b, v = (a, _) => pi(a))
      val s = w.values.sum
      pi = w.map { case (b, v) => b -> ((BigInt(v) << 20) / s).toLong }
    }
    import spark.implicits._
    pi.toSeq.sortBy(_._1).toDF("event_type", "pi_q20")
  }

  private val markovStationarySql = {
    val rounds = (1 to MarkovRounds).map { k =>
      val prev = if (k == 1) "p0" else s"mn${k - 1}"
      s"""mw$k AS MATERIALIZED (
         |  SELECT c.b AS t, CAST(sum((c.n * p.p) // r.rs) AS BIGINT) AS w
         |  FROM mc c JOIN $prev p ON c.a = p.t JOIN mr r ON c.a = r.a
         |       JOIN mdom d ON c.b = d.t
         |  GROUP BY c.b
         |), mn$k AS MATERIALIZED (
         |  SELECT t, CAST((w::HUGEINT * 1048576) // (SELECT sum(w) FROM mw$k)
         |       AS BIGINT) AS p
         |  FROM mw$k
         |)"""
    }.mkString(", ")
    s"""WITH ms AS (
       |  SELECT user_id, event_type,
       |    lag(event_type) OVER (
       |      PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_type
       |  FROM events
       |), mc AS MATERIALIZED (
       |  SELECT prev_type AS a, event_type AS b, count(*)::BIGINT AS n
       |  FROM ms WHERE prev_type IS NOT NULL GROUP BY 1, 2
       |), mr AS MATERIALIZED (
       |  SELECT a, CAST(sum(n) AS BIGINT) AS rs FROM mc GROUP BY a
       |), mdom AS MATERIALIZED (
       |  SELECT DISTINCT a AS t FROM mc
       |), p0 AS (
       |  SELECT t, 1048576::BIGINT AS p FROM mdom
       |), $rounds
       |SELECT t AS event_type, p AS pi_q20 FROM mn$MarkovRounds""".stripMargin
  }

  // ---- Markov removal-effect attribution -----------------------------------
  private val RemovalRounds = 16

  /** Data-driven (Markov removal-effect) attribution — the third member
    * of the attribution family next to last-touch and U-shaped: model
    * each user journey (events up to the FIRST purchase, with a virtual
    * START source and an END sink for never-converting journeys) as a
    * Markov chain, and score each channel by how much the conversion
    * probability from START drops when that channel is REMOVED (its
    * absorption value pinned to 0 — paths through it stop converting;
    * Anderl et al. 2014). The distributed pass is ONE corpus scan for the
    * journey-transition counts (k² cells, k = |event types| + 2); the
    * conversion probabilities run [[RemovalRounds]] value-iteration
    * rounds driver-side on those cells (the [[markovStationary]] k×k
    * contract) in exact integer micro units — each per-edge term is the
    * truncating division (n·h) div outdeg, order-free, so the DuckDB
    * replay (one CTE chain carrying a scenario column: baseline plus one
    * scenario per removed channel) is bit-identical. Bounded-rounds
    * contract as everywhere: both engines replay the same schedule, and
    * the ~(1−p_conv)^rounds residual is a documented property of the
    * readout, not drift.
    */
  def attributionMarkov(spark: SparkSession, dir: String): DataFrame = {
    val tc = removalTransitions(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val rs = tc.groupBy(_._1).map { case (a, es) => a -> es.map(_._3).sum }
    val channels = (tc.map(_._1) ++ tc.map(_._2)).distinct
      .filterNot(Set("START", "END", "purchase")).sorted
    val M = 1000000L
    def hit(removed: Option[String]): Long = {
      val states = "START" +: channels.filterNot(removed.contains)
      var h: Map[String, Long] = states.map(_ -> 0L).toMap
      def value(b: String): Long =
        if (b == "purchase") M
        else if (b == "END" || removed.contains(b)) 0L
        else h.getOrElse(b, 0L)
      (1 to RemovalRounds).foreach { _ =>
        // backward pull against edges ([[graft.operators.MarkovKernel]]):
        // group by source, read the DESTINATION's current value
        val terms = MarkovKernel.round(tc, rs,
          key = (a, _) => a, v = (_, b) => value(b))
        h = states.map(a => a -> terms.getOrElse(a, 0L)).toMap
      }
      h("START")
    }
    val base = hit(None)
    import spark.implicits._
    channels.toSeq.map { c =>
      val pr = hit(Some(c))
      (c, base, pr,
        if (base == 0L) 0L else (base - pr) * 10000L / base)
    }.toDF("channel", "p_base_u", "p_removed_u", "removal_bp")
  }

  /** Journey-transition counts for [[attributionMarkov]]: per user, events
    * ordered by (ts, event_id) and truncated at the first purchase
    * (inclusive); START → first event, last event → END when the journey
    * never converts. Bounded output (k+2)². */
  private def removalTransitions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val seqd = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("event_id"),
        expr("ts div 1000").as("ts_us"))
      .withColumn("seq", row_number().over(w).cast("long"))
    val agg = seqd.groupBy("user_id").agg(
      min(when(col("event_type") === "purchase", col("seq"))).as("pseq"),
      max(col("seq")).as("mseq"))
    val j = seqd.join(agg, "user_id")
      .where(col("pseq").isNull || col("seq") <= col("pseq"))
    val wj = Window.partitionBy(col("user_id")).orderBy(col("seq"))
    val tr = j
      .withColumn("a",
        coalesce(lag(col("event_type"), 1).over(wj), lit("START")))
      .select(col("a"), col("event_type").as("b"))
    val ends = j.where(col("pseq").isNull && col("seq") === col("mseq"))
      .select(col("event_type").as("a"), lit("END").as("b"))
    tr.union(ends).groupBy(col("a"), col("b")).agg(count(lit(1)).as("n"))
  }

  private val attributionMarkovSql = {
    val rounds = (1 to RemovalRounds).map { k =>
      val prev = if (k == 1) "h0" else s"h${k - 1}"
      s"""h$k AS MATERIALIZED (
         |  SELECT s.scen, c.a AS t,
         |    CAST(sum((c.n * CASE
         |      WHEN c.b = 'purchase' THEN 1000000
         |      WHEN c.b = 'END' OR c.b = s.scen THEN 0
         |      ELSE coalesce(p.h, 0) END) // r.rs) AS BIGINT) AS h
         |  FROM scen s
         |  JOIN tc c ON c.a <> s.scen
         |  LEFT JOIN $prev p ON p.scen = s.scen AND p.t = c.b
         |  JOIN rsum r ON r.a = c.a
         |  GROUP BY 1, 2
         |)"""
    }.mkString(", ")
    s"""WITH ev AS (
       |  SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us
       |  FROM events
       |), seqd AS (
       |  SELECT user_id, event_type,
       |    row_number() OVER (PARTITION BY user_id
       |      ORDER BY ts_us, event_id) AS seq
       |  FROM ev
       |), fp AS (
       |  SELECT user_id,
       |    min(CASE WHEN event_type = 'purchase' THEN seq END) AS pseq,
       |    max(seq) AS mseq
       |  FROM seqd GROUP BY user_id
       |), j AS (
       |  SELECT s.user_id, s.event_type, s.seq, f.pseq, f.mseq
       |  FROM seqd s JOIN fp f USING (user_id)
       |  WHERE f.pseq IS NULL OR s.seq <= f.pseq
       |), tr AS (
       |  SELECT coalesce(lag(event_type) OVER (
       |      PARTITION BY user_id ORDER BY seq), 'START') AS a,
       |    event_type AS b
       |  FROM j
       |), ends AS (
       |  SELECT event_type AS a, 'END' AS b FROM j
       |  WHERE pseq IS NULL AND seq = mseq
       |), tc AS MATERIALIZED (
       |  SELECT a, b, count(*)::BIGINT AS n FROM (
       |    SELECT a, b FROM tr UNION ALL SELECT a, b FROM ends)
       |  GROUP BY 1, 2
       |), rsum AS MATERIALIZED (
       |  SELECT a, CAST(sum(n) AS BIGINT) AS rs FROM tc GROUP BY a
       |), chans AS MATERIALIZED (
       |  SELECT DISTINCT a AS ch FROM tc WHERE a <> 'START'
       |), scen AS MATERIALIZED (
       |  SELECT '' AS scen UNION ALL SELECT ch FROM chans
       |), h0 AS (
       |  SELECT s.scen, c.a AS t, 0::BIGINT AS h
       |  FROM scen s JOIN tc c ON c.a <> s.scen GROUP BY 1, 2, 3
       |), $rounds
       |SELECT ch AS channel, b.h AS p_base_u, r.h AS p_removed_u,
       |  CAST(CASE WHEN b.h = 0 THEN 0
       |    ELSE ((b.h - r.h) * 10000) // b.h END AS BIGINT) AS removal_bp
       |FROM chans
       |JOIN h$RemovalRounds b ON b.scen = '' AND b.t = 'START'
       |JOIN h$RemovalRounds r ON r.scen = ch AND r.t = 'START'""".stripMargin
  }

  // ---- HITS hubs / authorities ---------------------------------------------
  private val HitsRounds = 8

  /** HITS hub/authority scores over the [[eventTransitions]] directed
    * graph — which event types FEED the rest of the journey (hubs) vs
    * which ones journeys CONVERGE on (authorities); the directional
    * refinement of [[markovStationary]]'s single long-run vector
    * (Kleinberg's mutual-reinforcement recursion, the second classic
    * power iteration next to PageRank). The distributed pass is the same
    * bounded k×k transition aggregate; the 8-round iteration runs
    * driver-side on ≤ k² cells (the k-means-centroid contract) in BigInt,
    * join-shaped in the oracle. Fixed-point contract mirrors
    * [[markovStationary]]: both vectors are Q20 L1-normalized each round
    * (w·2²⁰ div Σw, truncating), auth updates from the PREVIOUS hub and
    * hub from the FRESH auth — the in-round ordering is part of the
    * contract, replayed by the oracle's 4-CTE rounds bit-for-bit.
    */
  def hitsScores(spark: SparkSession, dir: String): DataFrame = {
    val c = eventTransitions(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val q20 = 1L << 20
    var hub: Map[String, Long] =
      c.map(_._1).distinct.map(_ -> q20).toMap
    var auth: Map[String, Long] =
      c.map(_._2).distinct.map(_ -> q20).toMap
    (1 to HitsRounds).foreach { _ =>
      val aw = c.groupBy(_._2).map { case (b, es) =>
        b -> es.map(e => BigInt(e._3) * hub(e._1)).sum
      }
      val as = aw.values.sum
      auth = aw.map { case (b, v) => b -> ((v * q20) / as).toLong }
      val hw = c.groupBy(_._1).map { case (a, es) =>
        a -> es.map(e => BigInt(e._3) * auth(e._2)).sum
      }
      val hs = hw.values.sum
      hub = hw.map { case (a, v) => a -> ((v * q20) / hs).toLong }
    }
    import spark.implicits._
    (hub.keySet ++ auth.keySet).toSeq.sorted
      .map(t => (t, hub.getOrElse(t, 0L), auth.getOrElse(t, 0L)))
      .toDF("event_type", "hub_q20", "auth_q20")
  }

  private val hitsScoresSql = {
    val rounds = (1 to HitsRounds).map { k =>
      val prevHub = if (k == 1) "hh0" else s"hhn${k - 1}"
      s"""haw$k AS MATERIALIZED (
         |  SELECT c.b AS t, sum(c.n::HUGEINT * h.p) AS w
         |  FROM hc c JOIN $prevHub h ON c.a = h.t
         |  GROUP BY c.b
         |), han$k AS MATERIALIZED (
         |  SELECT t, CAST((w * 1048576) // (SELECT sum(w) FROM haw$k)
         |       AS BIGINT) AS p
         |  FROM haw$k
         |), hhw$k AS MATERIALIZED (
         |  SELECT c.a AS t, sum(c.n::HUGEINT * a.p) AS w
         |  FROM hc c JOIN han$k a ON c.b = a.t
         |  GROUP BY c.a
         |), hhn$k AS MATERIALIZED (
         |  SELECT t, CAST((w * 1048576) // (SELECT sum(w) FROM hhw$k)
         |       AS BIGINT) AS p
         |  FROM hhw$k
         |)"""
    }.mkString(", ")
    s"""WITH hs AS (
       |  SELECT user_id, event_type,
       |    lag(event_type) OVER (
       |      PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_type
       |  FROM events
       |), hc AS MATERIALIZED (
       |  SELECT prev_type AS a, event_type AS b, count(*)::BIGINT AS n
       |  FROM hs WHERE prev_type IS NOT NULL GROUP BY 1, 2
       |), hh0 AS (
       |  SELECT DISTINCT a AS t, 1048576::BIGINT AS p FROM hc
       |), $rounds,
       |hdom AS (
       |  SELECT a AS t FROM hc UNION SELECT b AS t FROM hc
       |)
       |SELECT d.t AS event_type,
       |  coalesce(h.p, 0) AS hub_q20, coalesce(a.p, 0) AS auth_q20
       |FROM hdom d
       |LEFT JOIN hhn$HitsRounds h ON d.t = h.t
       |LEFT JOIN han$HitsRounds a ON d.t = a.t""".stripMargin
  }

  // ---- frequent 3-step event paths ---------------------------------------
  private val TpK = 20

  /** Sequential pattern mining, the 3-step cut: the `TpK` most frequent
    * `a>b>c` event-type paths across all user timelines — the "what do
    * users actually do" query behind funnel design. One user-partitioned
    * window (two `lead`s resolve in a single sort), one count shuffle,
    * and a top-k that TakeOrdereds per partition before merging — no
    * global sort of the path space. Ordering ties break on event_id, so
    * the path extraction is deterministic under any partitioning.
    */
  def topPaths(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("event_id"),
        expr("ts div 1000").as("ts_us"))
      .withColumn("e2", lead(col("event_type"), 1).over(w))
      .withColumn("e3", lead(col("event_type"), 2).over(w))
      .where(col("e3").isNotNull)
      .select(concat_ws(">", col("event_type"), col("e2"), col("e3")).as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path")).limit(TpK)
  }

  private val topPathsSql =
    s"""WITH s AS (
       |  SELECT event_type,
       |    lead(event_type, 1) OVER w AS e2,
       |    lead(event_type, 2) OVER w AS e3
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
       |)
       |SELECT event_type || '>' || e2 || '>' || e3 AS path, count(*) AS n
       |FROM s WHERE e3 IS NOT NULL
       |GROUP BY 1 ORDER BY n DESC, path LIMIT $TpK""".stripMargin

  // ---- Kaplan-Meier survival -----------------------------------------------
  /** Days of event silence after which a user counts as churned (rather
    * than censored by the end of the observation window). */
  private val KmChurnGapDays = 8L

  /** Kaplan-Meier survival curve of user LIFETIME (days between first and
    * last event): the estimator that handles the users still active at
    * the corpus edge correctly — they CENSOR (leave the risk set without
    * counting as churn) instead of biasing the curve down, which a plain
    * lifetime histogram cannot do. A user is churned when their last
    * event is ≥ [[KmChurnGapDays]] days before the corpus's last day.
    * Scale shape: per-user first/last days are ONE partial-aggregated
    * shuffle; the lifetime table (deaths d_t, at-risk n_t per duration)
    * is bounded by the observation window in DAYS, so the inherently
    * sequential product S_t = Π (1 − d/n) runs driver-side over that
    * compact table (the k-means-centroid contract), kept exact-integer by
    * the truncating recurrence S_t = (S_{t−1}·(n_t − d_t)) div n_t in
    * micro units (BigInt intermediates; S ≤ 10⁶ always) — which the
    * DuckDB oracle replays bit-for-bit as a RECURSIVE CTE.
    */
  def kmSurvival(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.events(spark, dir)
      .select(col("user_id"), expr("(ts div 1000) div 86400000000").as("day"))
      .groupBy(col("user_id"))
      .agg(min(col("day")).as("f"), max(col("day")).as("l"))
    // corpus last-day folds into the plan as a broadcast 1-row aggregate —
    // churn classification happens in the same composed job (an eager
    // .head() here would add a full extra pass and throw on empty input)
    val mx = per.agg(max(col("l")).as("m"))
    val g = per.crossJoin(broadcast(mx))
      .select((col("l") - col("f")).as("t"),
        when(col("l") <= col("m") - KmChurnGapDays, 1L).otherwise(0L).as("dead"))
      .groupBy(col("t"))
      .agg(sum(col("dead")).as("d"), count(lit(1)).as("ct"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val total = g.map(_._3).sum
    var atRisk = total
    var s = 1000000L
    val rows = g.map { case (t, d, ct) =>
      val n = atRisk
      s = (BigInt(s) * (n - d) / n).toLong
      atRisk -= ct
      (t, n, d, s)
    }
    import spark.implicits._
    rows.toSeq.toDF("t", "n_risk", "n_deaths", "s_micro")
  }

  private val kmSurvivalSql =
    s"""WITH RECURSIVE per AS (
       |  SELECT user_id,
       |    min(epoch_us(ts) // 86400000000) AS f,
       |    max(epoch_us(ts) // 86400000000) AS l
       |  FROM events GROUP BY user_id
       |), mx AS (
       |  SELECT max(l) AS m FROM per
       |), u AS (
       |  SELECT l - f AS t,
       |    CASE WHEN l <= m - $KmChurnGapDays THEN 1 ELSE 0 END AS dead
       |  FROM per CROSS JOIN mx
       |), g AS (
       |  SELECT t, CAST(sum(dead) AS BIGINT) AS d, count(*) AS ct
       |  FROM u GROUP BY t
       |), tot AS (
       |  SELECT CAST(sum(ct) AS BIGINT) AS n FROM g
       |), base AS (
       |  SELECT t,
       |    CAST(n - coalesce(sum(ct) OVER (ORDER BY t
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS n_risk,
       |    d, row_number() OVER (ORDER BY t) AS rn
       |  FROM g CROSS JOIN tot
       |), km AS (
       |  SELECT rn, t, n_risk, d,
       |    CAST((1000000 * (n_risk - d)) // n_risk AS BIGINT) AS s
       |  FROM base WHERE rn = 1
       |  UNION ALL
       |  SELECT b.rn, b.t, b.n_risk, b.d,
       |    CAST((km.s::HUGEINT * (b.n_risk - b.d)) // b.n_risk AS BIGINT) AS s
       |  FROM km JOIN base b ON b.rn = km.rn + 1
       |)
       |SELECT t, n_risk, d AS n_deaths, s AS s_micro FROM km""".stripMargin

  // ---- RFM customer segmentation ------------------------------------------
  /** RFM segmentation: every customer scored 1–5 on Recency (last order
    * day), Frequency (order count) and Monetary (lifetime spend), composed
    * into the classic 3-digit segment code — the marketing-warehouse
    * rollup this engine's users run weekly. Quintile boundaries are the
    * exact discrete-rank pick (the `percentiles_exact` integer device) at
    * 20/40/60/80 over the CUSTOMER-level frame, ranked with the
    * distributed prefix-sum device ([[graft.operators.PrefixRank]],
    * round 13 — no single-partition window even on the compact frame),
    * broadcast back as a 1-row bound set; scores are pure comparisons, so no
    * `ntile` remainder-distribution semantics can differ between engines.
    */
  def rfmSegments(spark: SparkSession, dir: String): DataFrame = {
    // materialized ONCE: the frame feeds seven consumers (three ranked
    // boundary probes, each also needing the total count, plus the final
    // scoring pass) — without the checkpoint each bounds() call would
    // re-run the orders groupBy twice (measured 2.9 s vs 1.3 s at sf0.1)
    val perCust = graft.core.Materialize(Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(max(expr("CAST(o_orderdate AS DATE)")).as("last_day"),
        count(lit(1)).as("f"),
        round(sum(col("o_totalprice")), 2).as("m"))
      .withColumn("r", datediff(col("last_day"), lit("1992-01-01")).cast("long"))
      .drop("last_day"))
    // boundary ranks via the distributed prefix-sum device (round 13) for
    // the unbounded-domain metric only: PrefixRank range-partitions on
    // (metric, custkey) and ranks each slice locally; n arrives as a
    // broadcast 1-row aggregate
    val nDf = perCust.agg(count(lit(1)).as("n"))
    def bounds(c: String, tag: String) = {
      // rank only the (metric, key) projection — the prefix-sum pass
      // should never carry the other metrics' columns through its
      // checkpoint and shuffle
      val ranked = graft.operators.PrefixRank
        .withRowNumber(perCust.select(col(c), col("o_custkey")), "rn",
          col(c), col("o_custkey"))
        .crossJoin(broadcast(nDf))
      def pick(q: Int) = max(when(
        col("rn") === expr(s"(n * $q + 99) div 100"), col(c)))
      ranked.agg(pick(20).as(s"${tag}1"), pick(40).as(s"${tag}2"),
        pick(60).as(s"${tag}3"), pick(80).as(s"${tag}4"))
    }
    // bounded-DOMAIN metrics take the spearman_corr histogram device
    // (round 14): the value at global rank pos over (c, custkey) order is
    // min{v : cumcount(≤v) ≥ pos}, so the quintile boundaries come from a
    // tiny per-value histogram — one groupBy(c) shuffle plus a window over
    // ≤|domain| rows (single-partition is fine on a frame bounded by the
    // value DOMAIN, never by the data) — instead of a full PrefixRank
    // range-partition + checkpoint of the per-customer frame. r's domain
    // is the corpus date span in days (~2.5k at ANY scale factor), f's the
    // max orders-per-customer (dozens); m (spend) stays on PrefixRank.
    def histBounds(c: String, tag: String) = {
      val h = perCust.groupBy(col(c)).agg(count(lit(1)).as("__cnt"))
        .withColumn("__cum", sum(col("__cnt")).over(
          Window.orderBy(col(c))
            .rowsBetween(Window.unboundedPreceding, 0)))
        .crossJoin(broadcast(nDf))
      def pick(q: Int) = min(when(
        col("__cum") >= expr(s"(n * $q + 99) div 100"), col(c)))
      h.agg(pick(20).as(s"${tag}1"), pick(40).as(s"${tag}2"),
        pick(60).as(s"${tag}3"), pick(80).as(s"${tag}4"))
    }
    def score(c: Column, tag: String): Column =
      lit(1) + (c > col(s"${tag}1")).cast("int") + (c > col(s"${tag}2")).cast("int") +
        (c > col(s"${tag}3")).cast("int") + (c > col(s"${tag}4")).cast("int")
    perCust
      .crossJoin(broadcast(histBounds("r", "rb")))
      .crossJoin(broadcast(histBounds("f", "fb")))
      .crossJoin(broadcast(bounds("m", "mb")))
      .select(col("o_custkey"), col("r"), col("f"), col("m"),
        (score(col("r"), "rb") * 100 + score(col("f"), "fb") * 10 +
          score(col("m"), "mb")).as("rfm"))
  }

  private val rfmSegmentsSql =
    """WITH pc AS (
      |  SELECT o_custkey,
      |    datediff('day', DATE '1992-01-01',
      |      CAST(max(o_orderdate) AS DATE)) AS r,
      |    count(*) AS f, round(sum(o_totalprice), 2) AS m
      |  FROM orders GROUP BY o_custkey
      |), rr AS (
      |  SELECT *, row_number() OVER (ORDER BY r, o_custkey) AS rn_r,
      |    row_number() OVER (ORDER BY f, o_custkey) AS rn_f,
      |    row_number() OVER (ORDER BY m, o_custkey) AS rn_m,
      |    count(*) OVER () AS n
      |  FROM pc
      |), b AS (
      |  SELECT
      |    max(r) FILTER (rn_r = (n * 20 + 99) // 100) AS rb1,
      |    max(r) FILTER (rn_r = (n * 40 + 99) // 100) AS rb2,
      |    max(r) FILTER (rn_r = (n * 60 + 99) // 100) AS rb3,
      |    max(r) FILTER (rn_r = (n * 80 + 99) // 100) AS rb4,
      |    max(f) FILTER (rn_f = (n * 20 + 99) // 100) AS fb1,
      |    max(f) FILTER (rn_f = (n * 40 + 99) // 100) AS fb2,
      |    max(f) FILTER (rn_f = (n * 60 + 99) // 100) AS fb3,
      |    max(f) FILTER (rn_f = (n * 80 + 99) // 100) AS fb4,
      |    max(m) FILTER (rn_m = (n * 20 + 99) // 100) AS mb1,
      |    max(m) FILTER (rn_m = (n * 40 + 99) // 100) AS mb2,
      |    max(m) FILTER (rn_m = (n * 60 + 99) // 100) AS mb3,
      |    max(m) FILTER (rn_m = (n * 80 + 99) // 100) AS mb4
      |  FROM rr
      |)
      |SELECT o_custkey, r, f, m,
      |  (1 + (r > rb1)::INT + (r > rb2)::INT + (r > rb3)::INT + (r > rb4)::INT)
      |    * 100 +
      |  (1 + (f > fb1)::INT + (f > fb2)::INT + (f > fb3)::INT + (f > fb4)::INT)
      |    * 10 +
      |  (1 + (m > mb1)::INT + (m > mb2)::INT + (m > mb3)::INT + (m > mb4)::INT)
      |    AS rfm
      |FROM pc CROSS JOIN b""".stripMargin

  // ---- weight-of-evidence / information-value feature screening -----------
  /** WOE/IV readout for a candidate feature against a binary outcome —
    * the credit-scoring-style screen a feature platform runs before
    * admitting a signal: users binned by activity
    * (`(n_events - 40) div 6`, clamped to [0, 8] so the bin domain is
    * fixed and scale-invariant — per-user activity doesn't grow with
    * corpus size), outcome = "≥14 purchases" (a per-user RATE cut, so the
    * good/bad split survives any corpus scale; "ever purchased" is
    * degenerate here — every user has one), and per bin the weight of
    * evidence
    * `ln(good-share / bad-share)` with +0.5 Laplace smoothing (no bin can
    * zero the log) plus its information-value contribution. Two shuffles
    * total (user rollup, then 9-row bin rollup with map-side combine);
    * the good/bad totals fold into the plan as a
    * `crossJoin(broadcast(<1-row agg>))` — no eager driver pass. Reported
    * micro-scaled (`round(1e6·x)` as BIGINT, the [[TextAnalysis]]
    * nb_classify convention) so both engines attest the same integers;
    * a 1-ulp `ln` divergence sits 10 orders below the rounding grain.
    */
  def woeIv(spark: SparkSession, dir: String): DataFrame = {
    val perUser = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("n_purch"))
      .withColumn("is_good", (col("n_purch") >= 14).cast("long"))
      .withColumn("bin",
        expr("least(greatest((n_events - 40) div 6, 0), 8)"))
    val bins = perUser.groupBy(col("bin"))
      .agg(sum(col("is_good")).as("n_good"),
        sum(lit(1L) - col("is_good")).as("n_bad"))
    val tot = perUser.agg(sum(col("is_good")).as("tg"),
      sum(lit(1L) - col("is_good")).as("tb"))
    val lnOdds =
      "ln(((n_good + 0.5e0) * (tb + 0.5e0)) / ((n_bad + 0.5e0) * (tg + 0.5e0)))"
    bins.crossJoin(broadcast(tot))
      .withColumn("woe_u",
        expr(s"CAST(round(1e6 * $lnOdds) AS BIGINT)"))
      .withColumn("iv_u", expr("CAST(round(1e6 * " +
        s"((n_good + 0.5e0) / (tg + 0.5e0) - (n_bad + 0.5e0) / (tb + 0.5e0)) * " +
        s"$lnOdds) AS BIGINT)"))
      .select(col("bin"), col("n_good"), col("n_bad"), col("woe_u"),
        col("iv_u"))
  }

  private val woeIvSql = {
    val lnOdds =
      "ln(((n_good + 0.5e0) * (tb + 0.5e0)) / ((n_bad + 0.5e0) * (tg + 0.5e0)))"
    s"""WITH pu AS (
       |  SELECT user_id, count(*) AS n_events,
       |    CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
       |      END) >= 14 THEN 1 ELSE 0 END AS is_good
       |  FROM events GROUP BY user_id
       |), pb AS (
       |  SELECT least(greatest((n_events - 40) // 6, 0), 8) AS bin,
       |    CAST(sum(is_good) AS BIGINT) AS n_good,
       |    CAST(sum(1 - is_good) AS BIGINT) AS n_bad
       |  FROM pu GROUP BY 1
       |), tot AS (
       |  SELECT CAST(sum(is_good) AS BIGINT) AS tg,
       |    CAST(sum(1 - is_good) AS BIGINT) AS tb
       |  FROM pu
       |)
       |SELECT bin, n_good, n_bad,
       |  CAST(round(1e6 * $lnOdds) AS BIGINT) AS woe_u,
       |  CAST(round(1e6 *
       |    ((n_good + 0.5e0) / (tg + 0.5e0) - (n_bad + 0.5e0) / (tb + 0.5e0)) *
       |    $lnOdds) AS BIGINT) AS iv_u
       |FROM pb CROSS JOIN tot""".stripMargin
  }

  // ---- association rules over order baskets --------------------------------
  private val ArMinPairOrders = 3
  private val ArK = 25

  /** Association-rule mining, the pair cut: directed rules a→b over order
    * baskets with exact support/confidence/lift — "customers who bought a
    * also bought b", the recommendation-seed query. The pair frame is the
    * co-purchase build (per-order a<b self-join — bounded by basket
    * size², never corpus-quadratic) with a ≥`ArMinPairOrders` support
    * floor standing in for A-Priori pruning; per-part order counts join
    * back, and every metric is a micro-rounded ratio of exact integers
    * (same-engine-identical doubles), so the (confidence, lift) ranking
    * and the top-`ArK` cut are exact on both engines.
    */
  def assocRules(spark: SparkSession, dir: String): DataFrame = {
    // basket sets in ONE key shuffle (collect_set dedups p within order,
    // so no separate distinct pass), materialized once and fanned out
    // in-stage for BOTH the pair build and the per-part order counts —
    // the co-purchase pair build's device (Algorithms.coPurchase); the former
    // (o,p)-distinct + self-join shape paid ~4 pair-volume shuffles and
    // derived the basket frame three times
    val sets = graft.core.Materialize(
      Tables.lineitem(spark, dir)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .groupBy(col("o")).agg(collect_set(col("p")).as("ps")))
    val nOrders = Tables.orders(spark, dir).count()
    // both rule-side joins consume this (a and b) — deliberately NOT
    // materialized: the two references canonicalize identically, so the
    // planner already shares one exchange (ReusedExchange in the captured
    // plan); a checkpoint would only add a job boundary
    val perPart = sets.select(explode(col("ps")).as("p"))
      .groupBy(col("p")).agg(count(lit(1)).as("n_p"))
    // co-count once per UNORDERED pair (a < b) and mirror after the
    // aggregate: n_ab is symmetric (orders containing both), so the
    // directed (a,b)/(b,a) rows carry the same count — aggregating both
    // directions shuffled every pair twice for identical results
    // (round 14; the support floor commutes with the mirror for the same
    // symmetry reason)
    val pairsHalf = sets
      .select(explode(col("ps")).as("a"), col("ps"))
      .select(col("a"), explode(col("ps")).as("b"))
      .where(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_ab"))
      .where(col("n_ab") >= ArMinPairOrders)
    val pairs = pairsHalf.unionAll(
      pairsHalf.select(col("b").as("a"), col("a").as("b"), col("n_ab")))
    pairs
      .join(perPart.toDF("a", "n_a"), "a")
      .join(perPart.toDF("b", "n_b"), "b")
      .withColumn("support_ppm",
        expr(s"CAST(round(1000000.0 * n_ab / $nOrders) AS BIGINT)"))
      .withColumn("confidence_ppm",
        expr("CAST(round(1000000.0 * n_ab / n_a) AS BIGINT)"))
      .withColumn("lift_micro",
        expr(s"CAST(round(1000000.0 * ((n_ab * 1.0) * $nOrders) / " +
          "((n_a * 1.0) * n_b)) AS BIGINT)"))
      .select(col("a"), col("b"), col("n_ab"), col("support_ppm"),
        col("confidence_ppm"), col("lift_micro"))
      .orderBy(col("confidence_ppm").desc, col("a"), col("b"))
      .limit(ArK)
  }

  private val assocRulesSql =
    s"""WITH po AS (
       |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
       |), n AS (SELECT count(*) AS v FROM orders),
       |pp AS (SELECT p, count(*) AS n_p FROM po GROUP BY p),
       |pairs AS (
       |  SELECT x.p AS a, y.p AS b, count(*) AS n_ab
       |  FROM po x JOIN po y ON x.o = y.o AND x.p <> y.p
       |  GROUP BY 1, 2 HAVING count(*) >= $ArMinPairOrders
       |)
       |SELECT pairs.a, pairs.b, pairs.n_ab,
       |  CAST(round(1e6 * pairs.n_ab / (SELECT v FROM n)) AS BIGINT)
       |    AS support_ppm,
       |  CAST(round(1e6 * pairs.n_ab / pa.n_p) AS BIGINT)
       |    AS confidence_ppm,
       |  CAST(round(1e6 * ((pairs.n_ab * 1.0) * (SELECT v FROM n)) /
       |    ((pa.n_p * 1.0) * pb.n_p)) AS BIGINT) AS lift_micro
       |FROM pairs
       |JOIN pp pa ON pa.p = pairs.a
       |JOIN pp pb ON pb.p = pairs.b
       |ORDER BY confidence_ppm DESC, a, b LIMIT $ArK""".stripMargin

  // ---- burstiness (variance-to-mean dispersion) ---------------------------
  /** Index of dispersion (variance-to-mean ratio) of the DAILY event
    * count per event type — the overdispersion probe next to
    * [[cusumDrift]]'s localization: a Poisson-ish steady stream sits at
    * VMR ≈ 1, machine retries / batch replays / thundering herds push it
    * far above (bursty), rate-limited flows below (underdispersed). Two
    * bounded shuffles (daily rollup, then a ≤|types| rollup of the
    * day-count-sized frame); the ratio is exact-integer —
    * VMR·10⁶ = 10⁶·(n·Σx² − (Σx)²) div (n·Σx) with the moment products
    * lifted to decimal(38,0) / HUGEINT for 100 TB headroom, one
    * truncating division, bit-identical across engines. Days with zero
    * events take no row (observed-day support, the [[EvalMetrics]]
    * ccf_daily convention, documented rather than densified).
    */
  def burstiness(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), expr("ts div 86400000000000").as("day_no"))
      .agg(count(lit(1)).as("x"))
    daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"), sum(col("x")).as("total"),
        // the per-term square is lifted to decimal BEFORE multiplying —
        // a 64-bit x*x overflows at x ≥ ~3.04e9 daily events, and Spark's
        // LongType sum wraps where DuckDB's sum(BIGINT)→HUGEINT doesn't,
        // so the engines would diverge exactly where headroom is claimed
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"))
      .withColumn("vmr_u", expr(
        "CAST((1000000 * (CAST(n_days AS DECIMAL(38,0)) * sxx - " +
          "CAST(total AS DECIMAL(38,0)) * total)) div " +
          "(CAST(n_days AS DECIMAL(38,0)) * total) AS BIGINT)"))
      .select(col("event_type"), col("n_days"), col("total"), col("vmr_u"))
  }

  private val burstinessSql =
    """WITH d AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS day_no,
      |    count(*)::BIGINT AS x
      |  FROM events GROUP BY 1, 2
      |)
      |SELECT event_type, count(*)::BIGINT AS n_days,
      |  CAST(sum(x) AS BIGINT) AS total,
      |  CAST((1000000 * (count(*)::HUGEINT * sum(x::HUGEINT * x)
      |      - sum(x)::HUGEINT * sum(x)))
      |    // (count(*)::HUGEINT * sum(x)) AS BIGINT) AS vmr_u
      |FROM d GROUP BY event_type""".stripMargin

  // ---- CUSUM drift detection ---------------------------------------------
  /** CUSUM drift chart per event type: the running cumulative sum of each
    * day's deviation from the type's overall daily-mean — a sustained
    * shift accumulates linearly where noise cancels, so `max |cusum|` and
    * the day it peaks localize WHEN a metric drifted (the data-quality
    * alarm batch pipelines run between drops; the EWMA op smooths, CUSUM
    * localizes). Two shuffles (daily rollup, per-type window over the
    * day-count-sized frame); the running sum adds the same doubles in
    * the same day order on both engines, so even the float path is
    * reproducible. Deterministic peak tiebreak: earliest day.
    */
  def cusumDrift(spark: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400L * 1000 * 1000
    val daily = Tables.events(spark, dir)
      .select(col("event_type"), col("value"),
        expr(s"(ts div 1000) div ${dayUs}L").as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(avg(col("value")).as("m"))
    val wAll = Window.partitionBy(col("event_type"))
    val wRun = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val wPeak = Window.partitionBy(col("event_type"))
      .orderBy(abs(col("cusum")).desc, col("day"))
    daily
      .withColumn("mu", avg(col("m")).over(wAll))
      .withColumn("n_days", count(lit(1)).over(wAll))
      .withColumn("cusum", sum(col("m") - col("mu")).over(wRun))
      .withColumn("rk", row_number().over(wPeak))
      .where(col("rk") === 1)
      .select(col("event_type"), col("n_days"), col("day").as("peak_day"),
        round(abs(col("cusum")), 6).as("max_abs_cusum"))
  }

  private val cusumDriftSql =
    """WITH daily AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS day, avg(value) AS m
      |  FROM events GROUP BY 1, 2
      |), c0 AS (
      |  SELECT event_type, day, m,
      |    avg(m) OVER (PARTITION BY event_type) AS mu,
      |    count(*) OVER (PARTITION BY event_type) AS n_days
      |  FROM daily
      |), c AS (
      |  SELECT event_type, day, n_days,
      |    sum(m - mu) OVER (PARTITION BY event_type ORDER BY day) AS cusum
      |  FROM c0
      |)
      |SELECT event_type, n_days, day AS peak_day,
      |  round(abs(cusum), 6) AS max_abs_cusum
      |FROM c
      |QUALIFY row_number() OVER (PARTITION BY event_type
      |  ORDER BY abs(cusum) DESC, day) = 1""".stripMargin

  // ---- winsorized robust statistics --------------------------------------
  /** Outlier-clamped per-type statistics: values are winsorized at the
    * exact discrete P5/P95 ranks (the `percentiles_exact` integer-rank
    * pick — no float boundary can miss a rank) and the clamped mean is
    * reported next to the raw mean with the clamp count. This is the
    * robust-stats companion to [[zscoreOutliers]]/MAD: those FLAG
    * outliers, winsorization bounds their influence — the difference
    * between a dashboard that survives one corrupt 1e9 reading and one
    * that doesn't. Shape: one ranked window per type, bounds as a 5-row
    * broadcast join back, then a plain aggregate.
    */
  def winsorizedStats(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value"), col("event_id"))
    val ranked = Tables.events(spark, dir)
      .select(col("event_type"), col("value"), col("event_id"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("event_type"))))
    def pick(q: Int) = max(when(
      col("rn") === expr(s"(n * $q + 99) div 100"), col("value")))
    val bounds = ranked.groupBy(col("event_type"))
      .agg(pick(5).as("lo"), pick(95).as("hi"))
    Tables.events(spark, dir)
      .select(col("event_type"), col("value"))
      .join(broadcast(bounds), "event_type")
      .withColumn("wv", least(greatest(col("value"), col("lo")), col("hi")))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(min(col("lo")), 6).as("p05"),
        round(min(col("hi")), 6).as("p95"),
        round(avg(col("value")), 6).as("mean_raw"),
        round(avg(col("wv")), 6).as("mean_winsorized"),
        sum(when(col("value") < col("lo") || col("value") > col("hi"), 1L)
          .otherwise(0L)).as("n_clamped"))
  }

  private val winsorizedStatsSql =
    """WITH r AS (
      |  SELECT event_type, value,
      |    row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
      |    count(*) OVER (PARTITION BY event_type) AS n
      |  FROM events
      |), b AS (
      |  SELECT event_type,
      |    max(value) FILTER (rn = (n * 5 + 99) // 100) AS lo,
      |    max(value) FILTER (rn = (n * 95 + 99) // 100) AS hi
      |  FROM r GROUP BY event_type
      |)
      |SELECT e.event_type, count(*) AS n,
      |  round(min(b.lo), 6) AS p05, round(min(b.hi), 6) AS p95,
      |  round(avg(e.value), 6) AS mean_raw,
      |  round(avg(least(greatest(e.value, b.lo), b.hi)), 6) AS mean_winsorized,
      |  sum(CASE WHEN e.value < b.lo OR e.value > b.hi THEN 1 ELSE 0 END)::BIGINT
      |    AS n_clamped
      |FROM events e JOIN b ON e.event_type = b.event_type
      |GROUP BY e.event_type""".stripMargin

  /** Cohort retention: users grouped by first-seen day, counted per
    * (cohort_day, day_offset) of later activity. The cohort map is a
    * per-user aggregate joined back to the log — both legs shuffle on
    * user_id, then one distinct-count per cell.
    */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400L * 1000 * 1000
    val e = Tables.events(spark, dir)
      .select(col("user_id"), expr(s"(ts div 1000) div ${dayUs}L").as("day"))
    val cohorts = e.groupBy("user_id").agg(min("day").as("cohort_day"))
    e.join(cohorts, "user_id")
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
  }

  private val cohortRetentionSql =
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events
      |), f AS (
      |  SELECT user_id, min(day) AS cohort_day FROM e GROUP BY 1
      |)
      |SELECT f.cohort_day, e.day - f.cohort_day AS day_offset,
      |  count(DISTINCT e.user_id) AS n_users
      |FROM e JOIN f ON e.user_id = f.user_id
      |GROUP BY 1, 2""".stripMargin

  /** Per-group z-score outliers (|x − μ| > 3σ) with NO float statistics:
    * values quantize to exact cents, per-type (n, S=Σc, Q=Σc²) come from
    * one aggregate, and the flag is the pure-integer identity
    * (c·n − S)² > 9·(n·Q − S²)  ⇔  z² > 9 — so the flagged set is
    * bit-identical in any engine (the ValueHistogram variance trick applied
    * to filtering). The 5-row stats table broadcast-joins back to the
    * event scan: one aggregate + one map-side probe, no window over the
    * full log. ALL squared terms — including the Σc² aggregate itself —
    * evaluate in decimal(38,0) (Spark) / HUGEINT (DuckDB): headroom to
    * n ≈ 10¹² rows per group, where an int64 Σc² would silently wrap
    * near ~10⁶ rows at cv ≈ 10⁶.
    */
  def zscoreOutliers(spark: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(38,0)"
    val c = Tables.events(spark, dir).select(
      col("event_id"), col("event_type"), col("value"),
      round(col("value") * 100).cast("long").as("cv"))
    val s = c.groupBy(col("event_type")).agg(
      count(lit(1)).as("n"), sum(col("cv")).as("s"),
      sum(col("cv").cast(dec) * col("cv")).as("q"))
    val num = col("cv").cast(dec) * col("n") - col("s")
    val denom = col("n").cast(dec) * col("q") - col("s").cast(dec) * col("s")
    c.join(broadcast(s), "event_type")
      .where(num * num > denom * lit(9))
      .select(col("event_id"), col("event_type"), col("value"))
  }

  private val zscoreOutliersSql =
    """WITH c AS (
      |  SELECT event_id, event_type, value, round(value * 100)::BIGINT AS cv
      |  FROM events
      |), s AS (
      |  SELECT event_type, count(*) AS n, sum(cv)::BIGINT AS s,
      |    sum(cv::HUGEINT * cv) AS q
      |  FROM c GROUP BY 1
      |)
      |SELECT c.event_id, c.event_type, c.value
      |FROM c JOIN s USING (event_type)
      |WHERE (cv::HUGEINT * n - s) * (cv::HUGEINT * n - s)
      |  > 9 * (n::HUGEINT * q - s::HUGEINT * s)""".stripMargin

  /** Robust per-group outlier counts via median absolute deviation — the
    * heavy-tail-safe twin of [[zscoreOutliers]] (one wild event drags a
    * mean/variance gate; the median pair shrugs it off). Pure integer
    * math end-to-end: values quantize to cents (the zscore convention),
    * the median is the EXACT value at rank ⌈n/2⌉ (the `percentiles_exact`
    * device — a conditional pick at a computed rank, no float
    * interpolation), MAD is the same pick over |cv − med|, and the flag
    * is |cv − med| > 3·MAD in int64 — bit-identical across engines.
    * Cost shape: ONE corpus pass rolls up to exact (type, cents) cells —
    * bounded by the value domain, not the corpus — and both rank picks
    * become cumulative-count walks over the materialized cells (the
    * k-th smallest of the multiset IS the first cell whose running count
    * reaches k, so this is the exact-integer form of the binned-histogram
    * swap-in the former corpus-sized rank windows documented; those
    * windows, and the 13 per-reference re-scans of events, are gone).
    */
  def madOutliers(spark: SparkSession, dir: String): DataFrame = {
    // the single corpus-sized pass: exact value-domain-bounded cells,
    // materialized so the five downstream readers re-read a few rows
    val cells = graft.core.Materialize(
      Tables.events(spark, dir).select(
        col("event_type"), round(col("value") * 100).cast("long").as("cv"))
        .groupBy(col("event_type"), col("cv")).agg(count(lit(1)).as("cnt")))
    val n = cells.groupBy("event_type").agg(sum(col("cnt")).as("n"))
    val w1 = Window.partitionBy(col("event_type")).orderBy(col("cv"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val med = cells.withColumn("cum", sum(col("cnt")).over(w1))
      .join(broadcast(n), "event_type")
      .where(col("cum") >= expr("(n + 1) div 2"))
      .groupBy(col("event_type")).agg(min(col("cv")).as("med_cents"))
    // |cv − med| cells: distinct cv can collide on ad, so re-sum
    val dev = cells.join(broadcast(med), "event_type")
      .select(col("event_type"),
        abs(col("cv") - col("med_cents")).as("ad"), col("cnt"))
      .groupBy(col("event_type"), col("ad")).agg(sum(col("cnt")).as("cnt"))
    val w2 = Window.partitionBy(col("event_type")).orderBy(col("ad"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val mad = dev.withColumn("cum", sum(col("cnt")).over(w2))
      .join(broadcast(n), "event_type")
      .where(col("cum") >= expr("(n + 1) div 2"))
      .groupBy(col("event_type")).agg(min(col("ad")).as("mad_cents"))
    dev.join(broadcast(mad), "event_type")
      .groupBy(col("event_type"))
      .agg(sum(col("cnt")).as("n"),
        sum(when(col("ad") > lit(3) * col("mad_cents"), col("cnt"))
          .otherwise(0L)).as("n_outliers"))
      .join(broadcast(med), "event_type").join(broadcast(mad), "event_type")
      .select(col("event_type"), col("n"), col("med_cents"),
        col("mad_cents"), col("n_outliers"))
  }

  private val madOutliersSql =
    """WITH c AS (
      |  SELECT event_type, round(value * 100)::BIGINT AS cv FROM events
      |), g AS (
      |  SELECT event_type, count(*) AS n FROM c GROUP BY 1
      |), r1 AS (
      |  SELECT event_type, cv,
      |    row_number() OVER (PARTITION BY event_type ORDER BY cv) AS rn
      |  FROM c
      |), med AS (
      |  SELECT r1.event_type, cv AS med_cents
      |  FROM r1 JOIN g USING (event_type) WHERE rn = (n + 1) // 2
      |), dev AS (
      |  SELECT c.event_type, abs(cv - med_cents) AS ad
      |  FROM c JOIN med USING (event_type)
      |), r2 AS (
      |  SELECT event_type, ad,
      |    row_number() OVER (PARTITION BY event_type ORDER BY ad) AS rn
      |  FROM dev
      |), mad AS (
      |  SELECT r2.event_type, ad AS mad_cents
      |  FROM r2 JOIN g USING (event_type) WHERE rn = (n + 1) // 2
      |)
      |SELECT dev.event_type, count(*) AS n, min(med_cents) AS med_cents,
      |  min(mad.mad_cents) AS mad_cents,
      |  CAST(sum(CASE WHEN ad > 3 * mad.mad_cents THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_outliers
      |FROM dev JOIN mad USING (event_type) JOIN med USING (event_type)
      |GROUP BY 1""".stripMargin

  /** The ranking-window surface in one pass: rank / dense_rank / ntile /
    * lead / lag over each user's timeline — all integer or exact-value
    * outputs, one shuffle on user_id shared by every function (a single
    * Window operator; verify in the plan that the five functions fuse).
    * Restricted to purchases to keep the result set reviewable.
    */
  def windowFuncs(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    Tables.events(spark, dir)
      .where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), expr("ts div 1000").as("ts_us"))
      .select(col("user_id"), col("event_id"),
        rank().over(w).cast("long").as("rk"),
        dense_rank().over(w).cast("long").as("drk"),
        ntile(4).over(w).cast("long").as("quartile"),
        lag(col("event_id"), 1, -1L).over(w).as("prev_purchase"),
        lead(col("event_id"), 1, -1L).over(w).as("next_purchase"))
  }

  private val windowFuncsSql =
    """SELECT user_id, event_id,
      |  rank() OVER w AS rk,
      |  dense_rank() OVER w AS drk,
      |  ntile(4) OVER w AS quartile,
      |  coalesce(lag(event_id) OVER w, -1) AS prev_purchase,
      |  coalesce(lead(event_id) OVER w, -1) AS next_purchase
      |FROM (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
      |      WHERE event_type = 'purchase')
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)""".stripMargin

  /** TPC-H Q18 shape (large-volume orders): a HAVING aggregate over the
    * fact table, then the small survivor set drives the joins — partial
    * aggregation halves the quantity shuffle, and AQE broadcasts the
    * filtered aggregate (hundreds of rows) into orders/customer instead of
    * shuffling either.
    */
  def q18LargeOrders(spark: SparkSession, dir: String): DataFrame = {
    val big = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).as("total_qty"))
      .where(col("total_qty") > 210)
    big.join(Tables.orders(spark, dir),
        col("o_orderkey") === col("l_orderkey"))
      .join(Tables.customer(spark, dir),
        col("c_custkey") === col("o_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_totalprice"), col("total_qty"))
  }

  private val q18Sql =
    """WITH big AS (
      |  SELECT l_orderkey, sum(l_quantity) AS total_qty FROM lineitem
      |  GROUP BY 1 HAVING sum(l_quantity) > 210
      |)
      |SELECT c_name, c_custkey, o_orderkey, o_totalprice, total_qty
      |FROM big JOIN orders ON o_orderkey = l_orderkey
      |JOIN customer ON c_custkey = o_custkey""".stripMargin

  /** TPC-H Q2 shape (min-cost supplier per part) written the way Catalyst
    * wants the correlated subquery decorrelated: ONE window min over the
    * joined frame instead of a per-part re-aggregation subquery — the
    * window shares the join's partitioning, so the "correlated" min costs
    * one extra sort, not a second pass over lineitem. Ties (several
    * suppliers at the min price) all survive, identically in both engines
    * (exact equality on the unrounded value).
    */
  def q2MinCostSupplier(spark: SparkSession, dir: String): DataFrame = {
    val j = Tables.part(spark, dir)
      .join(Tables.lineitem(spark, dir), col("l_partkey") === col("p_partkey"))
      .join(Tables.supplier(spark, dir), col("s_suppkey") === col("l_suppkey"))
    val w = Window.partitionBy(col("p_partkey"))
    j.withColumn("mn", min(col("l_extendedprice")).over(w))
      .where(col("l_extendedprice") === col("mn"))
      .select(col("p_partkey"), col("s_suppkey"),
        col("l_extendedprice").as("min_price"))
  }

  private val q2Sql =
    """SELECT p_partkey, s_suppkey, l_extendedprice AS min_price
      |FROM (
      |  SELECT p.p_partkey, s.s_suppkey, l.l_extendedprice,
      |    min(l.l_extendedprice) OVER (PARTITION BY p.p_partkey) AS mn
      |  FROM part p JOIN lineitem l ON l.l_partkey = p.p_partkey
      |  JOIN supplier s ON s.s_suppkey = l.l_suppkey)
      |WHERE l_extendedprice = mn""".stripMargin

  /** Ordered list aggregation: each user's first 5 purchases, in
    * event-time order. The window filter runs BEFORE the collect —
    * per-group state is bounded at 5 rows however many purchases a user
    * has (collect-then-slice would buffer entire user histories).
    * `array_sort(collect_list(struct))` makes the assembled order
    * deterministic (bare collect_list order is partition-arrival luck).
    * The ordered list is emitted as a comma-joined STRING, not an array:
    * the oracle comparator sorts result frames and arrays are unsortable
    * there, and a scalar encoding is also what a downstream parquet
    * consumer diffing two engine runs wants. Order semantics are intact —
    * the string is exactly the ordered list.
    */
  def userHistory(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    Tables.events(spark, dir)
      .where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), expr("ts div 1000").as("ts_us"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= 5)
      .groupBy(col("user_id"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("ts_us"), col("event_id")))),
        x => x.getField("event_id").cast("string")), ",")
        .as("first_purchases"))
  }

  private val userHistorySql =
    """SELECT user_id,
      |  string_agg(CAST(event_id AS VARCHAR), ','
      |             ORDER BY ts_us, event_id) AS first_purchases
      |FROM (
      |  SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
      |  WHERE event_type = 'purchase'
      |  QUALIFY row_number() OVER (
      |    PARTITION BY user_id ORDER BY ts_us, event_id) <= 5
      |)
      |GROUP BY user_id""".stripMargin

  /** Semi-structured extraction: pull a typed field out of the JSON
    * `props` column and aggregate it. `get_json_object` is a codegen'd
    * Catalyst expression evaluated inside the scan's project — no UDF, no
    * intermediate parse tree materialized; at 100 TB this is a map-only
    * pass whose cost is the string scan itself. (The reference would
    * hand-parse in a Mapper; a schema'd `from_json` is the alternative
    * when the whole object is needed rather than one path.)
    */
  def propsJsonAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(sum(col("k")).as("k_sum"), count(lit(1)).as("n"))

  private val propsJsonSql =
    """SELECT event_type,
      |  CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS k_sum,
      |  count(*) AS n
      |FROM events GROUP BY event_type""".stripMargin

  /** Rolling-window anomaly detection: flag events whose value deviates
    * > 2.5 sample standard deviations from the user's trailing 20-event
    * window (current row EXCLUDED — the classic leakage mistake is
    * including it). One shuffle on user_id; per-row state is three
    * integer running sums (n, Σc, Σc²) over exact cents, and the z² test
    * is cross-multiplied into integer arithmetic —
    * 4·(c·n − S)²·(n−1) > 25·n·(n·Q − S²) — so both engines compare
    * identical integers and no float stddev can diverge at the rounding
    * boundary (same device as [[zscoreOutliers]], rolled).
    */
  def rollingAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(38,0)"
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-20, -1)
    val c = Tables.events(spark, dir).select(
      col("user_id"), col("event_id"), col("ts"), col("value"),
      round(col("value") * 100).cast("long").as("cv"))
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("s", sum(col("cv")).over(w))
      .withColumn("q", sum(col("cv").cast(dec) * col("cv")).over(w))
    val num = (col("cv").cast(dec) * col("n") - col("s")) * lit(2)
    val denom = col("n").cast(dec) * col("q") - col("s").cast(dec) * col("s")
    c.where(col("n") >= 8 &&
        num * num * (col("n") - 1) > denom * col("n") * lit(25))
      .select(col("user_id"), col("event_id"), col("value"))
  }

  // `**` would coerce to DOUBLE in the oracle engine — keep every term an
  // explicit HUGEINT product so the comparison stays integer-exact.
  private val rollingAnomalySql =
    """SELECT user_id, event_id, value FROM (
      |  SELECT user_id, event_id, value, n,
      |    2 * (CAST(cv AS HUGEINT) * n - s) AS e,
      |    CAST(n AS HUGEINT) * q - CAST(s AS HUGEINT) * s AS d
      |  FROM (
      |    SELECT user_id, event_id, value, cv,
      |      count(*) OVER w AS n, sum(cv) OVER w AS s,
      |      sum(CAST(cv AS HUGEINT) * cv) OVER w AS q
      |    FROM (SELECT user_id, event_id, ts, value,
      |            round(value * 100)::BIGINT AS cv FROM events)
      |    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |                 ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
      |  WHERE n >= 8)
      |WHERE e * e * (n - 1) > d * n * 25""".stripMargin

  /** Per-user integer EWMA (α = 1/4) over the first 16 events — an
    * order-dependent RECURRENCE, the one aggregation shape neither a
    * commutative aggregate nor a frame window expresses. Spark-first
    * answer: bound the sequence FIRST (row_number ≤ 16, same
    * state-bounding as [[userHistory]]), then fold the per-user ordered
    * array with the `aggregate` higher-order function — all codegen, no
    * typed shuffle, per-group state capped at 16 structs. The fold runs in
    * integer cents with truncating `div`, so every step is bit-identical
    * to the oracle's recursive CTE replay (floats would drift under
    * reassociation; `div` on nonnegative cents can't). The streaming twin
    * is [[graft.streaming.StreamingOps]]' keyed-state EWMA.
    */
  def ewmaUser(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"),
        round(col("value") * 100).cast("long").as("cv"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= 16)
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        expr("""aggregate(
                  array_sort(collect_list(struct(ts, event_id, cv))),
                  CAST(-1 AS BIGINT),
                  (acc, x) -> IF(acc < 0, x.cv, (acc * 3 + x.cv) div 4))""")
          .as("ewma_cents"))
  }

  private val ewmaUserSql =
    """WITH RECURSIVE e AS (
      |  SELECT user_id, event_id, ts, round(value * 100)::BIGINT AS cv,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rk
      |  FROM events
      |  QUALIFY rk <= 16
      |), r AS (
      |  SELECT user_id, rk, cv AS ewma FROM e WHERE rk = 1
      |  UNION ALL
      |  SELECT e.user_id, e.rk, (r.ewma * 3 + e.cv) // 4
      |  FROM r JOIN e ON e.user_id = r.user_id AND e.rk = r.rk + 1
      |)
      |SELECT user_id, count(*) AS n_events,
      |  arg_max(ewma, rk) AS ewma_cents
      |FROM r GROUP BY user_id""".stripMargin

  // ---- OHLC time-series downsampling --------------------------------------
  /** Per-(user, hour) OHLC bars — the resample/downsample operator every
    * event pipeline needs before charting or feature extraction: open/close
    * are the FIRST/LAST value in the bar by (ts, event_id), high/low the
    * extremes. Values quantize to cents (the zscore convention) so the bar
    * fields are exact integers.
    *
    * Scale shape: ONE hash aggregate with map-side partial agg — open and
    * close ride as `min/max(struct(ts, event_id, cv))` (structs compare
    * lexicographically, so the extremal struct IS the first/last event and
    * partial aggregation composes), never a sort or a window over the raw
    * stream. At 100 TB this is the only shape that works: per-bar
    * first/last via row_number would shuffle and rank every event; the
    * struct-extremum form reduces each partition to one candidate per bar
    * before the exchange. Unique event_id makes the tie-break total, so
    * the bars are bit-identical across engines.
    */
  def ohlcBars(spark: SparkSession, dir: String): DataFrame = {
    val hourUs = 3600L * 1000 * 1000
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"),
        round(col("value") * 100).cast("long").as("cv"))
      .withColumn("hour_bucket", expr(s"(ts div 1000) div ${hourUs}L"))
      .groupBy(col("user_id"), col("hour_bucket"))
      .agg(
        count(lit(1)).as("n_events"),
        min(struct(col("ts"), col("event_id"), col("cv")))
          .getField("cv").as("open_cents"),
        max(struct(col("ts"), col("event_id"), col("cv")))
          .getField("cv").as("close_cents"),
        max(col("cv")).as("high_cents"),
        min(col("cv")).as("low_cents"))
  }

  private val ohlcBarsSql =
    """SELECT user_id, epoch_us(ts) // 3600000000 AS hour_bucket,
      |  count(*) AS n_events,
      |  first(round(value * 100)::BIGINT ORDER BY ts, event_id) AS open_cents,
      |  last(round(value * 100)::BIGINT ORDER BY ts, event_id) AS close_cents,
      |  max(round(value * 100)::BIGINT) AS high_cents,
      |  min(round(value * 100)::BIGINT) AS low_cents
      |FROM events GROUP BY 1, 2""".stripMargin

  // ---- interval-overlap concurrency sweep ---------------------------------
  /** Peak concurrency per day — the interval-stabbing operator (max
    * simultaneous sessions, licenses, connections): each event opens a
    * 5-minute session [ts, ts+300 s); the sweep explodes every session
    * into a +1 open and a −1 close boundary, runs a per-day ordered prefix
    * sum over the boundaries, and takes the day's max. Boundary ties
    * process opens BEFORE closes (delta DESC) so a session starting
    * exactly as another ends counts as concurrent; event_id makes the
    * order total, so the peak is bit-identical across engines.
    *
    * Scale shape: the prefix sum is a window partitioned by day — the
    * sweep never globally orders the corpus, and within a partition it is
    * one sort. Days far beyond a partition's memory would switch to the
    * [[graft.catalog.TextAnalysis.docOffsets]] two-pass range-partitioned
    * prefix sum; the day-partitioned window is the declarative form of the
    * same computation. Sessions here never cross the day boundary used for
    * partitioning (5 min ≪ 1 day; crossing sessions would need a
    * clip-or-duplicate pass first).
    */
  def concurrencyPeak(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dayUs = 86400L * 1000 * 1000
    val sessUs = 300L * 1000 * 1000
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), expr("ts div 1000").as("us"))
    val bounds = ev.select(col("event_id"), col("us").as("t"), lit(1L).as("delta"))
      .unionByName(ev.select(col("event_id"),
        (col("us") + sessUs).as("t"), lit(-1L).as("delta")))
      .withColumn("day_bucket", expr(s"t div ${dayUs}L"))
    val w = Window.partitionBy(col("day_bucket"))
      .orderBy(col("t"), col("delta").desc, col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bounds.withColumn("load", sum(col("delta")).over(w))
      .groupBy(col("day_bucket"))
      .agg(max(col("load")).as("peak"),
        expr("count(1) div 2").as("n_bounds"))
  }

  private val concurrencyPeakSql =
    """WITH b AS (
      |  SELECT event_id, epoch_us(ts) AS t, 1 AS delta FROM events
      |  UNION ALL
      |  SELECT event_id, epoch_us(ts) + 300000000 AS t, -1 AS delta FROM events
      |), s AS (
      |  SELECT t // 86400000000 AS day_bucket,
      |    sum(delta) OVER (PARTITION BY t // 86400000000
      |      ORDER BY t, delta DESC, event_id
      |      ROWS UNBOUNDED PRECEDING) AS load
      |  FROM b
      |)
      |SELECT day_bucket, CAST(max(load) AS BIGINT) AS peak,
      |  (count(*) // 2)::BIGINT AS n_bounds
      |FROM s GROUP BY day_bucket""".stripMargin

  // ---- seasonal-baseline forecast evaluation ------------------------------
  /** Day-of-week seasonal forecast with holdout evaluation — the batch
    * forecasting shape every metrics pipeline runs: train the per-(type,
    * day-of-week) mean on the first 3 weeks, predict each later day as its
    * weekday's training mean, and score per type with mean absolute error.
    * All math is integer cents with floor-div means, so train means,
    * predictions and MAE are bit-identical across engines (a float mean
    * would wobble in its last ulp under reordered summation — the
    * graph_assortativity lesson).
    *
    * Scale shape: the model is a ≤ |types|·7-row aggregate — broadcast
    * back to the holdout slice (model tables small enough to broadcast are
    * the rule for seasonal baselines); two hash aggregates and one
    * broadcast join, no window, no per-day sort.
    */
  def seasonalForecast(spark: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400L * 1000 * 1000
    val TrainDays = 21L
    val ev = Tables.events(spark, dir)
      .select(col("event_type"),
        expr(s"(ts div 1000) div ${dayUs}L").as("day"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cv"))
      .withColumn("dow", col("day") % 7)
    val t0 = ev.agg(min(col("day")).as("d0"))
    val tagged = ev.crossJoin(broadcast(t0))
    val model = tagged.where(col("day") < col("d0") + TrainDays)
      .groupBy(col("event_type"), col("dow"))
      .agg(expr("sum(cv) div count(1)").as("pred_cents"))
    tagged.where(col("day") >= col("d0") + TrainDays)
      .join(broadcast(model), Seq("event_type", "dow"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_holdout"),
        expr("sum(abs(cv - pred_cents)) div count(1)").as("mae_cents"))
  }

  private val seasonalForecastSql =
    """WITH ev AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
      |    round(value * 100)::BIGINT AS cv,
      |    (epoch_us(ts) // 86400000000) % 7 AS dow
      |  FROM events
      |), t0 AS (SELECT min(day) AS d0 FROM ev),
      |model AS (
      |  SELECT event_type, dow,
      |    CAST(sum(cv) // count(*) AS BIGINT) AS pred_cents
      |  FROM ev CROSS JOIN t0 WHERE day < d0 + 21
      |  GROUP BY 1, 2
      |)
      |SELECT e.event_type, count(*) AS n_holdout,
      |  CAST(sum(abs(e.cv - m.pred_cents)) // count(*) AS BIGINT) AS mae_cents
      |FROM ev e CROSS JOIN t0
      |JOIN model m ON m.event_type = e.event_type AND m.dow = e.dow
      |WHERE e.day >= t0.d0 + 21
      |GROUP BY 1""".stripMargin

  // ---- per-user OLS spend trend -------------------------------------------
  /** Per-user least-squares trend of spend over time, in EXACT integer
    * cross-multiplied form: x = event day, y = cents, and the OLS slope
    * num/den pair (n·Σxy − Σx·Σy, n·Σxx − Σx²) is emitted as exact BIGINTs
    * with the milli-slope as one integer division — no float moment
    * accumulation, so the cross-engine compare is exact (a native
    * regr_slope sums doubles whose 12th digit is partition-order-dependent
    * — the same flake class [[graphAssortativity]]'s integer rework fixed;
    * here there are 150 chances per round to hit it, one per user).
    * Shape: one partial-aggregated groupBy over the raw stream — moments
    * are a commutative monoid, so map-side combine collapses each
    * partition to one row per user before the shuffle. Headroom: day ~2e4,
    * cents ≤ 5e4, so n·Σxy stays under 2^63 to ~10^9 events per user.
    * Spark `div` and DuckDB `//` both truncate toward zero, so the signed
    * milli-slope divides identically (verified: -7 div 2 = -7 // 2 = -3).
    */
  def linregTrend(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("user_id"),
        expr("(ts div 1000) div 86400000000").as("x"),
        expr("CAST(round(value * 100) AS BIGINT)").as("y"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"))
      .where(col("n") >= 20)
      .select(col("user_id"), col("n"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("slope_num"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("slope_den"))
      .withColumn("trend_milli",
        when(col("slope_den") === 0, 0L)
          .otherwise(expr("(1000 * slope_num) div slope_den")))

  private val linregTrendSql =
    """WITH m AS (
      |  SELECT user_id, count(*) AS n,
      |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |    CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(x * y) AS BIGINT) AS sxy
      |  FROM (SELECT user_id, epoch_us(ts) // 86400000000 AS x,
      |               CAST(round(value * 100) AS BIGINT) AS y FROM events)
      |  GROUP BY user_id HAVING count(*) >= 20
      |)
      |SELECT user_id, n,
      |  CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
      |  CAST(n * sxx - sx * sx AS BIGINT) AS slope_den,
      |  CAST(CASE WHEN n * sxx - sx * sx = 0 THEN 0
      |            ELSE (1000 * (n * sxy - sx * sy)) // (n * sxx - sx * sx)
      |       END AS BIGINT) AS trend_milli
      |FROM m""".stripMargin

  // ---- multivariate OLS (closed-form normal equations) --------------------
  /** Day offset that centers x1: keeps the normal-matrix entries small
    * enough that the oracle's int128 Cramer determinants stay exact
    * (uncentered, (n·day²)³ blows past int128 almost immediately).
    */
  private val OlsDayCenter = 19700L

  /** Two-regressor least squares (spend ~ day + hour-of-day) solved in
    * closed form from the normal equations — the multivariate upgrade of
    * [[linregTrend]]. The distributed pass is ONE aggregate producing the
    * nine exact integer moment sums (a commutative monoid, map-side
    * combined, 9 longs to the driver no matter the corpus size); the 3×3
    * Cramer solve runs driver-side in BigInt, so every determinant is
    * exact and the oracle — the same determinant expansions in DuckDB's
    * int128 — reproduces each milli-coefficient bit-for-bit. Truncating
    * division matches across BigInt `/` and DuckDB `//`. Driver-side
    * arithmetic is unbounded; the ORACLE's int128 bounds the attestable
    * scale at roughly 10^12 centered-day rows — far past the test corpus.
    */
  def olsMulti(spark: SparkSession, dir: String): DataFrame = {
    val m = Tables.events(spark, dir)
      .select(
        expr(s"(ts div 1000) div 86400000000 - $OlsDayCenter").as("x1"),
        expr("((ts div 1000) div 3600000000) % 24").as("x2"),
        expr("CAST(round(value * 100) AS BIGINT)").as("y"))
      .agg(count(lit(1)).as("n"), sum(col("x1")).as("s1"),
        sum(col("x2")).as("s2"), sum(col("x1") * col("x1")).as("s11"),
        sum(col("x1") * col("x2")).as("s12"),
        sum(col("x2") * col("x2")).as("s22"), sum(col("y")).as("sy"),
        sum(col("x1") * col("y")).as("s1y"),
        sum(col("x2") * col("y")).as("s2y"))
      .head()
    val Seq(n, s1, s2, s11, s12, s22, sy, s1y, s2y) =
      (0 until 9).map(i => BigInt(m.getLong(i)))
    // row-major normal matrix and rhs; det along the first row
    val a = Array(n, s1, s2, s1, s11, s12, s2, s12, s22)
    val b = Array(sy, s1y, s2y)
    def det3(v: Array[BigInt]): BigInt =
      v(0) * (v(4) * v(8) - v(5) * v(7)) -
        v(1) * (v(3) * v(8) - v(5) * v(6)) +
        v(2) * (v(3) * v(7) - v(4) * v(6))
    val det = det3(a)
    def coefMilli(k: Int): Long = {
      val ak = a.indices.map(i => if (i % 3 == k) b(i / 3) else a(i)).toArray
      ((BigInt(1000) * det3(ak)) / det).toLong
    }
    import spark.implicits._
    Seq((m.getLong(0), coefMilli(0), coefMilli(1), coefMilli(2)))
      .toDF("n", "b0_milli", "b1_milli", "b2_milli")
  }

  private val olsMultiSql =
    s"""WITH r AS (
       |  SELECT epoch_us(ts) // 86400000000 - $OlsDayCenter AS x1,
       |         (epoch_us(ts) // 3600000000) % 24 AS x2,
       |         CAST(round(value * 100) AS BIGINT) AS y
       |  FROM events
       |), s AS (
       |  SELECT count(*)::HUGEINT AS n, sum(x1)::HUGEINT AS s1,
       |    sum(x2)::HUGEINT AS s2, sum(x1 * x1)::HUGEINT AS s11,
       |    sum(x1 * x2)::HUGEINT AS s12, sum(x2 * x2)::HUGEINT AS s22,
       |    sum(y)::HUGEINT AS sy, sum(x1 * y)::HUGEINT AS s1y,
       |    sum(x2 * y)::HUGEINT AS s2y
       |  FROM r
       |), d AS (
       |  SELECT n,
       |    n  * (s11 * s22 - s12 * s12) - s1 * (s1  * s22 - s12 * s2)
       |       + s2 * (s1  * s12 - s11 * s2) AS det,
       |    sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y)
       |       + s2 * (s1y * s12 - s11 * s2y) AS det0,
       |    n  * (s1y * s22 - s12 * s2y) - sy * (s1  * s22 - s12 * s2)
       |       + s2 * (s1  * s2y - s1y * s2) AS det1,
       |    n  * (s11 * s2y - s1y * s12) - s1 * (s1  * s2y - s1y * s2)
       |       + sy * (s1  * s12 - s11 * s2) AS det2
       |  FROM s
       |)
       |SELECT CAST(n AS BIGINT) AS n,
       |  CAST((1000 * det0) // det AS BIGINT) AS b0_milli,
       |  CAST((1000 * det1) // det AS BIGINT) AS b1_milli,
       |  CAST((1000 * det2) // det AS BIGINT) AS b2_milli
       |FROM d""".stripMargin

  // ---- one-way ANOVA group-difference readout ------------------------------
  /** One-way ANOVA over spend-by-event-type: F statistic and
    * variance-explained (η²) from the per-group moment sums alone — the
    * "is this segmentation real?" test run before anyone acts on a group
    * difference. Distributed work is one 5-row moment aggregate (n, Σy,
    * Σy² per group — map-side combined); the statistic assembles driver-
    * side in BigInt from 15 scalars. Quantization contract: group means
    * are truncated to MILLI-cents first and the sums of squares defined
    * against those quantized means, so every intermediate is an exact
    * integer and the oracle (same formulas in int128) matches bit-for-bit
    * — a float ANOVA's Σy² accumulation order would flake the compare.
    * Output units: SSB/SSW in cents² (milli² scaled down by 10^6).
    */
  def anovaGroups(spark: SparkSession, dir: String): DataFrame = {
    val g = Tables.events(spark, dir)
      .select(col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("y"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("s"),
        sum(col("y") * col("y")).as("ss"))
      .collect()
    val k = BigInt(g.length)
    val nT = BigInt(g.map(_.getLong(1)).sum)
    val sT = BigInt(g.map(_.getLong(2)).sum)
    val mq = (BigInt(1000) * sT) / nT
    var ssb = BigInt(0); var ssw = BigInt(0)
    g.foreach { r =>
      val (n, s, ss) = (BigInt(r.getLong(1)), BigInt(r.getLong(2)), BigInt(r.getLong(3)))
      val mqg = (BigInt(1000) * s) / n
      ssb += n * (mqg - mq) * (mqg - mq)
      // Σ_rows (1000·y − mq_g)² from the moments, all integer
      ssw += BigInt(1000000) * ss - BigInt(2000) * s * mqg + n * mqg * mqg
    }
    val fMilli = ((BigInt(1000) * ssb * (nT - k)) / (ssw * (k - 1))).toLong
    val etaBp = ((BigInt(10000) * ssb) / (ssb + ssw)).toLong
    import spark.implicits._
    Seq((nT.toLong, k.toLong, (ssb / 1000000).toLong, (ssw / 1000000).toLong,
      fMilli, etaBp))
      .toDF("n", "k", "ssb_c2", "ssw_c2", "f_milli", "eta_bp")
  }

  private val anovaGroupsSql =
    """WITH g AS (
      |  SELECT event_type, count(*)::HUGEINT AS n,
      |    sum(CAST(round(value * 100) AS BIGINT))::HUGEINT AS s,
      |    sum(CAST(round(value * 100) AS BIGINT)
      |        * CAST(round(value * 100) AS BIGINT))::HUGEINT AS ss
      |  FROM events GROUP BY event_type
      |), t AS (
      |  SELECT count(*)::HUGEINT AS k, sum(n) AS nt, sum(s) AS st FROM g
      |), q AS (
      |  SELECT g.n, g.s, g.ss, (1000 * g.s) // g.n AS mqg,
      |    (1000 * t.st) // t.nt AS mq
      |  FROM g, t
      |), a AS (
      |  SELECT sum(n * (mqg - mq) * (mqg - mq)) AS ssb,
      |    sum(1000000 * ss - 2000 * s * mqg + n * mqg * mqg) AS ssw
      |  FROM q
      |)
      |SELECT CAST(t.nt AS BIGINT) AS n, CAST(t.k AS BIGINT) AS k,
      |  CAST(a.ssb // 1000000 AS BIGINT) AS ssb_c2,
      |  CAST(a.ssw // 1000000 AS BIGINT) AS ssw_c2,
      |  CAST((1000 * a.ssb * (t.nt - t.k)) // (a.ssw * (t.k - 1)) AS BIGINT)
      |    AS f_milli,
      |  CAST((10000 * a.ssb) // (a.ssb + a.ssw) AS BIGINT) AS eta_bp
      |FROM a, t""".stripMargin

  // ---- deterministic A/B experiment readout -------------------------------
  private val AbSeed = 20260814

  /** Hash-bucketed experiment analysis: users deterministically assigned to
    * two arms by seeded portable hash (the same device as split_assign's
    * train/val/test split — assignment is a pure function of the id, so
    * every engine, every rerun, and every downstream join agrees without a
    * stored assignment table), then the per-arm purchase metrics read out
    * in exact integer cents. The readout is one filtered aggregate;
    * user-level distinct is the only expensive term and is exact here
    * (bounded arms would use [[Algorithms.hllDistinct]] at extreme scale).
    */
  def abTest(spark: SparkSession, dir: String): DataFrame = {
    val bucket = graft.functions.PortableHash
      .h48(col("user_id").cast("string"), AbSeed) % 2
    Tables.events(spark, dir)
      .where(col("event_type") === "purchase")
      .select(bucket.as("arm"), col("user_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .groupBy(col("arm"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_purchases"),
        sum(col("cents")).as("revenue_cents"))
      .withColumn("cents_per_user", expr("revenue_cents div n_users"))
      .withColumn("avg_ticket_cents", expr("revenue_cents div n_purchases"))
  }

  private val abTestSql = {
    val h = graft.functions.PortableHash.h48Sql("user_id::VARCHAR", AbSeed)
    s"""SELECT $h % 2 AS arm,
       |  count(DISTINCT user_id) AS n_users, count(*) AS n_purchases,
       |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
       |  CAST(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
       |       // count(DISTINCT user_id) AS BIGINT) AS cents_per_user,
       |  CAST(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
       |       // count(*) AS BIGINT) AS avg_ticket_cents
       |FROM events WHERE event_type = 'purchase'
       |GROUP BY 1""".stripMargin
  }

  /** Hash seed shared by the experiment readouts (prop_ztest,
    * uplift_by_segment) — declared BEFORE the SQL vals that interpolate
    * it: Scala object vals initialize in declaration order, and an
    * oracle string built from a not-yet-initialized Int would silently
    * bake in 0 (bitten once: round-10 prop_ztest).
    */
  private val UpliftSeed = 47

  // ---- new-vs-returning daily actives ------------------------------------------

  /** Growth accounting of daily actives: per day, how many active users
    * are NEW (first-ever appearance) vs RETURNING — the decomposition
    * behind every "is usage growing or churning-and-refilling" readout.
    * One per-user min-day aggregate (the cohort_retention first-touch
    * shape), one (user, day)-distinct frame, one join on the user key,
    * ≤|days| output rows. The new/returning split is exact set algebra —
    * no window over the full log.
    */
  def novelUserRate(spark: SparkSession, dir: String): DataFrame = {
    val ud = Tables.events(spark, dir)
      .select(col("user_id"), expr("ts div 86400000000000").as("day"))
      .distinct()
    val first = ud.groupBy(col("user_id")).agg(min(col("day")).as("d0"))
    ud.join(first, "user_id")
      .groupBy(col("day"))
      .agg(count(lit(1)).as("actives"),
        sum((col("day") === col("d0")).cast("long")).as("new_users"))
      .withColumn("returning", col("actives") - col("new_users"))
      .withColumn("new_pm", expr("(1000 * new_users) div actives"))
  }

  private val novelUserRateSql =
    """WITH ud AS (
      |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
      |  FROM events
      |), f AS (SELECT user_id, min(day) AS d0 FROM ud GROUP BY user_id)
      |SELECT day, count(*) AS actives,
      |  CAST(sum(CASE WHEN day = d0 THEN 1 ELSE 0 END) AS BIGINT) AS new_users,
      |  count(*) - CAST(sum(CASE WHEN day = d0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS returning,
      |  (1000 * CAST(sum(CASE WHEN day = d0 THEN 1 ELSE 0 END) AS BIGINT))
      |    // count(*) AS new_pm
      |FROM ud JOIN f USING (user_id)
      |GROUP BY day""".stripMargin

  // ---- inter-event-time distribution ---------------------------------------------

  /** Inter-arrival-time histogram of the per-user event stream: the gap
    * between consecutive events per user, bucketed by power-of-two hours —
    * the arrival-process profile that separates session-bursty usage from
    * Poisson-like drip (burstiness gives the daily-count dispersion; this
    * is its per-user micro-structure, and the distribution a load model or
    * session-gap choice reads). Per-user lag window (reducer keys = users,
    * per-user work bounded by that user's events), floor-log₂ bucketing
    * via the `length(bin(x))` device, one ≤~40-row rollup.
    */
  def interEventTimeDist(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .where(col("prev_ts").isNotNull)
      .select(expr("(ts - prev_ts) div 3600000000000").as("gap_h"))
      // bucket = floor(log2(gap_h+1)): 0h, 1h, 2-3h, 4-7h, …
      .select(expr("length(bin(gap_h + 1)) - 1").as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_gaps"))
  }

  private val interEventTimeDistSql =
    """WITH g AS (
      |  SELECT (epoch_ns(ts) - lag(epoch_ns(ts), 1) OVER (
      |      PARTITION BY user_id ORDER BY ts, event_id))
      |    // 3600000000000 AS gap_h
      |  FROM events
      |)
      |SELECT len(bin(gap_h + 1)) - 1 AS bucket, count(*) AS n_gaps
      |FROM g WHERE gap_h IS NOT NULL
      |GROUP BY bucket""".stripMargin

  // ---- Hill tail-index estimator ---------------------------------------------

  private val HillK = 200

  /** Hill estimator of the event-value distribution's tail index over the
    * top-[[HillK]] order statistics: α̂⁻¹ = (1/k)·Σ ln(x₍ᵢ₎/x₍ₖ₊₁₎) — the
    * standard heavy-tail gauge (α < 2 ⇒ infinite variance: sampling,
    * capping and mean-based SLOs all behave differently) next to
    * zipf_fit's token-frequency slope. The order statistics come from a
    * distributed TakeOrdered (per-partition top-(k+1), merged — never a
    * full sort); ties collapse to equal VALUES so the estimate is
    * tie-order-free; per-row ln micro-rounds before the exact integer
    * mean (truncating div).
    */
  def hillTail(spark: SparkSession, dir: String): DataFrame = {
    val top = Tables.events(spark, dir)
      .select(expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .orderBy(col("cents").desc).limit(HillK + 1)
    val ref = top.orderBy(col("cents")).limit(1)
      .select(col("cents").as("x_ref"))
    top.crossJoin(broadcast(ref))
      .where(col("cents") > col("x_ref"))
      .agg(count(lit(1)).as("k"), max(col("x_ref")).as("x_ref_cents"),
        sum(expr("CAST(round(1000000e0 * ln(cents * 1e0 / x_ref)) AS BIGINT)"))
          .as("ln_sum_u"))
      .withColumn("hill_inv_u", expr("ln_sum_u div k"))
      .withColumn("alpha_milli", expr("(1000 * 1000000) div hill_inv_u"))
  }

  private val hillTailSql =
    s"""WITH top AS (
       |  SELECT CAST(round(value * 100) AS BIGINT) AS cents FROM events
       |  ORDER BY cents DESC LIMIT ${HillK + 1}
       |), ref AS (SELECT min(cents) AS x_ref FROM top)
       |SELECT count(*) AS k, CAST(max(x_ref) AS BIGINT) AS x_ref_cents,
       |  CAST(sum(CAST(round(1000000e0 * ln(cents * 1e0 / x_ref)) AS BIGINT))
       |    AS BIGINT) AS ln_sum_u,
       |  CAST(sum(CAST(round(1000000e0 * ln(cents * 1e0 / x_ref)) AS BIGINT))
       |    AS BIGINT) // count(*) AS hill_inv_u,
       |  (1000 * 1000000) // (CAST(sum(CAST(round(1000000e0 *
       |    ln(cents * 1e0 / x_ref)) AS BIGINT)) AS BIGINT) // count(*))
       |    AS alpha_milli
       |FROM top CROSS JOIN ref
       |WHERE cents > x_ref""".stripMargin

  // ---- weekly seasonality strength ------------------------------------------

  /** Seasonality strength of daily revenue: the share of daily variance
    * explained by the day-of-week profile (between-group sum of squares
    * over total, in micro) — the one number that says whether
    * [[seasonalForecast]]'s weekly model family is even applicable, next
    * to [[EvalMetrics.maseEval]]'s forecast-skill readout. All moments
    * are EXACT (counts, cent sums, decimal(38,0) squares — the
    * burstiness headroom convention); the per-dow s²/n terms use
    * truncating division, identically on both engines, and the frames
    * after the daily rollup are calendar-bounded (≤|days| rows, 7 dow
    * groups).
    */
  def seasonalityStrength(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .select(expr("ts div 86400000000000").as("day"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .groupBy(col("day")).agg(sum(col("cents")).as("y"))
      .withColumn("dow", pmod(col("day"), lit(7)))
    val byDow = daily.groupBy(col("dow"))
      .agg(count(lit(1)).as("n_w"),
        sum(col("y").cast("decimal(38,0)")).as("s_w"))
      .agg(sum(expr("CAST((s_w * s_w) div n_w AS DECIMAL(38,0))")).as("ssb_raw"))
    val tot = daily.agg(count(lit(1)).as("n"),
      sum(col("y").cast("decimal(38,0)")).as("s"),
      sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("q"))
    // decimals stay INTERNAL (the burstiness convention): the readout is
    // the count and the micro strength, both bigint at any scale
    byDow.crossJoin(broadcast(tot))
      .select(col("n").as("n_days"),
        expr("CAST((1000000 * (ssb_raw - (s * s) div n))" +
          " div (q - (s * s) div n) AS BIGINT)").as("strength_u"))
  }

  private val seasonalityStrengthSql =
    """WITH daily AS (
      |  SELECT epoch_us(ts) // 86400000000 AS day,
      |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
      |  FROM events GROUP BY 1
      |), d AS (SELECT day, y, day % 7 AS dow FROM daily),
      |w AS (
      |  SELECT CAST(sum((s_w * s_w) // n_w) AS HUGEINT) AS ssb_raw FROM (
      |    SELECT dow, count(*) AS n_w, CAST(sum(y) AS HUGEINT) AS s_w
      |    FROM d GROUP BY dow)
      |), t AS (
      |  SELECT count(*) AS n, CAST(sum(y) AS HUGEINT) AS s,
      |    CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS q
      |  FROM d
      |)
      |SELECT CAST(n AS BIGINT) AS n_days,
      |  CAST((1000000 * (ssb_raw - (s * s) // n))
      |    // (q - (s * s) // n) AS BIGINT) AS strength_u
      |FROM w CROSS JOIN t""".stripMargin

  // ---- two-proportion z-test ---------------------------------------------------

  /** Two-proportion z-test on the hash-randomized experiment's
    * user-conversion rates — the significance readout [[abTest]] stops
    * short of (counts without a test invite peeking). Pooled-variance z
    * from EXACT per-arm user/converter counts; the one float expression
    * (z itself) runs on a 1-row frame in e0 doubles under milli rounding.
    * One per-user rollup + one 2-cell aggregate — nothing here grows with
    * anything but the user count.
    */
  def propZtest(spark: SparkSession, dir: String): DataFrame = {
    val arm = graft.functions.PortableHash
      .h48(col("user_id").cast("string"), UpliftSeed) % 2
    Tables.events(spark, dir)
      .groupBy(col("user_id"))
      // the woe_iv label convention: "heavy purchaser" = ≥ 14 purchases
      // (every synthetic user purchases at least once, so the ≥1 outcome
      // would be degenerate at p̄ = 1)
      .agg((sum((col("event_type") === "purchase").cast("long")) >= 14)
        .cast("long").as("conv"))
      .select(arm.as("arm"), col("conv"))
      .agg(sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_t"),
        sum(when(col("arm") === 1, col("conv")).otherwise(0L)).as("conv_t"),
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_c"),
        sum(when(col("arm") === 0, col("conv")).otherwise(0L)).as("conv_c"))
      .withColumn("z_milli", expr(
        // degenerate pool (p̄ ∈ {0,1}) has zero variance: report z = 0
        "CASE WHEN conv_t + conv_c = 0 OR conv_t + conv_c = n_t + n_c" +
          " THEN CAST(0 AS BIGINT) ELSE " +
          "CAST(round(1000e0 * ((conv_t * 1e0 / n_t) - (conv_c * 1e0 / n_c))" +
          " / sqrt(((conv_t + conv_c) * 1e0 / (n_t + n_c))" +
          " * (1e0 - (conv_t + conv_c) * 1e0 / (n_t + n_c))" +
          " * (1e0 / n_t + 1e0 / n_c))) AS BIGINT) END"))
  }

  private val propZtestSql = {
    val h = graft.functions.PortableHash.h48Sql("user_id::VARCHAR", UpliftSeed)
    s"""WITH pu AS (
       |  SELECT user_id, $h % 2 AS arm,
       |    CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
       |         >= 14 THEN 1 ELSE 0 END AS conv
       |  FROM events GROUP BY user_id
       |), g AS (
       |  SELECT
       |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
       |    CAST(sum(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT) AS conv_t,
       |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
       |    CAST(sum(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT) AS conv_c
       |  FROM pu
       |)
       |SELECT n_t, conv_t, n_c, conv_c,
       |  CASE WHEN conv_t + conv_c = 0 OR conv_t + conv_c = n_t + n_c
       |       THEN CAST(0 AS BIGINT) ELSE
       |  CAST(round(1000e0 * ((conv_t * 1e0 / n_t) - (conv_c * 1e0 / n_c))
       |    / sqrt(((conv_t + conv_c) * 1e0 / (n_t + n_c))
       |    * (1e0 - (conv_t + conv_c) * 1e0 / (n_t + n_c))
       |    * (1e0 / n_t + 1e0 / n_c))) AS BIGINT) END AS z_milli
       |FROM g""".stripMargin
  }

  // ---- sequential probability ratio test monitor --------------------------------

  /** SPRT (Wald) monitoring curve over the daily purchase-conversion
    * stream: cumulative log-likelihood ratio of H₁ (p = 12 %) against H₀
    * (p = 10 %), with the symmetric α = β = 5 % decision bands ±ln 19 —
    * the readout an always-on experiment monitor publishes so a test can
    * STOP the day the evidence suffices instead of waiting out a fixed
    * horizon. Per day: exact event/conversion counts; the cumulative LLR
    * is count₁·ln(p₁/p₀) + count₀·ln(q₁/q₀) — two constant lns scaled by
    * EXACT integer prefix sums over the calendar-bounded day frame, so
    * the window is ≤|days| rows however large the corpus.
    */
  def sprtMonitor(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .select(expr("ts div 86400000000000").as("day"),
        (col("event_type") === "purchase").cast("long").as("c"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("conv"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("day"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    daily
      .withColumn("cum_conv", sum(col("conv")).over(w))
      .withColumn("cum_miss", sum(col("n") - col("conv")).over(w))
      .withColumn("llr_micro", expr(
        "CAST(round(1000000e0 * (cum_conv * ln(0.12e0 / 0.10e0)" +
          " + cum_miss * ln(0.88e0 / 0.90e0))) AS BIGINT)"))
      .withColumn("decision", expr(
        "CASE WHEN llr_micro >= CAST(round(1000000e0 * ln(19e0)) AS BIGINT)" +
          " THEN 'reject_h0'" +
          " WHEN llr_micro <= -CAST(round(1000000e0 * ln(19e0)) AS BIGINT)" +
          " THEN 'accept_h0' ELSE 'continue' END"))
      .select(col("day"), col("n"), col("conv"), col("llr_micro"),
        col("decision"))
  }

  private val sprtMonitorSql =
    """WITH daily AS (
      |  SELECT epoch_us(ts) // 86400000000 AS day, count(*) AS n,
      |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS conv
      |  FROM events GROUP BY 1
      |), c AS (
      |  SELECT day, n, conv,
      |    sum(conv) OVER (ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_conv,
      |    sum(n - conv) OVER (ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_miss
      |  FROM daily
      |), l AS (
      |  SELECT day, n, conv,
      |    CAST(round(1000000e0 * (cum_conv * ln(0.12e0 / 0.10e0)
      |      + cum_miss * ln(0.88e0 / 0.90e0))) AS BIGINT) AS llr_micro
      |  FROM c
      |)
      |SELECT day, n, conv, llr_micro,
      |  CASE WHEN llr_micro >= CAST(round(1000000e0 * ln(19e0)) AS BIGINT)
      |       THEN 'reject_h0'
      |       WHEN llr_micro <= -CAST(round(1000000e0 * ln(19e0)) AS BIGINT)
      |       THEN 'accept_h0' ELSE 'continue' END AS decision
      |FROM l""".stripMargin

  // ---- uplift by segment -----------------------------------------------------

  /** Segment-level uplift readout for the hash-randomized experiment: per
    * user-activity band (light/medium/heavy by event count), the
    * treatment−control difference in purchase-conversion rate, in exact
    * basis points (each rate its own truncating 10⁴ cross-multiply — no
    * float subtraction). This is the heterogeneous-treatment-effect table
    * behind every "ship it for whom?" decision; a flat experiment readout
    * ([[abTest]]) averages away exactly what this surfaces. Bands are
    * RELATIVE to the corpus's own mean activity (light < 90 %, heavy >
    * 110 %, integer cross-multiplied against a broadcast 1-row total), so
    * the segmentation is scale-free. Shape: one per-user rollup (arm is a
    * pure hash of the id, the split_assign device), one ≤(3 bands ×
    * 2 arms) aggregate.
    */
  def upliftBySegment(spark: SparkSession, dir: String): DataFrame = {
    val arm = graft.functions.PortableHash
      .h48(col("user_id").cast("string"), UpliftSeed) % 2
    val perUser = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_ev"),
        // ≥14 purchases (the woe_iv heavy-purchaser label) — the ≥1
        // outcome is degenerate on this corpus (every user purchases)
        (sum((col("event_type") === "purchase").cast("long")) >= 14)
          .cast("long").as("converted"))
      .select(arm.as("arm"), col("n_ev"), col("converted"))
    val tot = perUser.agg(sum(col("n_ev")).as("total_ev"),
      count(lit(1)).as("n_users"))
    perUser.crossJoin(broadcast(tot))
      .withColumn("segment",
        when(expr("10 * n_ev * n_users < 9 * total_ev"), "light")
          .when(expr("10 * n_ev * n_users > 11 * total_ev"), "heavy")
          .otherwise("medium"))
      .groupBy(col("segment"))
      .agg(
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("users_t"),
        sum(when(col("arm") === 1, col("converted")).otherwise(0L)).as("conv_t"),
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("users_c"),
        sum(when(col("arm") === 0, col("converted")).otherwise(0L)).as("conv_c"))
      .withColumn("uplift_bp",
        // greatest(·,1): a tiny-SF segment can have an empty arm (conv is
        // then 0 too, so the guarded rate is correctly 0, not an error)
        expr("(10000 * conv_t) div greatest(users_t, 1)" +
          " - (10000 * conv_c) div greatest(users_c, 1)"))
  }

  private val upliftBySegmentSql = {
    val h = graft.functions.PortableHash.h48Sql("user_id::VARCHAR", UpliftSeed)
    s"""WITH pu AS (
       |  SELECT user_id, count(*) AS n_ev,
       |    CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
       |         >= 14 THEN 1 ELSE 0 END AS converted,
       |    $h % 2 AS arm
       |  FROM events GROUP BY user_id
       |), tot AS (
       |  SELECT CAST(sum(n_ev) AS BIGINT) AS total_ev, count(*) AS n_users
       |  FROM pu
       |), s AS (
       |  SELECT CASE WHEN 10 * n_ev * n_users < 9 * total_ev THEN 'light'
       |              WHEN 10 * n_ev * n_users > 11 * total_ev THEN 'heavy'
       |              ELSE 'medium' END AS segment,
       |    arm, converted
       |  FROM pu CROSS JOIN tot
       |), g AS (
       |  SELECT segment,
       |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS users_t,
       |    CAST(sum(CASE WHEN arm = 1 THEN converted ELSE 0 END) AS BIGINT)
       |      AS conv_t,
       |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS users_c,
       |    CAST(sum(CASE WHEN arm = 0 THEN converted ELSE 0 END) AS BIGINT)
       |      AS conv_c
       |  FROM s GROUP BY segment
       |)
       |SELECT segment, users_t, conv_t, users_c, conv_c,
       |  (10000 * conv_t) // greatest(users_t, 1)
       |    - (10000 * conv_c) // greatest(users_c, 1) AS uplift_bp
       |FROM g""".stripMargin
  }

  // ---- Theil–Sen robust trend ----------------------------------------------

  /** Theil–Sen estimator of the daily-revenue trend: the MEDIAN of all
    * pairwise slopes between daily totals — the robust twin of
    * [[linregTrend]] (one wild day moves OLS arbitrarily; it moves a
    * median of slopes not at all, breakdown point 29 %). Slopes are exact
    * integers (micro-cents/day, truncating div — Spark `div` and DuckDB
    * `//` both truncate toward zero, pinned by spec on a negative pair);
    * the median is the lower median at rank ⌈n/2⌉, deterministic.
    *
    * Scale shape: the corpus collapses to ONE row per day before anything
    * quadratic happens, so the pair frame is |days|²/2 — bounded by the
    * CALENDAR, not the data (a decade is ~6.7 M pairs); the single-
    * partition rank window runs on that calendar-bounded frame only.
    */
  def theilSen(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .select(expr("(ts div 1000) div 86400000000").as("day"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .groupBy(col("day")).agg(sum(col("cents")).as("y"))
    val a = daily.select(col("day").as("d1"), col("y").as("y1"))
    val b = daily.select(col("day").as("d2"), col("y").as("y2"))
    val pairs = a.join(b, col("d1") < col("d2"))
      .select(expr("(1000000 * (y2 - y1)) div (d2 - d1)").as("slope_u"))
    val ranked = pairs.withColumn("rk",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("slope_u"))).cast("long"))
    ranked.crossJoin(broadcast(pairs.agg(count(lit(1)).as("n_pairs"))))
      .where(col("rk") === expr("(n_pairs + 1) div 2"))
      .select(col("n_pairs"), col("slope_u").as("slope_u_med"))
  }

  private val theilSenSql =
    """WITH daily AS (
      |  SELECT epoch_us(ts) // 86400000000 AS day,
      |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
      |  FROM events GROUP BY 1
      |), pairs AS (
      |  SELECT (1000000 * (b.y - a.y)) // (b.day - a.day) AS slope_u
      |  FROM daily a JOIN daily b ON a.day < b.day
      |), r AS (
      |  SELECT slope_u, row_number() OVER (ORDER BY slope_u) AS rk,
      |    count(*) OVER () AS n_pairs
      |  FROM pairs
      |)
      |SELECT n_pairs, slope_u AS slope_u_med
      |FROM r WHERE rk = (n_pairs + 1) // 2""".stripMargin

  override def defs: Seq[QueryDef] = Seq(
    QueryDef("theil_sen", theilSen, Some(theilSenSql)),
    QueryDef("uplift_by_segment", upliftBySegment, Some(upliftBySegmentSql)),
    QueryDef("prop_ztest", propZtest, Some(propZtestSql)),
    QueryDef("sprt_monitor", sprtMonitor, Some(sprtMonitorSql)),
    QueryDef("hill_tail", hillTail, Some(hillTailSql)),
    QueryDef("seasonality_strength", seasonalityStrength,
      Some(seasonalityStrengthSql)),
    QueryDef("novel_user_rate", novelUserRate, Some(novelUserRateSql)),
    QueryDef("inter_event_time_dist", interEventTimeDist,
      Some(interEventTimeDistSql)),
    QueryDef("linreg_trend", linregTrend, Some(linregTrendSql)),
    QueryDef("ols_multi", olsMulti, Some(olsMultiSql)),
    QueryDef("anova_groups", anovaGroups, Some(anovaGroupsSql)),
    QueryDef("ab_test", abTest, Some(abTestSql)),
    QueryDef("q1_agg", q1Agg, Some(q1Sql)),
    QueryDef("ohlc_bars", ohlcBars, Some(ohlcBarsSql)),
    QueryDef("concurrency_peak", concurrencyPeak, Some(concurrencyPeakSql)),
    QueryDef("seasonal_forecast", seasonalForecast, Some(seasonalForecastSql)),
    QueryDef("ewma_user", ewmaUser, Some(ewmaUserSql)),
    QueryDef("props_json_agg", propsJsonAgg, Some(propsJsonSql)),
    QueryDef("rolling_anomaly", rollingAnomaly, Some(rollingAnomalySql)),
    QueryDef("q6_revenue", q6Revenue, Some(q6Sql)),
    QueryDef("q3_top_revenue", q3TopRevenue, Some(q3Sql)),
    QueryDef("q5_region_revenue", q5RegionRevenue, Some(q5Sql)),
    QueryDef("events_window_agg", eventsWindowAgg, Some(eventsWindowSql)),
    QueryDef("sessionize", sessionize, Some(sessionizeSql)),
    QueryDef("asof_join", asofPurchaseClick, Some(asofSql)),
    QueryDef("asof_forward", asofNextClick, Some(asofForwardSql)),
    QueryDef("range_join", rangeJoinNearby, Some(rangeJoinSql)),
    QueryDef("pivot_events", pivotEvents, Some(pivotEventsSql)),
    QueryDef("sliding_window_agg", slidingWindowAgg, Some(slidingWindowSql)),
    QueryDef("percentiles_exact", percentilesExact, Some(percentilesSql)),
    QueryDef("cube_agg", cubeAgg, Some(cubeAggSql)),
    QueryDef("grouping_sets_agg", groupingSetsAgg, Some(groupingSetsSql)),
    QueryDef("window_pct_funcs", windowPctFuncs, Some(windowPctSql)),
    QueryDef("funnel_stages", funnelStages, Some(funnelSql)),
    QueryDef("event_transitions", eventTransitions, Some(eventTransitionsSql)),
    QueryDef("markov_stationary", markovStationary, Some(markovStationarySql)),
    QueryDef("attribution_markov", attributionMarkov, Some(attributionMarkovSql)),
    QueryDef("hits_scores", hitsScores, Some(hitsScoresSql)),
    QueryDef("km_survival", kmSurvival, Some(kmSurvivalSql)),
    QueryDef("attribution_last_touch", attributionLastTouch,
      Some(attributionLastTouchSql)),
    QueryDef("attribution_position", attributionPosition,
      Some(attributionPositionSql)),
    QueryDef("top_paths", topPaths, Some(topPathsSql)),
    QueryDef("winsorized_stats", winsorizedStats, Some(winsorizedStatsSql)),
    QueryDef("cusum_drift", cusumDrift, Some(cusumDriftSql)),
    QueryDef("burstiness", burstiness, Some(burstinessSql)),
    QueryDef("rfm_segments", rfmSegments, Some(rfmSegmentsSql)),
    QueryDef("woe_iv", woeIv, Some(woeIvSql)),
    QueryDef("assoc_rules", assocRules, Some(assocRulesSql)),
    QueryDef("cohort_retention", cohortRetention, Some(cohortRetentionSql)),
    QueryDef("zscore_outliers", zscoreOutliers, Some(zscoreOutliersSql)),
    QueryDef("mad_outliers", madOutliers, Some(madOutliersSql)),
    QueryDef("window_funcs", windowFuncs, Some(windowFuncsSql)),
    QueryDef("q18_large_orders", q18LargeOrders, Some(q18Sql)),
    QueryDef("q2_min_cost_supplier", q2MinCostSupplier, Some(q2Sql)),
    QueryDef("user_history", userHistory, Some(userHistorySql)),
  )
}
