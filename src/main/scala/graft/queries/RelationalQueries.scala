package graft.queries

import graft.streaming.StreamTuning
import graft.xel.{XeFixture, XelFunctions => F}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/**
 * The downstream query surface (SURVEY.md §2.4 / §7 phase E): the reference
 * loads event tables into SQL Server *specifically so users can run*
 * joins/aggregates/windows/top-K over them (`/root/reference/README.md:29`).
 * Capability parity means those queries run natively on Spark. All plans are
 * declarative DataFrame ops → Catalyst does pushdown/pruning/join selection;
 * dimension tables are explicitly `broadcast()` so the 100 TB plan has no
 * shuffle on the fact side for dim joins.
 *
 * Determinism: exact decimal arithmetic for money sums (double sums are
 *  order-dependent and would not hash-match DuckDB), final cast to double,
 * deterministic ORDER BY with unique tie-break keys everywhere.
 */
object RelationalQueries {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** exact money arithmetic: double col → decimal(18,2) before aggregation */
  private def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(18, 2))

  /** Benford expected first-digit proportions, round(10⁶·log10(1+1/d))
    * — the published integer ppm table (sums to exactly 1,000,000). ONE
    * SQL text evaluated by Spark's `expr` and DuckDB alike, so the
    * irrational expectations are never recomputed in floats anywhere. */
  private val benfordCaseSql: String =
    """CAST(CASE digit WHEN 1 THEN 301030 WHEN 2 THEN 176091
      |     WHEN 3 THEN 124939 WHEN 4 THEN 96910 WHEN 5 THEN 79181
      |     WHEN 6 THEN 66947 WHEN 7 THEN 57992 WHEN 8 THEN 51153
      |     WHEN 9 THEN 45757 END AS BIGINT)""".stripMargin

  /** The customer SCD2 history (see `scd2_customers`): deterministic
    * 4-wave version stream → operators.Scd2. Shared by the history dump
    * and the temporal-lookup join. */
  private def scd2History(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir, "customer")
    val seg = concat(lit("SEG_"), (col("c_custkey") % 3).cast("string"))
    def img(pred: org.apache.spark.sql.Column, nat: org.apache.spark.sql.Column,
            mkt: org.apache.spark.sql.Column, from: String) =
      cust.filter(pred).select(col("c_custkey"), nat.as("c_nationkey"),
        mkt.as("c_mktsegment"), to_date(lit(from)).as("effective_from"))
    val versions = img(lit(true), col("c_nationkey"), col("c_mktsegment"), "1992-01-01")
      .unionByName(img(col("c_custkey") % 10 === 0,
        col("c_nationkey"), seg, "1995-06-01"))
      .unionByName(img(col("c_custkey") % 30 === 0,
        col("c_nationkey"), seg, "1996-01-01"))
      .unionByName(img(col("c_custkey") % 20 === 0,
        ((col("c_nationkey") + 7) % 25).cast("int"), seg, "1998-03-15"))
    graft.operators.Scd2.history(versions,
        Seq("c_custkey"), Seq("c_nationkey", "c_mktsegment"))
      .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"),
        col("effective_from"), col("effective_to"), col("version"),
        col("is_current"))
  }

  /** The attribution pair frame shared by the linear and first-touch
    * models: every view/click joined to the same user's purchases
    * within the 7-day lookback (ONE user-keyed equi-join, the window
    * residual in-join). One definition, so the two models can never
    * drift on the touch set they split credit over. */
  private def attributionPairs(spark: SparkSession, dir: String): DataFrame = {
    val ev = XeFixture.events(spark, dir)
    val touches = ev.filter(col("event_type").isin("view", "click"))
      .select(col("user_id"), col("event_id").as("touch_id"),
        col("event_type"), unix_micros(col("ts")).as("t_us"))
    val conv = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("conv_id"),
        unix_micros(col("ts")).as("c_us"))
    val lookbackUs = 7L * 24 * 3600 * 1000000L
    touches.join(conv, Seq("user_id"))
      .filter(col("t_us") < col("c_us") &&
        col("t_us") >= col("c_us") - lit(lookbackUs))
  }

  /** The two sides of the as-of queries: clicks at event grain, and
    * purchases pre-aggregated to unique (user, time) per the operator's tie
    * contract. Times are epoch-micros longs, as in the oracle's `asofCtes`. */
  private def asofSides(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val ev = XeFixture.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("click_us"))
    val purch = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), unix_micros(col("ts")).as("purch_us"))
      .agg(max(col("value")).as("purch_value"))
    (clicks, purch)
  }

  /** Events split into 8 h gap-sessions by operators.Sessions: the
    * prelude of every session-derived query, so the gap and the column set
    * cannot drift between them (the oracle twin is `sessionCte`). */
  private def sessionEvents(spark: SparkSession, dir: String): DataFrame = {
    val ev = XeFixture.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    graft.operators.Sessions.assign(ev, "user_id", "ts", "event_id",
      gapUs = 28800000000L)
  }
  private val inSession = Window.partitionBy(col("user_id"), col("session_seq"))
  /** Event order within a session, unique by the event_id tie-break. */
  private val sessionOrder = inSession.orderBy(col("ts_us"), col("event_id"))

  /** Per (event type, day) event counts on the full type × day grid, silent
    * days zero-filled: the series of the daily time-series queries (the
    * oracle twin is `dailyGridCtes`). */
  private def dailyGrid(spark: SparkSession, dir: String): DataFrame = {
    val ev = XeFixture.events(spark, dir)
      .select(col("event_type"), to_date(col("ts")).as("day"))
    val daily = ev.groupBy("event_type", "day").agg(count(lit(1)).as("x"))
    ev.select("event_type").distinct()
      .crossJoin(broadcast(ev.select("day").distinct()))
      .join(daily, Seq("event_type", "day"), "left")
      .na.fill(0L, Seq("x"))
  }

  /** The per-type aggregates of an incremental-refresh state (fixed-point
    * partials `cnt`, `sum_fp`, `min_fp`, `max_fp`), shared by the batch merge
    * and the streaming refresh so both answer `incrRefreshOracle`. */
  private def refreshedAggregates(state: DataFrame): DataFrame =
    state.select(col("event_type"), col("cnt"),
        round(col("sum_fp").cast("double") / 1000000.0, 6).as("sum_value"),
        round(col("min_fp").cast("double") / 1000000.0, 6).as("min_value"),
        round(col("max_fp").cast("double") / 1000000.0, 6).as("max_value"),
        round(expr("sum_fp div cnt").cast("double") / 1000000.0, 6)
          .as("avg_value"))
      .orderBy("event_type")

  /** The drops of a sentinel stream under `inDir`, in arrival order: all
    * of `ev` as one drop, then sentinel batches 1 and 2, built from the
    * max `ts` of `ev` (see `stream_rate_minute`). All real events land in
    * ONE micro-batch: cross-batch disorder would make rows late against
    * the watermark and silently drop them — batch boundaries are a
    * harness artifact, not query semantics. */
  private def dropWithSentinels(spark: SparkSession, ev: DataFrame, inDir: String)
                               (sentinel: (Int, java.sql.Timestamp) => DataFrame): Unit = {
    ev.coalesce(1).write.parquet(s"$inDir/real")
    val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
    Seq(1, 2).foreach(i =>
      sentinel(i, maxTs).coalesce(1).write.parquet(s"$inDir/sent$i"))
    StreamTuning.stampArrivalOrder(spark,
      Seq("real", "sent1", "sent2").map(d => s"$inDir/$d"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Driver-hash-class regression canary (VERDICT r14 item 5): one tiny
    // constant row per output-type class with a driver-GREEN precedent
    // (INT widths, BIGINT incl. a >2^53 value, DOUBLE, VARCHAR, DATE,
    // TIMESTAMP, BOOLEAN) plus a NULL row for the classes with a NULL
    // precedent (BIGINT/DOUBLE/VARCHAR/DATE — r15 sweep; TIMESTAMP/
    // BOOLEAN/INT nulls have none and stay non-null here). A future
    // driver-gate behavior change flips THIS row, not a mystery red on
    // the 250-query surface. tools/check_oracle.py's ALLOWED_OUTPUT
    // calibration comment references this canary.
    "hash_canary" -> ((spark, _) => spark.sql(
      """SELECT * FROM VALUES
        |  (CAST(1 AS BIGINT), CAST(42 AS INT),
        |   CAST(9007199254740993 AS BIGINT), CAST(-1.5 AS DOUBLE),
        |   'graft', DATE '2026-08-15',
        |   TIMESTAMP '2026-08-15 12:34:56', true),
        |  (CAST(2 AS BIGINT), CAST(-7 AS INT),
        |   CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
        |   CAST(NULL AS STRING), CAST(NULL AS DATE),
        |   TIMESTAMP '1970-01-01 00:00:00', false)
        |AS t(k, v_int, v_bigint, v_double, v_str, v_date, v_ts, v_bool)
        |ORDER BY k""".stripMargin)),

    // TPC-H Q1 shape: scan-heavy single-pass aggregation; partial (map-side)
    // aggregation makes this shuffle only |groups| rows at scale.
    "q1_pricing_summary" -> ((spark, dir) => {
      t(spark, dir, "lineitem")
        .filter(col("l_quantity") >= 0) // keep-all guard; pushdown still visible
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
          sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
          sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
            .cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // TPC-H Q3 shape: two joins + group + top-K. Catalyst broadcast-joins the
    // filtered customer side under AQE; explicit hint keeps it stable.
    "q3_top_orders" -> ((spark, dir) => {
      val cust = t(spark, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val ord = t(spark, dir, "orders")
      val li = t(spark, dir, "lineitem")
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),

    // TPC-H Q5 shape: 5-way join through the dimension chain, all dims
    // broadcast — zero shuffles on lineitem besides the final group-by.
    "q5_nation_revenue" -> ((spark, dir) => {
      val region = t(spark, dir, "region")
      val nation = t(spark, dir, "nation")
      val cust = t(spark, dir, "customer")
      val ord = t(spark, dir, "orders")
      val li = t(spark, dir, "lineitem")
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
        .join(broadcast(nation), cust("c_nationkey") === nation("n_nationkey"))
        .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(
          sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
            .cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("r_name", "n_name")
    }),

    // Top-K per group via window rank — "top statements by duration", the
    // canonical XE post-load analysis (SURVEY.md §2.4).
    "topk_per_type" -> ((spark, dir) => {
      val xe = XeFixture.frame(spark, dir)
      val w = Window.partitionBy(col("event_name"))
        .orderBy(col("c_duration_us").desc, col("c_event_sequence"))
      xe.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("event_name"), col("rk"), col("c_event_sequence"),
          col("c_duration_us"), col("c_session_id"))
        .orderBy("event_name", "rk")
    }),

    // Same result as topk_per_type but through the CUSTOM physical
    // operator (TopKPerKeyNode → TopKStrategy → partial/final heap
    // execs): at most k rows per key per partition reach the shuffle and
    // nothing global-sorts. The window afterwards only ranks the already
    // k-bounded result.
    "topk_native_operator" -> ((spark, dir) => {
      val xe = XeFixture.frame(spark, dir)
      graft.plans.TopK.ranked(xe, Seq("event_name"),
          Seq("c_duration_us" -> true, "c_event_sequence" -> false), 3, "rk")
        .select(col("event_name"), col("rk"), col("c_event_sequence"),
          col("c_duration_us"), col("c_session_id"))
        .orderBy("event_name", "rk")
    }),

    // Session timeline: lag() deltas per session — gap analysis over the
    // event stream (SURVEY.md §7 phase E "per-session timelines").
    "session_timeline" -> ((spark, dir) => {
      val xe = XeFixture.frame(spark, dir)
      val w = Window.partitionBy(col("c_session_id"))
        .orderBy(col("e_time_of_event_utc"), col("c_event_sequence"))
      // gaps in exact integer microseconds — summing double-valued seconds
      // would be partition-order-dependent and never hash-match the oracle
      xe.withColumn("ts_us", unix_micros(col("e_time_of_event_utc")))
        .withColumn("gap_us", col("ts_us") - lag(col("ts_us"), 1).over(w))
        .groupBy(col("c_session_id"))
        .agg(
          count(lit(1)).as("n_events"),
          sum(col("gap_us")).as("total_gap_us"),
          max(col("gap_us")).as("max_gap_us"))
        .orderBy("c_session_id")
    }),

    // Hash-companion join (F5's purpose): event rows ⋈ DMV-like samples on
    // the binary hash, surfaced as hex. The DMV side is derived (FIXTURES.md
    // §3) from a sample of hashes; broadcast — it is small by construction.
    "dmv_hash_join" -> ((spark, dir) => {
      val xe = XeFixture.frame(spark, dir)
        .withColumn("a_query_hash_hex", F.hashToBinHex(col("a_query_hash")))
      val dmv = xe.filter(col("c_event_sequence") % 10 === 0)
        .select(col("a_query_hash_hex").as("dmv_hash_hex"),
          col("c_duration_us").as("sample_duration"))
      xe.join(broadcast(dmv), xe("a_query_hash_hex") === dmv("dmv_hash_hex"))
        .groupBy(col("event_name"))
        .agg(count(lit(1)).as("n_matched"),
          sum(col("sample_duration")).as("total_sample_duration"))
        .orderBy("event_name")
    }),

    // Distinct sessions: exact + approximate side by side (the approx path
    // is the one that survives 100 TB; exactness checked at test scale).
    "distinct_sessions" -> ((spark, dir) => {
      XeFixture.frame(spark, dir)
        .groupBy(col("event_name"))
        .agg(countDistinct(col("c_session_id")).as("exact_sessions"))
        .orderBy("event_name")
    }),

    // Set ops across two "load runs" (first/second half of the stream):
    // sessions present in both runs, and only in run 1 (SURVEY.md §7 E).
    "setops_runs" -> ((spark, dir) => {
      val xe = XeFixture.frame(spark, dir)
      // run boundary as a broadcast 1-row aggregate — no driver .head()
      // and no second pass (the old literal-filter form did push down,
      // but paid a full blocking scan before the plan even existed)
      val midDf = xe.agg((max(col("c_event_sequence")) / 2).as("mid"))
      val tagged = xe.crossJoin(broadcast(midDf))
      val run1 = tagged.filter(col("c_event_sequence") <= col("mid")).select("c_session_id").distinct()
      val run2 = tagged.filter(col("c_event_sequence") > col("mid")).select("c_session_id").distinct()
      val both = run1.intersect(run2).withColumn("presence", lit("both"))
      val only1 = run1.except(run2).withColumn("presence", lit("run1_only"))
      val only2 = run2.except(run1).withColumn("presence", lit("run2_only"))
      both.unionAll(only1).unionAll(only2).orderBy("presence", "c_session_id")
    }),

    // Rollup: order counts at (status, priority), (status), () levels —
    // grouping-sets surface over the loaded tables.
    "rollup_orders" -> ((spark, dir) => {
      t(spark, dir, "orders")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          sum(dec(col("o_totalprice"))).cast("double").as("total_price"))
        .orderBy(col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)
    }),

    // Backward as-of join (graft.operators.AsofJoin): for every click,
    // the most recent prior purchase by the same user — last-touch
    // attribution, the canonical event-stream as-of. One shuffle keyed
    // by user; oracle is DuckDB's native ASOF LEFT JOIN. The right side
    // is pre-aggregated to unique (user, time) per the operator's tie
    // contract. Times compare as epoch-micros longs on both engines.
    "asof_attribution" -> ((spark, dir) => {
      val (clicks, purch) = asofSides(spark, dir)
      graft.operators.AsofJoin
        .backward(clicks, purch, "user_id", "click_us", "purch_us",
          Seq("purch_us", "purch_value"))
        .orderBy("event_id")
    }),

    // Forward as-of: each click matched to the EARLIEST purchase at or
    // after it — the conversion-lag direction (backward answers "what
    // drove this?", forward answers "what did this lead to?"). Same
    // union+window single-pass plan, descending time.
    "asof_forward" -> ((spark, dir) => {
      val (clicks, purch) = asofSides(spark, dir)
      graft.operators.AsofJoin
        .forward(clicks, purch, "user_id", "click_us", "purch_us",
          Seq("purch_us", "purch_value"))
        .orderBy("event_id")
    }),

    // As-of with a tolerance bound (pandas merge_asof): same attribution
    // join, but a purchase more than 10 minutes before the click reads
    // as no match. DuckDB ASOF has no tolerance — the oracle masks the
    // out-of-bound matches after the join.
    "asof_tolerance" -> ((spark, dir) => {
      val (clicks, purch) = asofSides(spark, dir)
      graft.operators.AsofJoin
        .backward(clicks, purch, "user_id", "click_us", "purch_us",
          Seq("purch_us", "purch_value"), tolerance = Some(600000000L))
        .orderBy("event_id")
    }),

    // Range join (graft.operators.RangeJoin): every error event opens a
    // 5-minute incident window; per click, how many windows were active
    // at that instant — across ALL users, so there is NO equi key and a
    // naive formulation is a nested-loop join. The operator bucketizes
    // the time axis (bucket width = window length → each interval
    // explodes to ≤2 buckets) and equi-joins on the bucket.
    "range_incidents" -> ((spark, dir) => {
      val ev = XeFixture.events(spark, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), unix_micros(col("ts")).as("click_us"))
      val windows = ev.filter(col("event_type") === "error")
        .select(unix_micros(col("ts")).as("lo"),
          (unix_micros(col("ts")) + lit(300000000L)).as("hi"))
      graft.operators.RangeJoin
        .pointInInterval(clicks, windows, "click_us", "lo", "hi",
          bucketWidth = 300000000L)
        .groupBy(col("event_id"))
        .agg(count(lit(1)).as("n_incidents"),
          min(col("lo")).as("first_incident_us"))
        .orderBy("event_id")
    }),

    // Interval-overlap flavor of the range join: 5-minute error windows
    // vs ±2-minute purchase windows, keyless. Canonical-bucket emission
    // inside the operator yields each crossing pair exactly once.
    "range_overlap_windows" -> ((spark, dir) => {
      val ev = XeFixture.events(spark, dir)
      val err = ev.filter(col("event_type") === "error")
        .select(col("event_id"), unix_micros(col("ts")).as("e_lo"),
          (unix_micros(col("ts")) + lit(300000000L)).as("e_hi"))
      val purch = ev.filter(col("event_type") === "purchase")
        .select((unix_micros(col("ts")) - lit(120000000L)).as("p_lo"),
          (unix_micros(col("ts")) + lit(120000000L)).as("p_hi"))
      graft.operators.RangeJoin
        .intervalOverlap(err, purch, "e_lo", "e_hi", "p_lo", "p_hi",
          bucketWidth = 300000000L)
        .groupBy(col("event_id"))
        .agg(count(lit(1)).as("n_purchase_windows"))
        .orderBy("event_id")
    }),

    // Ordered-milestone funnel (view → click → purchase): each stage's
    // time is the earliest at-or-after the previous stage, per user.
    // Three chained whole-partition window mins share ONE user-keyed
    // exchange (no orderBy → no sort, no self-joins); the classic
    // N-self-join funnel formulation shuffles the fact table N times.
    "events_funnel" -> ((spark, dir) => {
      val ev = XeFixture.events(spark, dir)
        .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      val w = Window.partitionBy("user_id")
      ev
        .withColumn("t_view",
          min(when(col("event_type") === "view", col("us"))).over(w))
        .withColumn("t_click",
          min(when(col("event_type") === "click" && col("us") >= col("t_view"),
            col("us"))).over(w))
        .withColumn("t_purchase",
          min(when(col("event_type") === "purchase" && col("us") >= col("t_click"),
            col("us"))).over(w))
        .groupBy(col("user_id"))
        .agg(min("t_view").as("tv"), min("t_click").as("tc"),
          min("t_purchase").as("tp"))
        .agg(count(lit(1)).as("n_users"),
          count(col("tv")).as("n_viewed"),
          count(col("tc")).as("n_clicked_after_view"),
          count(col("tp")).as("n_purchased_after_click"),
          coalesce(sum(when(col("tp").isNotNull, col("tp") - col("tv"))), lit(0L))
            .as("total_funnel_us"))
    }),

    // Z-order layout audit (graft.operators.ZOrder): cluster lineitem by
    // the Morton interleave of (partkey, suppkey) and report each coarse
    // z-bucket's bounding box — the per-file min/max footprint that lets
    // stats-based skipping prune range predicates on EITHER key once the
    // table is written in this order.
    "layout_zorder" -> ((spark, dir) => {
      val z = graft.operators.ZOrder.zValue(
        pmod(col("l_partkey"), lit(65536L)),
        pmod(col("l_suppkey"), lit(65536L)))
      t(spark, dir, "lineitem")
        .withColumn("zbucket", shiftright(z, 20))
        .groupBy(col("zbucket"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("l_partkey")).as("min_part"), max(col("l_partkey")).as("max_part"),
          min(col("l_suppkey")).as("min_supp"), max(col("l_suppkey")).as("max_supp"))
        .orderBy("zbucket")
    }),

    // 3-dim z-order layout (ZOrder.zValueN): round-robin interleave of
    // (part, supp, order) key bits — the (key, key, time)-style
    // clustering a fact table wants when scans filter on ANY of three
    // dims; per-z-bucket bounding boxes are the min/max footprints
    // stats-based file skipping would prune against.
    "layout_zorder3" -> ((spark, dir) => {
      val z = graft.operators.ZOrder.zValueN(Seq(
        pmod(col("l_partkey"), lit(65536L)),
        pmod(col("l_suppkey"), lit(65536L)),
        pmod(col("l_orderkey"), lit(65536L))), 16)
      t(spark, dir, "lineitem")
        .withColumn("zbucket", shiftright(z, 36))
        .groupBy(col("zbucket"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("l_partkey")).as("min_part"), max(col("l_partkey")).as("max_part"),
          min(col("l_suppkey")).as("min_supp"), max(col("l_suppkey")).as("max_supp"),
          min(col("l_orderkey")).as("min_ord"), max(col("l_orderkey")).as("max_ord"))
        .orderBy("zbucket")
    }),

    // Batch gap-based sessionization (graft.operators.Sessions): per-user
    // sessions split on >8h idle gaps, with per-session bounds and exact
    // money totals. One user-keyed exchange feeds both windows AND the
    // final per-session aggregate — the closed-data twin of the streaming
    // Sessionize operator.
    "events_sessionize" -> ((spark, dir) => {
      val ev = XeFixture.events(spark, dir)
      graft.operators.Sessions.stats(ev, "user_id", "ts", "event_id",
          gapUs = 28800000000L,
          extra = Seq(sum(dec(col("value"))).cast("double").as("total_value")))
        .orderBy("user_id", "session_seq")
    }),

    // Session path mining: top event-type TRIGRAMS within gap-sessions —
    // "what do users do in sequence" (the path-analysis complement to
    // the funnel's fixed pattern). Session assignment reuses the
    // Sessions operator; the trigram build is two lead() calls over the
    // SAME (user, session) window, so assignment, leads and the filter
    // all ride one user-keyed exchange; the path census is a
    // vocabulary-bounded agg + TakeOrdered cut (n desc, path asc).
    "events_top_paths" -> ((spark, dir) => {
      sessionEvents(spark, dir)
        .withColumn("t2", lead(col("event_type"), 1).over(sessionOrder))
        .withColumn("t3", lead(col("event_type"), 2).over(sessionOrder))
        .filter(col("t3").isNotNull)
        .select(concat_ws(">", col("event_type"), col("t2"), col("t3"))
          .as("path"))
        .groupBy(col("path")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("path")).limit(20)
    }),

    // Distribution-rank window functions (NTILE / PERCENT_RANK /
    // CUME_DIST) — the quartile/percentile ranking surface a SQL Server
    // analyst runs over loaded events. Unique (value µs, event_id)
    // order keeps every rank deterministic cross-engine; one type-keyed
    // exchange carries all three functions. Output rolled up per
    // (type, quartile) so the gate row count stays bounded.
    "events_value_ntiles" -> ((spark, dir) => {
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("v"), col("event_id"))
      XeFixture.events(spark, dir)
        .select(col("event_type"), col("event_id"),
          round(col("value") * 1000000, 0).cast("long").as("v"))
        .withColumn("quartile", ntile(4).over(w).cast("long"))
        .withColumn("pr", percent_rank().over(w))
        .withColumn("cd", cume_dist().over(w))
        .groupBy(col("event_type"), col("quartile"))
        .agg(count(lit(1)).as("n_events"),
          round(min(col("v")).cast("double") / 1000000.0, 6).as("lo_value"),
          round(max(col("v")).cast("double") / 1000000.0, 6).as("hi_value"),
          round(max(col("pr")), 6).as("max_pct_rank"),
          round(max(col("cd")), 6).as("max_cume_dist"))
        .orderBy("event_type", "quartile")
    }),

    // Gaps-and-islands (the Tabibitosan method): islands of CONSECUTIVE
    // active minutes per user — minute_idx − row_number() is constant
    // within a run, so one user-keyed window + one groupBy finds every
    // island without self-joins or loops. The classic SQL Server
    // analytic, here per-user-parallel at any scale.
    "events_gap_islands" -> ((spark, dir) => {
      val mins = XeFixture.events(spark, dir)
        .select(col("user_id"),
          expr("unix_micros(ts) div 60000000").as("minute_idx"))
        .distinct()
      val w = Window.partitionBy(col("user_id")).orderBy(col("minute_idx"))
      val islands = mins
        .withColumn("grp", col("minute_idx") - row_number().over(w))
        .groupBy(col("user_id"), col("grp"))
        .agg(count(lit(1)).as("len"))
      islands.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_islands"),
          max(col("len")).as("longest_island"),
          sum(col("len")).as("active_minutes"))
        .orderBy("user_id")
    }),

    // PageRank over the session transition graph (operators.PageRank):
    // edge (src, dst) = consecutive event types within a gap-session,
    // weighted by transition count — the structural-importance ranking
    // of event types. Edge derivation is the corpus-scale part (one
    // user-keyed window); the 10 fixed-point iterations run on
    // vocabulary-sized frames. The oracle replays all 10 iterations
    // unrolled — exact integer parity end-to-end.
    "events_pagerank" -> ((spark, dir) => {
      val edges = sessionEvents(spark, dir)
        .withColumn("dst", lead(col("event_type"), 1).over(sessionOrder))
        .filter(col("dst").isNotNull)
        .groupBy(col("event_type").as("src"), col("dst"))
        .agg(count(lit(1)).as("w"))
      graft.operators.PageRank.ranks(edges, iterations = 10)
        .select(col("node").as("event_type"), col("rank_fp"),
          round(col("rank_fp").cast("double") / 1000000000.0, 6).as("rank"))
        .orderBy("event_type")
    }),

    // Time-series gap filling — the resampling operator every metrics
    // store needs: per (type, hour) value sums on the FULL hourly grid,
    // with empty hours filled by integer linear interpolation between
    // the nearest observed neighbors (leading/trailing gaps carry the
    // nearest observation). All arithmetic is fixed-point BIGINT with
    // truncating division — identical on both engines. Two
    // type-partitioned windows (forward and backward nearest-observed)
    // over the bounded grid; census output stays type-grain.
    "events_gap_fill" -> ((spark, dir) => {
      // grid in hour-INDEX units (epoch_us div 3.6e9): interpolating in
      // raw micros would overflow the (Δv · Δt) product at month spans
      val ev = XeFixture.events(spark, dir)
        .select(col("event_type"),
          expr("unix_micros(ts) div 3600000000L").as("hr"),
          expr("CAST(round(value * 1000000, 0) AS BIGINT)").as("v6"))
      val observed = ev.groupBy("event_type", "hr")
        .agg(sum(col("v6")).as("v"))
      val grid = ev.select("event_type").distinct()
        .crossJoin(broadcast(ev.select("hr").distinct()))
      val full = grid.join(observed, Seq("event_type", "hr"), "left")
      val fwd = Window.partitionBy(col("event_type")).orderBy(col("hr"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val bwd = Window.partitionBy(col("event_type"))
        .orderBy(col("hr").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val prevV = last(col("v"), ignoreNulls = true).over(fwd)
      val prevH = last(when(col("v").isNotNull, col("hr")),
        ignoreNulls = true).over(fwd)
      val nextV = last(col("v"), ignoreNulls = true).over(bwd)
      val nextH = last(when(col("v").isNotNull, col("hr")),
        ignoreNulls = true).over(bwd)
      val filled = full
        .withColumn("pv", prevV).withColumn("ph", prevH)
        .withColumn("nv", nextV).withColumn("nh", nextH)
        .withColumn("fv",
          when(col("v").isNotNull, col("v"))
            .when(col("pv").isNull, col("nv"))
            .when(col("nv").isNull, col("pv"))
            .otherwise(col("pv") + expr(
              "(nv - pv) * (hr - ph) div (nh - ph)")))
      filled.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_hours"),
          sum(when(col("v").isNotNull, 1L).otherwise(0L)).as("n_observed"),
          sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_filled"),
          sum(coalesce(col("v"), lit(0L))).as("sum_observed_fp6"),
          sum(when(col("v").isNull, col("fv")).otherwise(0L))
            .as("sum_filled_fp6"))
        .orderBy("event_type")
    }),

    // Entry/exit/bounce census per event type — the landing-page report:
    // which event types open sessions, which close them, and how often
    // an entry is the WHOLE session (bounce). One session assignment +
    // one (user, session)-keyed window computing rank and size together;
    // bounce rate in integer bps.
    "events_entry_exit" -> ((spark, dir) => {
      val s = sessionEvents(spark, dir)
      val flagged = s
        .withColumn("rn", row_number().over(sessionOrder))
        .withColumn("n_in_session", count(lit(1)).over(inSession))
      flagged.groupBy(col("event_type"))
        .agg(sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_entries"),
          sum(when(col("rn") === col("n_in_session"), 1L).otherwise(0L))
            .as("n_exits"),
          sum(when(col("rn") === 1 && col("n_in_session") === 1, 1L)
            .otherwise(0L)).as("n_bounces"))
        .withColumn("bounce_bps",
          expr("n_bounces * 10000L div greatest(n_entries, 1L)"))
        .orderBy("event_type")
    }),

    // First-order Markov transition matrix over session paths — the
    // next-event model a product-analytics pipeline ships (and the raw
    // table events_pagerank's edge weights come from): P(next | cur) in
    // exact integer millionths (n·10⁶ div row total — a float ratio is
    // the one step the engines could round apart). One session window +
    // one cur-keyed window over the tiny transition table.
    // Overflow envelope: n_trans·10⁶ < 2⁶³ — exact to ~9·10¹²
    // transitions per (cur, next) cell.
    "events_markov_next" -> ((spark, dir) => {
      sessionEvents(spark, dir)
        .withColumn("next_type", lead(col("event_type"), 1).over(sessionOrder))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("cur_type"), col("next_type"))
        .agg(count(lit(1)).as("n_trans"))
        .withColumn("n_from",
          sum(col("n_trans")).over(Window.partitionBy(col("cur_type"))))
        .select(col("cur_type"), col("next_type"), col("n_trans"),
          expr("n_trans * 1000000L div n_from").as("p_fp6"))
        .orderBy("cur_type", "next_type")
    }),

    // Deterministic A/B assignment + per-arm outcome census — the
    // experiment-analysis primitive: arm = hash60("ab|" ++ user) mod 2,
    // so assignment is a pure projection reproducible on any engine and
    // any day (the property randomized assignment tables lose). Sums
    // are exact fixed point; the square sums (for the analyst's
    // variance) run in CENTS so sumsq ≤ 2.4e9 per event — bounded to
    // ~4e18 at 10⁹ events, inside BIGINT. Mean via explicit floor-div.
    "events_ab_assignment" -> ((spark, dir) => {
      import graft.corpus.{TextAnalysis => T}
      XeFixture.events(spark, dir)
        .select(col("event_type"), col("user_id"),
          expr("CAST(round(value * 1000000, 0) AS BIGINT)").as("v6"),
          expr("CAST(round(value * 100, 0) AS BIGINT)").as("v2"))
        .withColumn("arm",
          when(pmod(T.hash60(concat(lit("ab|"),
            col("user_id").cast("string"))), lit(2L)) === 0L, "A")
            .otherwise("B"))
        .groupBy(col("event_type"), col("arm"))
        .agg(countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events"),
          sum(col("v6")).as("sum_v_fp6"),
          sum(col("v2") * col("v2")).as("sumsq_v_fp2"))
        .withColumn("mean_v_fp6", expr("sum_v_fp6 div n_events"))
        .orderBy("event_type", "arm")
    }),

    // A/B outcome analysis — the read-out leg of events_ab_assignment:
    // per-user conversion (≥1 purchase) by arm, rates in integer bps,
    // and the 2×2 χ² independence statistic computed the text_chi2_terms
    // way — determinant O11·O22 − O12·O21 EXACT in BIGINT (envelope
    // n_a·n_b < 2⁶³ ≈ 3e9 users per arm), then ONE left-associated
    // double expression identical on both engines. χ² ≈ 3.84 is the
    // p<0.05 line for 1 dof — the number that says whether the lift is
    // real before anyone ships the B arm. Aggregate grain after one
    // scan + one distinct-user rollup; both arm rows broadcast into the
    // single output row.
    "events_ab_outcomes" -> ((spark, dir) => {
      val ev = XeFixture.events(spark, dir)
      val users = ev.select(col("user_id")).distinct()
        .withColumn("arm",
          when(pmod(graft.corpus.TextAnalysis.hash60(concat(lit("ab|"),
            col("user_id").cast("string"))), lit(2L)) === 0L, "A")
            .otherwise("B"))
      val conv = ev.filter(col("event_type") === "purchase")
        .select(col("user_id")).distinct().withColumn("cv", lit(1L))
      val agg = users.join(conv, Seq("user_id"), "left")
        .na.fill(0L, Seq("cv"))
        .groupBy(col("arm"))
        .agg(count(lit(1)).as("n"), sum(col("cv")).as("c"))
      val a = agg.filter(col("arm") === "A")
        .select(col("n").as("n_a"), col("c").as("conv_a"))
      val b = agg.filter(col("arm") === "B")
        .select(col("n").as("n_b"), col("c").as("conv_b"))
      a.crossJoin(broadcast(b))
        .withColumn("rate_a_bps", expr("conv_a * 10000L div n_a"))
        .withColumn("rate_b_bps", expr("conv_b * 10000L div n_b"))
        .withColumn("dlt",
          expr("conv_a * (n_b - conv_b) - (n_a - conv_a) * conv_b"))
        .withColumn("chi2", expr(
          """CASE WHEN conv_a + conv_b = 0
            |       OR conv_a + conv_b = n_a + n_b THEN 0.0
            |     ELSE round((CAST(n_a + n_b AS DOUBLE) * CAST(dlt AS DOUBLE)
            |                 * CAST(dlt AS DOUBLE))
            |                / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
            |                   * CAST(conv_a + conv_b AS DOUBLE)
            |                   * CAST(n_a + n_b - conv_a - conv_b AS DOUBLE)), 6)
            |END""".stripMargin))
        .select(col("n_a"), col("conv_a"), col("rate_a_bps"),
          col("n_b"), col("conv_b"), col("rate_b_bps"),
          (col("rate_b_bps") - col("rate_a_bps")).as("lift_bps"),
          col("chi2"))
    }),

    // First-touch attribution — the winner-take-all complement of
    // events_attribution_linear: each conversion credits ONLY its
    // earliest in-window touch (ties by touch id). Same user-keyed pair
    // join; the argmin is one conv-keyed row_number window; share in
    // integer bps against the attributed-conversion total (1-row
    // broadcast).
    "events_attribution_first" -> ((spark, dir) => {
      val firsts = attributionPairs(spark, dir)
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("conv_id"))
            .orderBy(col("t_us"), col("touch_id"))))
        .filter(col("rn") === 1)
      val total = firsts.agg(count(lit(1)).as("n_attributed"))
      firsts.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_first_touches"))
        .crossJoin(broadcast(total))
        .withColumn("share_bps",
          expr("n_first_touches * 10000L div n_attributed"))
        .orderBy("event_type")
    }),

    // Seasonal-naive forecast error census — the monitoring baseline
    // every anomaly pipeline is judged against: predict each
    // (type, day, hour) cell's event count with the type's hour-of-day
    // floor-mean over the month, report the exact integer absolute
    // error mass. The cell domain is types × days × hours (bounded,
    // built from two broadcast distinct frames) so EMPTY cells count
    // as zero actuals instead of silently dropping — the mistake that
    // understates error exactly where traffic vanishes.
    "events_forecast_baseline" -> ((spark, dir) => {
      val ev = XeFixture.events(spark, dir)
        .select(col("event_type"), to_date(col("ts")).as("day"),
          hour(col("ts")).cast("long").as("hr"))
      val cells = ev.groupBy("event_type", "day", "hr")
        .agg(count(lit(1)).as("actual"))
      val domain = ev.select("event_type").distinct()
        .crossJoin(broadcast(ev.select("day").distinct()))
        .crossJoin(broadcast(spark.range(0, 24).select(col("id").as("hr"))))
      val full = domain.join(cells, Seq("event_type", "day", "hr"), "left")
        .na.fill(0L, Seq("actual"))
      val seasonal = full.groupBy("event_type", "hr")
        .agg(expr("sum(actual) div count(1)").as("predicted"))
      full.join(seasonal, Seq("event_type", "hr"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_cells"),
          sum(col("actual")).as("n_events"),
          sum(abs(col("actual") - col("predicted"))).as("total_abs_err"))
        .withColumn("mae_fp6", expr("total_abs_err * 1000000L div n_cells"))
        .orderBy("event_type")
    }),

    // CUSUM changepoint detection over per-type daily volumes (Page
    // 1954): one-sided upper CUSUM with slack k = mean/2 and alarm
    // threshold h = 4·mean, computed EXACTLY by scaling everything by
    // n_days — dev = n·x − S keeps n·(x − mean) integral — and turning
    // the recursion S_t = max(0, S_{t-1} + dev_t − k) into the
    // window-expressible identity S_t = cs_t − min(0, min_{j≤t} cs_j)
    // over the cumulative sum cs. The day grid zero-fills silent days
    // (a traffic collapse is a changepoint too, and skipping empty
    // days would let the cumulative sum glide over them). Per-type
    // windows order by day: parallel partitions, day-grain frames —
    // the only corpus-scale shuffle is the daily count.
    // Overflow envelope: |cs| ≤ n·S ≈ 3650 days × per-type events —
    // BIGINT-safe to ~2.5e15 events per type.
    "events_cusum" -> ((spark, dir) => {
      val grid = dailyGrid(spark, dir)
      val byType = Window.partitionBy(col("event_type"))
      val byDay = byType.orderBy(col("day"))
      val cu = grid
        .withColumn("n", count(lit(1)).over(byType))
        .withColumn("s", sum(col("x")).over(byType))
        .withColumn("cs", sum(expr("n * x - s - s div 2")).over(byDay))
        .withColumn("cusum", col("cs") - least(lit(0L), min(col("cs")).over(byDay)))
      cu.groupBy(col("event_type"))
        .agg(min(col("n")).as("n_days"),
          sum(when(col("cusum") > lit(4L) * col("s"), 1L).otherwise(0L))
            .as("n_alarm_days"),
          min(when(col("cusum") > lit(4L) * col("s"), col("day")))
            .as("first_alarm_day"),
          max(expr("cusum div n")).as("max_cusum"))
        .orderBy("event_type")
    }),

    // Engagement stickiness: per day, the distinct actives (DAU), the
    // trailing-7-day distinct actives (WAU) and DAU·10⁴ div WAU. The
    // sliding distinct is EXACT via the day-grid join — the distinct
    // (user, day) frame is the one corpus-scale shuffle; replicating
    // it ≤7× against the broadcast day list (bounded: one row per
    // calendar day) is linear, and the final countDistinct shuffles
    // (day, user) pairs. No sketch, no window-over-users scan.
    "events_stickiness" -> ((spark, dir) => {
      val ud = XeFixture.events(spark, dir)
        .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
      val days = ud.select(col("d").as("day")).distinct()
      val dau = ud.groupBy(col("d").as("day")).agg(count(lit(1)).as("dau"))
      val wau = ud.join(broadcast(days),
          col("d") <= col("day") && col("d") >= date_sub(col("day"), 6))
        .groupBy(col("day")).agg(countDistinct(col("user_id")).as("wau"))
      dau.join(wau, Seq("day"))
        .withColumn("stickiness_bps", expr("dau * 10000L div wau"))
        .orderBy("day")
    }),

    // Lag-1..7 autocorrelation of per-type daily volumes — the
    // seasonality detector behind the forecast baseline (a strong lag-7
    // ACF says weekly cycle; near-zero everywhere says the seasonal
    // model is noise). EXACT in integers via the same n-scaling as
    // events_cusum: y_t = n·x_t − S has Σy = 0 and keeps n·(x − mean)
    // integral, and the n² factors cancel in the ratio, so
    // acf_l = Σ y_t·y_{t+l} / Σ y_t² needs no float mean anywhere.
    // The pair frame is the AGGREGATE-grain day grid self-joined on a
    // ≤7-day band (each row meets ≤7 others; types × days rows total) —
    // the only corpus-scale work is the daily count. Zero-variance
    // series (den = 0) report 0 — both engines would otherwise divide
    // by zero. Overflow envelope: den ≤ n·(n·X)² for max daily volume
    // X, and acf_ppm multiplies by 10⁶ — BIGINT-safe to X ≈ 2M
    // events/day/type on a 30-day window (drop to bps for the tail).
    "events_autocorr" -> ((spark, dir) => {
      val grid = dailyGrid(spark, dir)
      val byType = Window.partitionBy(col("event_type"))
      val g = grid
        .withColumn("n", count(lit(1)).over(byType))
        .withColumn("s", sum(col("x")).over(byType))
        .withColumn("y", col("n") * col("x") - col("s"))
      val den = g.groupBy(col("event_type"))
        .agg(sum(col("y") * col("y")).as("den"))
      val pairs = g.select(col("event_type"), col("day"), col("y")).as("a")
        .join(g.select(col("event_type").as("bt"), col("day").as("bday"),
            col("y").as("by")),
          col("event_type") === col("bt") &&
            col("bday") > col("day") &&
            col("bday") <= date_add(col("day"), 7))
        .select(col("event_type"),
          datediff(col("bday"), col("day")).cast("long").as("lag"),
          (col("y") * col("by")).as("yy"))
      pairs.groupBy(col("event_type"), col("lag"))
        .agg(count(lit(1)).as("n_terms"), sum(col("yy")).as("num"))
        .join(den, Seq("event_type"))
        .withColumn("acf_ppm",
          when(col("den") === 0, 0L)
            .otherwise(expr("1000000L * num div den")))
        .select(col("event_type"), col("lag"), col("n_terms"), col("acf_ppm"))
        .orderBy("event_type", "lag")
    }),

    // Theil–Sen trend per event type (Sen 1968) — the robust slope the
    // forecast baseline should sanity-check against: the MEDIAN of all
    // pairwise day-slopes shrugs off the outlier days that wreck a
    // least-squares fit. Slopes stay EXACT rationals (num = Δcount,
    // den = Δdays); the median is nearest-rank over an ordering whose
    // key is one double division of the two exact integers (identical
    // IEEE quotient on both engines) with (num, den) tie-breaks. The
    // pair frame is the AGGREGATE-grain day grid squared per type —
    // O(types·days²); a multi-year horizon would band-limit the pairs
    // (Siegel's repeated-median variant), not change the shape.
    "events_theilsen" -> ((spark, dir) => {
      val grid = dailyGrid(spark, dir)
      val pairs = grid.select(col("event_type"), col("day"), col("x"))
        .join(grid.select(col("event_type").as("bt"), col("day").as("bday"),
            col("x").as("bx")),
          col("event_type") === col("bt") && col("bday") > col("day"))
        .select(col("event_type"), (col("bx") - col("x")).as("num"),
          datediff(col("bday"), col("day")).cast("long").as("den"))
      val byType = Window.partitionBy(col("event_type"))
      val w = byType.orderBy(
        col("num").cast("double") / col("den").cast("double"),
        col("num"), col("den"))
      pairs
        .withColumn("rn", row_number().over(w))
        .withColumn("n_pairs", count(lit(1)).over(byType))
        .filter(col("rn") === expr("(n_pairs + 1) div 2"))
        .select(col("event_type"), col("n_pairs"),
          col("num").as("med_num"), col("den").as("med_den"),
          round(col("num").cast("double") / col("den").cast("double"), 6)
            .as("slope_per_day"))
        .orderBy("event_type")
    }),

    // Session co-occurrence lift between event-type pairs: observed
    // co-sessions over expected-under-independence — the association
    // census (log-free PMI twin, so it stays cross-engine exact) that
    // feeds feature engineering. The session×type frame is computed
    // once and shared by the pair join, the per-type counts, and the
    // session total; pairs join session-keyed (bounded by vocab² per
    // session, never corpus²), count tables broadcast back.
    "events_type_lift" -> ((spark, dir) => {
      val st = sessionEvents(spark, dir)
        .select(col("user_id"), col("session_seq"), col("event_type"))
        .distinct().localCheckpoint(false)
      val a = st.select(col("user_id"), col("session_seq"),
        col("event_type").as("t1"))
      val b = st.select(col("user_id"), col("session_seq"),
        col("event_type").as("t2"))
      val nab = a.join(b, Seq("user_id", "session_seq"))
        .filter(col("t1") < col("t2"))
        .groupBy(col("t1"), col("t2")).agg(count(lit(1)).as("n_ab"))
      val na = st.groupBy(col("event_type")).agg(count(lit(1)).as("cnt"))
      val nSess = st.select(col("user_id"), col("session_seq")).distinct()
        .agg(count(lit(1)).as("n_sessions"))
      nab
        .join(broadcast(na.select(col("event_type").as("t1"), col("cnt").as("n_a"))), Seq("t1"))
        .join(broadcast(na.select(col("event_type").as("t2"), col("cnt").as("n_b"))), Seq("t2"))
        .crossJoin(broadcast(nSess))
        .select(col("t1"), col("t2"), col("n_ab"),
          round((col("n_ab").cast("double") * col("n_sessions").cast("double")) /
            (col("n_a").cast("double") * col("n_b").cast("double")), 6).as("lift"))
        .orderBy("t1", "t2")
    }),

    // JSON payload shredding (§2.8: the reference exposes NO json functions;
    // the Spark engine surfaces them as first-class): extract props.$.k,
    // aggregate per event type. get_json_object is codegen'd — the parse
    // happens inside the scan stage, no UDF.
    "events_json_extract" -> ((spark, dir) => {
      XeFixture.events(spark, dir)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy(col("event_type"))
        .agg(count(col("k")).as("n_with_k"),
          sum(col("k")).as("sum_k"),
          countDistinct(col("k")).as("n_distinct_k"))
        .orderBy("event_type")
    }),

    // GROUPING SETS beyond rollup: the (status, priority) lattice INCLUDING
    // the priority-only set rollup can't express, disambiguated by
    // grouping_id — one shuffle produces all four aggregation levels
    // (Catalyst expands sets into a single Expand + partial agg, not N scans).
    "grouping_sets_orders" -> ((spark, dir) => {
      t(spark, dir, "orders")
        .groupingSets(
          Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
            Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq()),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(grouping_id().as("gid"),
          count(lit(1)).as("n_orders"),
          sum(dec(col("o_totalprice"))).cast("double").as("total_price"))
        .orderBy(col("gid"), col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)
    }),

    // RANGE-frame sliding aggregate: per event, that user's event count
    // and exact value sum over the trailing 10 minutes — the range frame
    // (time-bounded, not row-bounded) the rate-limiter/fraud-score
    // family needs. Frame bounds in integer µs on a numeric ORDER key.
    "events_rolling_window" -> ((spark, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("us"))
        .rangeBetween(-600000000L, Window.currentRow)
      XeFixture.events(spark, dir)
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("us"), col("value"))
        .withColumn("n_10m", count(lit(1)).over(w))
        .withColumn("sum_10m", sum(dec(col("value"))).over(w).cast("double"))
        .select("event_id", "user_id", "n_10m", "sum_10m")
        .orderBy("event_id")
    }),

    // Daily actives: per day, events / distinct actives / first-time
    // users / running total of known users. The cumulative distinct is
    // the first-seen-flag + running-sum trick — no windowed
    // countDistinct exists on either engine.
    "events_daily_active" -> ((spark, dir) => {
      val ev = XeFixture.events(spark, dir)
        .select(col("user_id"), to_date(col("ts")).as("d"), col("event_id"))
      val firstSeen = ev.groupBy(col("user_id")).agg(min(col("d")).as("first_d"))
      val daily = ev.groupBy(col("d"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_active"))
      val newbies = firstSeen.groupBy(col("first_d").as("d"))
        .agg(count(lit(1)).as("n_new"))
      // global window is safe here: the frame is one row per DAY
      // (post-aggregation), bounded by the calendar, not the corpus
      val wcum = Window.orderBy(col("d"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily.join(newbies, Seq("d"), "left")
        .withColumn("n_new", coalesce(col("n_new"), lit(0L)))
        .withColumn("cum_users", sum(col("n_new")).over(wcum))
        .orderBy("d")
    }),

    // OHLC downsampling: 5-minute bars per event type — open/close via
    // min_by/max_by on the unique (ts, event_id) order, bar key by exact
    // integer µs arithmetic (us - us%300e6; a double division would drift
    // from the oracle). One (type, bar)-keyed exchange.
    "events_ohlc" -> ((spark, dir) => {
      val us = unix_micros(col("ts"))
      val bar = (us - pmod(us, lit(300000000L))).as("bar_us")
      val ord = struct(us.as("u"), col("event_id"))
      XeFixture.events(spark, dir)
        .groupBy(col("event_type"), bar)
        .agg(min_by(col("value"), ord).as("open"),
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          max_by(col("value"), ord).as("close"),
          count(lit(1)).as("n_events"),
          sum(dec(col("value"))).cast("double").as("total_value"))
        .orderBy("event_type", "bar_us")
    }),

    // Salted two-stage aggregation (corpus.Skew.saltedSumCount) under
    // the oracle gate: the skew-mitigation path must return EXACTLY the
    // plain groupBy's answer — partials per (key, salt) spread a hot key
    // over saltBuckets reducers, stage 2 recombines. DECIMAL partials
    // keep the two-stage sum associative (a raw double two-stage sum
    // could differ from the one-stage oracle by accumulation order).
    "events_salted_agg" -> ((spark, dir) => {
      graft.corpus.Skew.saltedSumCount(XeFixture.events(spark, dir),
          col("event_type"), dec(col("value")), saltBuckets = 8)
        .select(col("k").as("event_type"),
          col("total").cast("double").as("total_value"),
          col("n").as("n_events"))
        .orderBy("event_type")
    }),

    // Salted fact-dim JOIN (corpus.Skew.saltedJoin) under the oracle
    // gate: the (key, salt) rewrite must return EXACTLY the plain inner
    // join's rows. The demo dim (customer) is broadcast-sized, but the
    // operator is the "dim too big to broadcast, fact skewed on the
    // key" path — each hot user's events land on 8 reducers instead of
    // one straggler. DECIMAL aggregation on top keeps the rollup
    // order-independent for the cross-engine hash.
    "events_salted_join" -> ((spark, dir) => {
      val ev = XeFixture.events(spark, dir).select(col("user_id").as("k"),
        col("value"))
      val cust = t(spark, dir, "customer").select(col("c_custkey").as("k"),
        col("c_mktsegment"))
      graft.corpus.Skew.saltedJoin(ev, cust, "k", saltBuckets = 8)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_events"),
          sum(dec(col("value"))).cast("double").as("total_value"))
        .orderBy("c_mktsegment")
    }),

    // Blocked fuzzy best-match (operators.FuzzyMatch): resolve typo'd
    // part names back to the clean name dictionary — the entity-
    // resolution step that reconciles noisy metadata to a canonical
    // vocabulary before grouping on it. The dirty side is derived
    // deterministically from the dictionary itself (drop the char at
    // 1-based position (len % 5) + 2 — never position 1, so the
    // first-char block key survives the typo by construction, which is
    // the blocking contract the operator documents). Both sides are
    // vocab-bounded (distinct names), the join is a prefix equi-join,
    // and the winner rule (min dist, then lexicographic) is replayed
    // verbatim by the oracle's window.
    "fuzzy_match_names" -> ((spark, dir) => {
      val names = t(spark, dir, "part").select(col("p_name")).distinct()
      val p = pmod(length(col("p_name")), lit(5)) + 2
      val dirty = names.select(concat(
          col("p_name").substr(lit(1), p - 1),
          col("p_name").substr(p + 1, length(col("p_name"))))
        .as("dirty_name"))
      graft.operators.FuzzyMatch.bestMatch(dirty, names,
          "dirty_name", "p_name", maxDist = 2, lenBand = 2)
        .select(col("dirty").as("dirty_name"), col("best_match"),
          col("dist"), col("n_candidates"))
        .orderBy("dirty_name")
    }),

    // ER clustering (the step after pairwise fuzzy matching): blocked
    // fuzzy edges (levenshtein <= 3 within the first-char block +
    // length band) over the part-name dictionary, connected components
    // via Dedup's star-contraction operator, every name mapped to its
    // cluster's canonical representative (the min-hash60 member — an
    // arbitrary-but-deterministic pick both engines replay). Names with
    // no in-budget neighbor stay their own canonical via the left join.
    // Scale: dictionary-sized sides, block-keyed equi-join for edges,
    // log-round star contraction for components.
    "er_resolve_clusters" -> ((spark, dir) => {
      import graft.corpus.{Dedup, TextAnalysis => T}
      val ids = t(spark, dir, "part").select(col("p_name")).distinct()
        .withColumn("id", T.hash60(col("p_name")))
      val a = ids.select(col("p_name").as("n1"), col("id").as("d1"),
        substring(col("p_name"), 1, 1).as("blk"))
      val b = ids.select(col("p_name").as("n2"), col("id").as("d2"),
        substring(col("p_name"), 1, 1).as("blk"))
      val edges = a.join(b, Seq("blk"))
        .filter(col("n1") < col("n2") &&
          abs(length(col("n1")) - length(col("n2"))) <= 2 &&
          levenshtein(col("n1"), col("n2")) <= 3)
        .select(col("d1"), col("d2"))
      val clus = Dedup.dupClusters(edges)
      ids.join(clus, ids("id") === clus("doc_id"), "left")
        .join(ids.select(col("id").as("cid"),
          col("p_name").as("canonical_name")),
          col("canonical_id") === col("cid"), "left")
        .select(col("p_name"),
          coalesce(col("canonical_name"), col("p_name")).as("canonical_name"))
        .orderBy("p_name")
    }),

    // Interval-union coverage (the sweep-line island trick): each error
    // event opens a 5-minute outage window; per user, merged windows →
    // number of distinct outage islands + total covered µs. Running max
    // over the window start order detects island breaks — one user-keyed
    // exchange feeds both windows and the final rollup, all-integer math.
    "events_coverage" -> ((spark, dir) => {
      val iv = XeFixture.events(spark, dir)
        .filter(col("event_type") === "error")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("lo"),
          (unix_micros(col("ts")) + 300000000L).as("hi"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("lo"), col("event_id"))
      val prevMax = max(col("hi")).over(
        w.rowsBetween(Window.unboundedPreceding, -1))
      val marked = iv
        .withColumn("is_new",
          when(prevMax.isNull || col("lo") > prevMax, 1L).otherwise(0L))
        .withColumn("island",
          sum(col("is_new")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      marked.groupBy(col("user_id"), col("island"))
        .agg(min(col("lo")).as("ilo"), max(col("hi")).as("ihi"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_islands"),
          sum(col("ihi") - col("ilo")).as("covered_us"))
        .orderBy("user_id")
    }),

    // Changelog compaction (CDC latest-state): one surviving row per key,
    // the most recent by (ts, event_id). The window form shuffles each key
    // group once — the merge-on-read compaction step of any upsert table.
    "events_latest_state" -> ((spark, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      XeFixture.events(spark, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_id").as("last_event_id"),
          unix_micros(col("ts")).as("last_ts_us"),
          col("event_type").as("last_event_type"))
        .orderBy("user_id")
    }),

    // Anti-join surface: churn — customers with no order since 2000-01-01,
    // rolled up per nation. The anti-join's right side prunes to a
    // key-only projection behind the pushed date filter; nation broadcast.
    "customers_without_orders" -> ((spark, dir) => {
      val cust = t(spark, dir, "customer")
      val ord = t(spark, dir, "orders")
        .filter(col("o_orderdate") >= lit("2000-01-01").cast("date"))
        .select(col("o_custkey")).distinct()
      val nat = t(spark, dir, "nation")
      cust.join(ord, cust("c_custkey") === ord("o_custkey"), "left_anti")
        .join(broadcast(nat), cust("c_nationkey") === nat("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_churned_customers"),
          sum(dec(col("c_acctbal"))).cast("double").as("churned_acctbal"))
        .orderBy("n_name")
    }),

    // Cohort retention: users cohorted by first-seen day; per (cohort,
    // day-offset) distinct returning users at offsets 0/1/3/7. Two
    // user-keyed aggregations + one broadcast-sized join — the classic
    // event-analytics rollup the loaded tables exist to serve.
    "events_retention" -> ((spark, dir) => {
      val ev = XeFixture.events(spark, dir)
        .select(col("user_id"), to_date(col("ts")).as("d"))
      val first = ev.groupBy(col("user_id")).agg(min(col("d")).as("cohort_day"))
      val act = ev.distinct()
      act.join(first, Seq("user_id"))
        .withColumn("day_offset", datediff(col("d"), col("cohort_day")))
        .filter(col("day_offset").isin(0, 1, 3, 7))
        .groupBy(col("cohort_day"), col("day_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy("cohort_day", "day_offset")
    }),

    // Incremental view maintenance for JOINS — the delta algebra
    // events_incr_refresh applies to aggregates, extended to the
    // binary-join case: Δ(A⋈B) = ΔA⋈B_old ∪ A_old⋈ΔB ∪ ΔA⋈ΔB, so a
    // production deployment absorbs a batch by joining ONLY the deltas
    // against the materialized old view. Nothing persists between
    // verify runs, so THIS query recomputes the old-view term inline —
    // what the hash gate proves is the delta-algebra identity (the
    // four terms partition the from-scratch join the oracle computes),
    // not the incremental COST, which needs the materialized view.
    // Both base tables are checkpointed so the four terms read one
    // scan each, not four. Deterministic split: orderkey%97 /
    // custkey%89 are the "arriving batch".
    "ivm_join_delta" -> ((spark, dir) => {
      val o = t(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .localCheckpoint(false)
      val c = t(spark, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
        .localCheckpoint(false)
      val dO = o.filter(col("o_orderkey") % 97 === 0)
      val oOld = o.filter(col("o_orderkey") % 97 =!= 0)
      val dC = c.filter(col("c_custkey") % 89 === 0)
      val cOld = c.filter(col("c_custkey") % 89 =!= 0)
      def j(a: DataFrame, b: DataFrame): DataFrame =
        a.join(broadcast(b), col("o_custkey") === col("c_custkey"))
          .select(col("c_nationkey"), dec(col("o_totalprice")).as("p"))
      val maintained = j(oOld, cOld)
        .unionByName(j(dO, cOld))
        .unionByName(j(oOld, dC))
        .unionByName(j(dO, dC))
      maintained.groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("p")).cast("double"), 2).as("total_price"))
        .orderBy("c_nationkey")
    }),

    // TPC-H Q13 shape (the double aggregate over an outer join):
    // distribution of customers by order count, INCLUDING the
    // zero-order customers a plain inner join would silently drop —
    // the classic histogram-of-a-histogram. First rollup at customer
    // grain off the left join, second at count grain (bounded domain).
    "q13_custdist" -> ((spark, dir) => {
      val c = t(spark, dir, "customer").select(col("c_custkey"))
      val o = t(spark, dir, "orders").select(col("o_custkey"))
      c.join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_custkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }),

    // Inter-arrival burstiness per event type: the squared coefficient
    // of variation of user-level gaps (CV² = var/mean²; 1 = Poisson,
    // >1 = bursty, <1 = regular) — the traffic-shape diagnostic behind
    // rate-limit sizing. Gaps reuse the dwell definition (same 8 h
    // session fence). EXACT: cv2_ppm = (n·Σx² − S²)·10⁶ div S² with
    // Σx² in DECIMAL(38,0) — the SUM of µs² squares leaves
    // BIGINT almost immediately (10⁶ gaps of ~17 min each is 10²⁴),
    // so the decimal ride is mandatory, not headroom.
    "events_burstiness" -> ((spark, dir) => {
      val ev = XeFixture.events(spark, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      ev.withColumn("gap_us", lead(col("ts_us"), 1).over(w) - col("ts_us"))
        .filter(col("gap_us").isNotNull && col("gap_us") >= 0 &&
          col("gap_us") < lit(28800000000L))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_gaps"),
          sum(col("gap_us")).as("s1"),
          sum(expr("CAST(gap_us AS DECIMAL(38,0)) * gap_us")).as("s2"))
        .filter(col("s1") > 0)
        .select(col("event_type"), col("n_gaps"),
          expr("s1 div n_gaps").as("mean_gap_us"),
          expr("""CAST((CAST(n_gaps AS DECIMAL(38,0)) * s2
                 |      - CAST(s1 AS DECIMAL(38,0)) * s1) * 1000000
                 |     div (CAST(s1 AS DECIMAL(38,0)) * s1) AS BIGINT)"""
            .stripMargin).as("cv2_ppm"))
        .orderBy("event_type")
    }),

    // Hour-of-day variance decomposition (one-way ANOVA η²) — does
    // time-of-day EXPLAIN the volume variance, or is the heatmap
    // pattern noise? Over the zero-filled (type, day, hour) grid every
    // hour group has the same size m = n_days, which makes η² EXACT in
    // integers: with 24 equal groups, η² = m·Σ_g(24·S_g − S)² /
    // Σ(24m·x − S)² — no rational group means anywhere (the unequal-
    // size general form would need per-group denominators). Products
    // ride DECIMAL(38,0) (S ~ total events per type; squaring leaves
    // BIGINT around 3M events/type). Everything after the hourly
    // rollup is grid grain.
    "events_hour_anova" -> ((spark, dir) => {
      val ev = XeFixture.events(spark, dir)
        .select(col("event_type"), to_date(col("ts")).as("day"),
          hour(col("ts")).cast("long").as("hr"))
      val cells = ev.groupBy("event_type", "day", "hr").agg(count(lit(1)).as("x"))
      val grid = ev.select("event_type").distinct()
        .crossJoin(broadcast(ev.select("day").distinct()))
        .crossJoin(broadcast(spark.range(24).select(col("id").as("hr"))))
        .join(cells, Seq("event_type", "day", "hr"), "left")
        .na.fill(0L, Seq("x"))
      val byType = Window.partitionBy(col("event_type"))
      val g = grid
        .withColumn("nn", count(lit(1)).over(byType))
        .withColumn("m", expr("nn div 24"))
        .withColumn("s", sum(col("x")).over(byType))
      val tot = g.groupBy(col("event_type"), col("m"), col("s"))
        .agg(sum(expr(
          """CAST(24 * m * x - s AS DECIMAL(38,0)) *
            |CAST(24 * m * x - s AS DECIMAL(38,0))""".stripMargin)).as("ss_tot"))
      val hourly = g.groupBy(col("event_type"), col("hr"))
        .agg(sum(col("x")).as("sg"), first(col("m")).as("m"), first(col("s")).as("s"))
        .groupBy(col("event_type"))
        .agg(sum(expr(
          """CAST(24 * sg - s AS DECIMAL(38,0)) *
            |CAST(24 * sg - s AS DECIMAL(38,0))""".stripMargin)).as("ssg"),
          first(col("m")).as("m2"))
      tot.join(hourly, Seq("event_type"))
        .withColumn("eta2_ppm",
          when(col("ss_tot") === 0, 0L).otherwise(expr(
            "CAST(CAST(m2 AS DECIMAL(38,0)) * ssg * 1000000 div ss_tot AS BIGINT)")))
        .select(col("event_type"), col("m").cast("long").as("n_days"),
          col("s").as("n_events"), col("eta2_ppm"))
        .orderBy("event_type")
    }),

    // Whale concentration — the volume-dominance audit (for a training
    // pipeline this is the same shape as "one crawl source is half the
    // corpus"): the top-25 users by total value, each with exact-ppm
    // share of the global total and the cumulative running share. The
    // top-k is a TakeOrdered (per-partition heaps, k-bounded — the
    // scale-safe way to ask "who are the whales"; a full Lorenz/Gini
    // would need a global user sort, which is exactly what this query
    // refuses to do); the running share is a window over the ≤k
    // survivors. Integer micro-units end-to-end; ties broken by
    // user_id.
    "events_whales" -> ((spark, dir) => {
      val totals = XeFixture.events(spark, dir)
        .select(col("user_id"),
          expr("CAST(round(coalesce(value, 0) * 1000000, 0) AS BIGINT)").as("v6"))
        .groupBy(col("user_id")).agg(sum(col("v6")).as("total_fp6"))
      val grand = totals.agg(sum(col("total_fp6")).as("grand_fp6"))
      val top = totals
        .orderBy(col("total_fp6").desc, col("user_id"))
        .limit(25)
      val w = Window.orderBy(col("total_fp6").desc, col("user_id"))
      top.crossJoin(broadcast(grand))
        .withColumn("rank", row_number().over(w).cast("long"))
        .withColumn("share_ppm", expr(
          "CAST(CAST(total_fp6 AS DECIMAL(38,0)) * 1000000 div grand_fp6 AS BIGINT)"))
        .withColumn("cum_fp6", sum(col("total_fp6"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("cum_share_ppm", expr(
          "CAST(CAST(cum_fp6 AS DECIMAL(38,0)) * 1000000 div grand_fp6 AS BIGINT)"))
        .select(col("rank"), col("user_id"), col("total_fp6"),
          col("share_ppm"), col("cum_share_ppm"))
        .orderBy("rank")
    }),

    // Cohort LTV triangle — the growth-accounting complement of
    // events_retention: for each signup-week cohort, CUMULATIVE
    // purchase value per member through week 0,1,2,… since first seen.
    // Reading down a column says whether newer cohorts monetize faster;
    // a flat row says the cohort stopped spending. Value stays in exact
    // integer micro-units; the cumulative ride is a window over the
    // (cohort, age) AGGREGATE grid — cohorts² cells, never row grain —
    // and per-member LTV is integer div by the fixed cohort size.
    "events_cohort_ltv" -> ((spark, dir) => {
      val ev = XeFixture.events(spark, dir)
        .select(col("user_id"), to_date(col("ts")).as("d"),
          expr("CAST(round(coalesce(value, 0) * 1000000, 0) AS BIGINT)").as("v6"),
          col("event_type"))
      val first = ev.groupBy(col("user_id")).agg(min(col("d")).as("first_day"))
      // ISO year*100+week (the events_wow_change idiom ≡ DuckDB
      // yearweek) so a span crossing New Year never folds two cohorts
      val cohortW = (expr("extract(YEAROFWEEK FROM first_day)") * 100 +
        weekofyear(col("first_day"))).cast("long").as("cohort_week")
      val sized = first.groupBy(cohortW)
        .agg(countDistinct(col("user_id")).as("cohort_size"))
      val cells = ev.filter(col("event_type") === "purchase")
        .join(first, Seq("user_id"))
        .select(cohortW,
          expr("CAST(datediff(d, first_day) div 7 AS BIGINT)").as("age_week"),
          col("v6"))
        .groupBy(col("cohort_week"), col("age_week"))
        .agg(sum(col("v6")).as("week_value_fp6"), count(lit(1)).as("n_purchases"))
      val w = Window.partitionBy(col("cohort_week")).orderBy(col("age_week"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cells.join(broadcast(sized), Seq("cohort_week"))
        .withColumn("cum_value_fp6", sum(col("week_value_fp6")).over(w))
        .withColumn("ltv_per_user_fp6", expr("cum_value_fp6 div cohort_size"))
        .select(col("cohort_week"), col("age_week"), col("cohort_size"),
          col("n_purchases"), col("week_value_fp6"), col("cum_value_fp6"),
          col("ltv_per_user_fp6"))
        .orderBy("cohort_week", "age_week")
    }),

    // Per-minute rate anomaly detection: minutes whose event count
    // exceeds mean + 3σ for their type. Variance from exact integer
    // sums (n·Σc² - (Σc)²) — only the final threshold runs in doubles,
    // with the same expression shape on both engines.
    "events_anomaly" -> ((spark, dir) => {
      val perMin = XeFixture.events(spark, dir)
        .groupBy(col("event_type"), date_trunc("minute", col("ts")).as("minute"))
        .agg(count(lit(1)).as("c"))
      val stats = perMin.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("c")).as("s1"),
          sum(col("c") * col("c")).as("s2"))
        .withColumn("mean_c", col("s1").cast("double") / col("n").cast("double"))
        // n=1 guard on BOTH engines: Spark's non-ANSI /0 yields NULL while
        // DuckDB's IEEE division yields inf — an unguarded single-minute
        // event type would diverge the oracle hash
        .withColumn("var_c",
          when(col("n") > 1,
            (col("n").cast("double") * col("s2").cast("double") -
              col("s1").cast("double") * col("s1").cast("double")) /
              (col("n").cast("double") * (col("n") - 1).cast("double"))))
      perMin.join(broadcast(stats), Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(min(col("n")).as("n_minutes"),
          round(min(col("mean_c")), 6).as("mean_per_minute"),
          round(sqrt(min(col("var_c"))), 6).as("std_per_minute"),
          sum(when(col("c").cast("double") >
            col("mean_c") + lit(3.0) * sqrt(col("var_c")), 1L).otherwise(0L))
            .as("n_anomalous"),
          max(col("c")).as("max_minute_count"))
        .orderBy("event_type")
    }),

    // Robust outlier census (the MAD complement to events_anomaly's
    // Benford first-digit conformity — the forensic data-quality check
    // (Benford 1938; Nigrini's fraud-audit standard): natural
    // multi-scale amounts follow P(d) = log10(1+1/d); fabricated or
    // truncated feeds don't. Expected proportions are the PUBLISHED
    // ppm table as integer literals in ONE CASE ladder shared verbatim
    // by both engines (the irrational log10 values never get computed),
    // the first digit comes from the exact micro-unit integer's decimal
    // string (shifting by 10⁶ preserves the leading digit), and
    // obs/dev stay in integer ppm. Two type-keyed rollups, 5-row
    // broadcast back — aggregate grain after one scan.
    "events_benford" -> ((spark, dir) => {
      val ev = XeFixture.events(spark, dir)
        .select(col("event_type"),
          round(col("value") * 1000000, 0).cast("long").as("v"))
        .filter(col("v") > 0)
        .withColumn("digit",
          substring(col("v").cast("string"), 1, 1).cast("long"))
      val cnt = ev.groupBy(col("event_type"), col("digit"))
        .agg(count(lit(1)).as("n"))
      val tot = ev.groupBy(col("event_type")).agg(count(lit(1)).as("n_type"))
      cnt.join(broadcast(tot), "event_type")
        .withColumn("obs_ppm", expr("n * 1000000L div n_type"))
        .withColumn("benford_ppm", expr(benfordCaseSql))
        .withColumn("dev_ppm", abs(col("obs_ppm") - col("benford_ppm")))
        .select(col("event_type"), col("digit"), col("n"),
          col("obs_ppm"), col("benford_ppm"), col("dev_ppm"))
        .orderBy("event_type", "digit")
    }),

    // mean+3σ — a few extreme values inflate σ and hide themselves;
    // median/MAD does not care): per event type, the rank-based lower
    // median of value, the median absolute deviation, and how many
    // events sit beyond 3·MAD. Medians are picked by row_number at
    // (n+1) div 2 over a fully-tied-broken order (value, event_id) in
    // integer micro-units — no percentile interpolation semantics to
    // match across engines, no doubles until the output. Scale: two
    // type-keyed windows + a 5-row broadcast join back; per-type
    // partitions sort in parallel.
    "events_mad_outliers" -> ((spark, dir) => {
      val ev = XeFixture.events(spark, dir).select(col("event_type"),
        col("event_id"), round(col("value") * 1000000, 0).cast("long").as("v"))
      val byType = Window.partitionBy(col("event_type"))
      val med = ev
        .withColumn("rn", row_number().over(byType.orderBy(col("v"), col("event_id"))))
        .withColumn("n", count(lit(1)).over(byType))
        .filter(col("rn") === expr("(n + 1) div 2"))
        .select(col("event_type"), col("v").as("med"), col("n"))
      val dev = ev.join(broadcast(med), Seq("event_type"))
        .withColumn("d", abs(col("v") - col("med")))
      val mad = dev
        .withColumn("rn", row_number().over(byType.orderBy(col("d"), col("event_id"))))
        .filter(col("rn") === expr("(n + 1) div 2"))
        .select(col("event_type"), col("d").as("mad"))
      dev.join(broadcast(mad), Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(min(col("n")).as("n_events"),
          round(min(col("med")).cast("double") / 1000000.0, 6).as("median_value"),
          round(min(col("mad")).cast("double") / 1000000.0, 6).as("mad_value"),
          sum(when(col("d") > lit(3L) * col("mad"), 1L).otherwise(0L))
            .as("n_outliers"))
        .orderBy("event_type")
    }),

    // Window-function breadth over per-user lifetime value: ntile decile,
    // percent_rank, cume_dist — all over ONE deterministic ordering
    // (total desc, user id tie-break), so every engine ranks identically.
    //
    // NOT a global `Window.orderBy` (which funnels every user through one
    // task — the classic 100 TB scale-killer): the ordering key is unique,
    // so rank == row_number with no cume_dist peers, and a global row
    // number decomposes into a two-pass rank — range-partition on the
    // ordering, row_number within each (parallel) partition, plus the
    // broadcast count of rows in all earlier partitions. The per-partition
    // counts are shuffle.partitions-many rows — legitimately driver-sized.
    // ntile/percent_rank/cume_dist are then closed-form in (row, n).
    "events_value_deciles" -> ((spark, dir) => {
      val totals = XeFixture.events(spark, dir)
        .groupBy(col("user_id"))
        .agg(sum(dec(col("value"))).cast("double").as("total_value"))
      // ONE job, no persist, no driver collect (round 6 pinned this frame
      // with a persist that was never released — a block-store leak in any
      // long-lived session): the counts branch and the rank branch hang
      // off the SAME range exchange, which ReuseExchange materializes once
      // (plan-gated), so boundary sampling runs once and `pid` agrees
      // across branches by construction. The explicit partition count
      // keeps AQE from re-coalescing the two reads differently — pid is
      // assigned AFTER the shuffle read, so branch-divergent coalescing
      // would desync the offsets.
      // CONFIG SENSITIVITY (round-7 advice): correctness of the pid
      // offsets rests on ReuseExchange deduplicating this range exchange.
      // If reuse were disabled (spark.sql.exchangeReuseEnabled=false) or
      // a future planner change split the branches, each would re-SAMPLE
      // range boundaries independently and pids could desync silently.
      // The PlanSpec gate asserts exactly-one range exchange under the
      // shipped config; flip that gate first if you touch this plan.
      val nPart = spark.conf.get("spark.sql.shuffle.partitions").toInt
      val ranged = totals
        .repartitionByRange(nPart, col("total_value").desc, col("user_id"))
        .withColumn("pid", spark_partition_id())
      // per-partition counts: shuffle.partitions-many rows — tiny. Prefix
      // offsets via a triangle join over those rows (no global window: a
      // SinglePartition sort anywhere in this plan is what the two-pass
      // rank exists to avoid, and the gate asserts its absence).
      val counts = ranged.groupBy(col("pid")).agg(count(lit(1)).as("cnt"))
      val tot = counts.agg(sum(col("cnt")).cast("long").as("n"))
      val off = counts.as("a")
        .join(counts.as("b"), col("b.pid") < col("a.pid"), "left")
        .groupBy(col("a.pid").as("pid"))
        .agg(coalesce(sum(col("b.cnt")), lit(0L)).as("off"))
        .crossJoin(broadcast(tot)) // 1-row total fans onto ≤ nPart rows
      val localW = Window.partitionBy(col("pid"))
        .orderBy(col("total_value").desc, col("user_id"))
      // exact ntile(k): the first n%k tiles get ceil(n/k) rows, the rest
      // floor(n/k) — closed form below matches SQL ntile row-for-row,
      // with (q, rem, cut) as columns of the broadcast offsets frame
      val k = 10L
      val n = col("n")
      val q = floor(n / lit(k)).cast("long")
      val rem = n % lit(k)
      val cut = (q + lit(1L)) * rem
      val rn = row_number().over(localW).cast("long") + col("off")
      val decile = when(q === 0L, rn)
        .when(rn <= cut, ceil(rn.cast("double") / (q + lit(1L)).cast("double")))
        .otherwise(rem + ceil((rn - cut).cast("double") / q.cast("double")))
      val pctRank = when(n > 1L,
        (rn - lit(1L)).cast("double") / (n - lit(1L)).cast("double"))
        .otherwise(lit(0.0))
      ranged.join(broadcast(off), Seq("pid"))
        .select(col("user_id"), col("total_value"),
          decile.cast("int").as("decile"),
          round(pctRank, 6).as("pct_rank"),
          round(rn.cast("double") / n.cast("double"), 6).as("cume"))
        .orderBy("user_id")
    }),

    // Streaming windowed aggregation under the ORACLE gate (§2.9): exact
    // per-(event_type, minute) tumbling-window counts computed by
    // Structured Streaming — event-time window + watermark, APPEND mode —
    // must equal the plain batch GROUP BY. Append mode only emits a
    // window once the watermark passes its end, so two sentinel events
    // (10 and 20 minutes past the corpus max, each its own micro-batch)
    // push the watermark beyond every real window; without them the
    // trailing windows would sit in state forever and the sink would be
    // incomplete. The watermark is applied from the PREVIOUS batch's max
    // event time, hence two sentinels: the first advances it past the
    // real data, the second makes a batch run with that watermark so the
    // final real windows actually evict. Sentinel rows are filtered from
    // the result (the second sentinel's window can legitimately emit).
    "stream_rate_minute" -> ((spark, dir) => {
      import spark.implicits._
      def scratch(tag: String): String =
        Scratch.dir(spark, s"graft_rate_$tag", dir)
      val inDir = scratch("in"); val outDir = scratch("out")
      val ckpt = scratch("ckpt")
      val ev = XeFixture.events(spark, dir).select(col("ts"), col("event_type"))
      dropWithSentinels(spark, ev, inDir)((i, maxTs) =>
        Seq((new java.sql.Timestamp(maxTs.getTime + i * 600000L), "zz_sentinel"))
          .toDF("ts", "event_type"))
      StreamTuning.runToEnd(spark)(
        spark.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(s"$inDir/*")
          .withWatermark("ts", "1 minute")
          .groupBy(window(col("ts"), "1 minute"), col("event_type"))
          .agg(count(lit(1)).as("n_events"))
          .select(unix_micros(col("window.start")).as("minute_us"),
            col("event_type"), col("n_events"))
          .writeStream.outputMode("append").format("parquet")
          .option("path", outDir).option("checkpointLocation", ckpt))
      spark.read.parquet(outDir)
        .filter(col("event_type") =!= "zz_sentinel")
        .orderBy("minute_us", "event_type")
    }),

    // Stream-STATIC join under the ORACLE gate (§2.9): the in-flight
    // right-to-be-forgotten filter — a static erasure list joined into
    // the live stream so deleted users' events never reach the sink
    // (the streaming face of events_forget). Stream-static left-anti
    // isn't in Spark's supported-join matrix, so the anti is the
    // canonical left-outer + IS NULL; the static side broadcasts, so
    // the stream never shuffles for it. Row-emitting (no watermark
    // finalization needed); census computed from the sink.
    "stream_forget" -> ((spark, dir) => {
      def scratch(tag: String): String =
        Scratch.dir(spark, s"graft_sforget_$tag", dir)
      val inDir = scratch("in"); val outDir = scratch("out")
      val ckpt = scratch("ckpt")
      val ev = XeFixture.events(spark, dir)
        .select(col("event_id"), col("user_id"), col("event_type"))
      ev.coalesce(1).write.parquet(s"$inDir/b0")
      val dels = ev.select(col("user_id")).distinct()
        .filter(pmod(col("user_id"), lit(13L)) === 0L)
        .withColumn("_erased", lit(1))
      StreamTuning.runToEnd(spark)(
        spark.readStream.schema(ev.schema).parquet(s"$inDir/*")
          .join(broadcast(dels), Seq("user_id"), "left_outer")
          .filter(col("_erased").isNull).drop("_erased")
          .writeStream.outputMode("append").format("parquet")
          .option("path", outDir).option("checkpointLocation", ckpt))
      spark.read.parquet(outDir)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_after"),
          countDistinct(col("user_id")).as("n_users_after"))
        .orderBy("event_type")
    }),

    // Built-in SESSION windows under the ORACLE gate (§2.9): Spark's
    // native session_window (gap-merging event-time windows, the
    // state-store-backed sibling of the flatMapGroupsWithState machine
    // in stream_sessionize) must produce exactly the batch gap-split
    // sessions — start = first event, end = last event + gap, broken
    // when the inter-event gap reaches 30 min. Same sentinel discipline
    // as stream_rate_minute: append mode only emits a session once the
    // watermark passes its END, so two global sentinels (1 h and 2 h past
    // corpus max, separate micro-batches) flush every real session;
    // sentinel user −1 is filtered from the result.
    "stream_session_window" -> ((spark, dir) => {
      import spark.implicits._
      def scratch(tag: String): String =
        Scratch.dir(spark, s"graft_sesswin_$tag", dir)
      val inDir = scratch("in"); val outDir = scratch("out")
      val ckpt = scratch("ckpt")
      val ev = XeFixture.events(spark, dir)
        .select(col("ts"), col("user_id"))
      dropWithSentinels(spark, ev, inDir)((i, maxTs) =>
        Seq((new java.sql.Timestamp(maxTs.getTime + i * 3600000L), -1L))
          .toDF("ts", "user_id"))
      StreamTuning.runToEnd(spark)(
        spark.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(s"$inDir/*")
          .withWatermark("ts", "1 minute")
          .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
          .agg(count(lit(1)).as("n_events"))
          .select(unix_micros(col("session_window.start")).as("start_us"),
            unix_micros(col("session_window.end")).as("end_us"),
            col("user_id"), col("n_events"))
          .writeStream.outputMode("append").format("parquet")
          .option("path", outDir).option("checkpointLocation", ckpt))
      spark.read.parquet(outDir)
        .filter(col("user_id") =!= -1L)
        .orderBy("user_id", "start_us")
    }),

    // Stream-stream interval join under the ORACLE gate (§2.9): the
    // attribution join (clicks ⋈ purchases within a 10-minute lookback,
    // both sides watermarked) must emit exactly the pairs the batch
    // interval join produces. INNER join rows emit as soon as both sides
    // have arrived — no watermark finalization needed for completeness
    // (the watermark only bounds join STATE), so no sentinels here,
    // unlike the windowed-agg query above.
    "stream_asof_attribution" -> ((spark, dir) => {
      def scratch(tag: String): String =
        Scratch.dir(spark, s"graft_attr_$tag", dir)
      val clickDir = scratch("clicks"); val purchDir = scratch("purch")
      val outDir = scratch("out"); val ckpt = scratch("ckpt")
      val ev = XeFixture.events(spark, dir)
        .select(col("event_id"), col("user_id"), col("ts"),
          col("event_type"), col("value"))
      ev.filter(col("event_type") === "click").coalesce(1)
        .write.parquet(s"$clickDir/b0")
      ev.filter(col("event_type") === "purchase").coalesce(1)
        .write.parquet(s"$purchDir/b0")
      StreamTuning.runToEnd(spark) {
        val clicks = spark.readStream.schema(ev.schema).parquet(s"$clickDir/*")
        val purchases = spark.readStream.schema(ev.schema).parquet(s"$purchDir/*")
        // 4-hour lookback: the fixture's event density leaves the default
        // 10-minute window with a near-empty (4-row) result at the gate
        // scale — too thin to verify anything. State stays bounded by
        // watermark + lookback either way.
        graft.streaming.EventStream
          .attributionJoin(clicks, purchases, lookback = "240 minutes")
          .writeStream.outputMode("append").format("parquet")
          .option("path", outDir).option("checkpointLocation", ckpt)
      }
      spark.read.parquet(outDir)
        .select(col("click_id"), col("user_id"),
          unix_micros(col("click_ts")).as("click_us"),
          unix_micros(col("purch_ts")).as("purch_us"),
          col("purch_value"))
        .orderBy("click_id", "purch_us", "purch_value")
    }),

    // Stateful sessionization under the ORACLE gate (§2.9): the
    // flatMapGroupsWithState gap-session operator must produce exactly
    // the batch gap-split sessions of events_sessionize (same 8h gap,
    // minus the value rollup — the operator's state is count + bounds).
    // All real events arrive in ONE micro-batch (cross-batch disorder is
    // a harness artifact, not query semantics); two sentinel batches
    // then push the watermark past every open session's timeout
    // (end + gap), so event-time timeouts close and emit them — the
    // same two-step watermark discipline as stream_rate_minute (the
    // watermark batch N evicts with was computed from batch N-1's max
    // event time).
    "stream_sessionize" -> ((spark, dir) => {
      import spark.implicits._
      def scratch(tag: String): String =
        Scratch.dir(spark, s"graft_sess_$tag", dir)
      val inDir = scratch("in"); val outDir = scratch("out")
      val ckpt = scratch("ckpt")
      val gapMs = 28800000L // 8 h, = events_sessionize's 28800000000 µs
      val ev = XeFixture.events(spark, dir)
        .select(col("user_id").as("session_id"), col("ts"),
          col("event_type").as("event_name"))
      // sentinel i sits gap + i·11min past the corpus max under its own
      // key: after its batch the watermark (10min delay) clears every
      // real session's end+gap timeout; the second sentinel's batch runs
      // with that watermark so the timeouts actually fire
      dropWithSentinels(spark, ev, inDir)((i, maxTs) =>
        Seq((-1L, new java.sql.Timestamp(maxTs.getTime + gapMs + i * 660000L), "zz"))
          .toDF("session_id", "ts", "event_name"))
      StreamTuning.runToEnd(spark) {
        val stream = spark.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", 1).parquet(s"$inDir/*")
          .as[graft.streaming.SessionEvent]
        graft.streaming.Sessionize.sessionize(stream, gapMs)
          .writeStream.outputMode("append").format("parquet")
          .option("path", outDir).option("checkpointLocation", ckpt)
      }
      spark.read.parquet(outDir)
        .filter(col("session_id") >= 0L)
        .select(col("session_id").as("user_id"), col("n_events"),
          unix_micros(col("start_ts")).as("start_us"),
          unix_micros(col("end_ts")).as("end_us"))
        .orderBy("user_id", "start_us")
    }),

    // Streaming funnel under the ORACLE gate (§2.9): the
    // flatMapGroupsWithState view→click→purchase state machine must
    // complete exactly the users the batch window funnel completes,
    // with the same witnessing stage times. Completions emit inline the
    // moment the purchase arrives (emission ≠ finalization for this
    // operator), so no sentinel batches are needed — the event-time
    // timeout only clears state for users who never finish.
    "stream_funnel" -> ((spark, dir) => {
      import spark.implicits._
      def scratch(tag: String): String =
        Scratch.dir(spark, s"graft_funl_$tag", dir)
      val inDir = scratch("in"); val outDir = scratch("out")
      val ckpt = scratch("ckpt")
      val ev = XeFixture.events(spark, dir)
        .select(col("user_id"), col("ts"), col("event_type"))
      // one micro-batch: cross-trigger disorder is the operator's
      // documented O(1)-state caveat, not part of the equivalence claim
      ev.coalesce(1).write.parquet(s"$inDir/b0")
      StreamTuning.runToEnd(spark) {
        val stream = spark.readStream.schema(ev.schema).parquet(s"$inDir/*")
          .as[graft.streaming.FunnelEvent]
        graft.streaming.Funnel.funnel(stream)
          .writeStream.outputMode("append").format("parquet")
          .option("path", outDir).option("checkpointLocation", ckpt)
      }
      spark.read.parquet(outDir)
        .select(col("user_id"),
          unix_micros(col("t_view")).as("view_us"),
          unix_micros(col("t_click")).as("click_us"),
          unix_micros(col("t_purchase")).as("purchase_us"))
        .orderBy("user_id")
    }),

    // Pivot: order status → columns, priorities → rows. Explicit value
    // list keeps the plan single-pass (no distinct-values pre-scan) and
    // the output schema static — which is also what the 100 TB plan needs.
    "pivot_revenue" -> ((spark, dir) => {
      t(spark, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(sum(dec(col("o_totalprice"))).cast("double"))
        .select(col("o_orderpriority"), col("F").as("price_f"),
          col("O").as("price_o"), col("P").as("price_p"))
        .orderBy("o_orderpriority")
    }),

    // SCD type-2 dimension history (operators.Scd2) — the CDC/merge
    // surface of a warehouse loader. The version stream is derived
    // deterministically from `customer`: the 1992 base snapshot, a 1995
    // segment-change wave (custkey % 10), a 1996 wave that re-emits the
    // then-current image UNCHANGED (custkey % 30 — must be suppressed as
    // a no-op, the CDC re-emission case), and a 1998 nationkey-change
    // wave (custkey % 20). One key-hash exchange carries both window
    // passes (plan-gated).
    "scd2_customers" -> ((spark, dir) =>
      scd2History(spark, dir).orderBy("c_custkey", "version")),

    // The consumption side of SCD2 — the temporal validity join every
    // history table exists to serve: each order joins the customer
    // version VALID AT order time (equi on the key + interval residual,
    // so the plan stays a key-partitioned join — never a range scan),
    // then rolls up revenue by the version-valid segment. At 100 TB the
    // fact side shuffles once by custkey; history is dimension-sized.
    "scd2_lookup" -> ((spark, dir) => {
      val hist = scd2History(spark, dir)
      val ord = t(spark, dir, "orders")
        .select(col("o_custkey"), to_date(col("o_orderdate")).as("od"),
          col("o_totalprice"))
      ord.join(hist, ord("o_custkey") === hist("c_custkey") &&
          col("od") >= col("effective_from") && col("od") < col("effective_to"))
        .groupBy(col("c_mktsegment"), col("version"))
        .agg(count(lit(1)).as("n_orders"),
          sum(dec(col("o_totalprice"))).cast("double").as("total_price"))
        .orderBy("c_mktsegment", "version")
    }),

    // Incremental aggregate refresh (operators.IncrementalAgg): the
    // rolling-metric table maintained as partial-aggregate state merged
    // with the new partition's partials — never rescanning history. The
    // oracle is the FULL recompute over all events, so the hash gate
    // proves the refresh algebra exact (merge ∘ partials ≡ aggregate),
    // which only holds in the fixed-point integer domain.
    "events_incr_refresh" -> ((spark, dir) => {
      val cutUs = 1706140800000000L // 2024-01-25T00:00:00Z
      val ev = XeFixture.events(spark, dir).select(col("event_type"),
        unix_micros(col("ts")).as("us"),
        round(col("value") * 1000000, 0).cast("long").as("v"))
      val state = graft.operators.IncrementalAgg.partials(
        ev.filter(col("us") < cutUs), Seq("event_type"), col("v"))
      val delta = graft.operators.IncrementalAgg.partials(
        ev.filter(col("us") >= cutUs), Seq("event_type"), col("v"))
      refreshedAggregates(graft.operators.IncrementalAgg.merge(
        Seq(state, delta), Seq("event_type")))
    }),

    // Streaming materialized-view refresh under the ORACLE gate: the
    // events stream arrives as two file drops consumed in separate
    // micro-batches, streaming/MvRefresh folds each batch's partials
    // into the versioned state table, and the FINAL state must
    // hash-match the full batch recompute (the events_incr_refresh
    // oracle) — batch boundaries are a delivery artifact the refresh
    // algebra must be invisible to. No watermark/sentinel machinery:
    // the state is commutative-merge partials, not event-time windows.
    "stream_incr_refresh" -> ((spark, dir) => {
      def scratch(tag: String): String =
        Scratch.dir(spark, s"graft_mvr_$tag", dir)
      val inDir = scratch("in"); val ckpt = scratch("ckpt")
      val stateDir = scratch("state")
      // split on the NON-NULL event_id, and carry it into the drops:
      // a nullable split column would route null-valued rows to NEITHER
      // drop (both predicates evaluate to NULL), silently diverging the
      // streamed state from the exhaustive full-recompute oracle
      val ev = XeFixture.events(spark, dir).select(col("event_id"),
        col("event_type"), round(col("value") * 1000000, 0).cast("long").as("v"))
      ev.filter(col("event_id") % 2 === 0).coalesce(1).write.parquet(s"$inDir/drop1")
      ev.filter(col("event_id") % 2 =!= 0).coalesce(1).write.parquet(s"$inDir/drop2")
      StreamTuning.runToEnd(spark)(
        spark.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(s"$inDir/drop*")
          .writeStream
          .foreachBatch(graft.streaming.MvRefresh.refresh(
            stateDir, Seq("event_type"), col("v")) _)
          .option("checkpointLocation", ckpt))
      refreshedAggregates(graft.streaming.MvRefresh.read(spark, stateDir).get)
    }),

    // k-anonymity census over quasi-identifiers — the privacy-risk
    // check a curation pipeline runs before releasing per-record data:
    // any (nationkey, segment, balance-bucket) combination shared by
    // fewer than k rows re-identifies its members. One map-side-combined
    // groupBy at QI-combination grain; scale-free.
    "privacy_k_anon" -> ((spark, dir) => {
      t(spark, dir, "customer")
        .select(col("c_nationkey"), col("c_mktsegment"),
          floor(col("c_acctbal") / 1000.0).cast("long").as("bal_bucket"))
        .groupBy("c_nationkey", "c_mktsegment", "bal_bucket")
        .agg(count(lit(1)).as("n_rows"))
        .withColumn("at_risk", col("n_rows") < 5)
        .orderBy("c_nationkey", "c_mktsegment", "bal_bucket")
    }),

    // l-diversity census — k-anonymity's necessary complement: a QI
    // group can be large (k-safe) yet leak the sensitive attribute when
    // every member shares one value (the homogeneity attack). Here QI =
    // (segment, balance bucket), sensitive = nationkey; groups with
    // fewer than l distinct sensitive values are flagged. Same
    // map-side-combined distinct-agg shape as the k census.
    "privacy_l_diversity" -> ((spark, dir) => {
      t(spark, dir, "customer")
        .select(col("c_mktsegment"),
          floor(col("c_acctbal") / 1000.0).cast("long").as("bal_bucket"),
          col("c_nationkey"))
        .groupBy("c_mktsegment", "bal_bucket")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("c_nationkey")).as("n_sensitive"))
        .withColumn("homogeneity_risk", col("n_sensitive") < 3)
        .orderBy("c_mktsegment", "bal_bucket")
    }),

    // TPC-H Q10 shape (fact ⋈ fact on orderkey + two broadcast dims +
    // global top-N): revenue lost to returned lines per customer in one
    // quarter, top 20. The returnflag and order-date filters push into
    // the two scans BEFORE the orderkey join; customer and nation
    // broadcast; the top-20 runs as TakeOrdered (per-partition heaps →
    // driver merge), never a global sort. Exact decimal revenue; unique
    // custkey tie-break.
    "q10_returned_items" -> ((spark, dir) => {
      val l = t(spark, dir, "lineitem").filter(col("l_returnflag") === "R")
      val o = t(spark, dir, "orders")
        .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1995-04-01").cast("timestamp"))
      val c = t(spark, dir, "customer")
      val n = t(spark, dir, "nation")
      val rev = (dec(col("l_extendedprice")) *
        (lit(java.math.BigDecimal.ONE) - dec(col("l_discount")))).as("rev")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_name"), col("n_name"), rev)
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(round(sum(col("rev")).cast("double"), 2).as("lost_revenue"),
          count(lit(1)).as("n_returned_lines"))
        .orderBy(col("lost_revenue").desc, col("c_custkey"))
        .limit(20)
    }),

    // TPC-H Q19 shape (disjunctive multi-attribute predicate): revenue
    // from three OR'd (brand, size-range, quantity-range) clauses. The
    // shape exists to pin predicate handling — the quantity bounds cover
    // the whole OR so a common-factor filter pushes to the lineitem
    // scan, the brand/size residual evaluates post-broadcast-join, and
    // nothing falls back to a cartesian.
    "q19_disjunctive" -> ((spark, dir) => {
      val l = t(spark, dir, "lineitem")
      val p = t(spark, dir, "part")
        .select(col("p_partkey"), col("p_brand"), col("p_size"))
      val rev = (dec(col("l_extendedprice")) *
        (lit(java.math.BigDecimal.ONE) - dec(col("l_discount")))).as("rev")
      l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 10) &&
            col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#23" && col("p_size").between(1, 15) &&
            col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#34" && col("p_size").between(1, 25) &&
            col("l_quantity").between(20, 30)))
        .select(rev)
        .agg(round(sum(col("rev")).cast("double"), 2).as("revenue"),
          count(lit(1)).as("n_lines"))
    }),

    // TPC-H Q17 shape (correlated scalar aggregate → aggregate-then-
    // self-join): lines whose quantity is below 20% of their part's
    // average, per ship year. The per-part aggregate joins back to the
    // fact on the SAME key, so at scale one partkey exchange serves
    // both sides (AQE picks shuffle-hash); the 0.2·avg comparison is
    // division-free — qty·5·n < Σqty in exact DECIMAL — because an
    // avg division is the one step the two engines could round apart.
    "q17_small_quantity" -> ((spark, dir) => {
      val l = t(spark, dir, "lineitem")
      val pa = l.groupBy(col("l_partkey"))
        .agg(sum(dec(col("l_quantity"))).as("sum_qty"),
          count(lit(1)).as("n_lines"))
      l.join(pa, Seq("l_partkey"))
        .filter(dec(col("l_quantity")) * 5 * col("n_lines") < col("sum_qty"))
        .groupBy(year(col("l_shipdate")).cast("long").as("ship_year"))
        .agg(count(lit(1)).as("n_small_lines"),
          round(sum(dec(col("l_extendedprice"))).cast("double"), 2)
            .as("small_revenue"))
        .orderBy("ship_year")
    }),

    // TPC-H Q6 shape (pure scan-filter-aggregate, the pushdown litmus):
    // forecast-revenue delta from a (year, discount band, quantity cap)
    // slice. Zero joins, zero windows — every predicate must reach the
    // parquet scan and the whole query is one codegen span over the
    // surviving rows. Revenue = Σ price·discount in exact DECIMAL.
    "q6_band_revenue" -> ((spark, dir) => {
      t(spark, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) &&
          col("l_quantity") < 24)
        .agg(round(sum(dec(col("l_extendedprice")) * dec(col("l_discount")))
            .cast("double"), 2).as("revenue_delta"),
          count(lit(1)).as("n_lines"))
    }),

    // Dwell-time census — the engagement metric between consecutive
    // events: per event type of the CURRENT event, exact integer stats
    // of the gap to the user's next event (gaps ≥ 8 h are session
    // boundaries, not dwells, and are excluded — same constant as the
    // sessionizer). One user-keyed window; mean via explicit floor-div.
    "events_dwell_time" -> ((spark, dir) => {
      val ev = XeFixture.events(spark, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      ev.withColumn("dwell_us", lead(col("ts_us"), 1).over(w) - col("ts_us"))
        .filter(col("dwell_us").isNotNull &&
          col("dwell_us") < lit(28800000000L))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_dwells"),
          sum(col("dwell_us")).as("total_dwell_us"),
          max(col("dwell_us")).as("max_dwell_us"))
        .withColumn("mean_dwell_us",
          expr("total_dwell_us div n_dwells"))
        .orderBy("event_type")
    }),

    // TPC-H Q16 shape (distinct-count across a bridge): per brand, how
    // many DISTINCT suppliers shipped it and through how many parts —
    // the supplier-diversity report. lineitem bridges part→supplier;
    // part broadcasts; the distinct agg shuffles (brand, suppkey) pairs
    // only (map-side partial dedup first).
    "q16_brand_suppliers" -> ((spark, dir) => {
      val l = t(spark, dir, "lineitem").select(col("l_partkey"), col("l_suppkey"))
      val p = t(spark, dir, "part").select(col("p_partkey"), col("p_brand"))
      l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(countDistinct(col("l_suppkey")).as("n_suppliers"),
          countDistinct(col("l_partkey")).as("n_parts"),
          count(lit(1)).as("n_lines"))
        .orderBy("p_brand")
    }),

    // Session-duration distribution — exact nearest-rank p50/p90 over
    // gap-session lengths (µs) plus the single-event-session count
    // (duration 0 — the bounce mass dominating any session-length
    // histogram). Sessions from the shared assign operator; the rank
    // window runs over the session-grain frame, corpus-size-free.
    "events_session_percentiles" -> ((spark, dir) => {
      val s = sessionEvents(spark, dir)
      val durs = s.groupBy(col("user_id"), col("session_seq"))
        .agg((max(col("ts_us")) - min(col("ts_us"))).as("dur_us"),
          count(lit(1)).as("n_ev"))
      // nearest-rank via the cumulative count over DISTINCT durations:
      // the one global window runs over the value domain, never the
      // session count — the scale-honest exact-percentile shape (a
      // session-grain rank window would serialize the corpus's whole
      // session population through one partition)
      val tot = durs.agg(count(lit(1)).as("n"),
        sum(when(col("n_ev") === 1, 1L).otherwise(0L)).as("n_single"))
      val counts = durs.groupBy(col("dur_us")).agg(count(lit(1)).as("c"))
      val cum = counts
        .withColumn("cum", sum(col("c")).over(Window.orderBy(col("dur_us"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .crossJoin(broadcast(tot))
      cum.agg(max(col("n")).as("n_sessions"),
          max(col("n_single")).as("n_single_event"),
          min(when(col("cum") >= expr("(n * 50 + 99) div 100"),
            col("dur_us"))).as("p50_dur_us"),
          min(when(col("cum") >= expr("(n * 90 + 99) div 100"),
            col("dur_us"))).as("p90_dur_us"))
    }),

    // New-vs-returning daily split — the growth-accounting census on
    // top of daily actives: a user counts as NEW on their first-seen
    // day, RETURNING on any later active day. One user-keyed min
    // (first day) joined back to the distinct (user, day) activity
    // frame; new share in integer bps.
    "events_new_returning" -> ((spark, dir) => {
      val ud = XeFixture.events(spark, dir)
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val first = ud.groupBy(col("user_id")).agg(min(col("day")).as("first_day"))
      ud.join(first, Seq("user_id"))
        .withColumn("is_new", col("day") === col("first_day"))
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n_active"),
          sum(when(col("is_new"), 1L).otherwise(0L)).as("n_new"),
          sum(when(!col("is_new"), 1L).otherwise(0L)).as("n_returning"))
        .withColumn("new_share_bps", expr("n_new * 10000L div n_active"))
        .select(unix_date(col("day")).cast("long").as("day_idx"),
          col("n_active"), col("n_new"), col("n_returning"),
          col("new_share_bps"))
        .orderBy("day_idx")
    }),

    // Day-of-week × hour activity heatmap — the traffic-shape matrix
    // behind capacity planning: per (type, dow, hour) volumes with the
    // cell's share of its type in integer bps. Cross-engine dow:
    // Spark dayofweek is 1=Sunday, DuckDB dayofweek 0=Sunday — the
    // Spark side subtracts 1 so both emit 0..6.
    "events_heatmap" -> ((spark, dir) => {
      val cells = XeFixture.events(spark, dir)
        .select(col("event_type"),
          (dayofweek(col("ts")) - 1).cast("long").as("dow"),
          hour(col("ts")).cast("long").as("hr"))
        .groupBy("event_type", "dow", "hr")
        .agg(count(lit(1)).as("n_events"))
      cells
        .withColumn("type_total",
          sum(col("n_events")).over(Window.partitionBy(col("event_type"))))
        .withColumn("share_bps",
          expr("n_events * 10000L div type_total"))
        .select(col("event_type"), col("dow"), col("hr"), col("n_events"),
          col("share_bps"))
        .orderBy("event_type", "dow", "hr")
    }),

    // Exact nearest-rank percentiles of the event value per type — the
    // latency-style p50/p90/p99 report, division-free: the pick index
    // is ceil(p·n) computed as (n·pct + 99) div 100 in BIGINT, the
    // value exact fixed point. One type-keyed rank window. (The
    // log-bucket sketch_quantile_hist is the streaming/mergeable
    // sibling; this is the exact batch form.)
    "events_value_percentiles" -> ((spark, dir) => {
      val ev = XeFixture.events(spark, dir)
        .select(col("event_type"),
          expr("CAST(round(value * 1000000, 0) AS BIGINT)").as("v6"))
      // cumulative counts over DISTINCT values per type: the rank
      // window runs at value-domain grain, never event grain — a
      // per-event row_number would serialize each type's full event
      // population through one partition at corpus scale
      val tot = ev.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      val counts = ev.groupBy(col("event_type"), col("v6"))
        .agg(count(lit(1)).as("c"))
      val cum = counts
        .withColumn("cum", sum(col("c")).over(
          Window.partitionBy(col("event_type")).orderBy(col("v6"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .join(broadcast(tot), Seq("event_type"))
      def pick(pct: Int): org.apache.spark.sql.Column =
        min(when(col("cum") >= expr(s"(n * $pct + 99) div 100"), col("v6")))
      cum.groupBy(col("event_type"))
        .agg(max(col("n")).as("n_events"),
          pick(50).as("p50_fp6"), pick(90).as("p90_fp6"),
          pick(99).as("p99_fp6"))
        .orderBy("event_type")
    }),

    // Week-over-week change report — the KPI table every dashboard
    // leads with: per (type, ISO week) volume and the signed change vs
    // the previous week in integer basis points (lag window; first
    // week reports 0). weekofyear/yearofweek are ISO on both engines.
    "events_wow_change" -> ((spark, dir) => {
      val wk = XeFixture.events(spark, dir)
        .select(col("event_type"),
          (expr("extract(YEAROFWEEK FROM ts)") * 100 +
            weekofyear(col("ts"))).cast("long").as("iso_week"))
        .groupBy("event_type", "iso_week")
        .agg(count(lit(1)).as("n_events"))
      wk.withColumn("prev",
          lag(col("n_events"), 1).over(
            Window.partitionBy(col("event_type")).orderBy(col("iso_week"))))
        .withColumn("wow_change_bps",
          when(col("prev").isNull, 0L).otherwise(
            expr("(n_events - prev) * 10000L div prev")))
        .select(col("event_type"), col("iso_week"), col("n_events"),
          coalesce(col("prev"), lit(0L)).as("prev_week_events"),
          col("wow_change_bps"))
        .orderBy("event_type", "iso_week")
    }),

    // Conversion-lag histogram — how long the click→purchase journey
    // takes: the attribution pair frame bucketed into fixed lag bands
    // (a CASE ladder, not float log2 — the one step engines could
    // round apart). Same user-keyed pair join as the attribution
    // family; histogram output is band-grain.
    "events_conversion_lag" -> ((spark, dir) => {
      val ev = XeFixture.events(spark, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), unix_micros(col("ts")).as("c_us"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("p_us"))
      clicks.join(purchases, Seq("user_id"))
        .filter(col("p_us") > col("c_us") &&
          col("p_us") <= col("c_us") + lit(240L * 60000000L))
        .withColumn("lag_us", col("p_us") - col("c_us"))
        .withColumn("lag_band",
          when(col("lag_us") < 60000000L, "a_under_1m")
            .when(col("lag_us") < 300000000L, "b_1_5m")
            .when(col("lag_us") < 900000000L, "c_5_15m")
            .when(col("lag_us") < 3600000000L, "d_15_60m")
            .otherwise("e_1_4h"))
        .groupBy(col("lag_band"))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy("lag_band")
    }),

    // Audience-overlap matrix — exact Jaccard between event-type user
    // sets (the segmentation planner's input): per canonical type pair,
    // |A∩B| from a self-join of the deduped (type, user) frame, |A∪B|
    // by inclusion-exclusion, similarity in integer millionths. The
    // pair scan is user-keyed (vocab² per user, never corpus²) — the
    // events_type_lift discipline at user grain.
    "events_audience_overlap" -> ((spark, dir) => {
      val tu = XeFixture.events(spark, dir)
        .select(col("event_type"), col("user_id")).distinct()
        .localCheckpoint(false)
      val sizes = tu.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      val inter = tu.as("a").join(tu.as("b"),
          col("a.user_id") === col("b.user_id") &&
            col("a.event_type") < col("b.event_type"))
        .groupBy(col("a.event_type").as("t1"), col("b.event_type").as("t2"))
        .agg(count(lit(1)).as("n_both"))
      inter
        .join(broadcast(sizes.select(col("event_type").as("t1"),
          col("n").as("n1"))), Seq("t1"))
        .join(broadcast(sizes.select(col("event_type").as("t2"),
          col("n").as("n2"))), Seq("t2"))
        .select(col("t1"), col("t2"), col("n1"), col("n2"), col("n_both"),
          expr("n_both * 1000000L div (n1 + n2 - n_both)").as("jaccard_fp6"))
        .orderBy("t1", "t2")
    }),

    // Rate-limit audit — the abuse-detection census: each user's PEAK
    // events-per-minute over the month, flagged above a threshold. One
    // (user, minute) rollup + one user rollup; census at flag grain so
    // the output stays constant-size at any user count.
    "events_rate_limit_audit" -> ((spark, dir) => {
      val perMin = XeFixture.events(spark, dir)
        .select(col("user_id"),
          (unix_micros(col("ts")) - pmod(unix_micros(col("ts")),
            lit(60000000L))).as("minute_us"))
        .groupBy(col("user_id"), col("minute_us"))
        .agg(count(lit(1)).as("n_in_minute"))
      perMin.groupBy(col("user_id"))
        .agg(max(col("n_in_minute")).as("peak_minute"),
          count(lit(1)).as("n_active_minutes"))
        .withColumn("flagged", col("peak_minute") >= 2)
        .groupBy(col("flagged"))
        .agg(count(lit(1)).as("n_users"),
          max(col("peak_minute")).as("max_peak"),
          sum(col("n_active_minutes")).as("total_active_minutes"))
        .orderBy("flagged")
    }),

    // TPC-H Q21 shape (the correlated EXISTS + NOT-EXISTS pair,
    // rewritten relationally): suppliers who were the SOLE late
    // supplier on a multi-supplier order. Instead of two correlated
    // subqueries per row, one (order, supplier) rollup + one order
    // rollup decide both quantifiers — the standard decorrelation a
    // production optimizer would have to find, written directly. Late
    // = shipped > 90 days after order date; supplier broadcasts for
    // the name; top 20 by blame count.
    "q21_sole_late_supplier" -> ((spark, dir) => {
      val l = t(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      val o = t(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_orderdate"))
      val sup = t(spark, dir, "supplier").select(col("s_suppkey"), col("s_name"))
      val perOS = l.join(o, col("l_orderkey") === col("o_orderkey"))
        .withColumn("is_late",
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
        .groupBy(col("l_orderkey"), col("l_suppkey"))
        .agg(max(when(col("is_late"), 1L).otherwise(0L)).as("any_late"))
      val perO = perOS.groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_supps"), sum(col("any_late")).as("n_late_supps"))
      perOS.join(perO, Seq("l_orderkey"))
        .filter(col("any_late") === 1L && col("n_supps") >= 2 &&
          col("n_late_supps") === 1L)
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n_sole_late_orders"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_name"), col("n_sole_late_orders"))
        .orderBy(col("n_sole_late_orders").desc, col("s_name"))
        .limit(20)
    }),

    // TPC-H Q18 shape (HAVING semi-join + top-N): the large-volume
    // orders report — orders whose total line quantity clears a
    // threshold, joined back to customer, top 50 by quantity. The
    // HAVING aggregate keys the same orderkey the join uses (one
    // exchange serves both at scale); customer broadcasts; top-50 is
    // TakeOrdered.
    "q18_big_orders" -> ((spark, dir) => {
      val l = t(spark, dir, "lineitem")
      val o = t(spark, dir, "orders")
      val c = t(spark, dir, "customer")
      val big = l.groupBy(col("l_orderkey"))
        .agg(sum(dec(col("l_quantity"))).as("total_qty"))
        .filter(col("total_qty") > 150)
      big.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          col("o_orderdate"),
          round(col("total_qty").cast("double"), 2).as("total_qty"))
        .orderBy(col("total_qty").desc, col("o_orderkey"))
        .limit(50)
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          unix_micros(col("o_orderdate").cast("timestamp")).as("order_date_us"),
          col("total_qty"))
    }),

    // TPC-H Q2 shape (correlated scalar-min subquery): for each part in
    // a size slice, the EUROPE supplier(s) offering the minimum observed
    // price. The reference formulation is a per-part correlated MIN
    // subquery; the relational rewrite is the (part, supplier) price
    // rollup with a part-keyed MIN window over it — the decorrelation a
    // production optimizer must find, written directly. All dimensions
    // (part slice, supplier⋈nation⋈region) broadcast; lineitem shuffles
    // ONCE on the rollup key; the window runs at rollup grain. Ties on
    // the minimum keep every achieving supplier (exact DECIMAL compare).
    "q2_cheapest_supplier" -> ((spark, dir) => {
      val p = t(spark, dir, "part").filter(col("p_size") === 25)
        .select(col("p_partkey"), col("p_brand"))
      val sn = t(spark, dir, "supplier")
        .join(broadcast(t(spark, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t(spark, dir, "region")
            .filter(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("s_suppkey"), col("s_name"), col("n_name"))
      val ps = t(spark, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"), col("l_extendedprice"))
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(broadcast(sn), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("p_partkey"), col("p_brand"), col("s_suppkey"),
          col("s_name"), col("n_name"))
        .agg(min(dec(col("l_extendedprice"))).as("cost"))
      val w = Window.partitionBy(col("p_partkey"))
      ps.withColumn("mc", min(col("cost")).over(w))
        .filter(col("cost") === col("mc"))
        .select(col("p_partkey"), col("p_brand"), col("s_name"),
          col("n_name"), round(col("cost").cast("double"), 2).as("min_cost"))
        .orderBy("p_partkey", "s_name")
    }),

    // TPC-H Q15 shape (scalar aggregate over an aggregate — the "top
    // supplier" view): quarterly revenue per supplier, keep the
    // supplier(s) whose revenue EQUALS the global max. The max is a
    // 1-row frame broadcast back onto the rollup (never a global sort);
    // equality is exact DECIMAL, so ties all surface. The date filter
    // pushes into the lineitem scan.
    "q15_top_supplier" -> ((spark, dir) => {
      val rev = t(spark, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey"))
        .agg(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
          .as("rev"))
      val mx = rev.agg(max(col("rev")).as("max_rev"))
      rev.crossJoin(broadcast(mx))
        .filter(col("rev") === col("max_rev"))
        .join(broadcast(t(spark, dir, "supplier")
            .select(col("s_suppkey"), col("s_name"))),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          round(col("rev").cast("double"), 2).as("total_revenue"))
        .orderBy("s_suppkey")
    }),

    // TPC-H Q8 shape (market share, the two-role nation join graph):
    // within orders from ASIA customers, the yearly revenue share
    // supplied by NATION_2 suppliers, in exact basis points. Customer
    // and supplier each resolve to a nation INDEPENDENTLY (the join
    // graph's defining feature); both dim chains broadcast, so the only
    // big-big shuffle is lineitem⋈(filtered orders). Share stays exact:
    // scale-4 DECIMAL revenue → DECIMAL(38,0) cross-multiply → div
    // (BIGINT would overflow at num·10⁴ beyond ~sf1; the oracle mirrors
    // with HUGEINT).
    "q8_market_share" -> ((spark, dir) => {
      val n = t(spark, dir, "nation")
      val asiaCust = t(spark, dir, "customer")
        .join(broadcast(n.filter(col("n_regionkey") === 2)),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"))
      val o = t(spark, dir, "orders")
        .join(broadcast(asiaCust), col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"),
          year(col("o_orderdate")).cast("long").as("o_year"))
      val supp = t(spark, dir, "supplier")
        .select(col("s_suppkey"), (col("s_nationkey") === 2).as("is_target"))
      t(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"),
          (dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
            .as("vol"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("o_year"))
        .agg(count(lit(1)).as("n_lines"),
          sum(col("vol")).as("total_rev"),
          sum(when(col("is_target"), col("vol")).otherwise(lit(0).cast(DecimalType(18, 2))))
            .as("target_rev"))
        .withColumn("share_bps", expr(
          """CAST(CAST(target_rev * 10000 AS DECIMAL(38,0)) * 10000
            |     div CAST(total_rev * 10000 AS DECIMAL(38,0)) AS BIGINT)""".stripMargin))
        .select(col("o_year"), col("n_lines"),
          round(col("total_rev").cast("double"), 2).as("total_rev"),
          round(col("target_rev").cast("double"), 2).as("target_rev"),
          col("share_bps"))
        .orderBy("o_year")
    }),

    // TPC-H Q22 shape (scalar aggregate subquery + anti join): customers
    // with above-average positive balance and no RECENT order (none
    // since 2000-01-01 — every synthetic customer has SOME order), per
    // nation — the "dormant prospects" report. The scalar stats
    // broadcast as a 1-row frame; the above-average compare is
    // division-free (bal·n > Σbal in DECIMAL); the date filter pushes
    // into the orders scan and the anti join shuffles only custkeys.
    "q22_prospects" -> ((spark, dir) => {
      val c = t(spark, dir, "customer")
      val o = t(spark, dir, "orders")
        .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
        .select(col("o_custkey"))
      val stats = c.filter(col("c_acctbal") > 0)
        .agg(sum(dec(col("c_acctbal"))).as("sum_bal"),
          count(lit(1)).as("n_bal"))
      c.crossJoin(broadcast(stats))
        .filter(dec(col("c_acctbal")) * col("n_bal") > col("sum_bal"))
        .join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_prospects"),
          round(sum(dec(col("c_acctbal"))).cast("double"), 2)
            .as("total_balance"))
        .orderBy("c_nationkey")
    }),

    // t-closeness census — the third rung of the release-risk ladder
    // (k-anonymity → l-diversity → t-closeness): a QI group is unsafe
    // when its sensitive-value DISTRIBUTION diverges from the corpus-wide
    // one, even if it is large and diverse. Distance = total variation
    // (the categorical Earth-Mover's), kept EXACT by cross-multiplied
    // integer counts: tvd_num = Σ_v |cnt_gv·N − cnt_v·n_g| over the full
    // (group × value) domain, and the t=0.4 flag compares
    // 10·tvd_num > 8·N·n_g (⇔ tvd_num/(2·N·n_g) > 0.4) in pure BIGINT
    // algebra — no float division to diverge across engines. Scale: the
    // domain frame is |groups| × |values|, both bounded attribute
    // cardinalities; the value and total frames broadcast. Overflow
    // envelope: cnt·N < 2⁶³ — exact to ~3·10⁹ rows; beyond that,
    // pre-aggregate counts to a coarser grain before the cross-multiply.
    "privacy_t_closeness" -> ((spark, dir) => {
      val base = t(spark, dir, "customer")
        .select(col("c_mktsegment"),
          floor(col("c_acctbal") / 1000.0).cast("long").as("bal_bucket"),
          col("c_nationkey"))
      val gv = base.groupBy("c_mktsegment", "bal_bucket", "c_nationkey")
        .agg(count(lit(1)).as("cnt_gv"))
      val g = base.groupBy("c_mktsegment", "bal_bucket")
        .agg(count(lit(1)).as("n_g"))
      val v = base.groupBy("c_nationkey").agg(count(lit(1)).as("cnt_v"))
      val tot = base.agg(count(lit(1)).as("n_total"))
      g.crossJoin(broadcast(v)).crossJoin(broadcast(tot))
        .join(gv, Seq("c_mktsegment", "bal_bucket", "c_nationkey"), "left")
        .na.fill(0L, Seq("cnt_gv"))
        .withColumn("term",
          abs(col("cnt_gv") * col("n_total") - col("cnt_v") * col("n_g")))
        .groupBy(col("c_mktsegment"), col("bal_bucket"),
          col("n_g"), col("n_total"))
        .agg(sum(col("term")).as("tvd_num"))
        .select(col("c_mktsegment"), col("bal_bucket"),
          col("n_g").as("n_rows"), col("tvd_num"),
          (col("tvd_num") * lit(10L) >
            col("n_total") * col("n_g") * lit(8L)).as("t_risk"))
        .orderBy("c_mktsegment", "bal_bucket")
    }),

    // TPC-H Q4 shape (EXISTS → left-semi join): orders from one quarter
    // that have at least one LATE line (shipped > 90 days after the
    // order date), counted per priority. The date filter pushes into the
    // orders scan; the semi join shuffles only orderkeys and emits each
    // order at most once regardless of how many lines are late — at
    // 100 TB the fact-side dedup that an inner-join + distinct would
    // need never materializes.
    "q4_late_orders" -> ((spark, dir) => {
      val o = t(spark, dir, "orders")
        .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1995-04-01").cast("timestamp"))
      val l = t(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_shipdate"))
      o.join(l, col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy("o_orderpriority")
    }),

    // TPC-H Q14 shape (fact ⋈ broadcast dim + conditional agg): monthly
    // promo-revenue share. Money math is exact end to end: decimal(18,2)
    // sums → 4-dp fixed-point longs → the share in integer basis points
    // via BIGINT division (float division would be the one step two
    // engines could disagree on). part broadcasts; lineitem never
    // shuffles for the join.
    // Overflow envelope: promo_fp4·10⁴ < 2⁶³ holds to ~10¹⁴ in 4-dp
    // units per month-group — beyond that, drop to 2-dp units before
    // the bps division.
    "q14_promo_share" -> ((spark, dir) => {
      val l = t(spark, dir, "lineitem")
      val p = t(spark, dir, "part").select(col("p_partkey"),
        col("p_type").startsWith("PROMO").as("is_promo"))
      val rev = (dec(col("l_extendedprice")) *
        (lit(java.math.BigDecimal.ONE) - dec(col("l_discount")))).as("rev")
      l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .select(date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"),
          col("is_promo"), rev)
        .groupBy(col("ship_month"))
        .agg(
          (sum(when(col("is_promo"), col("rev"))
            .otherwise(lit(java.math.BigDecimal.ZERO))) * lit(10000))
            .cast("long").as("promo_fp4"),
          (sum(col("rev")) * lit(10000)).cast("long").as("total_fp4"))
        .select(col("ship_month"),
          round(col("promo_fp4").cast("double") / 10000.0, 2)
            .as("promo_revenue"),
          round(col("total_fp4").cast("double") / 10000.0, 2)
            .as("total_revenue"),
          expr("promo_fp4 * 10000L div total_fp4").as("promo_bps"))
        .orderBy("ship_month")
    }),

    // Linear multi-touch attribution — the marketing-analytics twin of
    // the as-of join: every view/click in the 7 days before a purchase
    // by the same user shares the conversion credit equally. Credit is
    // integer micro-units (1000000 div n_touch), so the split is
    // deterministic on both engines (sum of floors, not floats). ONE
    // user-keyed equi-join builds the pairs (the window residual filters
    // in-join); ONE conv-keyed window counts the touches — at 100 TB
    // both exchanges are keyed by high-cardinality ids and AQE handles
    // hot users.
    "events_attribution_linear" -> ((spark, dir) => {
      attributionPairs(spark, dir)
        .withColumn("n_touch",
          count(lit(1)).over(Window.partitionBy(col("conv_id"))))
        .withColumn("credit_fp", expr("1000000L div n_touch"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_touches"),
          countDistinct(col("conv_id")).as("n_conversions"),
          sum(col("credit_fp")).as("credit_fp_sum"))
        .orderBy("event_type")
    })
  )

  /** Oracle twin of [[attributionPairs]] — one definition for both
    * attribution oracles (CTE chain ending in `pairs`). */
  private val attributionPairsCte =
    """touches AS (
      |  SELECT user_id, event_id AS touch_id, event_type,
      |         epoch_us(ts) AS t_us
      |  FROM events WHERE event_type IN ('view', 'click')
      |), conv AS (
      |  SELECT user_id, event_id AS conv_id, epoch_us(ts) AS c_us
      |  FROM events WHERE event_type = 'purchase'
      |), pairs AS (
      |  SELECT t.event_type, t.touch_id, t.t_us, c.conv_id
      |  FROM touches t JOIN conv c ON t.user_id = c.user_id
      |  WHERE t.t_us < c.c_us AND t.t_us >= c.c_us - 604800000000
      |)""".stripMargin

  def oracles: Map[String, String] = {
    val cte = XeFixture.sqlCte
    // the top-3 slowest events per type: one answer for the window top-k
    // and the native operator
    val topkPerTypeOracle =
      s"""$cte
         |SELECT event_name, rk, c_event_sequence, c_duration_us, c_session_id
         |FROM (
         |  SELECT event_name, c_event_sequence, c_duration_us, c_session_id,
         |         row_number() OVER (PARTITION BY event_name
         |           ORDER BY c_duration_us DESC, c_event_sequence) AS rk
         |  FROM xe
         |) ranked WHERE rk <= 3
         |ORDER BY event_name, rk""".stripMargin
    // the view → click → purchase stage times per user (`per(user_id, tv,
    // tc, tp)`), shared by the batch and the streaming funnel
    val funnelCtes =
      """ev AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events
        |), s1 AS (
        |  SELECT *, min(CASE WHEN event_type = 'view' THEN us END)
        |    OVER (PARTITION BY user_id) AS t_view FROM ev
        |), s2 AS (
        |  SELECT *, min(CASE WHEN event_type = 'click' AND us >= t_view THEN us END)
        |    OVER (PARTITION BY user_id) AS t_click FROM s1
        |), s3 AS (
        |  SELECT *, min(CASE WHEN event_type = 'purchase' AND us >= t_click THEN us END)
        |    OVER (PARTITION BY user_id) AS t_purchase FROM s2
        |), per AS (
        |  SELECT user_id, min(t_view) AS tv, min(t_click) AS tc,
        |         min(t_purchase) AS tp
        |  FROM s3 GROUP BY 1
        |)""".stripMargin
    // Gap-session assignment (the Sessions.assign twin) at full event
    // grain — the ONE definition every session-derived oracle
    // (sessionize, top_paths, pagerank, lift) builds on, so the gap
    // constant and tie order can never drift between copies.
    val sessionCte =
      """se AS (
        |  SELECT user_id, event_id, event_type, value, epoch_us(ts) AS ts_us,
        |         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 28800000000
        |              THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), ss AS (
        |  SELECT user_id, event_id, event_type, value, ts_us,
        |         CAST(sum(is_new) OVER (PARTITION BY user_id
        |           ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |           AS session_seq
        |  FROM se
        |)""".stripMargin
    // the clicks/purch sides of the three as-of oracles (asofSides)
    val asofCtes =
      """clicks AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS click_us
        |  FROM events WHERE event_type = 'click'
        |), purch AS (
        |  SELECT user_id, epoch_us(ts) AS purch_us, max(value) AS purch_value
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
        |)""".stripMargin
    // the zero-filled type × day grid of the daily series oracles
    // (dailyGrid): `ev`, `daily`, and `grid(event_type, day, x)`
    val dailyGridCtes =
      """ev AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day FROM events
        |), daily AS (
        |  SELECT event_type, day, CAST(count(*) AS BIGINT) AS x
        |  FROM ev GROUP BY 1, 2
        |), grid AS (
        |  SELECT t.event_type, d.day, coalesce(daily.x, 0) AS x
        |  FROM (SELECT DISTINCT event_type FROM ev) t
        |  CROSS JOIN (SELECT DISTINCT day FROM ev) d
        |  LEFT JOIN daily ON daily.event_type = t.event_type
        |                 AND daily.day = d.day
        |)""".stripMargin
    // full-recompute truth for BOTH incremental-refresh queries (batch
    // merge and the streaming MvRefresh state): merge ∘ partials must
    // equal one aggregate over everything
    val incrRefreshOracle =
      """WITH ev AS (
        |  SELECT event_type, CAST(round(value * 1000000, 0) AS BIGINT) AS v
        |  FROM events
        |), m AS (
        |  SELECT event_type, count(v) AS cnt,
        |         CAST(sum(v) AS BIGINT) AS sum_fp,
        |         min(v) AS min_fp, max(v) AS max_fp
        |  FROM ev GROUP BY 1
        |)
        |SELECT event_type, cnt,
        |       round(CAST(sum_fp AS DOUBLE) / 1000000.0, 6) AS sum_value,
        |       round(CAST(min_fp AS DOUBLE) / 1000000.0, 6) AS min_value,
        |       round(CAST(max_fp AS DOUBLE) / 1000000.0, 6) AS max_value,
        |       round(CAST(sum_fp // cnt AS DOUBLE) / 1000000.0, 6) AS avg_value
        |FROM m ORDER BY event_type""".stripMargin
    // customer SCD2 history — shared by the history dump and the
    // temporal-lookup oracle; mirrors operators.Scd2 + the 4-wave stream
    val scd2Cte =
      """seg AS (
        |  SELECT c_custkey, c_nationkey,
        |         'SEG_' || CAST(c_custkey % 3 AS VARCHAR) AS new_seg,
        |         c_mktsegment
        |  FROM customer
        |), v AS (
        |  SELECT c_custkey, c_nationkey, c_mktsegment,
        |         DATE '1992-01-01' AS effective_from FROM seg
        |  UNION ALL
        |  SELECT c_custkey, c_nationkey, new_seg, DATE '1995-06-01'
        |  FROM seg WHERE c_custkey % 10 = 0
        |  UNION ALL
        |  SELECT c_custkey, c_nationkey, new_seg, DATE '1996-01-01'
        |  FROM seg WHERE c_custkey % 30 = 0
        |  UNION ALL
        |  SELECT c_custkey, (c_nationkey + 7) % 25, new_seg, DATE '1998-03-15'
        |  FROM seg WHERE c_custkey % 20 = 0
        |), marked AS (
        |  SELECT *,
        |         (c_nationkey IS DISTINCT FROM
        |            lag(c_nationkey) OVER wk) OR
        |         (c_mktsegment IS DISTINCT FROM
        |            lag(c_mktsegment) OVER wk) AS chg
        |  FROM v WINDOW wk AS (PARTITION BY c_custkey ORDER BY effective_from)
        |), kept AS (SELECT * FROM marked WHERE chg),
        |hist AS (
        |  SELECT c_custkey, c_nationkey, c_mktsegment, effective_from,
        |         coalesce(lead(effective_from) OVER wk,
        |                  DATE '9999-12-31') AS effective_to,
        |         row_number() OVER wk AS version,
        |         coalesce(lead(effective_from) OVER wk,
        |                  DATE '9999-12-31') = DATE '9999-12-31' AS is_current
        |  FROM kept WINDOW wk AS (PARTITION BY c_custkey ORDER BY effective_from)
        |)""".stripMargin
    // the 10 PageRank iterations unrolled (DuckDB recursive CTEs cannot
    // aggregate over the recursive term) — each step mirrors
    // operators.PageRank bit-for-bit in BIGINT arithmetic
    val prScale = 1000000000L
    val prSteps = OracleFrags.prSteps(10, prScale)
    Map(
      "events_pagerank" ->
        s"""WITH $sessionCte,
           |edges AS (
           |  SELECT src, dst, count(*) AS w FROM (
           |    SELECT event_type AS src,
           |           lead(event_type, 1) OVER (PARTITION BY user_id, session_seq
           |             ORDER BY ts_us, event_id) AS dst
           |    FROM ss)
           |  WHERE dst IS NOT NULL GROUP BY 1, 2
           |), ${OracleFrags.prStartCtes(prScale)},
           |$prSteps
           |SELECT node AS event_type, r AS rank_fp,
           |       round(CAST(r AS DOUBLE) / 1000000000.0, 6) AS rank
           |FROM pr10 ORDER BY event_type""".stripMargin,

      "events_type_lift" ->
        s"""WITH $sessionCte,
           |st AS (
           |  SELECT DISTINCT user_id, session_seq, event_type FROM ss
           |), nab AS (
           |  SELECT a.event_type AS t1, b.event_type AS t2, count(*) AS n_ab
           |  FROM st a JOIN st b
           |    ON a.user_id = b.user_id AND a.session_seq = b.session_seq
           |   AND a.event_type < b.event_type
           |  GROUP BY 1, 2
           |), na AS (SELECT event_type, count(*) AS cnt FROM st GROUP BY 1),
           |ns AS (SELECT count(*) AS n_sessions
           |       FROM (SELECT DISTINCT user_id, session_seq FROM st))
           |SELECT p.t1, p.t2, p.n_ab,
           |       round((CAST(p.n_ab AS DOUBLE) * CAST(ns.n_sessions AS DOUBLE)) /
           |             (CAST(a.cnt AS DOUBLE) * CAST(b.cnt AS DOUBLE)), 6) AS lift
           |FROM nab p
           |JOIN na a ON a.event_type = p.t1
           |JOIN na b ON b.event_type = p.t2
           |CROSS JOIN ns
           |ORDER BY t1, t2""".stripMargin,
      "asof_attribution" ->
        s"""WITH $asofCtes
          |SELECT c.event_id, c.user_id, c.click_us, p.purch_us, p.purch_value
          |FROM clicks c ASOF LEFT JOIN purch p
          |  ON c.user_id = p.user_id AND c.click_us >= p.purch_us
          |ORDER BY c.event_id""".stripMargin,

      "asof_forward" ->
        s"""WITH $asofCtes
          |SELECT c.event_id, c.user_id, c.click_us, p.purch_us, p.purch_value
          |FROM clicks c ASOF LEFT JOIN purch p
          |  ON c.user_id = p.user_id AND c.click_us <= p.purch_us
          |ORDER BY c.event_id""".stripMargin,

      "asof_tolerance" ->
        s"""WITH $asofCtes, aj AS (
          |  SELECT c.event_id, c.user_id, c.click_us,
          |         p.purch_us AS pu, p.purch_value AS pv
          |  FROM clicks c ASOF LEFT JOIN purch p
          |    ON c.user_id = p.user_id AND c.click_us >= p.purch_us
          |)
          |SELECT event_id, user_id, click_us,
          |       CASE WHEN click_us - pu <= 600000000 THEN pu END AS purch_us,
          |       CASE WHEN click_us - pu <= 600000000 THEN pv END AS purch_value
          |FROM aj ORDER BY event_id""".stripMargin,

      "range_incidents" ->
        """WITH clicks AS (
          |  SELECT event_id, epoch_us(ts) AS click_us
          |  FROM events WHERE event_type = 'click'
          |), win AS (
          |  SELECT epoch_us(ts) AS lo, epoch_us(ts) + 300000000 AS hi
          |  FROM events WHERE event_type = 'error'
          |)
          |SELECT c.event_id, count(*) AS n_incidents,
          |       min(w.lo) AS first_incident_us
          |FROM clicks c JOIN win w ON c.click_us BETWEEN w.lo AND w.hi
          |GROUP BY 1 ORDER BY 1""".stripMargin,

      "range_overlap_windows" ->
        """WITH err AS (
          |  SELECT event_id, epoch_us(ts) AS lo, epoch_us(ts) + 300000000 AS hi
          |  FROM events WHERE event_type = 'error'
          |), p AS (
          |  SELECT epoch_us(ts) - 120000000 AS lo, epoch_us(ts) + 120000000 AS hi
          |  FROM events WHERE event_type = 'purchase'
          |)
          |SELECT e.event_id, count(*) AS n_purchase_windows
          |FROM err e JOIN p ON e.lo <= p.hi AND p.lo <= e.hi
          |GROUP BY 1 ORDER BY 1""".stripMargin,

      "events_funnel" ->
        s"""WITH $funnelCtes
          |SELECT count(*) AS n_users, count(tv) AS n_viewed,
          |       count(tc) AS n_clicked_after_view,
          |       count(tp) AS n_purchased_after_click,
          |       CAST(coalesce(sum(CASE WHEN tp IS NOT NULL THEN tp - tv END), 0) AS BIGINT)
          |         AS total_funnel_us
          |FROM per""".stripMargin,

      "layout_zorder" ->
        s"""WITH z AS (
           |  SELECT l_partkey, l_suppkey,
           |         ${graft.operators.ZOrder.zOrderSql(
                        "(l_partkey % 65536)", "(l_suppkey % 65536)")} AS zv
           |  FROM lineitem
           |)
           |SELECT zv >> 20 AS zbucket, count(*) AS n_rows,
           |       min(l_partkey) AS min_part, max(l_partkey) AS max_part,
           |       min(l_suppkey) AS min_supp, max(l_suppkey) AS max_supp
           |FROM z GROUP BY 1 ORDER BY 1""".stripMargin,

      "layout_zorder3" ->
        s"""WITH z AS (
           |  SELECT l_partkey, l_suppkey, l_orderkey,
           |         ${graft.operators.ZOrder.zOrderSqlN(Seq(
                        "(l_partkey % 65536)", "(l_suppkey % 65536)",
                        "(l_orderkey % 65536)"), 16)} AS zv
           |  FROM lineitem
           |)
           |SELECT zv >> 36 AS zbucket, count(*) AS n_rows,
           |       min(l_partkey) AS min_part, max(l_partkey) AS max_part,
           |       min(l_suppkey) AS min_supp, max(l_suppkey) AS max_supp,
           |       min(l_orderkey) AS min_ord, max(l_orderkey) AS max_ord
           |FROM z GROUP BY 1 ORDER BY 1""".stripMargin,

      // the driver-hash-class canary's DuckDB twin — VALUES syntax and
      // VARCHAR spelling differ from the Spark text, values do not
      "hash_canary" ->
        """SELECT * FROM (VALUES
          |  (CAST(1 AS BIGINT), CAST(42 AS INTEGER),
          |   CAST(9007199254740993 AS BIGINT), CAST(-1.5 AS DOUBLE),
          |   'graft', DATE '2026-08-15',
          |   TIMESTAMP '2026-08-15 12:34:56', true),
          |  (CAST(2 AS BIGINT), CAST(-7 AS INTEGER),
          |   CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
          |   CAST(NULL AS VARCHAR), CAST(NULL AS DATE),
          |   TIMESTAMP '1970-01-01 00:00:00', false)
          |) t(k, v_int, v_bigint, v_double, v_str, v_date, v_ts, v_bool)
          |ORDER BY k""".stripMargin,

      "q1_pricing_summary" ->
        """SELECT l_returnflag, l_linestatus,
          |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
          |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
          |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
          |  count(*) AS count_order
          |FROM lineitem WHERE l_quantity >= 0
          |GROUP BY l_returnflag, l_linestatus
          |ORDER BY l_returnflag, l_linestatus""".stripMargin,

      "q3_top_orders" ->
        """SELECT l_orderkey, o_orderdate, o_orderpriority,
          |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
          |FROM lineitem
          |JOIN orders ON l_orderkey = o_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |WHERE c_mktsegment = 'BUILDING'
          |GROUP BY l_orderkey, o_orderdate, o_orderpriority
          |ORDER BY revenue DESC, l_orderkey
          |LIMIT 10""".stripMargin,

      "q5_nation_revenue" ->
        """SELECT r_name, n_name,
          |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
          |  count(*) AS n_items
          |FROM lineitem
          |JOIN orders ON l_orderkey = o_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |JOIN nation ON c_nationkey = n_nationkey
          |JOIN region ON n_regionkey = r_regionkey
          |GROUP BY r_name, n_name
          |ORDER BY r_name, n_name""".stripMargin,

      "topk_per_type" ->
        topkPerTypeOracle,

      "topk_native_operator" ->
        topkPerTypeOracle,

      "session_timeline" ->
        s"""$cte,
           |gaps AS (
           |  SELECT c_session_id,
           |         epoch_us(e_time_of_event_utc) -
           |         lag(epoch_us(e_time_of_event_utc)) OVER (
           |           PARTITION BY c_session_id
           |           ORDER BY e_time_of_event_utc, c_event_sequence) AS gap_us
           |  FROM xe
           |)
           |SELECT c_session_id,
           |       count(*) AS n_events,
           |       CAST(sum(gap_us) AS BIGINT) AS total_gap_us,
           |       max(gap_us) AS max_gap_us
           |FROM gaps GROUP BY c_session_id ORDER BY c_session_id""".stripMargin,

      "dmv_hash_join" ->
        s"""$cte,
           |hx AS (SELECT xe.*, lpad(to_hex(a_query_hash), 16, '0') AS a_query_hash_hex FROM xe),
           |dmv AS (SELECT a_query_hash_hex AS dmv_hash_hex, c_duration_us AS sample_duration
           |        FROM hx WHERE c_event_sequence % 10 = 0)
           |SELECT event_name, count(*) AS n_matched,
           |       CAST(sum(sample_duration) AS BIGINT) AS total_sample_duration
           |FROM hx JOIN dmv ON a_query_hash_hex = dmv_hash_hex
           |GROUP BY event_name ORDER BY event_name""".stripMargin,

      "distinct_sessions" ->
        s"""$cte
           |SELECT event_name, count(DISTINCT c_session_id) AS exact_sessions
           |FROM xe GROUP BY event_name ORDER BY event_name""".stripMargin,

      "setops_runs" ->
        s"""$cte,
           |mid AS (SELECT max(c_event_sequence) / 2 AS m FROM xe),
           |run1 AS (SELECT DISTINCT c_session_id FROM xe, mid WHERE c_event_sequence <= m),
           |run2 AS (SELECT DISTINCT c_session_id FROM xe, mid WHERE c_event_sequence > m)
           |SELECT c_session_id, 'both' AS presence FROM run1 INTERSECT SELECT c_session_id, 'both' FROM run2
           |UNION ALL
           |(SELECT c_session_id, 'run1_only' FROM run1 EXCEPT SELECT c_session_id, 'run1_only' FROM run2)
           |UNION ALL
           |(SELECT c_session_id, 'run2_only' FROM run2 EXCEPT SELECT c_session_id, 'run2_only' FROM run1)
           |ORDER BY presence, c_session_id""".stripMargin,

      "rollup_orders" ->
        """SELECT o_orderstatus, o_orderpriority,
          |       count(*) AS n_orders,
          |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
          |FROM orders
          |GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
          |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,

      "events_sessionize" ->
        s"""WITH $sessionCte
           |SELECT user_id, session_seq, count(*) AS n_events,
           |       min(ts_us) AS start_us, max(ts_us) AS end_us,
           |       max(ts_us) - min(ts_us) AS duration_us,
           |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
           |FROM ss GROUP BY user_id, session_seq
           |ORDER BY user_id, session_seq""".stripMargin,

      "events_top_paths" ->
        s"""WITH $sessionCte,
           |tri AS (
           |  SELECT event_type || '>' || lead(event_type, 1) OVER w2
           |           || '>' || lead(event_type, 2) OVER w2 AS path,
           |         lead(event_type, 2) OVER w2 AS t3
           |  FROM ss
           |  WINDOW w2 AS (PARTITION BY user_id, session_seq
           |                ORDER BY ts_us, event_id)
           |)
           |SELECT path, count(*) AS n FROM tri WHERE t3 IS NOT NULL
           |GROUP BY path ORDER BY n DESC, path LIMIT 20""".stripMargin,

      "stream_funnel" ->
        s"""WITH $funnelCtes
          |SELECT user_id, tv AS view_us, tc AS click_us, tp AS purchase_us
          |FROM per WHERE tp IS NOT NULL
          |ORDER BY user_id""".stripMargin,

      "stream_sessionize" ->
        """WITH e AS (
          |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
          |         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
          |                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 28800000000
          |              THEN 1 ELSE 0 END AS is_new
          |  FROM events
          |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
          |), s AS (
          |  SELECT user_id, ts_us,
          |         CAST(sum(is_new) OVER (PARTITION BY user_id
          |           ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
          |           AS session_seq
          |  FROM e
          |)
          |SELECT user_id, count(*) AS n_events,
          |       min(ts_us) AS start_us, max(ts_us) AS end_us
          |FROM s GROUP BY user_id, session_seq
          |ORDER BY user_id, start_us""".stripMargin,

      "events_salted_agg" ->
        """SELECT event_type,
          |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
          |       count(*) AS n_events
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

      // the salted (key, salt) join must reproduce the PLAIN join
      "events_salted_join" ->
        """SELECT c_mktsegment,
          |       count(*) AS n_events,
          |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
          |FROM events e JOIN customer c ON e.user_id = c.c_custkey
          |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

      "fuzzy_match_names" ->
        """WITH names AS (SELECT DISTINCT p_name FROM part),
          |d AS (
          |  SELECT DISTINCT
          |         substr(p_name, 1, (length(p_name) % 5) + 1)
          |         || substr(p_name, (length(p_name) % 5) + 3, length(p_name))
          |           AS dirty_name
          |  FROM names
          |),
          |cand AS (
          |  SELECT d.dirty_name, n.p_name,
          |         CAST(levenshtein(d.dirty_name, n.p_name) AS BIGINT) AS dist
          |  FROM d JOIN names n
          |    ON substr(d.dirty_name, 1, 1) = substr(n.p_name, 1, 1)
          |  WHERE abs(length(d.dirty_name) - length(n.p_name)) <= 2
          |    AND levenshtein(d.dirty_name, n.p_name) <= 2
          |),
          |ranked AS (
          |  SELECT dirty_name, p_name, dist,
          |         count(*) OVER (PARTITION BY dirty_name) AS n_candidates,
          |         row_number() OVER (PARTITION BY dirty_name
          |                            ORDER BY dist, p_name) AS rn
          |  FROM cand
          |)
          |SELECT dirty_name, p_name AS best_match, dist, n_candidates
          |FROM ranked WHERE rn = 1 ORDER BY dirty_name""".stripMargin,

      "events_mad_outliers" ->
        """WITH ev AS (
          |  SELECT event_type, event_id,
          |         CAST(round(value * 1000000, 0) AS BIGINT) AS v
          |  FROM events
          |),
          |r AS (
          |  SELECT event_type, event_id, v,
          |         row_number() OVER (PARTITION BY event_type
          |                            ORDER BY v, event_id) AS rn,
          |         count(*) OVER (PARTITION BY event_type) AS n
          |  FROM ev
          |),
          |med AS (SELECT event_type, v AS med, n FROM r WHERE rn = (n + 1) // 2),
          |dev AS (
          |  SELECT e.event_type, e.event_id, abs(e.v - m.med) AS d, m.med, m.n
          |  FROM ev e JOIN med m USING (event_type)
          |),
          |r2 AS (
          |  SELECT event_type, d, n,
          |         row_number() OVER (PARTITION BY event_type
          |                            ORDER BY d, event_id) AS rn
          |  FROM dev
          |),
          |mad AS (SELECT event_type, d AS mad FROM r2 WHERE rn = (n + 1) // 2)
          |SELECT d.event_type,
          |       CAST(min(d.n) AS BIGINT) AS n_events,
          |       round(CAST(min(d.med) AS DOUBLE) / 1000000.0, 6) AS median_value,
          |       round(CAST(min(m.mad) AS DOUBLE) / 1000000.0, 6) AS mad_value,
          |       CAST(sum(CASE WHEN d.d > 3 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
          |         AS n_outliers
          |FROM dev d JOIN mad m USING (event_type)
          |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin,

      "scd2_customers" ->
        s"""WITH $scd2Cte
           |SELECT * FROM hist ORDER BY c_custkey, version""".stripMargin,

      "scd2_lookup" ->
        s"""WITH $scd2Cte
           |SELECT h.c_mktsegment, h.version,
           |       count(*) AS n_orders,
           |       CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
           |         AS total_price
           |FROM orders o JOIN hist h
           |  ON o.o_custkey = h.c_custkey
           | AND CAST(o.o_orderdate AS DATE) >= h.effective_from
           | AND CAST(o.o_orderdate AS DATE) < h.effective_to
           |GROUP BY 1, 2 ORDER BY c_mktsegment, version""".stripMargin,

      "events_value_ntiles" ->
        """WITH ev AS (
          |  SELECT event_type, event_id,
          |         CAST(round(value * 1000000, 0) AS BIGINT) AS v
          |  FROM events
          |), r AS (
          |  SELECT event_type, v,
          |         ntile(4) OVER w AS quartile,
          |         percent_rank() OVER w AS pr,
          |         cume_dist() OVER w AS cd
          |  FROM ev WINDOW w AS (PARTITION BY event_type ORDER BY v, event_id)
          |)
          |SELECT event_type, CAST(quartile AS BIGINT) AS quartile,
          |       count(*) AS n_events,
          |       round(CAST(min(v) AS DOUBLE) / 1000000.0, 6) AS lo_value,
          |       round(CAST(max(v) AS DOUBLE) / 1000000.0, 6) AS hi_value,
          |       round(max(pr), 6) AS max_pct_rank,
          |       round(max(cd), 6) AS max_cume_dist
          |FROM r GROUP BY 1, 2 ORDER BY event_type, quartile""".stripMargin,

      "events_gap_islands" ->
        """WITH m AS (
          |  SELECT DISTINCT user_id, epoch_us(ts) // 60000000 AS minute_idx
          |  FROM events
          |), g AS (
          |  SELECT user_id, minute_idx,
          |         minute_idx - row_number() OVER (PARTITION BY user_id
          |           ORDER BY minute_idx) AS grp
          |  FROM m
          |), i AS (SELECT user_id, grp, count(*) AS len FROM g GROUP BY 1, 2)
          |SELECT user_id, count(*) AS n_islands,
          |       CAST(max(len) AS BIGINT) AS longest_island,
          |       CAST(sum(len) AS BIGINT) AS active_minutes
          |FROM i GROUP BY 1 ORDER BY user_id""".stripMargin,

      "events_incr_refresh" -> incrRefreshOracle,

      // same full-recompute truth: the streamed state must land on
      // identical bytes no matter how delivery chopped the input
      "stream_incr_refresh" -> incrRefreshOracle,

      "privacy_l_diversity" ->
        """SELECT c_mktsegment,
          |       CAST(floor(CAST(c_acctbal AS DOUBLE) / 1000.0) AS BIGINT)
          |         AS bal_bucket,
          |       count(*) AS n_rows,
          |       count(DISTINCT c_nationkey) AS n_sensitive,
          |       count(DISTINCT c_nationkey) < 3 AS homogeneity_risk
          |FROM customer
          |GROUP BY 1, 2
          |ORDER BY c_mktsegment, bal_bucket""".stripMargin,

      "privacy_k_anon" ->
        """SELECT c_nationkey, c_mktsegment,
          |       CAST(floor(CAST(c_acctbal AS DOUBLE) / 1000.0) AS BIGINT)
          |         AS bal_bucket,
          |       count(*) AS n_rows,
          |       count(*) < 5 AS at_risk
          |FROM customer
          |GROUP BY 1, 2, 3
          |ORDER BY c_nationkey, c_mktsegment, bal_bucket""".stripMargin,

      "er_resolve_clusters" ->
        """WITH RECURSIVE names AS (SELECT DISTINCT p_name FROM part),
          |ids AS (
          |  SELECT p_name,
          |         ('0x' || substring(md5(p_name), 1, 15))::BIGINT AS id
          |  FROM names
          |),
          |e0 AS (
          |  SELECT a.id AS x, b.id AS y
          |  FROM ids a JOIN ids b
          |    ON substr(a.p_name, 1, 1) = substr(b.p_name, 1, 1)
          |  WHERE a.p_name < b.p_name
          |    AND abs(length(a.p_name) - length(b.p_name)) <= 2
          |    AND levenshtein(a.p_name, b.p_name) <= 3
          |),
          |edges AS (SELECT x AS a, y AS b FROM e0 UNION SELECT y, x FROM e0),
          |reach(a, b) AS (
          |  SELECT a, b FROM edges
          |  UNION
          |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
          |),
          |clus AS (SELECT a AS id, least(a, min(b)) AS cid FROM reach GROUP BY a)
          |SELECT i.p_name,
          |       coalesce(c.p_name, i.p_name) AS canonical_name
          |FROM ids i
          |LEFT JOIN clus ON i.id = clus.id
          |LEFT JOIN ids c ON clus.cid = c.id
          |ORDER BY i.p_name""".stripMargin,

      "events_json_extract" ->
        """SELECT event_type,
          |       count(k) AS n_with_k,
          |       CAST(sum(k) AS BIGINT) AS sum_k,
          |       count(DISTINCT k) AS n_distinct_k
          |FROM (SELECT event_type,
          |             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
          |      FROM events)
          |GROUP BY event_type ORDER BY event_type""".stripMargin,

      "grouping_sets_orders" ->
        """SELECT CAST(grouping_id(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
          |       o_orderstatus, o_orderpriority,
          |       count(*) AS n_orders,
          |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
          |FROM orders
          |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
          |                        (o_orderstatus), (o_orderpriority), ())
          |ORDER BY gid, o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,

      "events_rolling_window" ->
        """WITH e AS (
          |  SELECT event_id, user_id, epoch_us(ts) AS us, value FROM events
          |)
          |SELECT event_id, user_id,
          |       count(*) OVER w AS n_10m,
          |       CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_10m
          |FROM e
          |WINDOW w AS (PARTITION BY user_id ORDER BY us
          |             RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW)
          |ORDER BY event_id""".stripMargin,

      "events_daily_active" ->
        """WITH ev AS (
          |  SELECT user_id, CAST(ts AS DATE) AS d, event_id FROM events
          |), fs AS (SELECT user_id, min(d) AS first_d FROM ev GROUP BY 1),
          |daily AS (
          |  SELECT d, count(*) AS n_events, count(DISTINCT user_id) AS n_active
          |  FROM ev GROUP BY 1
          |), nb AS (SELECT first_d AS d, count(*) AS n_new FROM fs GROUP BY 1)
          |SELECT d, n_events, n_active, coalesce(n_new, 0) AS n_new,
          |       CAST(sum(coalesce(n_new, 0)) OVER (
          |         ORDER BY d ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users
          |FROM daily LEFT JOIN nb USING (d) ORDER BY d""".stripMargin,

      "events_ohlc" ->
        """WITH e AS (
          |  SELECT event_type, event_id, value, epoch_us(ts) AS us,
          |         epoch_us(ts) - epoch_us(ts) % 300000000 AS bar_us
          |  FROM events
          |)
          |SELECT event_type, bar_us,
          |       struct_extract(min(struct_pack(u := us, i := event_id, v := value)), 'v') AS open,
          |       max(value) AS high,
          |       min(value) AS low,
          |       struct_extract(max(struct_pack(u := us, i := event_id, v := value)), 'v') AS close,
          |       count(*) AS n_events,
          |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
          |FROM e GROUP BY event_type, bar_us
          |ORDER BY event_type, bar_us""".stripMargin,

      "events_coverage" ->
        """WITH iv AS (
          |  SELECT user_id, event_id, epoch_us(ts) AS lo,
          |         epoch_us(ts) + 300000000 AS hi
          |  FROM events WHERE event_type = 'error'
          |), marked AS (
          |  SELECT user_id, lo, hi,
          |         CASE WHEN max(hi) OVER (PARTITION BY user_id
          |                ORDER BY lo, event_id
          |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
          |               OR lo > max(hi) OVER (PARTITION BY user_id
          |                ORDER BY lo, event_id
          |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
          |              THEN 1 ELSE 0 END AS is_new,
          |         event_id
          |  FROM iv
          |), islands AS (
          |  SELECT user_id, lo, hi,
          |         CAST(sum(is_new) OVER (PARTITION BY user_id
          |           ORDER BY lo, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
          |           AS island
          |  FROM marked
          |), agg AS (
          |  SELECT user_id, island, min(lo) AS ilo, max(hi) AS ihi
          |  FROM islands GROUP BY 1, 2
          |)
          |SELECT user_id, count(*) AS n_islands,
          |       CAST(sum(ihi - ilo) AS BIGINT) AS covered_us
          |FROM agg GROUP BY user_id ORDER BY user_id""".stripMargin,

      "events_latest_state" ->
        """SELECT user_id, event_id AS last_event_id,
          |       epoch_us(ts) AS last_ts_us, event_type AS last_event_type
          |FROM (SELECT *, row_number() OVER (
          |        PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
          |      FROM events)
          |WHERE rn = 1 ORDER BY user_id""".stripMargin,

      "customers_without_orders" ->
        """SELECT n_name, count(*) AS n_churned_customers,
          |       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS churned_acctbal
          |FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
          |WHERE NOT EXISTS (SELECT 1 FROM orders o
          |                  WHERE o.o_custkey = c.c_custkey
          |                    AND o.o_orderdate >= DATE '2000-01-01')
          |GROUP BY n_name ORDER BY n_name""".stripMargin,

      "events_retention" ->
        """WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
          |f AS (SELECT user_id, min(d) AS cohort_day FROM ev GROUP BY 1),
          |act AS (SELECT DISTINCT user_id, d FROM ev)
          |SELECT cohort_day,
          |       CAST(date_diff('day', cohort_day, d) AS INTEGER) AS day_offset,
          |       count(DISTINCT user_id) AS n_users
          |FROM act JOIN f USING (user_id)
          |WHERE date_diff('day', cohort_day, d) IN (0, 1, 3, 7)
          |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

      "events_anomaly" ->
        """WITH pm AS (
          |  SELECT event_type, date_trunc('minute', ts) AS minute, count(*) AS c
          |  FROM events GROUP BY 1, 2
          |), st AS (
          |  SELECT event_type, count(*) AS n,
          |         CAST(sum(c) AS BIGINT) AS s1, CAST(sum(c * c) AS BIGINT) AS s2
          |  FROM pm GROUP BY 1
          |), st2 AS (
          |  SELECT event_type, n, s1, s2,
          |         CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean_c,
          |         CASE WHEN n > 1 THEN
          |           (CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
          |            - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
          |           / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))
          |         END AS var_c
          |  FROM st
          |)
          |SELECT pm.event_type, min(n) AS n_minutes,
          |       round(min(mean_c), 6) AS mean_per_minute,
          |       round(sqrt(min(var_c)), 6) AS std_per_minute,
          |       CAST(sum(CASE WHEN CAST(c AS DOUBLE) >
          |                mean_c + 3.0 * sqrt(var_c) THEN 1 ELSE 0 END) AS BIGINT)
          |         AS n_anomalous,
          |       max(c) AS max_minute_count
          |FROM pm JOIN st2 USING (event_type)
          |GROUP BY 1 ORDER BY 1""".stripMargin,

      "events_value_deciles" ->
        """WITH totals AS (
          |  SELECT user_id,
          |         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
          |  FROM events GROUP BY 1
          |)
          |SELECT user_id, total_value,
          |       CAST(ntile(10) OVER w AS INTEGER) AS decile,
          |       round(percent_rank() OVER w, 6) AS pct_rank,
          |       round(cume_dist() OVER w, 6) AS cume
          |FROM totals WINDOW w AS (ORDER BY total_value DESC, user_id)
          |ORDER BY user_id""".stripMargin,

      "stream_asof_attribution" ->
        """SELECT c.event_id AS click_id, c.user_id,
          |       epoch_us(c.ts) AS click_us, epoch_us(p.ts) AS purch_us,
          |       p.value AS purch_value
          |FROM events c
          |JOIN events p
          |  ON p.user_id = c.user_id
          | AND p.ts <= c.ts AND p.ts >= c.ts - INTERVAL 240 MINUTE
          |WHERE c.event_type = 'click' AND p.event_type = 'purchase'
          |ORDER BY click_id, purch_us, purch_value""".stripMargin,

      "stream_rate_minute" ->
        """SELECT (epoch_us(ts) - epoch_us(ts) % 60000000) AS minute_us,
          |       event_type, count(*) AS n_events
          |FROM events
          |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

      // batch truth for the streaming erasure filter
      "stream_forget" ->
        """SELECT event_type, count(*) AS n_after,
          |       count(DISTINCT user_id) AS n_users_after
          |FROM events
          |WHERE user_id NOT IN (
          |  SELECT DISTINCT user_id FROM events WHERE user_id % 13 = 0)
          |GROUP BY 1 ORDER BY 1""".stripMargin,

      // batch truth for the native session_window stream: 30-min gap
      // sessions (break at diff >= gap), end = last event + gap
      "stream_session_window" ->
        """WITH se AS (
          |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
          |         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
          |                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
          |                   >= 1800000000
          |              THEN 1 ELSE 0 END AS is_new
          |  FROM events
          |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
          |), ss AS (
          |  SELECT user_id, ts_us,
          |         sum(is_new) OVER (PARTITION BY user_id
          |           ORDER BY ts_us, event_id
          |           ROWS UNBOUNDED PRECEDING) AS seq
          |  FROM se
          |)
          |SELECT min(ts_us) AS start_us,
          |       max(ts_us) + 1800000000 AS end_us,
          |       user_id, count(*) AS n_events
          |FROM ss GROUP BY user_id, seq
          |ORDER BY user_id, start_us""".stripMargin,

      "q10_returned_items" ->
        """SELECT c_custkey, c_name, n_name,
          |       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
          |         (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 2)
          |         AS lost_revenue,
          |       count(*) AS n_returned_lines
          |FROM lineitem
          |JOIN orders ON l_orderkey = o_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |JOIN nation ON c_nationkey = n_nationkey
          |WHERE l_returnflag = 'R'
          |  AND o_orderdate >= TIMESTAMP '1995-01-01'
          |  AND o_orderdate < TIMESTAMP '1995-04-01'
          |GROUP BY 1, 2, 3
          |ORDER BY lost_revenue DESC, c_custkey LIMIT 20""".stripMargin,

      "events_gap_fill" ->
        """WITH ev AS (
          |  SELECT event_type,
          |         epoch_us(ts) // 3600000000 AS hr,
          |         CAST(round(value * 1000000, 0) AS BIGINT) AS v6
          |  FROM events
          |), obs AS (
          |  SELECT event_type, hr, CAST(sum(v6) AS BIGINT) AS v
          |  FROM ev GROUP BY 1, 2
          |), grid AS (
          |  SELECT t.event_type, h.hr
          |  FROM (SELECT DISTINCT event_type FROM ev) t
          |  CROSS JOIN (SELECT DISTINCT hr FROM ev) h
          |), f AS (
          |  SELECT g.event_type, g.hr, o.v,
          |         last_value(o.v IGNORE NULLS) OVER (
          |           PARTITION BY g.event_type ORDER BY g.hr
          |           ROWS UNBOUNDED PRECEDING) AS pv,
          |         last_value(CASE WHEN o.v IS NOT NULL THEN g.hr END
          |           IGNORE NULLS) OVER (
          |           PARTITION BY g.event_type ORDER BY g.hr
          |           ROWS UNBOUNDED PRECEDING) AS ph,
          |         last_value(o.v IGNORE NULLS) OVER (
          |           PARTITION BY g.event_type ORDER BY g.hr DESC
          |           ROWS UNBOUNDED PRECEDING) AS nv,
          |         last_value(CASE WHEN o.v IS NOT NULL THEN g.hr END
          |           IGNORE NULLS) OVER (
          |           PARTITION BY g.event_type ORDER BY g.hr DESC
          |           ROWS UNBOUNDED PRECEDING) AS nh
          |  FROM grid g LEFT JOIN obs o USING (event_type, hr)
          |), filled AS (
          |  SELECT event_type, v,
          |         CASE WHEN v IS NOT NULL THEN v
          |              WHEN pv IS NULL THEN nv
          |              WHEN nv IS NULL THEN pv
          |              ELSE pv + (nv - pv) * (hr - ph) // (nh - ph)
          |         END AS fv
          |  FROM f
          |)
          |SELECT event_type, count(*) AS n_hours,
          |       CAST(sum(CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END)
          |         AS BIGINT) AS n_observed,
          |       CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT)
          |         AS n_filled,
          |       CAST(sum(coalesce(v, 0)) AS BIGINT) AS sum_observed_fp6,
          |       CAST(sum(CASE WHEN v IS NULL THEN fv ELSE 0 END) AS BIGINT)
          |         AS sum_filled_fp6
          |FROM filled GROUP BY 1 ORDER BY 1""".stripMargin,

      "events_entry_exit" ->
        s"""WITH $sessionCte,
           |f AS (
           |  SELECT event_type,
           |         row_number() OVER (PARTITION BY user_id, session_seq
           |           ORDER BY ts_us, event_id) AS rn,
           |         count(*) OVER (PARTITION BY user_id, session_seq)
           |           AS n_in_session
           |  FROM ss
           |)
           |SELECT event_type,
           |       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
           |         AS n_entries,
           |       CAST(sum(CASE WHEN rn = n_in_session THEN 1 ELSE 0 END)
           |         AS BIGINT) AS n_exits,
           |       CAST(sum(CASE WHEN rn = 1 AND n_in_session = 1
           |                THEN 1 ELSE 0 END) AS BIGINT) AS n_bounces,
           |       CAST(sum(CASE WHEN rn = 1 AND n_in_session = 1
           |                THEN 1 ELSE 0 END)
           |         * 10000 // greatest(
           |           sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END), 1)
           |         AS BIGINT) AS bounce_bps
           |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,

      "events_markov_next" ->
        s"""WITH $sessionCte,
           |tr AS (
           |  SELECT event_type AS cur_type,
           |         lead(event_type, 1) OVER (PARTITION BY user_id, session_seq
           |           ORDER BY ts_us, event_id) AS next_type
           |  FROM ss
           |), cnt AS (
           |  SELECT cur_type, next_type, count(*) AS n_trans
           |  FROM tr WHERE next_type IS NOT NULL GROUP BY 1, 2
           |)
           |SELECT cur_type, next_type, n_trans,
           |       CAST(n_trans * 1000000 //
           |         CAST(sum(n_trans) OVER (PARTITION BY cur_type) AS BIGINT)
           |         AS BIGINT) AS p_fp6
           |FROM cnt ORDER BY cur_type, next_type""".stripMargin,

      "events_ab_assignment" ->
        """WITH e AS (
          |  SELECT event_type, user_id,
          |         CAST(round(value * 1000000, 0) AS BIGINT) AS v6,
          |         CAST(round(value * 100, 0) AS BIGINT) AS v2,
          |         CASE WHEN ('0x' || substring(md5('ab|' ||
          |                CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 2 = 0
          |              THEN 'A' ELSE 'B' END AS arm
          |  FROM events
          |)
          |SELECT event_type, arm,
          |       count(DISTINCT user_id) AS n_users,
          |       count(*) AS n_events,
          |       CAST(sum(v6) AS BIGINT) AS sum_v_fp6,
          |       CAST(sum(v2 * v2) AS BIGINT) AS sumsq_v_fp2,
          |       CAST(sum(v6) AS BIGINT) // count(*) AS mean_v_fp6
          |FROM e GROUP BY 1, 2 ORDER BY event_type, arm""".stripMargin,

      "events_ab_outcomes" ->
        """WITH users AS (
          |  SELECT DISTINCT user_id,
          |         CASE WHEN ('0x' || substring(md5('ab|' ||
          |                CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 2 = 0
          |              THEN 'A' ELSE 'B' END AS arm
          |  FROM events
          |), conv AS (
          |  SELECT DISTINCT user_id, 1 AS cv FROM events
          |  WHERE event_type = 'purchase'
          |), agg AS (
          |  SELECT arm, CAST(count(*) AS BIGINT) AS n,
          |         CAST(sum(coalesce(cv, 0)) AS BIGINT) AS c
          |  FROM users LEFT JOIN conv USING (user_id) GROUP BY 1
          |), t AS (
          |  SELECT a.n AS n_a, a.c AS conv_a, b.n AS n_b, b.c AS conv_b,
          |         a.c * 10000 // a.n AS rate_a_bps,
          |         b.c * 10000 // b.n AS rate_b_bps,
          |         a.c * (b.n - b.c) - (a.n - a.c) * b.c AS dlt
          |  FROM (SELECT * FROM agg WHERE arm = 'A') a
          |  CROSS JOIN (SELECT * FROM agg WHERE arm = 'B') b
          |)
          |SELECT n_a, conv_a, rate_a_bps, n_b, conv_b, rate_b_bps,
          |       rate_b_bps - rate_a_bps AS lift_bps,
          |       CASE WHEN conv_a + conv_b = 0
          |              OR conv_a + conv_b = n_a + n_b THEN 0.0
          |            ELSE round((CAST(n_a + n_b AS DOUBLE) * CAST(dlt AS DOUBLE)
          |                        * CAST(dlt AS DOUBLE))
          |                       / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
          |                          * CAST(conv_a + conv_b AS DOUBLE)
          |                          * CAST(n_a + n_b - conv_a - conv_b AS DOUBLE)), 6)
          |       END AS chi2
          |FROM t""".stripMargin,

      "events_attribution_first" ->
        s"""WITH $attributionPairsCte, firsts AS (
          |  SELECT event_type, conv_id FROM (
          |    SELECT event_type, conv_id,
          |           row_number() OVER (PARTITION BY conv_id
          |             ORDER BY t_us, touch_id) AS rn
          |    FROM pairs) z
          |  WHERE rn = 1
          |), tot AS (SELECT count(*) AS n_attributed FROM firsts)
          |SELECT event_type, count(*) AS n_first_touches,
          |       max(n_attributed) AS n_attributed,
          |       count(*) * 10000 // max(n_attributed) AS share_bps
          |FROM firsts CROSS JOIN tot
          |GROUP BY 1 ORDER BY 1""".stripMargin,

      "events_forecast_baseline" ->
        """WITH ev AS (
          |  SELECT event_type, CAST(ts AS DATE) AS day,
          |         CAST(hour(ts) AS BIGINT) AS hr
          |  FROM events
          |), cells AS (
          |  SELECT event_type, day, hr, count(*) AS actual
          |  FROM ev GROUP BY 1, 2, 3
          |), dm AS (
          |  SELECT t.event_type, d.day, h.hr
          |  FROM (SELECT DISTINCT event_type FROM ev) t
          |  CROSS JOIN (SELECT DISTINCT day FROM ev) d
          |  CROSS JOIN (SELECT unnest(range(0, 24)) AS hr) h
          |), full0 AS (
          |  SELECT dm.event_type, dm.day, dm.hr,
          |         coalesce(c.actual, 0) AS actual
          |  FROM dm LEFT JOIN cells c
          |    ON dm.event_type = c.event_type AND dm.day = c.day
          |   AND dm.hr = c.hr
          |), seasonal AS (
          |  SELECT event_type, hr,
          |         CAST(sum(actual) AS BIGINT) // count(*) AS predicted
          |  FROM full0 GROUP BY 1, 2
          |)
          |SELECT f.event_type, count(*) AS n_cells,
          |       CAST(sum(f.actual) AS BIGINT) AS n_events,
          |       CAST(sum(abs(f.actual - s.predicted)) AS BIGINT)
          |         AS total_abs_err,
          |       CAST(sum(abs(f.actual - s.predicted)) AS BIGINT) * 1000000
          |         // count(*) AS mae_fp6
          |FROM full0 f JOIN seasonal s
          |  ON f.event_type = s.event_type AND f.hr = s.hr
          |GROUP BY 1 ORDER BY 1""".stripMargin,

      "events_cusum" ->
        s"""WITH $dailyGridCtes, st AS (
          |  SELECT event_type, day, x,
          |         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
          |         CAST(sum(x) OVER (PARTITION BY event_type) AS BIGINT) AS s
          |  FROM grid
          |), cs AS (
          |  SELECT event_type, day, n, s,
          |         CAST(sum(n * x - s - s // 2) OVER (
          |           PARTITION BY event_type ORDER BY day) AS BIGINT) AS cs
          |  FROM st
          |), cu AS (
          |  SELECT event_type, day, n, s,
          |         cs - least(CAST(0 AS BIGINT), CAST(min(cs) OVER (
          |           PARTITION BY event_type ORDER BY day) AS BIGINT)) AS cusum
          |  FROM cs
          |)
          |SELECT event_type,
          |       CAST(min(n) AS BIGINT) AS n_days,
          |       CAST(sum(CASE WHEN cusum > 4 * s THEN 1 ELSE 0 END) AS BIGINT)
          |         AS n_alarm_days,
          |       min(CASE WHEN cusum > 4 * s THEN day END) AS first_alarm_day,
          |       CAST(max(cusum // n) AS BIGINT) AS max_cusum
          |FROM cu GROUP BY event_type ORDER BY event_type""".stripMargin,

      "events_theilsen" ->
        s"""WITH $dailyGridCtes, pairs AS (
          |  SELECT a.event_type, b.x - a.x AS num,
          |         CAST(datediff('day', a.day, b.day) AS BIGINT) AS den
          |  FROM grid a JOIN grid b
          |    ON a.event_type = b.event_type AND b.day > a.day
          |), ranked AS (
          |  SELECT event_type, num, den,
          |         row_number() OVER (PARTITION BY event_type
          |           ORDER BY CAST(num AS DOUBLE) / CAST(den AS DOUBLE),
          |                    num, den) AS rn,
          |         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
          |           AS n_pairs
          |  FROM pairs
          |)
          |SELECT event_type, n_pairs, num AS med_num, den AS med_den,
          |       round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6)
          |         AS slope_per_day
          |FROM ranked WHERE rn = (n_pairs + 1) // 2
          |ORDER BY event_type""".stripMargin,

      // from-scratch recompute: the hash match IS the delta-algebra proof
      "ivm_join_delta" ->
        """SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_orders,
          |       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
          |                  AS DOUBLE), 2) AS total_price
          |FROM orders JOIN customer ON o_custkey = c_custkey
          |GROUP BY 1 ORDER BY 1""".stripMargin,

      "q13_custdist" ->
        """WITH per AS (
          |  SELECT c_custkey, CAST(count(o_custkey) AS BIGINT) AS c_count
          |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
          |  GROUP BY 1
          |)
          |SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
          |FROM per GROUP BY 1
          |ORDER BY custdist DESC, c_count DESC""".stripMargin,

      "events_burstiness" ->
        """WITH ev AS (
          |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
          |  FROM events
          |), gaps AS (
          |  SELECT event_type,
          |         lead(ts_us, 1) OVER (PARTITION BY user_id
          |           ORDER BY ts_us, event_id) - ts_us AS gap_us
          |  FROM ev
          |), g AS (
          |  SELECT event_type, gap_us FROM gaps
          |  WHERE gap_us IS NOT NULL AND gap_us >= 0
          |    AND gap_us < 28800000000
          |), agg AS (
          |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
          |         CAST(sum(gap_us) AS BIGINT) AS s1,
          |         sum(CAST(gap_us AS HUGEINT) * gap_us) AS s2
          |  FROM g GROUP BY 1
          |)
          |SELECT event_type, n_gaps,
          |       s1 // n_gaps AS mean_gap_us,
          |       CAST((CAST(n_gaps AS HUGEINT) * s2
          |             - CAST(s1 AS HUGEINT) * s1) * 1000000
          |            // (CAST(s1 AS HUGEINT) * s1) AS BIGINT) AS cv2_ppm
          |FROM agg WHERE s1 > 0 ORDER BY event_type""".stripMargin,

      "events_hour_anova" ->
        """WITH ev AS (
          |  SELECT event_type, CAST(ts AS DATE) AS day,
          |         CAST(hour(ts) AS BIGINT) AS hr
          |  FROM events
          |), cells AS (
          |  SELECT event_type, day, hr, CAST(count(*) AS BIGINT) AS x
          |  FROM ev GROUP BY 1, 2, 3
          |), grid AS (
          |  SELECT t.event_type, d.day, h.hr, coalesce(cells.x, 0) AS x
          |  FROM (SELECT DISTINCT event_type FROM ev) t
          |  CROSS JOIN (SELECT DISTINCT day FROM ev) d
          |  CROSS JOIN (SELECT CAST(range AS BIGINT) AS hr FROM range(0, 24)) h
          |  LEFT JOIN cells ON cells.event_type = t.event_type
          |               AND cells.day = d.day AND cells.hr = h.hr
          |), stats AS (
          |  SELECT event_type, CAST(count(*) AS BIGINT) // 24 AS m,
          |         CAST(sum(x) AS BIGINT) AS s
          |  FROM grid GROUP BY 1
          |), tot AS (
          |  SELECT g.event_type,
          |         sum(CAST(24 * st.m * g.x - st.s AS HUGEINT)
          |             * CAST(24 * st.m * g.x - st.s AS HUGEINT)) AS ss_tot
          |  FROM grid g JOIN stats st USING (event_type) GROUP BY 1
          |), hg AS (
          |  SELECT event_type, hr, CAST(sum(x) AS BIGINT) AS sg
          |  FROM grid GROUP BY 1, 2
          |), ssb AS (
          |  SELECT h.event_type,
          |         sum(CAST(24 * h.sg - st.s AS HUGEINT)
          |             * CAST(24 * h.sg - st.s AS HUGEINT)) AS ssg
          |  FROM hg h JOIN stats st USING (event_type) GROUP BY 1
          |)
          |SELECT st.event_type, st.m AS n_days, st.s AS n_events,
          |       CASE WHEN t.ss_tot = 0 THEN 0
          |            ELSE CAST(CAST(st.m AS HUGEINT) * b.ssg * 1000000
          |                      // t.ss_tot AS BIGINT)
          |       END AS eta2_ppm
          |FROM stats st JOIN tot t USING (event_type)
          |JOIN ssb b USING (event_type)
          |ORDER BY event_type""".stripMargin,

      "events_whales" ->
        """WITH totals AS (
          |  SELECT user_id,
          |         CAST(sum(CAST(round(coalesce(value, 0) * 1000000, 0)
          |                       AS BIGINT)) AS BIGINT) AS total_fp6
          |  FROM events GROUP BY 1
          |), grand AS (
          |  SELECT CAST(sum(total_fp6) AS BIGINT) AS grand_fp6 FROM totals
          |), top AS (
          |  SELECT user_id, total_fp6 FROM totals
          |  ORDER BY total_fp6 DESC, user_id LIMIT 25
          |), ranked AS (
          |  SELECT CAST(row_number() OVER (ORDER BY total_fp6 DESC, user_id)
          |           AS BIGINT) AS rank,
          |         user_id, total_fp6,
          |         CAST(sum(total_fp6) OVER (ORDER BY total_fp6 DESC, user_id
          |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |           AS BIGINT) AS cum_fp6
          |  FROM top
          |)
          |SELECT rank, user_id, total_fp6,
          |       CAST(CAST(total_fp6 AS HUGEINT) * 1000000 // grand_fp6
          |            AS BIGINT) AS share_ppm,
          |       CAST(CAST(cum_fp6 AS HUGEINT) * 1000000 // grand_fp6
          |            AS BIGINT) AS cum_share_ppm
          |FROM ranked CROSS JOIN grand ORDER BY rank""".stripMargin,

      "events_cohort_ltv" ->
        """WITH ev AS (
          |  SELECT user_id, CAST(ts AS DATE) AS d,
          |         CAST(round(coalesce(value, 0) * 1000000, 0) AS BIGINT) AS v6,
          |         event_type
          |  FROM events
          |), first AS (
          |  SELECT user_id, min(d) AS first_day FROM ev GROUP BY 1
          |), sized AS (
          |  SELECT CAST(yearweek(first_day) AS BIGINT) AS cohort_week,
          |         CAST(count(DISTINCT user_id) AS BIGINT) AS cohort_size
          |  FROM first GROUP BY 1
          |), cells AS (
          |  SELECT CAST(yearweek(first_day) AS BIGINT) AS cohort_week,
          |         datediff('day', first_day, d) // 7 AS age_week,
          |         CAST(sum(v6) AS BIGINT) AS week_value_fp6,
          |         CAST(count(*) AS BIGINT) AS n_purchases
          |  FROM ev JOIN first USING (user_id)
          |  WHERE event_type = 'purchase'
          |  GROUP BY 1, 2
          |), cum AS (
          |  SELECT c.cohort_week, c.age_week, s.cohort_size, c.n_purchases,
          |         c.week_value_fp6,
          |         CAST(sum(c.week_value_fp6) OVER (
          |           PARTITION BY c.cohort_week ORDER BY c.age_week
          |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |           AS BIGINT) AS cum_value_fp6
          |  FROM cells c JOIN sized s USING (cohort_week)
          |)
          |SELECT cohort_week, age_week, cohort_size, n_purchases,
          |       week_value_fp6, cum_value_fp6,
          |       cum_value_fp6 // cohort_size AS ltv_per_user_fp6
          |FROM cum ORDER BY cohort_week, age_week""".stripMargin,

      "events_benford" ->
        s"""WITH ev AS (
           |  SELECT event_type,
           |         CAST(round(value * 1000000, 0) AS BIGINT) AS v
           |  FROM events WHERE value IS NOT NULL
           |), digs AS (
           |  SELECT event_type,
           |         CAST(substring(CAST(v AS VARCHAR), 1, 1) AS BIGINT) AS digit
           |  FROM ev WHERE v > 0
           |), cnt AS (
           |  SELECT event_type, digit, CAST(count(*) AS BIGINT) AS n
           |  FROM digs GROUP BY 1, 2
           |), tot AS (
           |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_type
           |  FROM digs GROUP BY 1
           |)
           |SELECT c.event_type, c.digit, c.n,
           |       c.n * 1000000 // t.n_type AS obs_ppm,
           |       $benfordCaseSql AS benford_ppm,
           |       abs(c.n * 1000000 // t.n_type - $benfordCaseSql) AS dev_ppm
           |FROM cnt c JOIN tot t USING (event_type)
           |ORDER BY event_type, digit""".stripMargin,

      "events_autocorr" ->
        s"""WITH $dailyGridCtes, g AS (
          |  SELECT event_type, day,
          |         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) * x
          |           - CAST(sum(x) OVER (PARTITION BY event_type) AS BIGINT) AS y
          |  FROM grid
          |), den AS (
          |  SELECT event_type, CAST(sum(y * y) AS BIGINT) AS den
          |  FROM g GROUP BY 1
          |), pairs AS (
          |  SELECT a.event_type, datediff('day', a.day, b.day) AS lag,
          |         a.y * b.y AS yy
          |  FROM g a JOIN g b
          |    ON a.event_type = b.event_type
          |   AND b.day > a.day AND b.day <= a.day + 7
          |)
          |SELECT p.event_type, p.lag,
          |       CAST(count(*) AS BIGINT) AS n_terms,
          |       CASE WHEN d.den = 0 THEN 0
          |            ELSE 1000000 * CAST(sum(yy) AS BIGINT) // d.den END AS acf_ppm
          |FROM pairs p JOIN den d ON d.event_type = p.event_type
          |GROUP BY p.event_type, p.lag, d.den
          |ORDER BY p.event_type, p.lag""".stripMargin,

      "events_stickiness" ->
        """WITH ud AS (
          |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
          |), days AS (SELECT DISTINCT d AS day FROM ud),
          |dau AS (
          |  SELECT d AS day, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY 1
          |), wau AS (
          |  SELECT days.day,
          |         CAST(count(DISTINCT ud.user_id) AS BIGINT) AS wau
          |  FROM days JOIN ud ON ud.d <= days.day AND ud.d >= days.day - 6
          |  GROUP BY 1
          |)
          |SELECT dau.day, dau.dau, wau.wau,
          |       dau.dau * 10000 // wau.wau AS stickiness_bps
          |FROM dau JOIN wau USING (day) ORDER BY day""".stripMargin,

      "q19_disjunctive" ->
        """SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
          |         (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 2)
          |         AS revenue,
          |       count(*) AS n_lines
          |FROM lineitem JOIN part ON l_partkey = p_partkey
          |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 10
          |       AND l_quantity BETWEEN 1 AND 11)
          |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 15
          |       AND l_quantity BETWEEN 10 AND 20)
          |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 25
          |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin,

      "q17_small_quantity" ->
        """WITH pa AS (
          |  SELECT l_partkey,
          |         sum(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty,
          |         count(*) AS n_lines
          |  FROM lineitem GROUP BY 1
          |)
          |SELECT CAST(year(l_shipdate) AS BIGINT) AS ship_year,
          |       count(*) AS n_small_lines,
          |       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
          |         AS DOUBLE), 2) AS small_revenue
          |FROM lineitem JOIN pa USING (l_partkey)
          |WHERE CAST(l_quantity AS DECIMAL(18,2)) * 5 * n_lines < sum_qty
          |GROUP BY 1 ORDER BY 1""".stripMargin,

      "q6_band_revenue" ->
        """SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
          |         CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE), 2)
          |         AS revenue_delta,
          |       count(*) AS n_lines
          |FROM lineitem
          |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          |  AND l_shipdate < TIMESTAMP '1997-01-01'
          |  AND l_discount BETWEEN 0.05 AND 0.07
          |  AND l_quantity < 24""".stripMargin,

      "events_dwell_time" ->
        """WITH d AS (
          |  SELECT event_type,
          |         lead(epoch_us(ts)) OVER (PARTITION BY user_id
          |           ORDER BY epoch_us(ts), event_id) - epoch_us(ts)
          |           AS dwell_us
          |  FROM events
          |)
          |SELECT event_type, count(*) AS n_dwells,
          |       CAST(sum(dwell_us) AS BIGINT) AS total_dwell_us,
          |       max(dwell_us) AS max_dwell_us,
          |       CAST(sum(dwell_us) AS BIGINT) // count(*) AS mean_dwell_us
          |FROM d
          |WHERE dwell_us IS NOT NULL AND dwell_us < 28800000000
          |GROUP BY 1 ORDER BY 1""".stripMargin,

      "q16_brand_suppliers" ->
        """SELECT p_brand,
          |       count(DISTINCT l_suppkey) AS n_suppliers,
          |       count(DISTINCT l_partkey) AS n_parts,
          |       count(*) AS n_lines
          |FROM lineitem JOIN part ON l_partkey = p_partkey
          |GROUP BY 1 ORDER BY 1""".stripMargin,

      "events_session_percentiles" ->
        s"""WITH $sessionCte,
           |durs AS (
           |  SELECT user_id, session_seq,
           |         max(ts_us) - min(ts_us) AS dur_us,
           |         count(*) AS n_ev
           |  FROM ss GROUP BY 1, 2
           |), r AS (
           |  SELECT dur_us, n_ev,
           |         row_number() OVER (ORDER BY dur_us, user_id, session_seq)
           |           AS rn,
           |         count(*) OVER () AS n
           |  FROM durs
           |)
           |SELECT max(n) AS n_sessions,
           |       CAST(sum(CASE WHEN n_ev = 1 THEN 1 ELSE 0 END) AS BIGINT)
           |         AS n_single_event,
           |       max(CASE WHEN rn = (n * 50 + 99) // 100 THEN dur_us END)
           |         AS p50_dur_us,
           |       max(CASE WHEN rn = (n * 90 + 99) // 100 THEN dur_us END)
           |         AS p90_dur_us
           |FROM r""".stripMargin,

      "events_new_returning" ->
        """WITH ud AS (
          |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
          |), f AS (
          |  SELECT user_id, min(day) AS first_day FROM ud GROUP BY 1
          |)
          |SELECT CAST(datediff('day', DATE '1970-01-01', day) AS BIGINT)
          |         AS day_idx,
          |       count(*) AS n_active,
          |       CAST(sum(CASE WHEN day = first_day THEN 1 ELSE 0 END)
          |         AS BIGINT) AS n_new,
          |       CAST(sum(CASE WHEN day <> first_day THEN 1 ELSE 0 END)
          |         AS BIGINT) AS n_returning,
          |       CAST(sum(CASE WHEN day = first_day THEN 1 ELSE 0 END) * 10000
          |         // count(*) AS BIGINT) AS new_share_bps
          |FROM ud JOIN f USING (user_id)
          |GROUP BY 1 ORDER BY 1""".stripMargin,

      "events_heatmap" ->
        """WITH cells AS (
          |  SELECT event_type,
          |         CAST(dayofweek(ts) AS BIGINT) AS dow,
          |         CAST(hour(ts) AS BIGINT) AS hr,
          |         count(*) AS n_events
          |  FROM events GROUP BY 1, 2, 3
          |)
          |SELECT event_type, dow, hr, n_events,
          |       CAST(n_events * 10000 //
          |         CAST(sum(n_events) OVER (PARTITION BY event_type)
          |           AS BIGINT) AS BIGINT) AS share_bps
          |FROM cells ORDER BY event_type, dow, hr""".stripMargin,

      "events_value_percentiles" ->
        """WITH ev AS (
          |  SELECT event_type,
          |         CAST(round(value * 1000000, 0) AS BIGINT) AS v6
          |  FROM events
          |), r AS (
          |  SELECT event_type, v6,
          |         row_number() OVER (PARTITION BY event_type ORDER BY v6)
          |           AS rn,
          |         count(*) OVER (PARTITION BY event_type) AS n
          |  FROM ev
          |)
          |SELECT event_type, max(n) AS n_events,
          |       max(CASE WHEN rn = (n * 50 + 99) // 100 THEN v6 END)
          |         AS p50_fp6,
          |       max(CASE WHEN rn = (n * 90 + 99) // 100 THEN v6 END)
          |         AS p90_fp6,
          |       max(CASE WHEN rn = (n * 99 + 99) // 100 THEN v6 END)
          |         AS p99_fp6
          |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,

      "events_wow_change" ->
        """WITH wk AS (
          |  SELECT event_type,
          |         CAST(yearweek(ts) AS BIGINT) AS iso_week,
          |         count(*) AS n_events
          |  FROM events GROUP BY 1, 2
          |), l AS (
          |  SELECT event_type, iso_week, n_events,
          |         lag(n_events) OVER (PARTITION BY event_type
          |           ORDER BY iso_week) AS prev
          |  FROM wk
          |)
          |SELECT event_type, iso_week, n_events,
          |       coalesce(prev, 0) AS prev_week_events,
          |       CASE WHEN prev IS NULL THEN 0
          |            ELSE CAST((n_events - prev) * 10000 // prev AS BIGINT)
          |       END AS wow_change_bps
          |FROM l ORDER BY event_type, iso_week""".stripMargin,

      "events_conversion_lag" ->
        """WITH c AS (
          |  SELECT user_id, epoch_us(ts) AS c_us FROM events
          |  WHERE event_type = 'click'
          |), p AS (
          |  SELECT user_id, epoch_us(ts) AS p_us FROM events
          |  WHERE event_type = 'purchase'
          |), pairs AS (
          |  SELECT c.user_id, p.p_us - c.c_us AS lag_us
          |  FROM c JOIN p ON c.user_id = p.user_id
          |  WHERE p.p_us > c.c_us AND p.p_us <= c.c_us + 14400000000
          |), banded AS (
          |  SELECT user_id,
          |         CASE WHEN lag_us < 60000000 THEN 'a_under_1m'
          |              WHEN lag_us < 300000000 THEN 'b_1_5m'
          |              WHEN lag_us < 900000000 THEN 'c_5_15m'
          |              WHEN lag_us < 3600000000 THEN 'd_15_60m'
          |              ELSE 'e_1_4h' END AS lag_band
          |  FROM pairs
          |)
          |SELECT lag_band, count(*) AS n_pairs,
          |       count(DISTINCT user_id) AS n_users
          |FROM banded GROUP BY 1 ORDER BY 1""".stripMargin,

      "events_audience_overlap" ->
        """WITH tu AS (
          |  SELECT DISTINCT event_type, user_id FROM events
          |), sz AS (SELECT event_type, count(*) AS n FROM tu GROUP BY 1),
          |inter AS (
          |  SELECT a.event_type AS t1, b.event_type AS t2,
          |         count(*) AS n_both
          |  FROM tu a JOIN tu b
          |    ON a.user_id = b.user_id AND a.event_type < b.event_type
          |  GROUP BY 1, 2
          |)
          |SELECT t1, t2, s1.n AS n1, s2.n AS n2, n_both,
          |       n_both * 1000000 // (s1.n + s2.n - n_both) AS jaccard_fp6
          |FROM inter
          |JOIN sz s1 ON s1.event_type = t1
          |JOIN sz s2 ON s2.event_type = t2
          |ORDER BY t1, t2""".stripMargin,

      "events_rate_limit_audit" ->
        """WITH pm AS (
          |  SELECT user_id,
          |         epoch_us(ts) - epoch_us(ts) % 60000000 AS minute_us,
          |         count(*) AS n_in_minute
          |  FROM events GROUP BY 1, 2
          |), pu AS (
          |  SELECT user_id, max(n_in_minute) AS peak_minute,
          |         count(*) AS n_active_minutes
          |  FROM pm GROUP BY 1
          |)
          |SELECT peak_minute >= 2 AS flagged, count(*) AS n_users,
          |       max(peak_minute) AS max_peak,
          |       CAST(sum(n_active_minutes) AS BIGINT) AS total_active_minutes
          |FROM pu GROUP BY 1 ORDER BY 1""".stripMargin,

      "q21_sole_late_supplier" ->
        """WITH pos AS (
          |  SELECT l_orderkey, l_suppkey,
          |         max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
          |                  THEN 1 ELSE 0 END) AS any_late
          |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |  GROUP BY 1, 2
          |), po AS (
          |  SELECT l_orderkey, count(*) AS n_supps,
          |         CAST(sum(any_late) AS BIGINT) AS n_late_supps
          |  FROM pos GROUP BY 1
          |)
          |SELECT s_name, count(*) AS n_sole_late_orders
          |FROM pos
          |JOIN po USING (l_orderkey)
          |JOIN supplier ON l_suppkey = s_suppkey
          |WHERE any_late = 1 AND n_supps >= 2 AND n_late_supps = 1
          |GROUP BY 1
          |ORDER BY n_sole_late_orders DESC, s_name LIMIT 20""".stripMargin,

      "q18_big_orders" ->
        """WITH big AS (
          |  SELECT l_orderkey,
          |         sum(CAST(l_quantity AS DECIMAL(18,2))) AS total_qty
          |  FROM lineitem GROUP BY 1
          |  HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 150
          |)
          |SELECT c_custkey, c_name, o_orderkey,
          |       epoch_us(o_orderdate) AS order_date_us,
          |       round(CAST(total_qty AS DOUBLE), 2) AS total_qty
          |FROM big
          |JOIN orders ON l_orderkey = o_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |ORDER BY total_qty DESC, o_orderkey LIMIT 50""".stripMargin,

      "q2_cheapest_supplier" ->
        """WITH sn AS (
          |  SELECT s_suppkey, s_name, n_name
          |  FROM supplier
          |  JOIN nation ON s_nationkey = n_nationkey
          |  JOIN region ON n_regionkey = r_regionkey
          |  WHERE r_name = 'EUROPE'
          |), ps AS (
          |  SELECT p_partkey, p_brand, s_suppkey, s_name, n_name,
          |         min(CAST(l_extendedprice AS DECIMAL(18,2))) AS cost
          |  FROM lineitem
          |  JOIN part ON l_partkey = p_partkey AND p_size = 25
          |  JOIN sn ON l_suppkey = s_suppkey
          |  GROUP BY 1, 2, 3, 4, 5
          |), m AS (
          |  SELECT *, min(cost) OVER (PARTITION BY p_partkey) AS mc FROM ps
          |)
          |SELECT p_partkey, p_brand, s_name, n_name,
          |       round(CAST(cost AS DOUBLE), 2) AS min_cost
          |FROM m WHERE cost = mc
          |ORDER BY p_partkey, s_name""".stripMargin,

      "q15_top_supplier" ->
        """WITH rev AS (
          |  SELECT l_suppkey,
          |         sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
          |             (1 - CAST(l_discount AS DECIMAL(18,2)))) AS rev
          |  FROM lineitem
          |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          |    AND l_shipdate < TIMESTAMP '1996-04-01'
          |  GROUP BY 1
          |), mx AS (SELECT max(rev) AS max_rev FROM rev)
          |SELECT s_suppkey, s_name, round(CAST(rev AS DOUBLE), 2) AS total_revenue
          |FROM rev CROSS JOIN mx
          |JOIN supplier ON l_suppkey = s_suppkey
          |WHERE rev = max_rev
          |ORDER BY s_suppkey""".stripMargin,

      "q8_market_share" ->
        """WITH asia_orders AS (
          |  SELECT o_orderkey, CAST(year(o_orderdate) AS BIGINT) AS o_year
          |  FROM orders
          |  JOIN customer ON o_custkey = c_custkey
          |  JOIN nation ON c_nationkey = n_nationkey
          |  WHERE n_regionkey = 2
          |), vols AS (
          |  SELECT o_year,
          |         CAST(l_extendedprice AS DECIMAL(18,2)) *
          |           (1 - CAST(l_discount AS DECIMAL(18,2))) AS vol,
          |         (s_nationkey = 2) AS is_target
          |  FROM lineitem
          |  JOIN asia_orders ON l_orderkey = o_orderkey
          |  JOIN supplier ON l_suppkey = s_suppkey
          |), agg AS (
          |  SELECT o_year, CAST(count(*) AS BIGINT) AS n_lines,
          |         sum(vol) AS total_rev,
          |         sum(CASE WHEN is_target THEN vol ELSE CAST(0 AS DECIMAL(18,2)) END)
          |           AS target_rev
          |  FROM vols GROUP BY 1
          |)
          |SELECT o_year, n_lines,
          |       round(CAST(total_rev AS DOUBLE), 2) AS total_rev,
          |       round(CAST(target_rev AS DOUBLE), 2) AS target_rev,
          |       CAST(CAST(target_rev * 10000 AS HUGEINT) * 10000
          |            // CAST(total_rev * 10000 AS HUGEINT) AS BIGINT) AS share_bps
          |FROM agg ORDER BY o_year""".stripMargin,

      "q22_prospects" ->
        """WITH s AS (
          |  SELECT sum(CAST(c_acctbal AS DECIMAL(18,2))) AS sum_bal,
          |         count(*) AS n_bal
          |  FROM customer WHERE c_acctbal > 0
          |)
          |SELECT c_nationkey, count(*) AS n_prospects,
          |       round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2)
          |         AS total_balance
          |FROM customer, s
          |WHERE CAST(c_acctbal AS DECIMAL(18,2)) * n_bal > sum_bal
          |  AND NOT EXISTS (SELECT 1 FROM orders
          |                  WHERE o_custkey = c_custkey
          |                    AND o_orderdate >= TIMESTAMP '2000-01-01')
          |GROUP BY 1 ORDER BY 1""".stripMargin,

      "privacy_t_closeness" ->
        """WITH b AS (
          |  SELECT c_mktsegment,
          |         CAST(floor(CAST(c_acctbal AS DOUBLE) / 1000.0) AS BIGINT)
          |           AS bal_bucket,
          |         c_nationkey
          |  FROM customer
          |), gv AS (
          |  SELECT c_mktsegment, bal_bucket, c_nationkey, count(*) AS cnt_gv
          |  FROM b GROUP BY 1, 2, 3
          |), g AS (
          |  SELECT c_mktsegment, bal_bucket, count(*) AS n_g
          |  FROM b GROUP BY 1, 2
          |), v AS (SELECT c_nationkey, count(*) AS cnt_v FROM b GROUP BY 1),
          |tot AS (SELECT count(*) AS n_total FROM b),
          |j AS (
          |  SELECT g.c_mktsegment, g.bal_bucket, g.n_g, tot.n_total,
          |         v.cnt_v, coalesce(gv.cnt_gv, 0) AS cnt_gv
          |  FROM g CROSS JOIN v CROSS JOIN tot
          |  LEFT JOIN gv ON gv.c_mktsegment = g.c_mktsegment
          |              AND gv.bal_bucket = g.bal_bucket
          |              AND gv.c_nationkey = v.c_nationkey
          |)
          |SELECT c_mktsegment, bal_bucket, n_g AS n_rows,
          |       CAST(sum(abs(cnt_gv * n_total - cnt_v * n_g)) AS BIGINT)
          |         AS tvd_num,
          |       sum(abs(cnt_gv * n_total - cnt_v * n_g)) * 10
          |         > 8 * n_total * n_g AS t_risk
          |FROM j GROUP BY c_mktsegment, bal_bucket, n_g, n_total
          |ORDER BY c_mktsegment, bal_bucket""".stripMargin,

      "q4_late_orders" ->
        """SELECT o_orderpriority, count(*) AS n_orders
          |FROM orders
          |WHERE o_orderdate >= TIMESTAMP '1995-01-01'
          |  AND o_orderdate < TIMESTAMP '1995-04-01'
          |  AND EXISTS (
          |    SELECT 1 FROM lineitem
          |    WHERE l_orderkey = o_orderkey
          |      AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
          |GROUP BY 1 ORDER BY 1""".stripMargin,

      "q14_promo_share" ->
        """WITH j AS (
          |  SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
          |         p_type LIKE 'PROMO%' AS is_promo,
          |         CAST(l_extendedprice AS DECIMAL(18,2)) *
          |           (1 - CAST(l_discount AS DECIMAL(18,2))) AS rev
          |  FROM lineitem JOIN part ON l_partkey = p_partkey
          |), m AS (
          |  SELECT ship_month,
          |         CAST(sum(CASE WHEN is_promo THEN rev ELSE 0 END) * 10000
          |           AS BIGINT) AS promo_fp4,
          |         CAST(sum(rev) * 10000 AS BIGINT) AS total_fp4
          |  FROM j GROUP BY 1
          |)
          |SELECT ship_month,
          |       round(CAST(promo_fp4 AS DOUBLE) / 10000.0, 2) AS promo_revenue,
          |       round(CAST(total_fp4 AS DOUBLE) / 10000.0, 2) AS total_revenue,
          |       promo_fp4 * 10000 // total_fp4 AS promo_bps
          |FROM m ORDER BY ship_month""".stripMargin,

      "events_attribution_linear" ->
        s"""WITH $attributionPairsCte, credited AS (
          |  SELECT event_type, conv_id,
          |         1000000 // count(*) OVER (PARTITION BY conv_id) AS credit_fp
          |  FROM pairs
          |)
          |SELECT event_type, count(*) AS n_touches,
          |       count(DISTINCT conv_id) AS n_conversions,
          |       CAST(sum(credit_fp) AS BIGINT) AS credit_fp_sum
          |FROM credited GROUP BY 1 ORDER BY 1""".stripMargin,

      "pivot_revenue" ->
        """SELECT o_orderpriority,
          |       CAST(sum(CASE WHEN o_orderstatus = 'F'
          |                     THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS price_f,
          |       CAST(sum(CASE WHEN o_orderstatus = 'O'
          |                     THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS price_o,
          |       CAST(sum(CASE WHEN o_orderstatus = 'P'
          |                     THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS price_p
          |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin
    )
  }
}
