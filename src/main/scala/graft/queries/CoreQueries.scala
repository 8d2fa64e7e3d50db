package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Tables
import graft.ops.CoreOps._

/** The declared query contract (SURVEY.md §2.6): the reference's operator
  * inventory re-expressed over the TPC-H-ish testdata, each with a DuckDB
  * oracle. Every query is fully ordered and type-pinned so the driver's
  * hash compare is deterministic (ints stay ints, double sums go through
  * exact decimal arithmetic, arrays are sorted).
  */
object CoreQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Q1 [A1+A3+A6 ≈ CalculatePopulationFacts]: filter → one-hot → grouped sums
    "q01_filter_onehot_agg" -> ((s, dir) => {
      t(s, dir, "customer")
        .filter(col("c_acctbal") >= 0)
        .groupBy(col("c_nationkey"))
        .agg(
          count(lit(1)).as("pop"),
          sum(oneHot(col("c_mktsegment"), "BUILDING")).as("pop_b"),
          sum(oneHot(col("c_mktsegment"), "MACHINERY")).as("pop_m"))
        .orderBy(col("c_nationkey"))
    }),

    // Q2 [T9/T11 ≈ broadcast dim join, left outer, null→default]
    "q02_dim_join_default" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      dimJoin(c, n, c("c_nationkey") === n("n_nationkey"),
          Map("n_name" -> lit("")))
        .select(col("c_custkey"), col("n_name").as("nm"))
        .orderBy(col("c_custkey"))
        .limit(100)
    }),

    // Q3 [S3/F1 ≈ cousub name rewrite]: conditional suffix strip
    "q03_suffix_strip" -> ((s, dir) => {
      t(s, dir, "nation")
        .select(
          stripSuffix(col("n_name"), " Town").as("nm"),
          col("n_nationkey"))
        .orderBy(col("n_nationkey"))
    }),

    // Q4 [S4 ≈ disease dim load]: nullif + coalesce sentinel
    "q04_sentinel_coalesce" -> ((s, dir) => {
      t(s, dir, "part")
        .select(
          col("p_partkey"),
          sentinel(nullif(col("p_size"), lit(0)), -999).as("sz"))
        .orderBy(col("p_partkey"))
        .limit(1000)
    }),

    // Q5 [T12+T13 ≈ per-patient collect + dedup], order-canonicalized.
    // Emitted as a joined string (not array<string>) so the driver's
    // hash compare can lexsort the column; the array-typed operator
    // itself stays covered by CoreOpsSpec/PropertySpec.
    "q05_collect_dedup" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      o.join(l, o("o_orderkey") === l("l_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(array_join(
          distinctSorted(collect_list(col("l_linestatus"))), ",")
          .as("statuses"))
        .orderBy(col("o_custkey"))
        .limit(1000)
    }),

    // Q6 [A4+A5 ≈ unwind + post-filter + regroup ≈ CalculateDiseaseFacts]
    "q06_unwind_refilter" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      val perCust = o.join(l, o("o_orderkey") === l("l_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(array_distinct(collect_list(col("l_suppkey"))).as("supps"))
      explodeGt0(perCust, "supps", "suppkey")
        .filter(col("suppkey") > 10)
        .groupBy(col("suppkey"))
        .agg(count(lit(1)).as("pop"))
        .orderBy(col("suppkey"))
    }),

    // Q7 [T7/T8 ≈ getAge]: whole-year difference at a fixed asOf date
    "q07_age_years" -> ((s, dir) => {
      t(s, dir, "orders")
        .select(
          col("o_orderkey"),
          ageYears(col("o_orderdate"), lit("1998-09-02").cast("date"))
            .as("yrs"))
        .orderBy(col("o_orderkey"))
        .limit(1000)
    }),

    // Q8 [T6 ≈ type-tag routing]: group-by-discriminator counts
    "q08_type_routing" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // Q9 [A1 tri-state ≈ deceased $exists]: null-or-false filter
    "q09_tristate_filter" -> ((s, dir) => {
      t(s, dir, "orders")
        .filter(absentOrFalse(col("o_orderstatus") === "F"))
        .agg(count(lit(1)).as("n"))
    }),

    // Q10 [T14 ≈ bundle counter]: plain count
    "q10_count" -> ((s, dir) =>
      t(s, dir, "lineitem").agg(count(lit(1)).as("n"))),

    // Q11 [S8 shape ≈ fact-table emit]: match→project→group→shape
    "q11_fact_shape" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") < lit("1998-09-02").cast("date"))
        .groupBy(col("l_suppkey"), col("l_returnflag"))
        .agg(count(lit(1)).as("pop"), exactSum(col("l_quantity")).as("q"))
        .orderBy(col("l_suppkey"), col("l_returnflag"))
    }),

    // Q12 [events sanity for the streaming path]
    "q12_events_minmax" -> ((s, dir) => {
      t(s, dir, "events")
        .agg(count(lit(1)).as("n"), min(col("ts")).as("mn"),
          max(col("ts")).as("mx"))
    }),

    // Q13 [streaming windowed agg, batch-checked]: tumbling 1h windows —
    // the exact plan Streams.windowedEventCounts runs incrementally.
    "q13_windowed_events" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(
          window(col("ts"), "1 hour").getField("start").as("win_start"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), exactSum(col("value")).as("total"))
        .orderBy(col("win_start"), col("event_type"))
    }),

    // Q14 [sessionization, batch form]: gap-based sessions via window
    // functions (lag → new-session flag → running session id).
    "q14_sessions" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val prev = lag(col("ts"), 1).over(byUser)
      val flagged = t(s, dir, "events")
        .withColumn("new_s",
          when(prev.isNull ||
            (col("ts").cast("long") - prev.cast("long") > 1800), 1)
            .otherwise(0))
      val sess = flagged.withColumn("sid", sum(col("new_s")).over(byUser))
        .groupBy(col("user_id"), col("sid"))
        .agg(count(lit(1)).as("n"))
      sess.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"), max(col("n")).as("max_len"))
        .orderBy(col("user_id"))
    }),

    // Q15 [engine surface: hierarchical aggregation]: ROLLUP with
    // explicit null ordering (Spark defaults NULLS FIRST, DuckDB LAST —
    // pinned in the oracle)
    "q15_rollup" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
    }),

    // Q16 [engine surface: anti join]: customers with no orders
    "q16_anti_join" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"))
        .orderBy(col("c_custkey"))
        .limit(500)
    }),

    // Q17 [engine surface: set ops]: suppkeys appearing in lineitem but
    // not in supplier (EXCEPT = distinct set difference in both engines)
    "q17_set_except" -> ((s, dir) => {
      val l = t(s, dir, "lineitem").select(col("l_suppkey").as("k"))
      val sup = t(s, dir, "supplier").select(col("s_suppkey").as("k"))
      l.except(sup).orderBy(col("k"))
    }),

    // Q18 [engine surface: scalar subquery]: orders above the global
    // average price — the average in exact decimal so the threshold is
    // bit-identical across engines
    "q18_scalar_subquery" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val avgPrice = o.agg(
        avg(col("o_totalprice").cast("decimal(18,2)")).as("ap"))
      o.crossJoin(broadcast(avgPrice))
        .filter(col("o_totalprice").cast("decimal(18,2)") > col("ap"))
        .agg(count(lit(1)).as("n"))
    }),

    // Q19 [engine surface: CUBE]: all grouping-set combinations
    "q19_cube" -> ((s, dir) => {
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)
    }),

    // Q20 [engine surface: exact percentiles]: Spark `percentile` and
    // DuckDB `quantile_cont` share the sorted-interpolation definition
    "q20_percentiles" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(expr("percentile(l_quantity, 0.5)"), 6).as("p50"),
          round(expr("percentile(l_quantity, 0.9)"), 6).as("p90"))
        .orderBy(col("l_returnflag"))
    }),

    // Q21 [§2.4 scalar-function battery]: string ops over one projection
    "q21_string_funcs" -> ((s, dir) => {
      t(s, dir, "nation")
        .select(
          col("n_nationkey"),
          upper(col("n_name")).as("u"),
          lpad(col("n_name"), 12, "*").as("lp"),
          reverse(col("n_name")).as("rev"),
          substring(col("n_name"), 2, 3).as("mid"),
          length(col("n_name")).as("len"),
          translate(col("n_name"), "AEIOU", "aeiou").as("tr"),
          concat_ws("-", col("n_name"), col("n_nationkey")).as("cw"))
        .orderBy(col("n_nationkey"))
    }),

    // Q22 [custom operator: as-of join]: each purchase matched to the
    // user's most recent strictly-earlier view (DuckDB native ASOF JOIN
    // as the oracle; Spark side is the union+window composition)
    "q22_asof_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
      // dedup the right side to one row per (user, ts) — max payload —
      // BEFORE the as-of join: DuckDB's native ASOF picks an arbitrary
      // row among equal-time rights, so tie-proofing both sides up front
      // keeps the oracle parity independent of data regeneration
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"),
          col("event_id").as("view_id"), col("value").as("view_value"))
        .groupBy(col("user_id"), col("ts"))
        .agg(max(struct(col("view_id"), col("view_value"))).as("v"))
        .select(col("user_id"), col("ts"),
          col("v.view_id").as("view_id"), col("v.view_value").as("view_value"))
      graft.ops.AsOfJoin.asOf(
        purchases, views, "user_id", "ts", Seq("view_id", "view_value"))
        .select(col("event_id"), col("view_id"), col("view_value"))
        .orderBy(col("event_id"))
    }),

    // Q23 [custom operator: range join]: same-order lineitem pairs
    // shipped within 7 days of each other (equi key + interval predicate)
    "q23_range_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val a = li.select(col("l_orderkey").as("k"),
        col("l_linenumber").as("la"), col("l_shipdate").as("da"))
      val b = li.select(col("l_orderkey").as("k"),
        col("l_linenumber").as("lb"), col("l_shipdate").as("db"))
      a.join(b, Seq("k"))
        .filter(col("la") < col("lb") &&
          abs(datediff(col("db").cast("date"), col("da").cast("date"))) <= 7)
        .select(col("k"), col("la"), col("lb"))
        .orderBy(col("k"), col("la"), col("lb"))
    }),

    // Q24 [engine surface: JSON path extraction]: parse the props JSON
    // column, bucket by the extracted value
    "q24_json_extract" -> ((s, dir) => {
      t(s, dir, "events")
        .select(get_json_object(col("props"), "$.k").cast("int").as("kv"))
        .groupBy((col("kv") % 10).as("bucket"))
        .agg(count(lit(1)).as("n"), sum(col("kv")).as("total"))
        .orderBy(col("bucket"))
    }),

    // Q25 [engine surface: multi-column exact distinct]
    "q25_distinct_count" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .agg(
          countDistinct(col("l_suppkey"), col("l_partkey")).as("sp"),
          countDistinct(col("l_returnflag")).as("rf"))
    }),

    // Q26 [T1+T2+T3+T4+T6 ≈ the full ingest rewrite chain, driver-checked]:
    // deterministic bundle JSON is built in-plan from `customer`, parsed
    // against the declared bundle schema, run through surrogate-ID
    // assignment + refmap + reference rewrite + type routing, and emitted
    // as one row per routed resource. The surrogate IDs are
    // sha256(path|fullUrl) prefixes (RewriteEntries), so DuckDB
    // recomputes the ENTIRE rewrite output — including the Observation's
    // rewritten subject reference resolving to its bundle's new Patient id
    // — from the same customer keys.
    "q26_bundle_rewrite" -> ((s, dir) => {
      import graft.fhir.{BundleIngest, Schemas}
      val cust = t(s, dir, "customer").filter(col("c_custkey") <= 500)
      val json = format_string(
        """{"resourceType":"Bundle","type":"transaction","entry":[""" +
          """{"fullUrl":"urn:uuid:p%1$d","resource":""" +
          """{"resourceType":"Patient","gender":"female"}},""" +
          """{"fullUrl":"urn:uuid:o%1$d","resource":""" +
          """{"resourceType":"Observation","status":"final",""" +
          """"subject":{"reference":"urn:uuid:p%1$d"}}}]}""",
        col("c_custkey"))
      val parsed = cust
        .select(col("c_custkey"), from_json(json, Schemas.bundle).as("b"))
        .select(col("c_custkey"), col("b.*"))
        .withColumn("bundle_path", concat(lit("mem://"), col("c_custkey")))
      BundleIngest.routeResources(BundleIngest.rewriteBundle(parsed))
        .select(
          col("bundle_path"),
          col("collection"),
          col("resource.id").as("rid"),
          col("resource.subject.reference").as("subject_ref"))
        .orderBy(col("bundle_path"), col("collection"))
    }),

    // Q27 [engine surface: ordered analytics — running totals via an
    // exact decimal frame sum, lead() inter-event gaps]
    "q27_running_analytics" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types.{DecimalType, DoubleType}
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events")
        .filter(col("user_id") < 20)
        .select(col("user_id"), col("event_id"),
          row_number().over(w).as("rn"),
          sum(col("value").cast(DecimalType(18, 2))).over(run)
            .cast(DoubleType).as("running_total"),
          (unix_timestamp(lead(col("ts"), 1).over(w)) -
            unix_timestamp(col("ts"))).as("gap_s"))
        .orderBy(col("user_id"), col("rn"))
    }),

    // Q28 [skew lever at the gate: two-phase salted aggregation —
    // identical result to a direct groupBy, asserted by the oracle; the
    // grouping key has 3 values over 600k rows, the pathological shape]
    "q28_salted_skew_agg" -> ((s, dir) => {
      import org.apache.spark.sql.types.{DecimalType, DoubleType}
      val l = t(s, dir, "lineitem").select(
        col("l_returnflag").as("k"),
        col("l_quantity").cast(DecimalType(18, 2)).as("q"))
      saltedSumCount(l, Seq("k"), Seq("q"))
        .select(col("k"), col("cnt"),
          col("sum_q").cast(DoubleType).as("qty"))
        .orderBy(col("k"))
    }),

    // Q29 [engine surface: pivot/crosstab — per-user event-type counts as
    // columns; explicit value list keeps the plan one-pass (no distinct
    // scan) and the output schema static]
    "q29_pivot" -> ((s, dir) => {
      t(s, dir, "events")
        .filter(col("user_id") < 50)
        .groupBy(col("user_id"))
        .pivot("event_type",
          Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy(col("user_id"))
    }),

    // Q36 [engine surface: GROUPING SETS with grouping() flags, driven
    // through the SQL entry point (spark.sql over a temp view) — the one
    // declared query exercising the engine's SQL-API surface alongside
    // the DataFrame API. Per-column grouping() flags instead of a packed
    // grouping_id keep the bit-order engine-portable; decimal-exact sum
    // as everywhere.]
    "q36_grouping_sets" -> ((s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem_v")
      s.sql("""SELECT l_returnflag, l_linestatus,
                      CAST(grouping(l_returnflag) AS INT) AS g_rf,
                      CAST(grouping(l_linestatus) AS INT) AS g_ls,
                      count(*) AS n,
                      CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
               FROM lineitem_v
               GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
               ORDER BY g_rf, g_ls,
                        coalesce(l_returnflag, ''), coalesce(l_linestatus, '')""")
    }),

    // Q35 [engine surface: ordered funnel (view → click → purchase) —
    // staged min-timestamp aggregation with strict-after joins, the
    // product-analytics conversion query. Three filtered partial aggs +
    // equi-joins on user_id; no per-user sequence materialization, so
    // the plan carries one row per (user, stage), not the event log.]
    "q35_funnel" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("ts"))
      val v = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
      val c = ev.filter(col("event_type") === "click")
        .join(v, Seq("user_id"))
        .filter(col("ts") > col("t_view"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_click"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(c, Seq("user_id"))
        .filter(col("ts") > col("t_click"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_purchase"))
      v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
        .select(col("user_id"), col("t_view"), col("t_click"),
          col("t_purchase"))
        .orderBy(col("user_id"))
    }),

    // Q34 [engine surface: time-RANGE window frame — the rolling
    // last-hour aggregate, complementing q27's ROWS frame. The frame is
    // keyed on integer epoch-micros so the interval bound is exact
    // arithmetic in both engines (no timestamp-truncation ambiguity);
    // decimal-exact frame sums keep the doubles portable.]
    "q34_rolling_range" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types.{DecimalType, DoubleType}
      val w = Window.partitionBy(col("user_id")).orderBy(col("tus"))
        .rangeBetween(-3600L * 1000000, 0)
      t(s, dir, "events")
        .filter(col("user_id") < 20)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("tus"), col("value"))
        .withColumn("n_1h", count(lit(1)).over(w))
        .withColumn("sum_1h",
          round(sum(col("value").cast(DecimalType(18, 2))).over(w)
            .cast(DoubleType), 2))
        .select(col("user_id"), col("event_id"), col("n_1h"), col("sum_1h"))
        .orderBy(col("user_id"), col("event_id"))
    }),

    // Q33 [engine surface: CDC compaction / latest-record snapshot —
    // whole-row max_by argmax per key with (ts, id) tie-break. The
    // partial-aggregation form: each map task reduces its slice to one
    // row per key before the exchange, vs. the window-rank form that
    // shuffles and sorts the FULL change history — at 100 TB of CDC
    // events that is the viable-vs-doomed difference.]
    "q33_cdc_compact" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(max_by(
          struct(col("o_orderkey"), col("o_orderdate"),
            col("o_orderstatus"), col("o_totalprice")),
          struct(col("o_orderdate"), col("o_orderkey"))).as("r"))
        .select(col("o_custkey"),
          col("r.o_orderkey").as("last_orderkey"),
          col("r.o_orderdate").as("last_orderdate"),
          col("r.o_orderstatus").as("last_status"),
          col("r.o_totalprice").as("last_totalprice"))
        .orderBy(col("o_custkey"))),

    // Q32 [engine surface: day-over-day retention — distinct actives per
    // day plus the left-semi "also active yesterday" cohort]
    "q32_retention" -> ((s, dir) => {
      val du = t(s, dir, "events")
        .select(to_date(col("ts")).as("d"), col("user_id")).distinct()
      val ret = du
        .join(du.select(date_add(col("d"), 1).as("d"), col("user_id")),
          Seq("d", "user_id"), "left_semi")
        .groupBy(col("d")).agg(count(lit(1)).as("n_returning"))
      du.groupBy(col("d")).agg(count(lit(1)).as("active"))
        .join(ret, Seq("d"), "left")
        .na.fill(0L, Seq("n_returning"))
        .orderBy(col("d"))
    }),

    // Q31 [engine surface: Z-order layout key — the multi-dimensional
    // data-layout lever; sorting files by this key makes parquet min/max
    // stats prunable on BOTH dimensions]
    "q31_zorder_key" -> ((s, dir) => {
      t(s, dir, "events")
        .filter(col("event_id") < 2000)
        .select(col("event_id"), col("user_id"),
          zorderKey(col("user_id"), pmod(col("event_id"), lit(65536)), 16)
            .as("zkey"))
        .orderBy(col("zkey"), col("event_id"))
    }),

    // Q30 [engine surface: grouped top-k through the bounded-heap
    // aggregator — the partial-agg form whose shuffle carries groups × k
    // rows, not the full corpus (same TopKAgg as the ANN path)]
    "q30_grouped_topk" -> ((s, dir) => {
      val topk = udaf(new graft.functions.TopKAgg(3))
      t(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(topk(col("n_chars").cast("double"), col("doc_id")).as("top"))
        .select(col("lang"), posexplode(col("top")).as(Seq("pos", "t")))
        .select(col("lang"), (col("pos") + 1).cast("int").as("rank"),
          col("t._2").as("doc_id"), col("t._1").cast("long").as("n_chars"))
        .orderBy(col("lang"), col("rank"))
    })
  )

  val oracleSql: Map[String, String] = Map(
    "q01_filter_onehot_agg" ->
      """SELECT c_nationkey, count(*) AS pop,
         CAST(sum(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END) AS BIGINT) AS pop_b,
         CAST(sum(CASE WHEN c_mktsegment = 'MACHINERY' THEN 1 ELSE 0 END) AS BIGINT) AS pop_m
         FROM customer WHERE c_acctbal >= 0
         GROUP BY c_nationkey ORDER BY c_nationkey""",
    "q02_dim_join_default" ->
      """SELECT c_custkey, coalesce(n_name, '') AS nm
         FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
         ORDER BY c_custkey LIMIT 100""",
    "q03_suffix_strip" ->
      """SELECT CASE WHEN n_name LIKE '% Town'
                     THEN substr(n_name, 1, length(n_name) - 5)
                     ELSE n_name END AS nm, n_nationkey
         FROM nation ORDER BY n_nationkey""",
    "q04_sentinel_coalesce" ->
      """SELECT p_partkey, coalesce(NULLIF(p_size, 0), -999) AS sz
         FROM part ORDER BY p_partkey LIMIT 1000""",
    "q05_collect_dedup" ->
      """SELECT o_custkey,
                array_to_string(list_sort(list_distinct(list(l_linestatus))), ',') AS statuses
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         GROUP BY o_custkey ORDER BY o_custkey LIMIT 1000""",
    "q06_unwind_refilter" ->
      """WITH per_cust AS (
           SELECT o_custkey, list_distinct(list(l_suppkey)) AS supps
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey
           GROUP BY o_custkey),
         exploded AS (SELECT unnest(supps) AS suppkey FROM per_cust)
         SELECT suppkey, count(*) AS pop FROM exploded
         WHERE suppkey > 10 GROUP BY suppkey ORDER BY suppkey""",
    "q07_age_years" ->
      """SELECT o_orderkey,
         CAST(year(DATE '1998-09-02') - year(o_orderdate)
              - CASE WHEN month(o_orderdate) > 9
                       OR (month(o_orderdate) = 9 AND day(o_orderdate) > 2)
                     THEN 1 ELSE 0 END AS INTEGER) AS yrs
         FROM orders ORDER BY o_orderkey LIMIT 1000""",
    "q08_type_routing" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n
         FROM lineitem GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "q09_tristate_filter" ->
      """SELECT count(*) AS n FROM orders
         WHERE coalesce(o_orderstatus = 'F', false) = false""",
    "q10_count" -> "SELECT count(*) AS n FROM lineitem",
    "q11_fact_shape" ->
      """SELECT l_suppkey, l_returnflag, count(*) AS pop,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS q
         FROM lineitem WHERE l_shipdate < DATE '1998-09-02'
         GROUP BY l_suppkey, l_returnflag ORDER BY l_suppkey, l_returnflag""",
    "q12_events_minmax" ->
      "SELECT count(*) AS n, min(ts) AS mn, max(ts) AS mx FROM events",
    "q13_windowed_events" ->
      """SELECT time_bucket(INTERVAL '1 hour', ts) AS win_start, event_type,
         count(*) AS n,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM events GROUP BY 1, 2 ORDER BY win_start, event_type""",
    "q14_sessions" ->
      """WITH flagged AS (
           SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR date_diff('second', lag(ts) OVER w, ts) > 1800
                  THEN 1 ELSE 0 END AS new_s
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         sess AS (
           SELECT user_id,
                  sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS sid
           FROM flagged),
         per AS (SELECT user_id, sid, count(*) AS n FROM sess GROUP BY 1, 2)
         SELECT user_id, count(*) AS n_sessions, max(n) AS max_len
         FROM per GROUP BY user_id ORDER BY user_id""",
    "q15_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
         ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""",
    "q16_anti_join" ->
      """SELECT c_custkey FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         ORDER BY c_custkey LIMIT 500""",
    "q17_set_except" ->
      """SELECT l_suppkey AS k FROM lineitem
         EXCEPT SELECT s_suppkey AS k FROM supplier ORDER BY k""",
    "q18_scalar_subquery" ->
      """SELECT count(*) AS n FROM orders
         WHERE CAST(o_totalprice AS DECIMAL(18,2)) >
               (SELECT avg(CAST(o_totalprice AS DECIMAL(18,2))) FROM orders)""",
    "q19_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n
         FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
         ORDER BY o_orderstatus ASC NULLS FIRST,
                  o_orderpriority ASC NULLS FIRST""",
    "q20_percentiles" ->
      """SELECT l_returnflag,
                round(quantile_cont(l_quantity, 0.5), 6) AS p50,
                round(quantile_cont(l_quantity, 0.9), 6) AS p90
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q21_string_funcs" ->
      """SELECT n_nationkey,
                upper(n_name) AS u,
                lpad(n_name, 12, '*') AS lp,
                reverse(n_name) AS rev,
                substring(n_name, 2, 3) AS mid,
                CAST(length(n_name) AS INTEGER) AS len,
                translate(n_name, 'AEIOU', 'aeiou') AS tr,
                concat_ws('-', n_name, CAST(n_nationkey AS VARCHAR)) AS cw
         FROM nation ORDER BY n_nationkey""",
    "q22_asof_join" ->
      """SELECT p.event_id, v.view_id, v.view_value
         FROM (SELECT * FROM events WHERE event_type = 'purchase') p
         ASOF LEFT JOIN (SELECT user_id, ts, view_id, view_value FROM (
                           SELECT user_id, ts, event_id AS view_id,
                                  value AS view_value,
                                  row_number() OVER (PARTITION BY user_id, ts
                                    ORDER BY event_id DESC, value DESC) AS rn
                           FROM events WHERE event_type = 'view') d
                         WHERE rn = 1) v
           ON p.user_id = v.user_id AND p.ts > v.ts
         ORDER BY p.event_id""",
    "q23_range_join" ->
      """SELECT a.l_orderkey AS k, a.l_linenumber AS la, b.l_linenumber AS lb
         FROM lineitem a JOIN lineitem b
           ON a.l_orderkey = b.l_orderkey AND a.l_linenumber < b.l_linenumber
          AND abs(date_diff('day', a.l_shipdate, b.l_shipdate)) <= 7
         ORDER BY k, la, lb""",
    "q24_json_extract" ->
      """SELECT CAST(json_extract(props, '$.k') AS INTEGER) % 10 AS bucket,
                count(*) AS n,
                CAST(sum(CAST(json_extract(props, '$.k') AS INTEGER)) AS BIGINT) AS total
         FROM events GROUP BY 1 ORDER BY bucket""",
    "q25_distinct_count" ->
      """SELECT count(DISTINCT (l_suppkey, l_partkey)) AS sp,
                count(DISTINCT l_returnflag) AS rf
         FROM lineitem""",
    "q26_bundle_rewrite" ->
      """WITH c AS (SELECT c_custkey AS k FROM customer WHERE c_custkey <= 500),
         r AS (
           SELECT 'mem://' || k AS bundle_path, 'patients' AS collection,
                  substr(sha256('mem://' || k || '|urn:uuid:p' || k), 1, 24) AS rid,
                  CAST(NULL AS VARCHAR) AS subject_ref
           FROM c
           UNION ALL
           SELECT 'mem://' || k, 'observations',
                  substr(sha256('mem://' || k || '|urn:uuid:o' || k), 1, 24),
                  'Patient/' || substr(sha256('mem://' || k || '|urn:uuid:p' || k), 1, 24)
           FROM c)
         SELECT bundle_path, collection, rid, subject_ref
         FROM r ORDER BY bundle_path, collection""",
    "q27_running_analytics" ->
      """SELECT user_id, event_id,
                CAST(row_number() OVER w AS INTEGER) AS rn,
                CAST(sum(CAST(value AS DECIMAL(18,2)))
                     OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_total,
                date_diff('second', ts, lead(ts) OVER w) AS gap_s
         FROM events WHERE user_id < 20
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         ORDER BY user_id, rn""",
    "q28_salted_skew_agg" ->
      """SELECT l_returnflag AS k, count(*) AS cnt,
                CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
         FROM lineitem GROUP BY 1 ORDER BY k""",
    "q29_pivot" ->
      """SELECT user_id,
                CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
                CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
                CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
                CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
                CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
         FROM events WHERE user_id < 50
         GROUP BY user_id ORDER BY user_id""",
    "q36_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
                CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
                CAST(GROUPING(l_linestatus) AS INT) AS g_ls,
                count(*) AS n,
                CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
         ORDER BY g_rf, g_ls,
                  coalesce(l_returnflag, ''), coalesce(l_linestatus, '')""",
    "q35_funnel" ->
      """WITH v AS (SELECT user_id, min(ts) AS t_view FROM events
                    WHERE event_type = 'view' GROUP BY 1),
         c AS (SELECT e.user_id, min(e.ts) AS t_click FROM events e
               JOIN v ON e.user_id = v.user_id
               WHERE e.event_type = 'click' AND e.ts > v.t_view GROUP BY 1),
         p AS (SELECT e.user_id, min(e.ts) AS t_purchase FROM events e
               JOIN c ON e.user_id = c.user_id
               WHERE e.event_type = 'purchase' AND e.ts > c.t_click GROUP BY 1)
         SELECT v.user_id, v.t_view, c.t_click, p.t_purchase
         FROM v LEFT JOIN c ON v.user_id = c.user_id
                LEFT JOIN p ON v.user_id = p.user_id
         ORDER BY v.user_id""",
    "q34_rolling_range" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus, value
                    FROM events WHERE user_id < 20)
         SELECT user_id, event_id, count(*) OVER w AS n_1h,
                round(CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w
                      AS DOUBLE), 2) AS sum_1h
         FROM e
         WINDOW w AS (PARTITION BY user_id ORDER BY tus
                      RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
         ORDER BY user_id, event_id""",
    "q33_cdc_compact" ->
      """SELECT o_custkey, o_orderkey AS last_orderkey,
                o_orderdate AS last_orderdate, o_orderstatus AS last_status,
                o_totalprice AS last_totalprice
         FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
               FROM orders) t
         WHERE rn = 1 ORDER BY o_custkey""",
    "q32_retention" ->
      """WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events)
         SELECT d, active, coalesce(n_returning, 0) AS n_returning FROM
           (SELECT d, count(*) AS active FROM du GROUP BY d) a
           LEFT JOIN (SELECT du.d AS d, count(*) AS n_returning
                      FROM du JOIN du p
                        ON du.d = p.d + 1 AND du.user_id = p.user_id
                      GROUP BY du.d) r USING (d)
         ORDER BY d""",
    "q31_zorder_key" ->
      """SELECT event_id, user_id,
                CAST((SELECT sum(((user_id // (1::BIGINT << b)) % 2) * (1::BIGINT << (2*b))
                          + (((event_id % 65536) // (1::BIGINT << b)) % 2) * (1::BIGINT << (2*b+1)))
                 FROM generate_series(0, 15) AS g(b)) AS BIGINT) AS zkey
         FROM events WHERE event_id < 2000
         ORDER BY zkey, event_id""",
    "q30_grouped_topk" ->
      """SELECT lang, rank, doc_id, n_chars FROM (
           SELECT lang, doc_id, n_chars,
                  CAST(row_number() OVER (PARTITION BY lang
                                          ORDER BY n_chars DESC, doc_id) AS INTEGER) AS rank
           FROM documents) t
         WHERE rank <= 3 ORDER BY lang, rank"""
  )
}
