package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Relational query surface over the TPC-H-ish test tables.
  *
  * The reference (google/xarray-beam) deliberately omits relational
  * operators — joins/windows/sorts/set-ops/scalar functions are ABSENT by
  * design (SURVEY.md §2.6-2.8). In our Spark-native engine those
  * capabilities come from Catalyst built-ins via the tabular bridge; this
  * suite pins down that surface against a DuckDB oracle, with plans that
  * hold at 100 TB: filters/projections pushed into the parquet scan,
  * dimension joins broadcast, aggregations partial-before-shuffle.
  */
object Relational {
  import Tables.t

  /** Exact, order-independent sum of a 2-decimal money column: decimal
    * arithmetic internally, double on the wire. */
  private def dsum(c: Column): Column = sum(c.cast("decimal(18,2)")).cast("double")
  /** Exact revenue sum: price * (1 - discount) in decimal. */
  private def revenue(price: Column, disc: Column): Column =
    sum(price.cast("decimal(18,2)") * (lit(1).cast("decimal(18,2)") - disc.cast("decimal(18,2)")))
      .cast("double")

  private val REV_SQL =
    "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))"

  val defs: Seq[QueryDef] = Seq(
    // ---------------------------------------------------------------- q01
    // TPC-H Q1 shape: scan-filter-aggregate; Catalyst does partial
    // (map-side) aggregation before the 6-group shuffle.
    QueryDef(
      "q01_pricing_summary",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "lineitem")
          .filter($"l_shipdate" <= lit("1998-09-01").cast("timestamp"))
          .groupBy($"l_returnflag", $"l_linestatus")
          .agg(
            dsum($"l_quantity").as("sum_qty"),
            dsum($"l_extendedprice").as("sum_base_price"),
            revenue($"l_extendedprice", $"l_discount").as("sum_disc_price"),
            count(lit(1)).as("count_order"))
          .orderBy($"l_returnflag", $"l_linestatus")
      },
      Some("""
        SELECT l_returnflag, l_linestatus,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus""")),

    // ---------------------------------------------------------------- q02
    // Filter + projection: both must reach the parquet scan
    // (PushedFilters / ReadSchema pruning — verified in plans spec).
    QueryDef(
      "q02_filter_pushdown",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "lineitem")
          .filter($"l_shipdate" >= lit("1995-01-01").cast("timestamp") &&
                  $"l_shipdate" <  lit("1996-01-01").cast("timestamp") &&
                  $"l_quantity" > 45)
          .select($"l_orderkey", $"l_linenumber".cast("long").as("l_linenumber"),
                  $"l_quantity", $"l_extendedprice")
          .orderBy($"l_orderkey", $"l_linenumber")
      },
      Some("""
        SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
               l_quantity, l_extendedprice
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1996-01-01 00:00:00'
          AND l_quantity > 45
        ORDER BY l_orderkey, l_linenumber""")),

    // ---------------------------------------------------------------- q03
    // Fact joins: lineitem⋈orders is big-big → shuffle hash join on the
    // key (AQE upgrades to broadcast at runtime when a side is small,
    // as it is at test scale); only bounded dims get explicit hints.
    QueryDef(
      "q03_segment_revenue",
      (s, dir) => {
        import s.implicits._
        val c = t(s, dir, "customer")
        val o = t(s, dir, "orders")
        val l = t(s, dir, "lineitem")
        l.join(o, $"l_orderkey" === $"o_orderkey")
          .join(c, $"o_custkey" === $"c_custkey")
          .groupBy($"c_mktsegment")
          .agg(revenue($"l_extendedprice", $"l_discount").as("revenue"),
               count(lit(1)).as("n_items"))
          .orderBy($"c_mktsegment")
      },
      Some(s"""
        SELECT c_mktsegment,
               CAST(sum($REV_SQL) AS DOUBLE) AS revenue,
               count(*) AS n_items
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                      JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment""")),

    // ---------------------------------------------------------------- q04
    // TPC-H Q5 shape: 5-way join. nation/region are bounded-cardinality
    // dims → explicit broadcast; orders/customer scale with the data →
    // shuffle joins that AQE converts to broadcast when actually small.
    QueryDef(
      "q04_region_nation_revenue",
      (s, dir) => {
        import s.implicits._
        val l = t(s, dir, "lineitem")
        val o = t(s, dir, "orders")
        val c = t(s, dir, "customer")
        val n = t(s, dir, "nation")
        val r = t(s, dir, "region")
        l.join(o, $"l_orderkey" === $"o_orderkey")
          .join(c, $"o_custkey" === $"c_custkey")
          .join(broadcast(n), $"c_nationkey" === $"n_nationkey")
          .join(broadcast(r), $"n_regionkey" === $"r_regionkey")
          .groupBy($"r_name", $"n_name")
          .agg(revenue($"l_extendedprice", $"l_discount").as("revenue"))
          .orderBy($"r_name", $"n_name")
      },
      Some(s"""
        SELECT r_name, n_name, CAST(sum($REV_SQL) AS DOUBLE) AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                      JOIN customer ON o_custkey = c_custkey
                      JOIN nation ON c_nationkey = n_nationkey
                      JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name
        ORDER BY r_name, n_name""")),

    // ---------------------------------------------------------------- q05
    // Top-k: agg then TakeOrderedAndProject (no full sort at scale).
    QueryDef(
      "q05_top_customers",
      (s, dir) => {
        import s.implicits._
        val o = t(s, dir, "orders")
        // pre-aggregate lineitem per order BEFORE the join (the
        // aggregate-through-join pushdown Catalyst doesn't apply
        // itself): the join then carries one row per order instead of
        // every line item — at 100 TB that's the difference between
        // shuffling the fact table and shuffling its rollup. The outer
        // sum re-aggregates exact decimal partials, so the result is
        // identical to join-then-aggregate.
        val perOrder = t(s, dir, "lineitem")
          .groupBy($"l_orderkey")
          .agg(sum($"l_extendedprice".cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") - $"l_discount".cast("decimal(18,2)")))
            .as("order_rev")) // stays DECIMAL: partials re-sum exactly
        perOrder.join(o, $"l_orderkey" === $"o_orderkey")
          .groupBy($"o_custkey")
          .agg(sum($"order_rev").cast("double").as("revenue"))
          .orderBy($"revenue".desc, $"o_custkey".asc)
          .limit(10)
      },
      Some(s"""
        SELECT o_custkey, CAST(sum($REV_SQL) AS DOUBLE) AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_custkey
        ORDER BY revenue DESC, o_custkey ASC
        LIMIT 10""")),

    // ---------------------------------------------------------------- q06
    // Window functions: per-supplier running sum + row_number with a
    // total tie-break order.
    QueryDef(
      "q06_running_window",
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"l_suppkey")
          .orderBy($"l_shipdate", $"l_orderkey", $"l_linenumber")
        t(s, dir, "lineitem")
          .withColumn("rn", row_number().over(w))
          .withColumn("running_qty",
            sum($"l_quantity".cast("decimal(18,2)"))
              .over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("double"))
          .filter($"rn" <= 5)
          .select($"l_suppkey", $"rn".cast("long").as("rn"), $"l_orderkey",
                  $"running_qty")
          .orderBy($"l_suppkey", $"rn")
      },
      Some("""
        SELECT l_suppkey, CAST(rn AS BIGINT) AS rn, l_orderkey, running_qty
        FROM (
          SELECT l_suppkey, l_orderkey,
                 row_number() OVER w AS rn,
                 CAST(sum(CAST(l_quantity AS DECIMAL(18,2)))
                      OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS DOUBLE) AS running_qty
          FROM lineitem
          WINDOW w AS (PARTITION BY l_suppkey
                       ORDER BY l_shipdate, l_orderkey, l_linenumber)
        ) WHERE rn <= 5
        ORDER BY l_suppkey, rn""")),

    // ---------------------------------------------------------------- q07
    // Distinct aggregation: per-group COUNT(DISTINCT) (expand + two-phase
    // agg under the hood).
    QueryDef(
      "q07_distinct_parts",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "lineitem")
          .groupBy($"l_returnflag")
          .agg(countDistinct($"l_partkey").as("n_parts"),
               countDistinct($"l_suppkey").as("n_supps"),
               count(lit(1)).as("n_rows"))
          .orderBy($"l_returnflag")
      },
      Some("""
        SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
               count(DISTINCT l_suppkey) AS n_supps, count(*) AS n_rows
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---------------------------------------------------------------- q08
    // Set operations: UNION (distinct) / INTERSECT / EXCEPT.
    QueryDef(
      "q08_setops",
      (s, dir) => {
        import s.implicits._
        val purchasers = t(s, dir, "orders").select($"o_custkey".as("custkey")).distinct()
        val building = t(s, dir, "customer").filter($"c_mktsegment" === "BUILDING")
          .select($"c_custkey".as("custkey"))
        val machinery = t(s, dir, "customer").filter($"c_mktsegment" === "MACHINERY")
          .select($"c_custkey".as("custkey"))
        purchasers.union(building).distinct()
          .intersect(purchasers)
          .except(machinery)
          .orderBy($"custkey")
      },
      Some("""
        SELECT custkey FROM (
          (SELECT o_custkey AS custkey FROM orders
           UNION
           SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING')
          INTERSECT
          SELECT o_custkey AS custkey FROM orders
          EXCEPT
          SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'MACHINERY'
        ) ORDER BY custkey""")),

    // ---------------------------------------------------------------- q09
    // Semi/anti joins: parts that never shipped (anti) and suppliers with
    // at least one return (semi), as two stacked key lists.
    QueryDef(
      "q09_semi_anti",
      (s, dir) => {
        import s.implicits._
        val l = t(s, dir, "lineitem")
        val neverShipped = t(s, dir, "part")
          .join(l, $"p_partkey" === $"l_partkey", "left_anti")
          .select(lit("part_never_shipped").as("kind"), $"p_partkey".as("key"))
        val withReturns = t(s, dir, "supplier")
          .join(l.filter($"l_returnflag" === "R"),
                $"s_suppkey" === $"l_suppkey", "left_semi")
          .select(lit("supp_with_returns").as("kind"), $"s_suppkey".as("key"))
        neverShipped.unionAll(withReturns).orderBy($"kind", $"key")
      },
      Some("""
        SELECT kind, key FROM (
          SELECT 'part_never_shipped' AS kind, p_partkey AS key FROM part
          WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
          UNION ALL
          SELECT 'supp_with_returns' AS kind, s_suppkey AS key FROM supplier
          WHERE EXISTS (SELECT 1 FROM lineitem
                        WHERE l_suppkey = s_suppkey AND l_returnflag = 'R')
        ) ORDER BY kind, key""")),

    // ---------------------------------------------------------------- q10
    // Scalar function surface: string / math / date functions, all
    // codegen'd Catalyst built-ins (no UDFs).
    QueryDef(
      "q10_scalar_funcs",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "part")
          .select(
            $"p_partkey",
            upper(substring($"p_name", 1, 8)).as("name_prefix"),
            length($"p_name").cast("long").as("name_len"),
            concat($"p_brand", lit("#"), $"p_type").as("brand_type"),
            abs($"p_size" - 25).cast("long").as("size_dist"),
            ($"p_retailprice".cast("decimal(18,2)") * lit("1.1").cast("decimal(3,1)"))
              .cast("double").as("marked_up"))
          .orderBy($"p_partkey")
      },
      Some("""
        SELECT p_partkey,
               upper(substr(p_name, 1, 8)) AS name_prefix,
               CAST(length(p_name) AS BIGINT) AS name_len,
               p_brand || '#' || p_type AS brand_type,
               CAST(abs(p_size - 25) AS BIGINT) AS size_dist,
               CAST(CAST(p_retailprice AS DECIMAL(18,2)) * CAST(1.1 AS DECIMAL(3,1)) AS DOUBLE) AS marked_up
        FROM part ORDER BY p_partkey""")),

    // ---------------------------------------------------------------- q11
    // Conditional aggregation (CASE WHEN inside agg) + date functions.
    QueryDef(
      "q11_conditional_agg",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "orders")
          .groupBy(year($"o_orderdate").cast("long").as("yr"))
          .agg(
            count(lit(1)).as("n_orders"),
            count(when($"o_orderstatus" === "F", lit(1))).as("n_finished"),
            count(when($"o_totalprice" > 200000, lit(1))).as("n_big"),
            dsum($"o_totalprice").as("sum_price"))
          .orderBy($"yr")
      },
      Some("""
        SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
               count(*) AS n_orders,
               count(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
               count(*) FILTER (WHERE o_totalprice > 200000) AS n_big,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        FROM orders GROUP BY 1 ORDER BY yr""")),

    // ---------------------------------------------------------------- q12
    // LAG window over an event stream: gap to the previous event of the
    // same user, in exact epoch micros.
    QueryDef(
      "q12_event_gaps",
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        t(s, dir, "events")
          .withColumn("prev_us", lag(unix_micros($"ts"), 1).over(w))
          .select($"event_id", $"user_id",
                  (unix_micros($"ts") - $"prev_us").as("gap_us"))
          .orderBy($"event_id")
      },
      Some("""
        SELECT event_id, user_id,
               epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
        FROM events ORDER BY event_id""")),

    // ---------------------------------------------------------------- q13
    // Semi-structured: JSON field extraction from the props column.
    QueryDef(
      "q13_json_extract",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "events")
          .withColumn("k", get_json_object($"props", "$.k").cast("long"))
          .groupBy($"event_type")
          .agg(min($"k").as("min_k"), max($"k").as("max_k"),
               sum($"k".cast("decimal(18,0)")).cast("double").as("sum_k"),
               count(when($"k" > 50, lit(1))).as("n_high"))
          .orderBy($"event_type")
      },
      Some("""
        SELECT event_type, min(k) AS min_k, max(k) AS max_k,
               CAST(sum(CAST(k AS DECIMAL(18,0))) AS DOUBLE) AS sum_k,
               count(*) FILTER (WHERE k > 50) AS n_high
        FROM (SELECT event_type, CAST(props->>'$.k' AS BIGINT) AS k FROM events)
        GROUP BY event_type ORDER BY event_type""")),

    // ---------------------------------------------------------------- q14
    // ROLLUP grouping sets.
    QueryDef(
      "q14_rollup",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "orders")
          .withColumn("yr", year($"o_orderdate").cast("long"))
          .rollup($"yr", $"o_orderpriority")
          .agg(count(lit(1)).as("n_orders"))
          .select(coalesce($"yr", lit(-1L)).as("yr"),
                  coalesce($"o_orderpriority", lit("ALL")).as("priority"),
                  $"n_orders")
          .orderBy($"yr", $"priority")
      },
      Some("""
        SELECT coalesce(yr, -1) AS yr, coalesce(o_orderpriority, 'ALL') AS priority,
               n_orders
        FROM (
          SELECT CAST(year(o_orderdate) AS BIGINT) AS yr, o_orderpriority,
                 count(*) AS n_orders
          FROM orders GROUP BY ROLLUP (1, 2)
        ) ORDER BY yr, priority""")),

    // ---------------------------------------------------------------- q15
    // Orders priced above their customer's average. The oracle keeps the
    // correlated-subquery formulation; the Spark side runs the one-scan
    // window equivalent (r22, guide §6/§2.4): Catalyst decorrelates the
    // subquery into a self-join — TWO scans of `orders` plus an
    // aggregate exchange and a join exchange — while a window over
    // PARTITION BY o_custkey reads `orders` ONCE with a single hash
    // exchange. Row-for-row identical: the window frame is the same
    // "all orders of this customer, current row included" set the
    // correlated average ranges over, the DECIMAL-sum/count arithmetic
    // is unchanged, and a NULL custkey passes neither (the correlated
    // probe matches nothing; here the explicit IS NOT NULL pins it —
    // the window would otherwise group NULLs together).
    QueryDef(
      "q15_above_avg_orders",
      (s, dir) => {
        Tables.registerViews(s, dir)
        s.sql("""
          SELECT o_orderkey, o_custkey, o_totalprice FROM (
            SELECT o_orderkey, o_custkey, o_totalprice,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE)
                     / count(*) OVER w AS cust_avg
            FROM orders o
            WHERE o_custkey IS NOT NULL
            WINDOW w AS (PARTITION BY o_custkey))
          WHERE o_totalprice > 1.5 * cust_avg
          ORDER BY o_orderkey""")
      },
      Some("""
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders o
        WHERE o_totalprice > 1.5 * (
          SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*)
          FROM orders i WHERE i.o_custkey = o.o_custkey)
        ORDER BY o_orderkey""")),

    // ---------------------------------------------------------------- q16
    // Time-bucketed aggregation (the batch shape of a streaming tumbling
    // window; the streaming variant is exercised in StreamingSpec).
    QueryDef(
      "q16_hourly_events",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "events")
          .groupBy(date_format(date_trunc("hour", $"ts"), "yyyy-MM-dd HH:mm:ss").as("hour"),
                   $"event_type")
          .agg(count(lit(1)).as("n"),
               dsum($"value").as("sum_value"))
          .orderBy($"hour", $"event_type")
      },
      Some("""
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
               event_type, count(*) AS n,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM events GROUP BY 1, 2 ORDER BY hour, event_type""")),

    // ---------------------------------------------------------------- q17
    // Min/max/range stats per group (exact, order-independent).
    QueryDef(
      "q17_order_stats",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "orders")
          .groupBy($"o_orderpriority")
          .agg(min($"o_totalprice").as("min_price"),
               max($"o_totalprice").as("max_price"),
               count(lit(1)).as("n"),
               min(date_format($"o_orderdate", "yyyy-MM-dd")).as("first_date"),
               max(date_format($"o_orderdate", "yyyy-MM-dd")).as("last_date"))
          .orderBy($"o_orderpriority")
      },
      Some("""
        SELECT o_orderpriority, min(o_totalprice) AS min_price,
               max(o_totalprice) AS max_price, count(*) AS n,
               min(strftime(o_orderdate, '%Y-%m-%d')) AS first_date,
               max(strftime(o_orderdate, '%Y-%m-%d')) AS last_date
        FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // ---------------------------------------------------------------- q18
    // Exact grouped quantiles (linearly interpolated): l_quantity is
    // integer-valued, so a + (b-a)*f at f in {.25,.5,.75} is a small
    // dyadic rational — bit-identical across engines regardless of the
    // interpolation formula's algebraic form. Spark's percentile is the
    // exact (sort-based) algorithm, not the approximate sketch.
    QueryDef(
      "q18_quantity_quantiles",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "lineitem")
          .groupBy($"l_returnflag")
          .agg(expr("percentile(l_quantity, 0.25)").as("p25"),
               expr("percentile(l_quantity, 0.5)").as("p50"),
               expr("percentile(l_quantity, 0.75)").as("p75"),
               count(lit(1)).as("n"))
          .orderBy($"l_returnflag")
      },
      Some("""
        SELECT l_returnflag,
               quantile_cont(l_quantity, 0.25) AS p25,
               quantile_cont(l_quantity, 0.5) AS p50,
               quantile_cont(l_quantity, 0.75) AS p75,
               count(*) AS n
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---------------------------------------------------------------- q19
    // PIVOT: returnflag rows x linestatus columns of exact counts —
    // the wide-format reshape surface. The pivot key set is declared
    // (O, F), so the plan is a plain grouped aggregation with
    // conditional counts; no second pass to discover columns.
    QueryDef(
      "q19_pivot_status",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "lineitem")
          .groupBy($"l_returnflag")
          .pivot("l_linestatus", Seq("O", "F"))
          .agg(count(lit(1)))
          .na.fill(0L)
          .withColumnRenamed("O", "n_open")
          .withColumnRenamed("F", "n_filled")
          .orderBy($"l_returnflag")
      },
      Some("""
        SELECT l_returnflag,
               count(*) FILTER (WHERE l_linestatus = 'O') AS n_open,
               count(*) FILTER (WHERE l_linestatus = 'F') AS n_filled
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---------------------------------------------------------------- q20
    // Value-based RANGE window frame: per-event trailing-hour activity
    // per user (frame bounds on epoch micros, not row counts — peers
    // with equal timestamps share the frame identically in both
    // engines). Decimal sums keep the sliding aggregate exact.
    QueryDef(
      "q20_trailing_window",
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"user_id").orderBy($"ts_us")
          .rangeBetween(-3600000000L, 0L)
        t(s, dir, "events")
          .withColumn("ts_us", unix_micros($"ts"))
          .withColumn("n_hour", count(lit(1)).over(w))
          .withColumn("sum_hour",
            sum($"value".cast("decimal(18,6)")).over(w).cast("double"))
          .select($"event_id", $"user_id", $"n_hour", $"sum_hour")
          .orderBy($"event_id")
      },
      Some("""
        SELECT event_id, user_id,
               count(*) OVER w AS n_hour,
               CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sum_hour
        FROM (SELECT *, epoch_us(ts) AS ts_us FROM events)
        WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
                     RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        ORDER BY event_id"""))
    ,

    // ---------------------------------------------------------------- q21
    // As-of join — the classic operator Spark has no native form of,
    // composed scalably from built-ins: probe rows (48 hourly marks per
    // event type) UNION into the event stream, one window sort per
    // type, and a last-non-null carry-forward picks each probe's most
    // recent event at-or-before its timestamp. No inequality join, no
    // per-probe scan: cost is one shuffle of events + probes. Ties on
    // ts resolve events-before-probes, then by event id (total order).
    QueryDef(
      "q21_asof_join",
      (s, dir) => {
        import s.implicits._
        val ev = t(s, dir, "events")
          .select($"event_type", unix_micros($"ts").as("ts_us"),
            $"event_id", $"value")
        val minUs = ev.agg(min($"ts_us")).head().getLong(0)
        val hourUs = 3600000000L
        val firstHour = minUs - minUs % hourUs
        val probes = s.range(48).select(
            explode(expr("array('click','error','purchase','signup','view')"))
              .as("event_type"),
            (lit(firstHour) + ($"id" + 1) * hourUs).as("probe_us"))
        val tagged = ev.select($"event_type", $"ts_us",
            lit(1).as("is_event"), $"event_id", $"value",
            lit(null).cast("long").as("probe_us"))
          .unionByName(probes.select($"event_type", $"probe_us".as("ts_us"),
            lit(0).as("is_event"), lit(null).cast("long").as("event_id"),
            lit(null).cast("double").as("value"), $"probe_us"))
        val w = Window
          .partitionBy($"event_type")
          .orderBy($"ts_us", $"is_event".desc, $"event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        tagged
          .withColumn("asof_event_id", last($"event_id", ignoreNulls = true).over(w))
          .withColumn("asof_value", last($"value", ignoreNulls = true).over(w))
          .filter($"is_event" === 0)
          .select($"event_type", $"probe_us", $"asof_event_id", $"asof_value")
          .orderBy($"event_type", $"probe_us")
      },
      Some("""
        WITH ev AS (SELECT event_type, epoch_us(ts) AS ts_us, event_id, value
                    FROM events),
        base AS (SELECT min(ts_us) - min(ts_us) % 3600000000 AS h0 FROM ev),
        probes AS (SELECT et.event_type, h0 + (k + 1) * 3600000000 AS probe_us
                   FROM base,
                        unnest(['click','error','purchase','signup','view']) AS et(event_type),
                        unnest(range(0, 48)) AS t(k)),
        tagged AS (
          SELECT event_type, ts_us, 1 AS is_event, event_id, value,
                 NULL::BIGINT AS probe_us FROM ev
          UNION ALL
          SELECT event_type, probe_us AS ts_us, 0 AS is_event,
                 NULL::BIGINT AS event_id, NULL::DOUBLE AS value, probe_us
          FROM probes),
        carried AS (
          SELECT event_type, probe_us, is_event,
                 last_value(event_id IGNORE NULLS) OVER w AS asof_event_id,
                 last_value(value IGNORE NULLS) OVER w AS asof_value
          FROM tagged
          WINDOW w AS (PARTITION BY event_type
                       ORDER BY ts_us, is_event DESC, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        SELECT event_type, probe_us, asof_event_id, asof_value
        FROM carried WHERE is_event = 0
        ORDER BY event_type, probe_us"""))
  )
}
