package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.queries.QuerySupport._

/** `qNN`: the relational core — Catalyst built-ins for scan, filter,
  * aggregate, join, window, top-k and set operations, plus the bucketed,
  * partition-pruned and dynamic-partition-pruned scan layouts. */
object Relational {

  /** The events table re-laid-out partitioned by event date (written once
    * per (sfDir, JVM), the dumpDerived discipline): q12's pruned-scan
    * input. Read back, `event_date` is a partition DIRECTORY column —
    * it never occupies file bytes and a literal filter on it prunes at
    * planning time. */
  private[graft] def partitionedEvents(s: SparkSession, d: String): DataFrame = {
    val path = s"${derivedDir(d)}/events_by_date.parquet"
    dumpedPaths.getOrElseUpdate(path,
      t(s, d, "events")
        .withColumn("event_date", date_format(col("ts"), "yyyy-MM-dd"))
        // cluster by the partition column before the partitioned write:
        // the single-file scan otherwise makes ONE task write all ~30
        // date directories serially (distribution-mode=hash —
        // same rows, same one-file-per-dir layout, ~30-way parallel)
        .repartition(col("event_date"))
        .write.mode("overwrite").partitionBy("event_date").parquet(path))
    s.read.parquet(path)
  }

  /** A one-row-per-date dimension (the star-schema date_dim), derived
    * deterministically from events and dumped once per (sfDir, JVM):
    * q13's broadcast side. `date_key` is DATE — the partitioned fact's
    * inferred partition-column type, so the DPP join key needs no cast. */
  private[graft] def dateDim(s: SparkSession, d: String): DataFrame =
    dumpDerived(s, d, "date_dim") {
      t(s, d, "events")
        .select(to_date(col("ts")).as("date_key")).distinct()
        .withColumn("dow", dayofweek(col("date_key")))
        .withColumn("is_weekend", col("dow") === 1 || col("dow") === 7)
    }

  val queries: Seq[QueryDef] = Seq(
    // S2-style scan: projection + predicate, pushed to parquet
    QueryDef("q01_filter_project", { (s, d) =>
      t(s, d, "lineitem")
        .where(col("l_returnflag") === "R" && col("l_quantity") > 30.0)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_discount"))
    },
      """SELECT l_orderkey, l_linenumber, l_quantity, l_discount
        |FROM lineitem WHERE l_returnflag = 'R' AND l_quantity > 30.0""".stripMargin),
    // partial-aggregation groupBy (map-side combine)
    QueryDef("q02_agg_group", { (s, d) =>
      t(s, d, "lineitem").groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity")).as("sum_qty"),
          min(col("l_shipdate")).as("min_ship"),
          max(col("l_shipdate")).as("max_ship"),
          countDistinct(col("l_orderkey")).as("n_orders"))
    },
      """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
        |  sum(l_quantity) AS sum_qty, min(l_shipdate) AS min_ship,
        |  max(l_shipdate) AS max_ship, count(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin),
    // broadcast-able dimension join + agg
    QueryDef("q03_join_agg", { (s, d) =>
      t(s, d, "orders").join(broadcast(t(s, d, "customer")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          min(col("o_totalprice")).as("min_price"),
          max(col("o_totalprice")).as("max_price"))
    },
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin),
    // multi-way star join (region ⋈ nation ⋈ customer ⋈ orders)
    QueryDef("q04_star_join", { (s, d) =>
      t(s, d, "orders")
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_orders"), countDistinct(col("c_custkey")).as("n_custs"))
    },
      """SELECT r_name, count(*) AS n_orders, count(DISTINCT c_custkey) AS n_custs
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin),
    // window function: top-2 orders per customer (deterministic tie-break)
    QueryDef("q05_window_topk", { (s, d) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, d, "orders")
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= 2)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rk"))
    },
      """SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders) WHERE rk <= 2""".stripMargin),
    // global top-N (TakeOrderedAndProject)
    QueryDef("q06_global_topn", { (s, d) =>
      t(s, d, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    },
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin),
    // semi + anti joins (EXISTS / NOT EXISTS)
    QueryDef("q07_semi_anti_join", { (s, d) =>
      val bigOrders = t(s, d, "orders").where(col("o_totalprice") > 400000.0)
      val c = t(s, d, "customer")
      val withBig = c.join(bigOrders, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"), lit("has_big").as("bucket"))
      val withoutBig = c.join(bigOrders, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"), lit("no_big").as("bucket"))
      withBig.union(withoutBig)
    },
      """SELECT c_custkey, c_name, 'has_big' AS bucket FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
        |UNION ALL
        |SELECT c_custkey, c_name, 'no_big' AS bucket FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)""".stripMargin),
    // set operation: distinct union
    QueryDef("q08_union_distinct", { (s, d) =>
      t(s, d, "customer").select(col("c_nationkey").as("nationkey"))
        .union(t(s, d, "supplier").select(col("s_nationkey").as("nationkey")))
        .distinct()
    },
      """SELECT c_nationkey AS nationkey FROM customer
        |UNION
        |SELECT s_nationkey AS nationkey FROM supplier""".stripMargin),
    // time-bucketed aggregation over the events stream table
    QueryDef("q09_events_hourly", { (s, d) =>
      t(s, d, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour_start"), col("event_type"))
        .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
    },
      """SELECT date_trunc('hour', ts) AS hour_start, event_type,
        |  count(*) AS n, count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1, 2""".stripMargin),
    // PARTITION-PRUNED SCAN — the third scan-cost lever next to q01's
    // predicate pushdown and q10's bucketing, and the dominant one at
    // 100 TB: a date-partitioned layout turns "two days of a 30-day
    // corpus" from a full scan into reading 2/30 of the directories,
    // decided at PLANNING time (static PartitionFilters — the scan never
    // lists, opens, or footers the other 28 days). The partitioned
    // write is the once-per-corpus layout cost (the Iceberg-shaped
    // posture: partition spec = to_date(ts)); the spec asserts the
    // pruned plan shape (PartitionFilters non-empty, event_date absent
    // from ReadSchema, partition count 2).
    QueryDef("q12_partition_pruned_scan", { (s, d) =>
      partitionedEvents(s, d)
        .where(col("event_date").isin("2024-01-05", "2024-01-06"))
        .groupBy(col("event_date").cast("string").as("event_date"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"),
          max(col("value")).as("max_value"))
    },
      // the oracle scans the UNPARTITIONED source with the equivalent date
      // predicate — equality proves the partitioned re-layout is lossless
      // and the pruned scan answers exactly the full-scan question
      """SELECT strftime(ts, '%Y-%m-%d') AS event_date, event_type,
        |  count(*) AS n, count(DISTINCT user_id) AS n_users,
        |  max(value) AS max_value
        |FROM events
        |WHERE strftime(ts, '%Y-%m-%d') IN ('2024-01-05', '2024-01-06')
        |GROUP BY 1, 2""".stripMargin),
    // DYNAMIC partition pruning — q12's planning-time prune needs the
    // dates as literals; the production star-join shape doesn't have
    // them (the filter lives on a DIMENSION attribute — here "weekend"
    // — and only the join knows which fact partitions survive). DPP
    // closes that gap at RUNTIME: the broadcast of the filtered dim is
    // REUSED as a pruning predicate on the fact scan's partition
    // column, so the fact side still reads 8 of 30 day directories
    // even though no date literal appears anywhere in the query. The
    // dim carries an explicit broadcast hint — it is model-sized by
    // construction (one row per date), and the hint is what lets DPP
    // fire under the session's disabled static-broadcast threshold
    // (reuseBroadcastOnly, the default). Spec asserts the
    // dynamicpruningexpression on the scan and re-asks the full-scan
    // question in-engine.
    QueryDef("q13_dpp_star_join", { (s, d) =>
      val fact = partitionedEvents(s, d)
      // the weekend filter as dow COMPARISONS, not the bare boolean
      // column: PartitionPruning only fires on a "likely selective"
      // predicate shape (comparisons/In/...), and a bare boolean
      // attribute — or `=== true`, which BooleanSimplification strips
      // first — is not one
      val dim = dateDim(s, d).where(col("dow") === 1 || col("dow") === 7)
      fact.join(broadcast(dim.select(col("date_key"))),
          fact("event_date") === col("date_key"))
        .groupBy(col("event_date").cast("string").as("event_date"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"),
          max(col("value")).as("max_value"))
    },
      // the dim rebuilt from raw events with DuckDB's own calendar
      // (isodow 6/7 = Spark dayofweek 7/1); no date literal anywhere —
      // the weekend ATTRIBUTE does the filtering, as in the engine
      """WITH dim AS (
        |  SELECT DISTINCT CAST(ts AS DATE) AS date_key FROM events
        |  ),
        |wk AS (SELECT date_key FROM dim WHERE isodow(date_key) IN (6, 7))
        |SELECT strftime(e.ts, '%Y-%m-%d') AS event_date, e.event_type,
        |  count(*) AS n, count(DISTINCT e.user_id) AS n_users,
        |  max(e.value) AS max_value
        |FROM events e JOIN wk ON CAST(e.ts AS DATE) = wk.date_key
        |GROUP BY 1, 2""".stripMargin),
    // bucketed co-located join: both sides written bucketBy the join key,
    // so the join plans with ZERO exchanges — at 100 TB this turns the
    // recurring fact-to-fact join from the dominant shuffle into a local
    // merge per bucket (the table write amortizes across every later join)
    QueryDef("q10_bucketed_join", { (s, d) =>
      val leaf = new java.io.File(d).getName
      def ensure(name: String, df: => DataFrame, key: String): String = {
        val tbl = s"graft_${leaf}_$name".replace(".", "_")
        if (!s.catalog.tableExists(tbl)) {
          // the in-memory catalog forgets tables across sessions but the
          // warehouse directory persists — clear a stale location first
          val wh = s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
          val loc = new java.io.File(wh, tbl)
          if (loc.exists()) {
            def rm(f: java.io.File): Unit = {
              if (f.isDirectory) f.listFiles().foreach(rm)
              f.delete()
            }
            rm(loc)
          }
          // pre-partition by the bucket expression (same hash family as
          // bucketBy) so the 16 bucket files write in parallel — the
          // single-file scan otherwise writes all 16 from one task
          df.repartition(16, col(key))
            .write.bucketBy(16, key).sortBy(key).mode("overwrite").saveAsTable(tbl)
        }
        tbl
      }
      val o = ensure("orders_b", t(s, d, "orders"), "o_custkey")
      val c = ensure("customer_b", t(s, d, "customer"), "c_custkey")
      // force the merge join (at validation scale the planner would
      // broadcast the small side and never exercise the bucketed path;
      // at 100 TB both sides are fact-scale and merge is the plan):
      // bucketed on both sides ⇒ NO exchange before the join (a
      // per-bucket sort remains while buckets span multiple files)
      s.table(o).join(s.table(c).hint("merge"), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_orders"), max(col("o_totalprice")).as("max_price"))
    },
      """SELECT c_nationkey, count(*) AS n_orders, max(o_totalprice) AS max_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_nationkey""".stripMargin),
    // salted two-phase aggregation: a heavily-skewed groupBy key (few
    // distinct event types over many rows) is salted into 16 subkeys for
    // the partial pass, then re-aggregated — no single reducer ever sees
    // a whole hot key's rows. Sums run in DECIMAL so the two-phase
    // regrouping is exact (a double sum would be summation-order-
    // sensitive and could diverge from the oracle).
    QueryDef("q11_salted_skew_agg", { (s, d) =>
      val salted = t(s, d, "events")
        .withColumn("salt", pmod(xxhash64(col("event_id")), lit(16)))
        .groupBy(col("event_type"), col("salt"))
        .agg(count(lit(1)).as("pn"),
          sum(col("value").cast("decimal(18,2)")).as("psum"))
      salted.groupBy(col("event_type"))
        .agg(sum(col("pn")).as("n"),
          // exact decimal sum, rendered as double for the compare
          sum(col("psum")).cast("decimal(18,2)").cast("double").as("sum_value"))
    },
      """SELECT event_type, count(*) AS n,
        |  sum(value::DECIMAL(18,2))::DOUBLE AS sum_value
        |FROM events GROUP BY event_type""".stripMargin))
}
