package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Relational anchor queries over the TPC-H-ish tables — the generic
  * scan/filter/agg/join/window surface of the engine, used as the
  * performance baseline (BENCH) and as cross-engine correctness anchors.
  *
  * Money amounts are floored to integer cents before aggregation so every
  * output column is integer-typed and hashes identically across Spark and
  * the DuckDB oracle (IEEE-754 double `floor` is deterministic in both;
  * double SUM accumulation order is not).
  */
object RelOps {

  private def cents(c: String): org.apache.spark.sql.Column =
    floor(col(c) * 100).cast("long")

  /** Pricing summary (TPC-H Q1 shape): scan-heavy groupBy with partial
    * aggregation; filter pushed to parquet scan.
    */
  def q1PricingSummary(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(floor(col("l_quantity"))).as("sum_qty"),
        sum(cents("l_extendedprice")).as("sum_base_cents"),
        sum(floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100).cast("long"))
          .as("sum_disc_cents"),
        count(lit(1)).as("count_order"))

  /** Shipping-priority top-k (TPC-H Q3 shape): 3-way join, aggregation,
    * deterministic top-10. Orders/customer are the small sides at any SF
    * ratio — AQE broadcast them; lineitem never shuffles twice.
    */
  def q3Shipping(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = spark.read.parquet(s"$sfDir/customer.parquet")
      .filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    val ord = spark.read.parquet(s"$sfDir/orders.parquet")
      .filter(col("o_orderdate") < lit("1995-03-15").cast("timestamp"))
      .select("o_orderkey", "o_custkey", "o_orderdate")
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .filter(col("l_shipdate") > lit("1995-03-15").cast("timestamp"))
      .select(col("l_orderkey"),
        floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100).cast("long")
          .as("rev_cents"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(sum("rev_cents").as("revenue_cents"))
      .orderBy(col("revenue_cents").desc, col("l_orderkey"))
      .limit(10)
  }

  /** Regional supplier volume (TPC-H Q5 shape): star join through
    * region→nation→supplier (all broadcastable dims) into lineitem.
    */
  def q5Region(spark: SparkSession, sfDir: String): DataFrame = {
    val region = spark.read.parquet(s"$sfDir/region.parquet")
    val nation = spark.read.parquet(s"$sfDir/nation.parquet")
    val supplier = spark.read.parquet(s"$sfDir/supplier.parquet")
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_suppkey"),
        floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100).cast("long")
          .as("rev_cents"))
    val dims = supplier
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("n_name"), col("r_name"))
    li.join(broadcast(dims), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(sum("rev_cents").as("revenue_cents"), count(lit(1)).as("n_items"))
  }

  /** Selective filter-and-sum (TPC-H Q6 shape): the pure pushdown showcase —
    * every predicate reaches the parquet scan, no join, one partial+final agg.
    */
  def q6Forecast(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .filter(col("l_shipdate") >= lit("1994-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1995-01-01").cast("timestamp") &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24)
      .agg(
        sum(floor(col("l_extendedprice") * col("l_discount") * 100).cast("long"))
          .as("revenue_cents"),
        count(lit(1)).as("n_rows"))

  /** Metrics roll-up (SURVEY §2.4 "rollup built-ins available if needed"):
    * per-(type, status-bucket) counts with subtotal and grand-total rows.
    */
  def rollupMetrics(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/events.parquet")
      .withColumn("value_sign",
        when(col("value") >= 0, "nonneg").otherwise("neg"))
      .rollup(col("event_type"), col("value_sign"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 100).cast("long")).as("sum_value_cents"))

  /** Conditional aggregation (TPC-H Q12 shape): per-priority-class counts
    * via CASE inside SUM, after a join.
    */
  def q12Shipmode(spark: SparkSession, sfDir: String): DataFrame = {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .filter(col("l_shipdate") >= lit("1994-01-01").cast("timestamp"))
      .select("l_orderkey", "l_linestatus")
    val ord = spark.read.parquet(s"$sfDir/orders.parquet")
      .select("o_orderkey", "o_orderpriority")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_linestatus"))
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L))
          .as("high_line_count"),
        sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L))
          .as("low_line_count"))
  }

  /** Ratio metric (TPC-H Q14 shape): promo revenue share in permille
    * (integer-floored for cross-engine determinism).
    */
  def q14Promo(spark: SparkSession, sfDir: String): DataFrame = {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1995-04-01").cast("timestamp"))
    val part = spark.read.parquet(s"$sfDir/part.parquet").select("p_partkey", "p_type")
    li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .agg(
        sum(when(col("p_type").startsWith("PROMO"),
          floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100))
          .otherwise(0L)).as("promo_cents"),
        sum(floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100))
          .as("total_cents"))
      .select(col("promo_cents"), col("total_cents"),
        floor(col("promo_cents") * 1000.0 / col("total_cents")).cast("long")
          .as("promo_permille"))
  }

  /** Tumbling-window event aggregation: 1-hour tumbling windows per
    * event_type.
    */
  def eventWindows(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/events.parquet")
      .groupBy(
        date_trunc("hour", col("ts")).as("window_start"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(floor(col("value") * 100).cast("long")).as("sum_value_cents"),
        countDistinct(col("user_id")).as("n_users"))

  /** Per-user event sessionization (gap > 30 min starts a new session) —
    * the window-function shape of stateful stream processing, in batch.
    */
  def sessionize(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    spark.read.parquet(s"$sfDir/events.parquet")
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 1800, 1L)
          .otherwise(0L))
      .withColumn("session_idx", sum("new_session").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"))
  }
}
