package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Materialized medallion layers (the reference's CTAS persistence —
  * `etl/tasks/silver.py:29-62`, `etl/tasks/gold.py:12-65` — SURVEY §2.1
  * S5/S6): silver + gold are written to parquet ONCE per (JVM, sfDir) and
  * every analytics/SQL query reads the written layer back instead of
  * re-deriving it from base scans. The readers go through
  * [[Tables.parquet]], so a session lists each layer's files and infers
  * its schema once, not once per request.
  *
  * Scale posture: this is the single biggest 100 TB lever in the repo —
  * the orders⋈lineitem fact shuffle happens once per pipeline run, not
  * once per query. The fact is hive-partitioned on a calendar period
  * column `order_period` (reference landing zone
  * `scripts/esplosione_dati.py:135-154` partitions by month), so any
  * query filtering on the period gets partition pruning; `repartition`
  * by the partition column + a bounded hash salt before the write keeps
  * file count at ≤fanout per period while still writing hot periods from
  * multiple tasks in parallel.
  *
  * BOTH period grain and fan-out are sized from the data, because each
  * fails in one direction when fixed (round 17): real lakehouse
  * partition-layout guidance is partition SIZE targets, not a fixed
  * calendar grain. Month grain on a long-history corpus (the
  * time-shifted rehearsal: 7,900 months at sf10) shattered the fact
  * into 7,900 tiny files — measured +17 s of footer/listing overhead on
  * EVERY fact scan — while year grain on a driver-scale corpus would
  * give one partition. [[periodGrain]] picks month unless the month
  * count blows past [[maxPartitions]] (then year); [[adaptiveFanout]]
  * adds writer tasks per partition only above a row floor. At the
  * driver's gate scales (79 months) both collapse to exactly the
  * reference's month-partitioned, 4-way-salted layout.
  */
object Gold {

  /** Write-side fan-out CAP per hive partition: each partition value
    * lands in up to this many tasks/files. Sized small here (local[32],
    * sf≤0.1); on a real cluster size it to executor-count /
    * distinct-partitions so the hottest partition saturates the cluster
    * without file explosion.
    */
  val writeFanout = 4

  /** Rows above which a hive partition earns a second writer task. The
    * fan-out exists to parallelize HOT partitions; a partition below
    * this floor is one comfortably-sized file, and salting it anyway
    * just multiplies tiny files (round 17: the time-shifted rehearsal
    * has factor× more, proportionally smaller months — 790 at sf1 —
    * and a fixed 4-way salt turned them into 3 160 files, visible as
    * +2 s on every fact-reading query and 8× slower layer setup).
    */
  val fanoutRowFloor = 250000L

  /** Fan-out for a table of `rows` spread over ~`partitions` hive
    * partitions: 1 until the average partition clears
    * [[fanoutRowFloor]], then one extra writer per floor-multiple, capped
    * at [[writeFanout]]. At 100 TB (billions of rows per month) this
    * saturates the cap; on a small-or-long-history corpus it collapses
    * to one right-sized file per partition.
    */
  def adaptiveFanout(rows: Long, partitions: Long): Int =
    math.max(1L, math.min(writeFanout.toLong,
      rows / math.max(1L, partitions) / fanoutRowFloor + 1)).toInt

  /** Hive-partition count cap for the gold fact: beyond it, coarsen the
    * calendar grain instead of shattering the table (hive partitioning
    * writes ≥1 file per partition value, so partition count is a FILE
    * COUNT floor, and every scan pays a footer read per file).
    */
  val maxPartitions = 256L

  /** Calendar grain for `months` distinct order months: month while the
    * partition count stays sane, else year. Returns the date_format
    * pattern for the `order_period` partition column.
    */
  def periodGrain(months: Long): String =
    if (months <= maxPartitions) "yyyy-MM" else "yyyy"

  /** The one salted partitioned-write shape (used by the gold fact and
    * both landing splits, asserted in GoldSpec): pure
    * `repartition(partCol)` serializes each hive partition through ONE
    * task — at 100 TB a hot partition is a write bottleneck. Hash-salting
    * on the row key fans every partition across up to `fanout`
    * tasks while keeping file count bounded at fanout-per-partition
    * (vs tasks x partitions unsalted).
    */
  def saltedPartitionedWrite(df: DataFrame, partCol: String,
                             saltKey: Column, dir: String,
                             fanout: Int = writeFanout): Unit = {
    val repart =
      if (fanout <= 1) df.repartition(col(partCol))
      else df.repartition(col(partCol), pmod(hash(saltKey), lit(fanout)))
    repart.write.mode("overwrite").partitionBy(partCol).parquet(dir)
  }

  /** Write silver + gold parquet for sfDir if this JVM hasn't yet; returns
    * the layer root (under the build dir, never the read-only testdata).
    * Thread-safe; runs at most once per (JVM, sfDir).
    */
  def ensure(spark: SparkSession, sfDir: String): String =
    Workdirs.materializeOnce("graft-layers", sfDir) { dir =>
      import scala.concurrent.Future
      import scala.concurrent.ExecutionContext.Implicits.global
      // fail-fast quality gate between bronze and silver (§2.11): one
      // aggregation pass per table; a violation aborts the whole
      // materialization before anything is written. The gated silvers
      // are cached — each feeds its own write AND the fact build.
      // Round 21 (setup-cost item): persist is marked BEFORE the gate and
      // the layout-sizing statistics ride the gate's own aggregation
      // (gateWith extras), so ONE pass per table gates, fills the cache,
      // and sizes the layout — previously the gate scanned the raw
      // frame, then a separate countDistinct/count pass per table filled
      // the cache: two full passes per silver, four jobs instead of two
      // (at sf10 the silvers are tens of millions of rows; every saved
      // pass is real setup wall-clock).
      val so = Medallion.silverOrders(Tables.orders(spark, sfDir)).persist()
      val (_, soStats) = Quality.gateWith(so, Quality.orderChecks,
        Seq(countDistinct(date_format(col("o_orderdate"), "yyyy-MM"))
          .cast("long").as("__months")))
      val sl = Medallion.silverLineitem(Tables.lineitem(spark, sfDir)).persist()
      val (_, slStats) = Quality.gateWith(sl, Quality.lineitemChecks, Nil)
      // the gold fact's money columns are DECIMAL(18,4) ON DISK (round
      // 16): exactness becomes a property of the schema instead of a
      // per-query cast convention — every downstream money aggregate is
      // association-order-free by construction, and a new consumer
      // cannot reintroduce the SUM(double) drift class by forgetting a
      // cast. Values are unchanged: price carries ≤2 decimals (exact in
      // DECIMAL(18,4) both ways), and freight's double product is
      // canonicalized to its exact ≤4-decimal value (the t01 disc_price
      // argument; the oracle factSql applies the same canonicalization).
      // size the fact's layout from the gate rows (zero extra passes):
      // distinct order months pick the calendar grain, lineitem count
      // (the gate's own __rows counter) over the grain's partition count
      // sizes the fan-out — hot periods fan out, tiny ones don't shatter
      // into salt-files
      val months = math.max(1L, soStats.getAs[Long]("__months"))
      val grain = periodGrain(months)
      val periods =
        if (grain == "yyyy-MM") months else math.max(1L, months / 12)
      val factFanout = adaptiveFanout(slStats.getLong(0), periods)
      val fact = Medallion.factSales(so, sl)
        .withColumn("price",
          col("price").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
        .withColumn("freight_value",
          col("freight_value").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
        .withColumn("order_period",
          date_format(col("order_purchase_timestamp"), grain))
      // the six layer writes are independent of each other — submit them
      // as concurrent Spark jobs (FIFO-scheduled over the same executor
      // pool) instead of serially leaving the cluster idle between
      // write barriers; driver threads are a standard way to overlap
      // independent jobs in one session
      val writes = Seq(
        Future(so.write.mode("overwrite").parquet(s"$dir/silver_orders")),
        Future(sl.write.mode("overwrite").parquet(s"$dir/silver_lineitem")),
        Future(saltedPartitionedWrite(fact, "order_period", col("order_id"),
          s"$dir/fact_sales", factFanout)),
        Future(Medallion.dimCustomer(
            Tables.customer(spark, sfDir), Tables.nation(spark, sfDir),
            Tables.region(spark, sfDir))
          .write.mode("overwrite").parquet(s"$dir/dim_customers")),
        Future(Medallion.dimPart(Tables.part(spark, sfDir))
          .write.mode("overwrite").parquet(s"$dir/dim_products")),
        Future(Medallion.dimDate(Tables.orders(spark, sfDir))
          .write.mode("overwrite").parquet(s"$dir/dim_time")))
      // settle ALL futures before propagating a failure: rethrowing on
      // the first error while sibling writes are still running would let
      // a retry start a second overwrite of the same paths concurrently
      // with the stragglers of the failed attempt
      try Workdirs.settleAll(writes)
      finally { so.unpersist(); sl.unpersist() }
    }

  def silverOrders(spark: SparkSession, sfDir: String): DataFrame =
    Tables.parquet(spark, s"${ensure(spark, sfDir)}/silver_orders")

  def silverLineitem(spark: SparkSession, sfDir: String): DataFrame =
    Tables.parquet(spark, s"${ensure(spark, sfDir)}/silver_lineitem")

  /** Gold fact in the canonical column order of [[Medallion.factSales]]
    * (the `order_period` partition column stays available for pruning but
    * is projected away here so downstream schemas are unchanged).
    *
    * Money columns read back as DOUBLE for the legacy consumer surface:
    * the on-disk schema is DECIMAL(18,4) (see [[ensure]]) and the
    * decimal→double conversion is exact for ≤4-decimal money values, so
    * every pre-round-16 consumer sees bit-identical doubles. Consumers
    * that aggregate money should prefer [[factDecimal]] and skip the
    * double detour entirely.
    */
  def fact(spark: SparkSession, sfDir: String): DataFrame =
    factDecimal(spark, sfDir)
      .withColumn("price", col("price").cast("double"))
      .withColumn("freight_value", col("freight_value").cast("double"))

  /** Gold fact with its NATIVE decimal money schema (price and
    * freight_value as DECIMAL(18,4)) — the end-to-end exact-money
    * surface: silver → gold → aggregate without any floating-point
    * representation in between.
    */
  def factDecimal(spark: SparkSession, sfDir: String): DataFrame =
    Tables.parquet(spark, s"${ensure(spark, sfDir)}/fact_sales")
      .select("order_id", "line_id", "customer_id", "product_id", "price",
        "freight_value", "order_purchase_timestamp", "delivery_time_days")

  def dimCustomer(spark: SparkSession, sfDir: String): DataFrame =
    Tables.parquet(spark, s"${ensure(spark, sfDir)}/dim_customers")

  def dimPart(spark: SparkSession, sfDir: String): DataFrame =
    Tables.parquet(spark, s"${ensure(spark, sfDir)}/dim_products")

  def dimDate(spark: SparkSession, sfDir: String): DataFrame =
    Tables.parquet(spark, s"${ensure(spark, sfDir)}/dim_time")
}
