package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** One engine query: the Spark plan builder plus (when SQL-expressible)
  * the equivalent DuckDB oracle SQL over the same parquet tables. Column
  * names MUST match between both — the driver sorts columns by name and
  * hashes values. `tuning` is the session tuning the query needs; the
  * operators it calls leave session conf alone. */
case class QueryDef(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    tuning: Tuning = Tuning.none) {
  /** The query's frame, built after applying its tuning to `spark`. */
  def fn(spark: SparkSession, dir: String): DataFrame = {
    tuning.applyTo(spark)
    build(spark, dir)
  }
}

object QueryDef {
  /** Read one testdata table. Plain parquet scan: filters/projections above
    * it push down (verified via explain in BenchSpec). The schema is
    * inferred once per table version ([[graft.util.ParquetTables]]). */
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.util.ParquetTables.read(spark, s"$dir/$name.parquet")

  /** Spread a byte-small, compute-heavy input across the cluster behind
    * an eager barrier: the localCheckpoint materializes the repartitioned
    * raw rows, so everything planned above it runs at
    * `defaultParallelism` instead of on the scan's input splits (one task
    * for a single small parquet file, row-group bound). The repartition
    * alone already does that for a per-row Project: Spark 4.1.2 keeps
    * such Projects (simhash, the quantization `transform`) above
    * `Repartition n, true` in the optimized plan, which PlanSpec pins.
    * Whether each barrier still pays for itself is left to the ROADMAP's
    * barrier audit. At 100 TB inputs arrive with thousands of splits and
    * this becomes a no-op guard (cost: one pass over the rows being
    * spread). */
  def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism).localCheckpoint()

  /** Round-robin repartition ONLY when the input's scan parallelism is
    * actually below the session's cores AND the input is big enough to
    * matter (guide §2.5 "input skew: one huge unsplittable file"): a
    * single-row-group parquet file scans as ONE task, so per-row work
    * below the first exchange runs on one core no matter the cluster.
    * At scale, inputs arrive with thousands of splits and this is a
    * LITERAL no-op (the partition check fails, no shuffle is added) —
    * unlike [[spread]], whose unconditional repartition is for per-row
    * costs so heavy the extra pass is always worth it.
    *
    * No localCheckpoint: callers put their expensive expressions inside
    * aggregates/generators, which stay above the repartition — verified
    * per call site via the executed plan.
    * Size gate reads optimizer stats (file size for a parquet scan),
    * never runs a job. */
  def spreadIfNarrow(df: DataFrame, minBytes: Long = 1L << 21,
      barrier: Boolean = false): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.queryExecution.optimizedPlan.stats.sizeInBytes < minBytes) df
    else if (df.rdd.getNumPartitions >= p) df
    else if (barrier) spread(df) // Project-pushdown-proof (see [[spread]])
    else df.repartition(p)
  }

  /** Order-independent exact aggregate: double column → decimal sum →
    * double. A plain double SUM is accumulation-order-dependent, so Spark
    * and DuckDB would differ in the last bits (and across partitionings);
    * the decimal path is exact, hence deterministic and portable. */
  def dsum(c: Column, prec: Int = 18, scale: Int = 2): Column =
    sum(c.cast(DecimalType(prec, scale))).cast("double")

  /** SQL twin of dsum. */
  def dsumSql(expr: String, prec: Int = 18, scale: Int = 2): String =
    s"CAST(SUM(CAST($expr AS DECIMAL($prec,$scale))) AS DOUBLE)"

  /** Exact mean: decimal sum / count, evaluated in double at the end. */
  def davg(c: Column, prec: Int = 18, scale: Int = 2): Column =
    sum(c.cast(DecimalType(prec, scale))).cast("double") / count(c)

  def davgSql(expr: String, prec: Int = 18, scale: Int = 2): String =
    s"(CAST(SUM(CAST($expr AS DECIMAL($prec,$scale))) AS DOUBLE) / COUNT($expr))"

  /** TPC-H style revenue term, exact: price*(1-discount) in decimals. */
  def revenueTerm(price: Column, discount: Column): Column =
    price.cast(DecimalType(12, 2)) * (lit(BigDecimal(1)).cast(DecimalType(3, 2)) - discount.cast(DecimalType(4, 2)))

  def revenueTermSql(price: String, discount: String): String =
    s"CAST($price AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST($discount AS DECIMAL(4,2)))"
}
