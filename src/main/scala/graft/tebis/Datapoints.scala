package graft.tebis

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative (Catalyst-optimizable) form of the TEBIS transform chain for
  * data already loaded as a wide DataFrame: header split (S4), value-row
  * filter (S5/S6), locale cast (S7), epoch s→ms (S8), unpivot (S9).
  * Reference: csv_extractor.py:92-160. The canonical byte-exact path is
  * TebisCsv.parseContent; this path exists so wide tabular data that is
  * ALREADY columnar (e.g. re-ingested parquet) flows through built-in,
  * codegen'd operators — Expand for unpivot, no UDFs.
  */
object Datapoints {

  /** externalId = text before the LAST colon, trimmed; "" when no colon
    * (Python rpartition parity, csv_extractor.py:149). */
  def externalIdExpr(header: Column): Column =
    trim(regexp_extract(header, "(?s)^(.*):[^:]*$", 1)) // (?s): headers may carry newlines (quoted cells)

  /** name = text after the LAST colon, trimmed; whole cell when no colon
    * (csv_extractor.py:148). */
  def seriesNameExpr(header: Column): Column =
    trim(substring_index(header, ":", -1))

  /** Comma-decimal string → double; NULL when empty/unparsable (S6+S7).
    * Uses Spark's cast parser, which accepts the same core grammar
    * ("1e5", "Infinity", "NaN"); exact Python-float parity lives in
    * TebisCsv.parsePythonFloat. */
  def valueExpr(raw: Column): Column =
    regexp_replace(raw, ",", ".").try_cast("double")

  /** Epoch-seconds string → epoch millis (S8, csv_extractor.py:103). */
  def timestampMsExpr(rawTs: Column): Column =
    rawTs.try_cast("long") * lit(1000L)

  /** Wide (ts + one string column per series header) → long
    * `(externalId, seriesName, timestampMs, value)`.
    *
    * Scale: `unpivot` plans as a single Expand (no shuffle, no UDF). For
    * files with thousands of series columns the unpivot is chunked into
    * groups of `chunk` columns unioned together, bounding per-operator
    * expression size (SURVEY §7.5#4); the union is a no-shuffle narrow op.
    */
  def unpivotWide(wide: DataFrame, tsCol: String, chunk: Int = 256): DataFrame = {
    val valueCols = wide.columns.filterNot(_ == tsCol)
    val chunks = valueCols.grouped(chunk).map { group =>
      wide.unpivot(
        Array(col(tsCol)),
        group.map(col),
        "hdr", "rawValue")
    }
    val long = chunks.reduce(_ unionByName _)
    long
      .withColumn("value", valueExpr(col("rawValue")))
      .filter(col("rawValue").isNotNull && length(col("rawValue")) > 0 && col("value").isNotNull)
      .select(
        externalIdExpr(col("hdr")).as("externalId"),
        seriesNameExpr(col("hdr")).as("seriesName"),
        timestampMsExpr(col(tsCol)).as("timestampMs"),
        col("value"))
      // declarative approximation of the canonical path's file-fatal bad
      // timestamp: rows with unparsable timestamps are dropped (a
      // DataFrame op cannot fail per-file)
      .filter(col("timestampMs").isNotNull)
  }

  /** Gap detection (★ §2b window row): per-series gaps strictly longer
    * than `maxGapMs` between consecutive datapoints. One shuffle+sort on
    * externalId; window cardinality = points per series. */
  def gaps(datapoints: DataFrame, maxGapMs: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("externalId").orderBy(col("timestampMs").asc)
    datapoints
      .withColumn("prev_ts", lag("timestampMs", 1).over(w))
      .filter(col("prev_ts").isNotNull && col("timestampMs") - col("prev_ts") > maxGapMs)
      .select(col("externalId"), col("prev_ts").as("gap_start"),
        col("timestampMs").as("gap_end"),
        (col("timestampMs") - col("prev_ts")).as("gap_ms"))
  }

  /** Per-series first derivative (q168): rate of change between
    * consecutive datapoints, `(Δvalue · 1000) / Δt_ms` per second. Ties
    * on timestamp break by value (the resample discipline); a zero-Δt
    * successor (duplicate timestamp) emits no rate — division by zero
    * is not a datapoint. One per-series window, no other exchange. The
    * rate is a single IEEE expression over exactly-ordered operands, so
    * it is engine-portable bit-for-bit. */
  def derivative(datapoints: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("externalId").orderBy(col("timestampMs").asc, col("value").asc)
    datapoints
      .withColumn("prev_ts", lag("timestampMs", 1).over(w))
      .withColumn("prev_v", lag("value", 1).over(w))
      .filter(col("prev_ts").isNotNull && col("timestampMs") > col("prev_ts"))
      .select(col("externalId"), col("timestampMs"),
        ((col("value") - col("prev_v")) * lit(1000.0) /
          (col("timestampMs") - col("prev_ts")).cast("double")).as("rate_per_s"))
  }

  /** Per-series trailing rolling mean (q169): mean of the last `n`
    * datapoints (ROWS frame). The sum is DECIMAL — a double window sum
    * is accumulation-order-dependent AND engines disagree on sliding-
    * frame evaluation strategies (recompute vs segment tree), so only an
    * exact sum makes the rolling mean portable; one double division per
    * row at the end. One per-series window. */
  def rollingMean(datapoints: DataFrame, n: Int = 4): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("externalId").orderBy(col("timestampMs").asc, col("value").asc)
      .rowsBetween(-(n - 1), 0)
    datapoints
      .withColumn("n_in_frame", count(lit(1)).over(w))
      .withColumn("mean_v",
        sum(col("value").cast(DecimalType(18, 2))).over(w).cast("double") /
          col("n_in_frame").cast("double"))
      .select(col("externalId"), col("timestampMs"), col("n_in_frame"), col("mean_v"))
  }

  /** Resample each series onto a regular `stepMs` grid with
    * last-observation-carried-forward fill.
    *
    * Plan shape: each point emits the grid slots it is the latest
    * observation for (sequence+explode up to the next point — no
    * cross-join against a calendar table), so the whole op is one
    * window (lag) + one Expand, no extra shuffle beyond the per-series
    * sort. Grid slots with no prior observation simply don't exist
    * (LOCF semantics). */
  /** Per-series OHLC bars (q231): open/high/low/close + count per fixed
    * `stepMs` bucket — the downsampling view a dashboard reads (q25's
    * LOCF grid answers "what was the value AT t"; OHLC answers "what
    * happened WITHIN [t, t+step)"). Open/close are min_by/max_by over
    * the (timestampMs, value) struct — the partial-aggregated argmin/
    * argmax (no rank window), deterministic under timestamp ties via the
    * value tie-break, exactly the resample ordering. Values pass through
    * untouched (no arithmetic — nothing to drift). The bucket uses
    * truncating DIV on both engines, so pre-1970 series bucket
    * consistently (if not calendar-floored — same trade q25 documents).
    *
    * Scale shape: ONE (series × bucket)-keyed partial-agg rollup above
    * the scan; min_by/max_by combine map-side like min/max. */
  def ohlcBars(datapoints: DataFrame, stepMs: Long): DataFrame =
    datapoints
      .withColumn("bucketTs", expr(s"(timestampMs DIV $stepMs) * $stepMs"))
      .groupBy("externalId", "bucketTs").agg(
        count(lit(1)).as("n"),
        min("value").as("low"),
        max("value").as("high"),
        expr("min_by(value, struct(timestampMs, value))").as("open"),
        expr("max_by(value, struct(timestampMs, value))").as("close"))

  /** Time-weighted-average bars (q293): THE industrial datapoints
    * aggregate — each point's value holds until the next point
    * (previous-value/step interpolation), and a bucket's TWA weights
    * every held segment by its overlap with the bucket, so an irregular
    * sensor that reports once an hour and once a millisecond averages
    * correctly where q231's OHLC/row-mean would count rows. A point's
    * last segment holds to the end of its own bucket; zero-length
    * segments (duplicate timestamps under the (t, value) total order)
    * drop, leaving the later-sorted point to hold — deterministic on
    * both engines.
    *
    * Exactness: values become cents once (one IEEE round both engines
    * share); the weighted sum rides DECIMAL(38,0) (cents × ms overflows
    * int64 at real spans); the TWA is one integral division, reported
    * in micro-cents. Positive-epoch domain (the q25 resample note).
    *
    * Scale shape: one series-keyed lead window (the natural
    * partitioning), a per-segment bucket-range explode (bounded by the
    * segment's bucket span), one (series, bucket) rollup. */
  def twaBars(datapoints: DataFrame, stepMs: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("externalId").orderBy(col("timestampMs").asc, col("value").asc)
    val seg = datapoints
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
      .withColumn("seg_end", coalesce(lead("timestampMs", 1).over(w),
        expr(s"(timestampMs DIV $stepMs + 1) * $stepMs")))
      .filter(col("seg_end") > col("timestampMs"))
    seg.select(col("externalId"), col("cents"), col("timestampMs"), col("seg_end"),
        explode(expr(s"sequence(timestampMs DIV $stepMs, (seg_end - 1) DIV $stepMs)")).as("b"))
      .withColumn("ov",
        least(col("seg_end"), (col("b") + 1) * stepMs) -
          greatest(col("timestampMs"), col("b") * stepMs))
      .groupBy(col("externalId"), (col("b") * stepMs).as("bucketTs"))
      // cents·ov stays int64: per (series, bucket) the weighted sum is
      // bounded by stepMs · max|cents| (held time inside one bucket is
      // at most the bucket), so hour buckets are exact to |value| ~ 2e10
      // — DECIMAL enters only at the final ×1e6 division
      .agg(sum(expr("cents * ov")).as("wsum"), sum("ov").as("held_ms"))
      .withColumn("twa_cents_micro", expr(
        "CAST((CAST(wsum AS DECIMAL(38,0)) * 1000000) div held_ms AS BIGINT)"))
      .select("externalId", "bucketTs", "held_ms", "twa_cents_micro")
  }

  /** `idSelect` is the output projection of the series key — callers
    * that expose the bars under a different id column (q293 casts the
    * string externalId back to the source's BIGINT user_id) pass their
    * own projection instead of rewriting the SQL post-hoc. */
  def twaBarsSql(stepMs: Long, pointsCte: String,
      idSelect: String = "externalId"): String =
    s"""WITH $pointsCte,
      seg AS (SELECT externalId, CAST(round(value * 100) AS BIGINT) AS cents,
            timestampMs,
            COALESCE(lead(timestampMs) OVER (PARTITION BY externalId
                ORDER BY timestampMs, value),
              (timestampMs // $stepMs + 1) * $stepMs) AS seg_end
          FROM pts),
      bk AS (SELECT externalId, cents, timestampMs, seg_end,
            unnest(range(timestampMs // $stepMs, (seg_end - 1) // $stepMs + 1)) AS b
          FROM seg WHERE seg_end > timestampMs),
      ov AS (SELECT externalId, b * $stepMs AS bucketTs, cents,
            least(seg_end, (b + 1) * $stepMs)
              - greatest(timestampMs, b * $stepMs) AS ov
          FROM bk)
      SELECT $idSelect, bucketTs, CAST(SUM(ov) AS BIGINT) AS held_ms,
        CAST((CAST(SUM(cents * ov) AS HUGEINT) * 1000000) // SUM(ov) AS BIGINT)
          AS twa_cents_micro
      FROM ov GROUP BY 1, 2"""

  def resample(datapoints: DataFrame, stepMs: Long): DataFrame = {
    // value in the sort key only to break timestamp ties deterministically
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("externalId").orderBy(col("timestampMs").asc, col("value").asc)
    datapoints
      .withColumn("next_ts", lead("timestampMs", 1).over(w))
      // integer ceil: first grid slot at or after this point; last slot
      // strictly before the next point. `q + (r > 0)` with truncating
      // division is exact ceil for ANY sign (the add-step-minus-1 idiom
      // over-rotates exact negative multiples); Spark DIV and DuckDB //
      // both truncate toward zero, so the math is engine-portable for
      // pre-1970 (negative-epoch) series too
      .withColumn("slot0",
        expr(s"(timestampMs DIV $stepMs + (CASE WHEN timestampMs % $stepMs > 0 THEN 1 ELSE 0 END)) * $stepMs"))
      .withColumn("slotN",
        when(col("next_ts").isNull, col("slot0"))
          .otherwise(expr(
            s"(next_ts DIV $stepMs + (CASE WHEN next_ts % $stepMs > 0 THEN 1 ELSE 0 END)) * $stepMs - $stepMs")))
      .filter(col("slot0") <= col("slotN"))
      .withColumn("gridTs", explode(sequence(col("slot0"), col("slotN"), lit(stepMs))))
      .select(col("externalId"), col("gridTs"), col("value"))
  }
}
