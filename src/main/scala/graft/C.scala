package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Column helpers shared by all operators.
  *
  * Two cross-engine determinism rules (the DuckDB oracle must hash-match):
  *  - timestamps are exported as epoch-second BIGINT (`epochSec`), never as
  *    formatted strings or raw timestamps;
  *  - money/ratio math runs in DECIMAL(18,2)-derived exact arithmetic and is
  *    cast to DOUBLE only on the final projection (`dec`), so the value is
  *    bit-identical regardless of partial-aggregation order. Summing raw
  *    doubles would make the result depend on Spark's partition merge order.
  */
object C {

  /** Epoch second of a timestamp column, floored to a multiple of `unitSec`
    * (at 1, DuckDB's `CAST(floor(epoch(ts)) AS BIGINT)`; a DATE counts from
    * its midnight). Floored on the microsecond instant, as `window()` floors:
    * `unix_timestamp` truncates a negative sub-second instant toward 0.
    */
  def epochSec(c: Column, unitSec: Long = 1L): Column = {
    val us = unix_micros(c.cast(TimestampType))
    ((us - pmod(us, lit(unitSec * 1000000L))) / 1000000L).cast("long")
  }

  /** Exact 2-decimal fixed-point view of a double column that was generated
    * with 2-decimal values. DuckDB twin: `CAST(x AS DECIMAL(18,2))`.
    */
  def dec(c: Column): Column = c.cast(DecimalType(18, 2))

  /** The malformed-measure contract: a non-finite value (NaN or ±Inf) in a
    * measure column (events.value) is data corruption, treated as NULL —
    * excluded from sums, never an engine error. Spark's ANSI
    * double→DECIMAL cast already maps BOTH NaN and ±Inf to NULL silently,
    * so [[dec]]-routed money paths get this for free; this helper is for
    * paths that cast to BIGINT cents or order by the raw double (where
    * Spark raises CAST_OVERFLOW on either, or ranks NaN as the LARGEST
    * value and diverges row-order from the NULL contract).
    */
  def nanNull(c: Column): Column =
    when(!isnan(c) && abs(c) =!= lit(Double.PositiveInfinity), c)

  /** DuckDB twin of [[nanNull]] — MANDATORY in every oracle that casts a
    * measure to DECIMAL/BIGINT: DuckDB hard-errors on `CAST('nan' AS
    * DECIMAL)` and `CAST('inf' AS DECIMAL)` where Spark yields NULL, and
    * orders NaN above infinity where the contract wants both out of the
    * relation entirely. `isfinite(NULL)` is NULL → ELSE NULL, so NULL
    * passes through unchanged like the Spark form.
    */
  def nanNullSql(e: String): String = s"CASE WHEN isfinite($e) THEN $e END"

  /** Row cap of [[collectBelow]] at every measured driver/distributed
    * cutover. At 2^20 rows the collect is ~16 MB of primitive payload for a
    * 1 M-edge graph, but on the order of 100 MB transient on the driver
    * once Row/tuple/HashMap boxing is counted — sized for the multi-GB
    * drivers a 100 TB job runs with; the same small-side hybrid as
    * broadcast-join selection.
    */
  val DriverCollectMax: Long = 1L << 20

  /** The one bounded collect behind the measured driver/distributed
    * cutovers ([[graft.pipeline.Graph.connectedComponents]],
    * [[graft.pipeline.Dedup.dedupCentrality]],
    * [[graft.pipeline.TextAnalysis.qualityDrift]],
    * [[graft.pipeline.Classify.nbLangConfusion]]): the rows of `df` iff it
    * has fewer than `cap` of them, else None and the caller runs its
    * distributed form. Each of those forms costs a fixed number of
    * scheduled jobs per round or stage whatever the input size (measured
    * at sf0.1: ~2 s of per-round scheduling for a thousand-edge CC graph,
    * 91 jobs / 2.9 s for centrality, 48 jobs / 2.6 s for the KS drift,
    * ~10 single-task stages for the NB model build), while the same
    * integer arithmetic on the driver takes milliseconds; both forms
    * compute identical rows (spec-tested per site).
    *
    * The gate is the collect itself — `limit(cap)` — so the measured
    * quantity is the collected quantity by construction: fewer than `cap`
    * rows come back, or none are kept, and never more than `cap` cross to
    * the driver whatever the input. The measure is the runtime row count,
    * never a plan estimate. `cap = 0` always takes the distributed branch,
    * even on empty input, without evaluating `df` (the seam tests use to
    * reach that branch).
    */
  def collectBelow(df: DataFrame, cap: Long): Option[Array[Row]] = {
    require(cap >= 0 && cap <= Int.MaxValue, s"collect cap $cap")
    val rows = df.limit(cap.toInt).collect()
    if (rows.length < cap) Some(rows) else None
  }

  /** Harness-side block reclamation between queries: `clearCache()` drops
    * persisted DataFrames but NOT eager-localCheckpoint RDD blocks (those
    * are reclaimed by the ContextCleaner when the plan is GC'd — which is
    * asynchronous, and in an 88-query marathon at ×10-replica scale the
    * lag is enough that a mid-query broadcast build dies with "Not enough
    * memory to build and broadcast" even though the query passes solo in
    * the same heap). Force-unpersist every remaining persistent RDD
    * (blocking), then GC. Queries never share materialized state across
    * harness iterations, so this is always safe between them.
    */
  def reclaimBlocks(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.catalog.clearCache()
    // the BPE chain memo is the ONE sanctioned cross-query
    // materialization (bpe_train/bpe_encode share the trained chain) —
    // unpersisting a localCheckpoint is unrecoverable, so skip the memo's
    // pinned ids; everything else is per-query garbage
    val keep = graft.pipeline.TextAnalysis.bpeMemoProtectedRddIds(spark)
    spark.sparkContext.getPersistentRDDs
      .foreach { case (id, rdd) => if (!keep.contains(id)) rdd.unpersist(blocking = true) }
    System.gc()
  }

  /** 60-bit stable content hash: first 15 hex digits of md5, as a Long.
    * DuckDB twin: `CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)`.
    * Used wherever both engines must agree on a hash (fingerprints,
    * minhash seeds, LSH buckets) — Spark's murmur `hash()` has no DuckDB
    * equivalent.
    */
  def md5Long(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast(LongType)

  /** Sentinel for the NULL-text group key. Printable (a leading space, so
    * plain-text diffs/greps work) and starts with a non-hex char, so it can
    * never collide with a real 32-hex md5. The SAME constant is interpolated
    * into every DuckDB oracle twin via [[textGidSql]] — the engine and the
    * oracle must agree byte-for-byte on this key whenever a query emits or
    * compares it cross-engine.
    */
  val NullTextGid = " NULL"

  /** Null-safe exact-dup group key over a text column. `md5(NULL)` is NULL,
    * and a NULL key silently falls out of every downstream equi-join — so a
    * NULL-text document would vanish from canonicalized per-document
    * reports that the legacy per-doc plans (and the LEFT-JOIN oracles)
    * emit with zeroed counts. NULL-text docs thus form one ordinary group
    * whose rep also has NULL text; rep-level token/gram relations drop NULL
    * text exactly as the per-doc plans did, and the members expansion
    * carries the zeroed/absent rep row to every member.
    */
  def textGid(c: Column): Column = coalesce(md5(c), lit(NullTextGid))

  /** SQL fragment twin of [[textGid]] for oracle strings. */
  def textGidSql(expr: String): String =
    s"coalesce(md5($expr), '$NullTextGid')"

  // NOTE on oracle CTEs: DuckDB inlines (re-evaluates per reference) CTEs by
  // default, so an oracle whose chain CTEs feed several consumers must write
  // `AS MATERIALIZED` by hand — the Dedup oracles do. A blanket
  // `" AS (" -> " AS MATERIALIZED ("` rewrite helper used to live here; it
  // was removed because it would corrupt non-CTE clauses (`WINDOW w AS (`)
  // and DuckDB rejects materializing self-referencing recursive CTEs.

  /** SQL fragment twin of [[md5Long]] for oracle strings. */
  def md5LongSql(expr: String): String =
    s"CAST(concat('0x', substr(md5($expr), 1, 15)) AS BIGINT)"

  /** `props` JSON field `k` as LONG (events table item/ad-id proxy).
    *
    * Extracted with a codegen'd regexp, NOT `get_json_object`: the JSON
    * path evaluator builds a Jackson parser per row, whose buffer-recycler
    * ThreadLocal lookup degrades to a linear probe on long-lived executor
    * threads (observed: a 0.5 s scan stretching to 180+ s late in a
    * 40-query JVM, stack tip `ThreadLocalMap.getEntryAfterMiss`). The
    * regexp stays inside whole-stage codegen with zero per-row allocation.
    * `nullif` guards ANSI mode: no match → "" → NULL, never a cast error.
    * DuckDB twin below is the same extraction.
    */
  def propsK(c: Column): Column =
    nullif(regexp_extract(c, "\"k\"\\s*:\\s*(-?\\d+)", 1), lit("")).cast(LongType)

  val propsKSql =
    """CAST(nullif(regexp_extract(props, '"k"\s*:\s*(-?\d+)', 1), '') AS BIGINT)"""
  val epochSecSql = "CAST(floor(epoch(ts)) AS BIGINT)"
}
