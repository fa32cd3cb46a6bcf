package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Point-in-time (as-of) join — for each left row, attach the single right
  * row with the greatest right ordinate `<=` (or `<` when `strict`) the left
  * row's ordinate, within the same key group. The workhorse of leakage-free
  * feature engineering: "the last click before this purchase", "the account
  * state as of this order". The reference has no temporal joins
  * (SURVEY.md §2.3 — everything is equi), so this is a pure extension, built
  * the way Spark wants it rather than how a point engine would.
  *
  * Shape: UNION-SORT, not a range join. Both sides are tagged and unioned,
  * then ONE window partitioned by the key and ordered by
  * (ordinate, side, tie) carries the most recent right payload forward onto
  * each left row (`last(..., ignoreNulls)` over an unbounded-preceding row
  * frame — running state is a single row, evaluated in one pass over each
  * sorted partition).
  *
  * Why this shape at 100 TB:
  *   - a naive inequality join (`l.key = r.key AND r.ts <= l.ts` + latest
  *     per pair) materializes O(|matches|) intermediate rows — quadratic per
  *     key for dense keys — then shuffles them again to aggregate;
  *     the union-sort is one shuffle of |left| + |right| rows, zero
  *     intermediate blow-up, and the sort is Spark's own spillable
  *     UnsafeExternalSorter;
  *   - both inputs shuffle-hash-partition on the SAME key, so AQE coalesces
  *     partitions and inputs already partitioned on the key avoid the
  *     exchange entirely;
  *   - a pathologically hot key serializes into one partition (window
  *     semantics require it); the standard mitigation is range-splitting the
  *     ordinate per hot key upstream (process month-slices with a carried
  *     seed row), which composes with this operator unchanged.
  *
  * Determinism: right rows that tie on (ordinate, tieBreak) are resolved by
  * the LAST in tie-break order; pass a total order (e.g. a unique id) for
  * reproducible output. Left rows are never reordered relative to each
  * other — each carries its own full row through `__l`.
  */
object AsOf {

  /** @param keys        equi-join key columns (same names on both sides)
    * @param leftOrd     left ordinate (any orderable type; epoch-ms longs
    *                    recommended — see EventsStream's ms discipline)
    * @param rightOrd    right ordinate, same type as `leftOrd`
    * @param payloadCols right columns to attach (null when no match)
    * @param tieBreak    right columns completing a total order within
    *                    (keys, rightOrd) ties
    * @param strict      true → strictly-before (`<`); false → `<=`
    */
  def asOfJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
               leftOrd: Column, rightOrd: Column,
               payloadCols: Seq[String], tieBreak: Seq[String] = Nil,
               strict: Boolean = false): DataFrame = {
    val payloadType = org.apache.spark.sql.types.StructType(
      right.select(payloadCols.map(col): _*).schema.fields)
    val tieType = org.apache.spark.sql.types.StructType(
      right.select(tieBreak.map(col): _*).schema.fields)
    val leftType = org.apache.spark.sql.types.StructType(left.schema.fields)
    // at equal ordinates the right row must sort BEFORE the left row for
    // <= semantics (the frame ends at the current row), and AFTER it for <
    val (rightSide, leftSide) = if (strict) (1, 0) else (0, 1)
    val l = left.select(
      keys.map(col) ++ Seq(
        leftOrd.as("__ord"), lit(leftSide).as("__side"),
        lit(null).cast(tieType).as("__tie"),
        struct(left.columns.toIndexedSeq.map(col): _*).as("__l"),
        lit(null).cast(payloadType).as("__p")): _*)
    // a null right ordinate can never satisfy `<=`/`<` (standard as-of /
    // SQL ASOF semantics) — without this filter it would sort NULLS FIRST
    // and get carried onto null-ordinate left rows. Likewise a null KEY on
    // the right can never equi-match (NULL ≠ NULL in join semantics), but
    // Window.partitionBy groups NULLs together — unfiltered, null-key left
    // rows would receive null-key right payloads. Dropping them here routes
    // null-key left rows through an all-left partition → unmatched, which
    // is exactly SQL ASOF LEFT JOIN behavior.
    val rightKeysMatchable =
      (rightOrd.isNotNull +: keys.map(col(_).isNotNull)).reduce(_ && _)
    val r = right.filter(rightKeysMatchable).select(
      keys.map(col) ++ Seq(
        rightOrd.as("__ord"), lit(rightSide).as("__side"),
        struct(tieBreak.map(col): _*).as("__tie"),
        lit(null).cast(leftType).as("__l"),
        struct(payloadCols.map(col): _*).as("__p")): _*)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__ord").asc, col("__side").asc, col("__tie").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l.unionByName(r)
      .withColumn("__m", last(col("__p"), ignoreNulls = true).over(w))
      .filter(col("__side") === leftSide)
      .select(col("__l.*") +: payloadCols.map(c => col(s"__m.$c").as(c)): _*)
  }
}
