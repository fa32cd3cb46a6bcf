package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.util.Retry

/** S3/S4 — paginated remote-layer ingest (the reference walks an ESRI
  * FeatureServer with `resultOffset`/`resultRecordCount` pages of 2,000;
  * `address_etl/geocode.py:398-466`).
  *
  * Spark-native shape: the page space is partitioned with `spark.range`
  * and each executor fetches its own offset ranges via a pluggable,
  * serializable `PageFetcher` — pagination becomes parallelism instead of a
  * driver-side loop. Every fetch runs under exponential backoff with
  * token-refresh (reference I6, `geocode.py:411-466`). Auth state is
  * per-TASK: the fetcher is deserialized into each task closure, so a
  * `refreshAuth` mutates that task's copy only — implementations that
  * want executor-wide token reuse cache it in a companion/static field
  * (JVM-scoped), not an instance field.
  *
  * Consistency window: count-then-page is the reference's own offset
  * pagination, but here pages fetch minutes after the count under
  * retries/speculation — a layer MUTATING mid-scan can slide rows across
  * page boundaries (duplicate or miss them), exactly as a mid-walk edit
  * would corrupt the reference's sequential scan. Layers with an edit
  * watermark should be scanned with a `whereClause` pinning the edit
  * horizon; the count is advisory, not transactional.
  *
  * `ScanSpec` is the pushdown surface — the same concerns a DataSource V2
  * implementation would expose through `SupportsPushDown*` interfaces:
  *   - `whereClause`: predicate pushdown (P8 watermark, `geocode.py:190-202`)
  *   - `columns`: projection pushdown (P2 `outFields`, `geocode.py:420-427`)
  *   - `keys`: key-set pushdown (P7 — the reference serializes key batches
  *     into VALUES clauses / IN lists, `pls/tables.py:424-430`)
  *   - `distinct`: distinct-values pushdown (A4 `returnDistinctValues`,
  *     `geocode.py:331-338`)
  *
  * The engine ships a deterministic in-memory fetcher for tests; a real
  * HTTP fetcher implements the same trait (no egress in this environment).
  */
final case class ScanSpec(
  whereClause: Option[String] = None,
  columns: Option[Seq[String]] = None,
  /** Key-set pushdown (P7). CONTRACT: implementations must EXCLUDE rows
    * whose key column is SQL NULL — NULL matches no key. The V2 scan
    * accepts Catalyst's inferred IsNotNull as fully pushed (non-residual)
    * on key-set columns, so a fetcher that let NULL alias a string key
    * (e.g. via `String.valueOf` → "null") would return rows Spark never
    * re-filters.
    */
  keys: Option[(String, Set[String])] = None,
  distinct: Boolean = false,
  /** Structural `col >= value` predicate (the V2 watermark pushdown).
    * Carried as (column, value) — never serialized into a string the
    * fetcher would have to re-parse, so values containing ">=" are safe.
    * CONTRACT: the fetcher may apply this conservatively (return a
    * superset); the V2 scan returns the filter as residual so Spark
    * re-applies the exact UTF8String comparison post-scan.
    */
  lowerBound: Option[(String, String)] = None,
  /** Ordered top-N pushdown (the reference's `orderByFields` +
    * `resultRecordCount` request — its latest-snapshot idiom is top-1 by
    * key desc). `(orderings, n)`: each ordering is
    * (column, descending, nullsLast). CONTRACT: the fetcher serves ONLY
    * the first `n` rows under that ordering (count reflects the cap);
    * string order is UTF-8 byte order (Spark's UTF8String comparison) —
    * the capped page must BE the true top-n set; a fetcher whose
    * collation diverges caps away rows no post-scan step can resurrect.
    * The V2 scan declares the push PARTIAL, so Spark re-sorts and
    * re-limits the n returned rows: the order they come back in (and
    * tie-break choices among rows equal under the ordering) never
    * matters, only the set does.
    */
  topN: Option[(Seq[(String, Boolean, Boolean)], Int)] = None,
)

trait PageFetcher extends Serializable {
  /** Total row count under `spec` (the reference's `returnCountOnly`, S6). */
  def count(spec: ScanSpec): Long
  /** Fetch rows [offset, offset+limit) matching `spec`, in `spec.columns`
    * order (full schema order when unspecified). The returned iterator is
    * drained eagerly inside the retry scope (`PagedSource.retriedPage`),
    * so lazy implementations still get backoff/token-refresh coverage for
    * errors thrown during iteration.
    */
  def fetch(offset: Long, limit: Int, spec: ScanSpec): Iterator[Row]
  /** Re-authenticate after a token-expiry failure (ESRI code 498). */
  def refreshAuth(): Unit = ()
}

object PagedSource {
  /** Read a remote layer as a DataFrame, `pageSize` rows per request, pages
    * distributed across executors, fetches retried with backoff.
    */
  def read(spark: SparkSession, fetcher: PageFetcher, schema: StructType,
           pageSize: Int = 2000, spec: ScanSpec = ScanSpec(),
           retryMaxSeconds: Int = 900): DataFrame = {
    val prunedSchema = spec.columns match {
      case Some(cols) => StructType(cols.map(schema(_)))
      case None => schema
    }
    val total = retriedCount(fetcher, spec, retryMaxSeconds)
    if (total == 0)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], prunedSchema)
    val rdd = spark.range(0, total, pageSize).rdd.flatMap { offset =>
      retriedPage(fetcher, offset, pageSize, spec, retryMaxSeconds)
    }
    spark.createDataFrame(rdd, prunedSchema)
  }

  /** The count request under I6: exponential backoff, and a token expiry
    * re-authenticates then retries. Every count, driver-side here and in
    * the V2 scan's planning and count-pushdown reader, goes through this:
    * a token that expired before the scan, or one transient failure on
    * the count, must not fail the whole scan.
    */
  private[sources] def retriedCount(fetcher: PageFetcher, spec: ScanSpec,
                                    retryMaxSeconds: Int): Long =
    Retry.withBackoff(maxTimeSeconds = retryMaxSeconds,
      onTokenExpired = () => fetcher.refreshAuth()) {
      fetcher.count(spec)
    }

  /** One page under the same I6 contract as [[retriedCount]]. The page is
    * materialised INSIDE the retried body: a fetcher that streams rows
    * lazily (or throws TokenExpired from `next()`) would otherwise be
    * consumed by Spark after `withBackoff` returned, escaping both the
    * backoff and the token-refresh path.
    */
  private[sources] def retriedPage(fetcher: PageFetcher, offset: Long, limit: Int,
                                   spec: ScanSpec, retryMaxSeconds: Int): Vector[Row] =
    Retry.withBackoff(maxTimeSeconds = retryMaxSeconds,
      onTokenExpired = () => fetcher.refreshAuth()) {
      fetcher.fetch(offset, limit, spec).toVector
    }
}

/** In-memory fixture fetcher over `rows` shaped by `schema`: honors every
  * ScanSpec pushdown the way the remote service would — `whereClause` in
  * the fixture format "col >= <value>", key sets, column projection,
  * distinct — so drift/full-refresh and pushdown behavior are testable
  * offline (S5/I3).
  */
class FixtureFetcher(rows: Seq[Row], schema: StructType) extends PageFetcher {
  private def idx(name: String): Int = schema.fieldIndex(name)

  private def matching(spec: ScanSpec): Seq[Row] = {
    // the fixture's `whereClause` format, "col >= <value>", parsed into the
    // same (col, value) bound as the structural lowerBound; the ESRI
    // literal syntax `DATE '2026-01-04'` (LayerSchema.whereClause) is
    // accepted too
    val whereBound = spec.whereClause.filter(_ != "1=1").map { w =>
      val Array(colName, rawValue) = w.split(">=").map(_.trim)
      (colName, rawValue.stripPrefix("DATE").trim.stripPrefix("'").stripSuffix("'"))
    }
    var out = rows
    (whereBound ++ spec.lowerBound).foreach { case (colName, value) =>
      val i = idx(colName)
      // a null watermark never matches; UTF-8 byte order, matching Spark's
      // UTF8String comparison — Java's UTF-16 code-unit order diverges for
      // supplementary characters, and a pre-filter that over-drops can't
      // be healed by a post-scan re-check
      out = out.filter(r => !r.isNullAt(i) && utf8Gte(r.getString(i), value))
    }
    spec.keys.foreach { case (colName, keySet) =>
      val i = idx(colName)
      // NULL matches no key (ScanSpec.keys contract): String.valueOf alone
      // would map a NULL cell to the string "null", which a key set
      // containing that literal would match — and the V2 scan no longer
      // re-filters IsNotNull on key-set columns post-scan
      out = out.filter(r => !r.isNullAt(i) && keySet.contains(String.valueOf(r.get(i))))
    }
    // ordered top-N cap (ScanSpec.topN contract): sort on the FULL rows —
    // ordering columns need not survive the projection — in UTF-8 byte
    // order for strings (Spark's UTF8String comparison; Java String `<`
    // is UTF-16 code-unit order, which diverges for supplementary chars),
    // natural order for numeric wire types, nulls per the pushed ordering
    spec.topN.foreach { case (orderings, n) =>
      val ord = new Ordering[Row] {
        def compare(a: Row, b: Row): Int = {
          orderings.foreach { case (colName, desc, nullsLast) =>
            val i = idx(colName)
            val (an, bn) = (a.isNullAt(i), b.isNullAt(i))
            val c =
              if (an && bn) 0
              else if (an) { if (nullsLast) 1 else -1 }
              else if (bn) { if (nullsLast) -1 else 1 }
              else {
                val base = (a.get(i), b.get(i)) match {
                  case (x: String, y: String) => utf8Compare(x, y)
                  // exact integral compare first: doubleValue() loses
                  // precision above 2^53 and would misorder large keys
                  case (x: java.lang.Long, y: java.lang.Long) =>
                    java.lang.Long.compare(x, y)
                  // arbitrary-precision types get exact compareTo too —
                  // a BigDecimal/BigInteger ordering key needing more than
                  // 53 bits would misorder under the double fallback and
                  // cap away true top-N rows
                  case (x: java.math.BigDecimal, y: java.math.BigDecimal) =>
                    x.compareTo(y)
                  case (x: java.math.BigInteger, y: java.math.BigInteger) =>
                    x.compareTo(y)
                  case (x: java.lang.Number, y: java.lang.Number) =>
                    java.lang.Double.compare(x.doubleValue(), y.doubleValue())
                  case (x: java.lang.Boolean, y: java.lang.Boolean) => x.compareTo(y)
                  case (x, y) => String.valueOf(x).compareTo(String.valueOf(y))
                }
                if (desc) -base else base
              }
            if (c != 0) return c
          }
          0
        }
      }
      out = out.sorted(ord).take(n)
    }
    val projected = spec.columns match {
      case Some(cols) =>
        val is = cols.map(idx)
        out.map(r => Row(is.map(r.get): _*))
      case None => out
    }
    if (spec.distinct) projected.distinct else projected
  }

  private def utf8Gte(a: String, b: String): Boolean = utf8Compare(a, b) >= 0

  private def utf8Compare(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    while (i < x.length && i < y.length) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }

  override def count(spec: ScanSpec): Long = matching(spec).size.toLong
  override def fetch(offset: Long, limit: Int, spec: ScanSpec): Iterator[Row] =
    matching(spec).slice(offset.toInt, offset.toInt + limit).iterator
}

/** [[FixtureFetcher]] that refuses NON-distinct page fetches: backs the
  * graded A5 distinct-pushdown row (`paged_distinct`) — the reference's
  * `returnDistinctValues=true` contract (`geocode.py:331-338`). A fetch
  * whose ScanSpec lacks `distinct=true` means the group-by-only aggregate
  * was not pushed and the whole table would have paged across the wire.
  */
class DistinctOnlyFixture(rows: Seq[Row], schema: StructType) extends PageFetcher {
  private val inner = new FixtureFetcher(rows, schema)
  override def count(spec: ScanSpec): Long = inner.count(spec)
  override def fetch(offset: Long, limit: Int, spec: ScanSpec): Iterator[Row] = {
    require(spec.distinct,
      "non-distinct page fetch under DISTINCT pushdown — the aggregate was not pushed")
    inner.fetch(offset, limit, spec)
  }
}

/** [[FixtureFetcher]] that refuses UN-ORDERED page fetches: backs the
  * graded TopN-pushdown row (`paged_topn`) — the reference's
  * `orderByFields` + `resultRecordCount` request, its latest-snapshot
  * idiom (top-1 by key desc). A fetch whose ScanSpec lacks `topN` means
  * the `orderBy(...).limit(k)` did not push and the whole table would
  * have paged across the wire.
  */
class TopNOnlyFixture(rows: Seq[Row], schema: StructType) extends PageFetcher {
  private val inner = new FixtureFetcher(rows, schema)
  override def count(spec: ScanSpec): Long = inner.count(spec)
  override def fetch(offset: Long, limit: Int, spec: ScanSpec): Iterator[Row] = {
    require(spec.topN.nonEmpty,
      "un-ordered page fetch under TopN pushdown — the sort+limit was not pushed")
    inner.fetch(offset, limit, spec)
  }
}
