package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions._

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, and n-gram Jaccard. Designed scale-first:
  *
  *   - every hash-based family derives from ONE shared guarded-persisted
  *     token-hash layer per corpus ([[fullHashBase]]) — the tokenize+md5
  *     pass runs once, and gram folds / SimHash votes consume it without
  *     re-hashing;
  *   - exact dedup is one hash-shuffle on the fingerprint;
  *   - MinHash/LSH never compares all pairs: signatures are computed in a
  *     single scan (map-side); candidates come from an equi self-join on
  *     (band, bandKey) that carries ONLY (id, band, bandKey) — the shingle
  *     payload is joined back per candidate id afterwards, so the band
  *     shuffle is keys, not corpus×bands;
  *   - SimHash bands 60 bits into 15-bit chunks the same way;
  *   - exact verification runs only on candidate pairs;
  *   - n-gram Jaccard uses MinHash-LSH candidates *within* cheap blocking
  *     keys (language) rather than all pairs per block.
  *
  * All hashing is md5-prefix based (`hash60`) — deterministic, engine-version
  * stable, and reproducible in ANSI-ish SQL, so every operator here is
  * verifiable against a DuckDB oracle bit-for-bit.
  */
object Dedup {

  // 2^31-1, prime; keeps a*h+b inside a Long. Shared with the native
  // gram-hash kernel — a forked constant would silently split the hash space.
  private[graft] val P = graft.functions.NgramHashExpr.P

  /** Deterministic affine hash constants (fixed, engine-version stable). */
  private[graft] def hashParams(k: Int): Seq[(Long, Long)] =
    (0 until k).map { i =>
      val a = (i * 2654435761L + 1013904223L) % (P - 1) + 1
      val b = (i * 97531L + 12345L) % P
      (a, b)
    }

  /** Word n-gram shingles over an ALREADY-MATERIALIZED token-array column
    * (distinct). `tk` must be a plain column reference: an inlined
    * tokenization expression would be re-evaluated per gram inside the
    * lambda — interpreted higher-order functions have no common-subexpression
    * elimination, and that costs ~10× (measured 6.9s vs 0.6s at sf0.1).
    */
  def gramsOf(tk: Column, n: Int): Column =
    array_distinct(
      when(size(tk) >= n,
        transform(sequence(lit(0), size(tk) - n), i => concat_ws(" ", slice(tk, i + lit(1), lit(n)))))
      .otherwise(array(concat_ws(" ", tk))))

  /** Word n-gram shingles of the normalized text (distinct). Convenience
    * form for small inputs/tests; pipelines use the two-projection shape
    * (`tokens` column first, then `gramsOf`) — see gramsOf's scaladoc.
    */
  def shingles(text: Column, n: Int = 3): Column =
    gramsOf(tokens(normalizeText(text)), n)

  // rolling-combine base; acc*B stays < 2^52. Shared with NgramHashExpr.
  private val B = graft.functions.NgramHashExpr.B

  /** Shingle HASHES: token hashes combined with a mod-P rolling fold —
    * `((h0*B + h1) % P * B + h2) % P` for n=3. Equivalent to hashing the
    * n-gram string (collision probability ~n²/2^31 per doc pair —
    * negligible and mirrored exactly in the oracle SQL), but the gram
    * construction is pure long arithmetic instead of building hundreds of
    * strings per document.
    *
    * Shape matters: the fold is `zip_with` over SHIFTED SLICES of the hash
    * array, never `element_at(hs, i)` inside a lambda — higher-order
    * functions evaluate their array CHILDREN once per row, but a lambda
    * BODY referencing an outer expression re-evaluates it per element
    * (interpreted, no CSE), which turns O(tokens) hashing into
    * O(tokens×grams) — a measured 10-70× blowup at sf0.1.
    *
    * Documents shorter than n tokens produce one shingle padded with
    * zero-hashes (the whole-text fallback of `gramsOf`).
    */
  /** The mod-P rolling fold, HOF form: rolling[i] after step j covers
    * h[i..i+j]; `zip_with` pads the shorter shifted slice with nulls, which
    * coalesce turns into zero padding. KEPT ONLY as the executable spec the
    * native [[graft.functions.NgramHashExpr]] is equivalence-tested against
    * (FunctionsSpec) — production paths use the native expression. The fold
    * is mirrored character-for-character in the oracle SQL
    * (OracleSql.shingleHashList / rolledGramList), so it must not fork.
    */
  private[graft] def hofRollingFold(hs: Column, n: Int): Column =
    (1 until n).foldLeft(hs) { (acc, j) =>
      zip_with(acc, slice(hs, lit(j + 1), size(hs)),
        (a, h) => pmod(a * lit(B) + coalesce(h, lit(0L)), lit(P)))
    }

  private[graft] def hofShingleHashes(hs: Column, n: Int): Column =
    array_distinct(slice(hofRollingFold(hs, n), lit(1), greatest(size(hs) - (n - 1), lit(1))))

  private[graft] def hofRolledGramHashes(hs: Column, n: Int): Column =
    when(size(hs) >= n, slice(hofRollingFold(hs, n), lit(1), size(hs) - (n - 1)))
      .otherwise(array().cast("array<bigint>"))

  /** Distilled (distinct, short-doc-padded) gram hashes — native one-pass
    * [[graft.functions.NgramHashExpr]]; the HOF form above ran n−1
    * interpreted `zip_with` passes each materializing a shifted array copy.
    * `reduceInputs = true` consumes the FULL-60-bit shared layer, folding
    * `pmod(h, P)` into the same pass.
    */
  private def shingleHashes(hs: Column, n: Int, reduceInputs: Boolean = false): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.NgramHashExpr(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(hs), n,
        distilled = true, reduceInputs = reduceInputs))

  /** Gram hashes WITHOUT dedup or short-doc padding: one entry per n-gram
    * occurrence, empty for documents shorter than n tokens. The raw
    * positional stream `shingleHashes` distils — callers that need
    * occurrence counts (repetition metrics) use this form.
    */
  private[graft] def rolledGramHashes(hs: Column, n: Int,
                                      reduceInputs: Boolean = false): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.NgramHashExpr(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(hs), n,
        distilled = false, reduceInputs = reduceInputs))

  /** The SHARED token-hash layer: `(id, __fh: array<long>)` — one
    * normalize→tokenize→md5 pass over the corpus, FULL 60-bit hashes so
    * every family derives from it: gram pipelines reduce mod P as they
    * fold (`NgramHashExpr.reduceInputs`), SimHash votes on the bits
    * directly (`SimHash60Expr.preHashed`). This pass is the single most
    * expensive map stage of every text-dedup pipeline (an md5 per token),
    * and before this layer existed winnow / n-gram-Jaccard / SimHash each
    * re-ran it over the same `documents` scan the MinHash base had
    * already hashed.
    */
  private[graft] def fullHashFrame(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), tokens(normalizeText(col(textCol))).as("__tk"))
      .select(col(idCol), tokenHashesFull(col("__tk")).as("__fh"))

  /** Guarded-persisted [[fullHashFrame]] with an ownership-scoped release
    * handle (`Caching.acquire`): the first operator over a corpus
    * materializes it, every later operator over an EQUAL docs plan —
    * different shingle widths, different block columns, SimHash — reads
    * the one cache entry (CacheManager substitution by canonicalized
    * plan). Within a single operator the layer has one consumer, so the
    * persist is purely for this cross-operator reuse; entries evict LRU
    * with recompute-on-eviction as the fallback, and
    * `SparkEntry.releaseSharedCaches` drops them deterministically.
    */
  private[graft] def acquireFullHashBase(docs: DataFrame, idCol: String,
                                         textCol: String): (DataFrame, () => Unit) =
    graft.util.Caching.acquire(fullHashFrame(docs, idCol, textCol))

  private[graft] def fullHashBase(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    acquireFullHashBase(docs, idCol, textCol)._1

  /** (id [, blockCols...], sh: array<long>) — derived from the SHARED
    * full-hash layer: the gram fold reduces the 60-bit hashes mod P as it
    * rolls, so no intermediate reduced array materializes. Block columns
    * (scoping LSH collisions, e.g. language) join back from a narrow
    * `(id, blocks)` scan of the docs — a column-pruned second scan plus an
    * id-equi join AQE broadcasts at small scale and co-partitions at
    * corpus scale, which is far cheaper than what it buys: without it the
    * blocked pipeline would re-tokenize and re-md5 the corpus just to
    * carry one extra column.
    *
    * PRECONDITION (blocked path): `idCol` is unique per input row — a
    * document PK in every caller. The block re-attach is an id-equi join,
    * so a corpus with k rows under one id would emit k² rows for that id
    * (the pre-r12 projection shape emitted one per input row); exact/LSH
    * dedup callers satisfy this by construction, and a caller feeding
    * non-unique ids must pre-dedup them.
    */
  private[graft] def shingleBase(docs: DataFrame, idCol: String, textCol: String,
                          blockCols: Seq[(String, Column)], n: Int): DataFrame = {
    val sh = fullHashBase(docs, idCol, textCol)
      .select(col(idCol), shingleHashes(col("__fh"), n, reduceInputs = true).as("sh"))
    if (blockCols.isEmpty) sh
    else {
      val blocks = docs.select(col(idCol) +: blockCols.map { case (name, c) => c.as(name) }: _*)
      sh.join(blocks, Seq(idCol))
        .select(col(idCol) +: blockCols.map(b => col(b._1)) :+ col("sh"): _*)
    }
  }

  /** Exact dedup: fingerprint the normalized text, keep the lowest-id row per
    * fingerprint group. Returns the SURVIVING ROWS (all input columns) plus
    * `fp` and the group size `n_copies`. `fp` is a RESERVED output column:
    * an input already carrying one would be silently overwritten by the
    * fingerprint and dropped from the payload, so the call fails fast
    * instead.
    *
    * One `min_by` + `count` aggregation on the fingerprint — like
    * `RelOps.latestPerKey`, the aggregate form partially combines map-side
    * (shuffle ≈ one row per fingerprint per partition), where the previous
    * two-window form shuffle-sorted every row. At corpus scale the shuffle
    * payload drops from the corpus to ~|distinct docs|.
    *
    * Callers whose downstream never reads a payload column back (curation
    * emits ids + metadata + split, not documents) need no slim variant:
    * [[graft.plans.MinMaxByPayloadPruning]] narrows the `min_by` struct to
    * what the caller's projection actually consumes — verified end to end
    * on the curation pipeline's executed plan (`PayloadPruningSpec`), whose
    * dedup exchange carries no text. A hand-slimmed `exactSlim` existed for
    * one round before the rule proved to subsume it.
    */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // Reserved OUTPUT columns: `fp` (the fingerprint `withColumn` would
    // silently REPLACE an input column of that name — Spark resolves
    // case-insensitively by default, so `FP`/`Fp` collide too) and
    // `n_copies` (appended by the aggregate — an input column of that name
    // would surface as a duplicate/ambiguous output column). Fail fast on
    // either, case-insensitively, instead of silently corrupting payload.
    for (reserved <- Seq("fp", "n_copies"))
      require(!docs.columns.exists(_.equalsIgnoreCase(reserved)),
        s"'$reserved' is a reserved output column of Dedup.exact — rename it before deduping")
    // NULL text gets a per-row synthetic key (never a shared null class):
    // md5 of null is null, and a null grouping key would silently merge
    // every text-less doc into ONE "duplicate class" with one survivor —
    // the null-grouping-key trap urlDedup documents. Missing text says
    // nothing about duplication, so each such row survives as its own
    // singleton (n_copies = 1, fp = "null:<id>").
    exactOnFingerprint(docs.withColumn("fp",
      coalesce(fingerprint(col(textCol)),
        concat(lit("null:"), col(idCol).cast("string")))), idCol)
  }

  /** PRECONDITION: `idCol` values are unique per row (every source table
    * here guarantees it). Two same-fingerprint rows sharing an id would
    * tie on the ordering struct, and `min_by` keeps whichever partition
    * merge saw first — the surviving PAYLOAD would then depend on
    * partitioning, breaking oracle reproducibility.
    */
  private def exactOnFingerprint(fped: DataFrame, idCol: String): DataFrame = {
    val payload = fped.columns.toIndexedSeq.filterNot(_ == "fp")
    fped
      .groupBy("fp")
      .agg(
        // struct-wrapped ordering: min_by on a bare column IGNORES null
        // ids (flipping the survivor, or fabricating an all-null row when
        // every id in a group is null); a struct field ranks null lowest,
        // matching row_number-over-asc's nulls-first
        min_by(struct(payload.map(col): _*), struct(col(idCol))).as("__row"),
        count(lit(1)).cast("long").as("n_copies"))
      .select(col("__row.*") +: Seq(col("fp"), col("n_copies")): _*)
  }

  /** Inter-run incremental dedup: exact-dedup the `incoming` batch, then
    * drop every survivor whose content fingerprint already exists in the
    * `baseline` corpus — the standard hygiene pass when a new crawl lands
    * against an existing training set (dedup runs per-batch, not by
    * re-deduping the whole corpus).
    *
    * Shape at 100 TB: the baseline side reduces to DISTINCT fingerprints
    * (one narrow column, map-side combined), and the anti join shuffles
    * both sides on `fp` — the incoming batch is typically a small
    * fraction of the corpus, so AQE broadcasts it against the baseline
    * fingerprint scan. Steady-state cost is one baseline fingerprint
    * scan per batch.
    */
  def dedupAgainstBaseline(incoming: DataFrame, baseline: DataFrame,
                           idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val basFp = baseline.select(fingerprint(col(textCol)).as("fp")).distinct()
    exact(incoming, idCol, textCol).join(basFp, Seq("fp"), "left_anti")
  }

  /** Bloom-gated twin of [[dedupAgainstBaseline]] — IDENTICAL output (the
    * Bloom filter is a pre-filter, never a decision: no false negatives,
    * and its false positives are settled by the same exact anti join), but
    * the big side of that join collapses before it ever shuffles.
    *
    * Shape: one pass over the deduped incoming batch builds a Bloom filter
    * of its fingerprints (per-partition sketches, driver-merged —
    * `n·ln(1/fpp)·1.44` bits, ~1.2 MB at a million docs / 1% fpp); the
    * BASELINE fingerprint scan then drops every fp the filter rejects
    * map-side — a definitive "not in this batch" — so the anti join's
    * baseline side shrinks from |corpus| to ~|true dups| + fpp·|corpus|,
    * which AQE broadcasts, and the corpus never shuffles at all. This is
    * the semi-join-reduction idiom Spark's own runtime filters apply to
    * equi joins, applied where the optimizer can't see it (the fingerprint
    * is computed, not a stored column). At 100 TB the `fpp` knob trades
    * filter size against the surviving-baseline row count.
    *
    * Like `Sketches.vocabWithCmsGate`, the gate is EAGER by design (the
    * filter must exist before the plan is built — one action over the
    * incoming batch, which is persisted since the final join reuses it);
    * deliberately excluded from PlanDump for that reason.
    */
  def dedupAgainstBaselineBloom(incoming: DataFrame, baseline: DataFrame,
                                idCol: String = "doc_id", textCol: String = "text",
                                expectedItems: Long = 1000000L, fpp: Double = 0.01): DataFrame =
    dedupAgainstBaselineBloomManaged(incoming, baseline, idCol, textCol, expectedItems, fpp)._1

  /** Cleanup-handle variant of [[dedupAgainstBaselineBloom]] for long-lived
    * sessions running many crawls: each crawl's batch is a DIFFERENT plan,
    * so the guarded persist still adds one cache entry per crawl. The
    * returned release() unpersists the cache entries THIS invocation
    * registered, once the caller has MATERIALIZED the result frame —
    * calling it earlier is safe (lineage stays valid) but recomputes the
    * deduped batch for any remaining consumer. If an equal plan was
    * already cached by another consumer (a retried identical batch, a
    * sibling operator over the same corpus), release() no-ops for that
    * entry (`Caching.acquire` ownership) — it never strands someone
    * else's cache.
    */
  def dedupAgainstBaselineBloomManaged(incoming: DataFrame, baseline: DataFrame,
                                       idCol: String = "doc_id", textCol: String = "text",
                                       expectedItems: Long = 1000000L, fpp: Double = 0.01)
      : (DataFrame, () => Unit) = {
    val (deduped, release) = graft.util.Caching.acquire(exact(incoming, idCol, textCol))
    val bloom = deduped.stat.bloomFilter("fp", expectedItems, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    val gate = org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.BloomMightContainExpr(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(col("fp")), bos.toByteArray))
    val basFp = baseline.select(fingerprint(col(textCol)).as("fp")).filter(gate).distinct()
    (deduped.join(basFp, Seq("fp"), "left_anti"), release)
  }

  /** URL dedup — the stage web-corpus curation runs BEFORE any content
    * pass (a re-crawled, tracking-tagged, or `www.`/slash-variant URL is
    * a duplicate no content hash needs to prove, and skipping the fetch
    * is the point). Keep-first over [[GraftFunctions.canonicalUrl]] with
    * a copy count: [[exact]]'s one map-side-combined groupBy shape with
    * the canonicalizer as the fingerprint. At 100 TB this runs on the
    * crawl FRONTIER (url lists, not fetched documents) as readily as on
    * a landed corpus — the expression needs only the url column, so the
    * scan prunes everything else.
    */
  def urlDedup(docs: DataFrame, urlCol: String = "url",
               idCol: String = "doc_id"): DataFrame =
    // null urls are DROPPED, not grouped: a missing url says nothing
    // about duplication, and a null grouping key would silently merge
    // every url-less doc into one "duplicate class" with one survivor
    docs.filter(col(urlCol).isNotNull)
      .groupBy(canonicalUrl(col(urlCol)).as("canonical_url"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))
      .select(col(idCol), col("canonical_url"), col("n_copies"))

  /** Incremental URL dedup — [[dedupAgainstBaseline]]'s shape on the
    * canonical-URL key: within-frontier dedup first, then a left-anti
    * join against the crawled set's DISTINCT canonical keys (reduced
    * BEFORE any exchange, the baseline-reduction rule every incremental
    * family follows). This is the crawl scheduler's question — "which of
    * these candidate urls have we NOT already fetched under any alias?" —
    * answered before a single byte is downloaded; at 100 TB the baseline
    * key set is url-count-sized, not corpus-sized, and bucketing it by
    * the canonical key makes the nightly anti join exchange-free on the
    * baseline side.
    */
  def urlDedupAgainstBaseline(incoming: DataFrame, baseline: DataFrame,
                              urlCol: String = "url",
                              idCol: String = "doc_id"): DataFrame =
    urlDedupAgainstKeys(incoming,
      baseline.select(canonicalUrl(col(urlCol)).as("canonical_url")).distinct(),
      urlCol, idCol)

  /** [[urlDedupAgainstBaseline]] over a PRE-REDUCED canonical-key state —
    * the form a long-lived scheduler calls: the crawled set's DISTINCT
    * canonical keys are computed (and persisted/bucketed) once, and each
    * frontier batch anti-joins the same state instead of re-reducing the
    * baseline per batch (the fingerprint-layer discipline on urls).
    */
  def urlDedupAgainstKeys(incoming: DataFrame, canonicalKeys: DataFrame,
                          urlCol: String = "url",
                          idCol: String = "doc_id"): DataFrame =
    urlDedup(incoming, urlCol, idCol)
      .join(canonicalKeys.select(col("canonical_url")), Seq("canonical_url"), "left_anti")
      // the USING join hoists its key first; pin the operator's contract
      .select(col(idCol), col("canonical_url"), col("n_copies"))

  /** MinHash signatures as a PURE PROJECTION — one native pass computing
    * all k affine minima per row ([[graft.functions.MinHashSigExpr]]).
    * Two prior shapes both lost: k `array_min(transform(...))` HOFs
    * re-evaluate the md5 transform k times (measured 30s vs 3s at sf0.1),
    * and the explode→groupBy-min tally md5-hashes once but pays an
    * N×shingles EXCHANGE purely to regroup each document's rows — the
    * native kernel hashes once AND shuffles nothing, so the only exchange
    * left in every LSH plan is the band join's. The mod-P reduction
    * happens upstream in shingleBase (h·a with a 60-bit h would overflow
    * a long — silent wrap here, an error in SQL engines). Documents with
    * no shingles yield a null signature and are filtered, exactly as the
    * aggregate form's absent group was.
    */
  private[graft] def signatures(base: DataFrame, idCol: String, blockCols: Seq[String],
                         k: Int): DataFrame = {
    val gcols = (idCol +: blockCols).map(col)
    val sig = org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.MinHashSigExpr(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(col("sh")), hashParams(k)))
    base.select(gcols :+ sig.as("__sig"): _*)
      .filter(col("__sig").isNotNull)
      .select(gcols ++ (0 until k).map(i => element_at(col("__sig"), i + 1).as(s"__sig$i")): _*)
  }

  /** The exploded map-side-combined aggregate form — KEPT ONLY as the
    * executable spec [[graft.functions.MinHashSigExpr]] is equivalence-
    * tested against (DedupSpec); production paths use the projection.
    */
  private[graft] def hofSignatures(base: DataFrame, idCol: String, blockCols: Seq[String],
                         k: Int): DataFrame = {
    val gcols = (idCol +: blockCols).map(col)
    val ex = base.select(gcols :+ explode(col("sh")).as("__h"): _*)
    val minCols = hashParams(k).zipWithIndex.map { case ((a, b), i) =>
      min(pmod(col("__h") * lit(a) + lit(b), lit(P))).as(s"__sig$i")
    }
    ex.groupBy(gcols: _*).agg(minCols.head, minCols.tail: _*)
  }

  /** Band keys "md5(b:v1,v2,...)" over signature columns — fixed width. */
  private[graft] def bandKeyCols(bands: Int, rowsPer: Int): Seq[Column] =
    (0 until bands).map { b =>
      val sigCols = (b * rowsPer until (b + 1) * rowsPer).map(i => col(s"__sig$i").cast("string"))
      md5(concat_ws(":", lit(b.toString), concat_ws(",", sigCols: _*)))
    }

  /** LSH candidate id pairs from a (id, sh [, blockCols...]) frame: the band
    * self-join carries only ids and band keys (plus the block columns, which
    * scope collisions), never the shingle arrays.
    */
  /** Drop LSH buckets larger than `maxBucket` before the self-join: a hot
    * bucket of m rows yields m²/2 pairs, so without a cap one degenerate
    * band key (boilerplate documents, empty text, near-constant fields)
    * turns the candidate join quadratic at scale. Standard LSH practice;
    * costs bounded recall loss ONLY inside oversized buckets, and the same
    * predicate is mirrored in the oracle SQL.
    *
    * Shape: bucket sizes come from a map-side-combined AGGREGATE (shuffle
    * carries |distinct keys| partial counts), and only the HOT keys — few
    * by construction, ≤ |rows|/maxBucket even adversarially — survive to
    * an anti join AQE broadcasts, so the banded stream itself reaches the
    * candidate self-join without an extra exchange. The window form this
    * replaces shuffle-SORTED the entire exploded stream just to attach
    * per-row counts (the `latestPerKey` aggregate-over-window lesson).
    * The anti join is NULL-SAFE (`<=>`): a nullable block column (e.g.
    * language) groups its nulls into one bucket like the window's
    * PARTITION BY and the oracle's `PARTITION BY` both do — a plain
    * equi join would let an oversized null-key bucket through.
    *
    * The banded stream is guard-persisted: it has THREE consumers here —
    * the hot-key aggregate and both sides of the caller's candidate
    * self-join — and for MinHash-family callers every recompute re-runs
    * the per-row band-key md5s. The cache holds what the window form
    * shuffled anyway (the full banded stream), with LRU eviction +
    * lineage recompute as the fallback.
    */
  private[graft] def capBuckets(banded: DataFrame, keys: Seq[String], maxBucket: Int): DataFrame =
    capBucketsManaged(banded, keys, maxBucket)._1

  /** [[capBuckets]] with the banded stream's cache-release handle exposed:
    * managed callers (per-crawl pipelines whose banded plans are distinct
    * every invocation — e.g. a Bloom filter's bytes embedded as a plan
    * literal) compose it into their own release so the crawl's capped
    * union doesn't stay registered for the session's lifetime. The handle
    * follows `Caching.acquire` ownership: it no-ops if an equal plan was
    * already cached by another consumer.
    */
  private[graft] def capBucketsManaged(banded: DataFrame, keys: Seq[String], maxBucket: Int)
      : (DataFrame, () => Unit) = {
    val (bandedC, release) = graft.util.Caching.acquire(banded)
    val hot = bandedC.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__bc"))
      .filter(col("__bc") > maxBucket)
      .select(keys.map(k => col(k).as(s"__hot_$k")): _*)
    (bandedC.join(hot, keys.map(k => col(k) <=> col(s"__hot_$k")).reduce(_ && _), "left_anti"),
      release)
  }

  private[graft] def lshCandidates(base: DataFrame, idCol: String, blockCols: Seq[String],
                            k: Int, bands: Int, maxBucket: Int): DataFrame = {
    val rowsPer = k / bands
    val banded0 = signatures(base, idCol, blockCols, k)
      .select(col(idCol) +: blockCols.map(col) :+ posexplode(array(bandKeyCols(bands, rowsPer): _*)): _*)
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bk")
    val joinKeys = Seq("band", "bk") ++ blockCols
    val banded = capBuckets(banded0, joinKeys, maxBucket)
    val l = banded.select((Seq("band", "bk") ++ blockCols).map(col) :+ col(idCol).as("id_a"): _*)
    val r = banded.select((Seq("band", "bk") ++ blockCols).map(col) :+ col(idCol).as("id_b"): _*)
    l.join(r, joinKeys)
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").dropDuplicates("id_a", "id_b")
  }

  /** Exact Jaccard verification of candidate id pairs: two equi joins pick
    * up each side's shingles from the (persisted) shingle table, and the
    * intersect/union ratio is computed in the projection — no aggregation.
    *
    * Why two joins and not the melt→join→groupBy-first shape this replaced:
    * `base` is persisted by every caller (persistedBase), so a second pass
    * costs a cache read, not a recompute — and the melt shape's real price
    * was its groupBy over 2×|candidates| rows CARRYING THE SHINGLE ARRAYS
    * as aggregate state (measured 40% of winnow_dedup's runtime at sf0.1).
    * Here the per-doc side of each join is ~|docs| rows, which AQE
    * broadcasts outright when small (the sf0.1 plan has ZERO exchanges
    * after candidate dedup); at corpus scale both joins hash-partition on
    * an id — the same shuffle the melt shape paid — and the groupBy stage
    * is simply gone.
    */
  private[graft] def verifyJaccard(cand: DataFrame, base: DataFrame, idCol: String,
                            threshold: Double): DataFrame =
    verifyJaccardTwoSided(cand, base, base, idCol, "id_a", "id_b", threshold)

  /** Same verification with DISTINCT shingle tables per pair side — the
    * incremental (batch-vs-baseline) form, where `id_a` resolves in the
    * incoming base and `id_b` in the baseline base. `verifyJaccard` is the
    * self-dedup special case (both sides the same table).
    */
  private[graft] def verifyJaccardTwoSided(cand: DataFrame, baseA: DataFrame,
                            baseB: DataFrame, idCol: String, aName: String,
                            bName: String, threshold: Double): DataFrame = {
    // array_sort on the per-DOC side of each join, not per pair: the
    // sorted copies feed the allocation-free merge intersect below, and
    // |docs| ≪ |candidate pairs|. Set semantics (sizes, intersection
    // cardinality) are order-independent, so outputs are bit-identical to
    // the array_intersect form the oracle mirrors.
    cand
      .join(baseA.select(col(idCol).as(aName), array_sort(col("sh")).as("sh_a")), Seq(aName))
      .join(baseB.select(col(idCol).as(bName), array_sort(col("sh")).as("sh_b")), Seq(bName))
      // size-ratio prune: jaccard ≤ min/max (intersection ≤ the smaller
      // set, union ≥ the larger), so pairs failing min ≥ t·max can never
      // verify — dropped BEFORE the per-pair set intersection. The 1e-9
      // slack keeps FP rounding of t·max from pruning an exact-boundary
      // pair (true ratios are quantized at ≥ 1/(|a|+|b|), far above it).
      .filter(least(size(col("sh_a")), size(col("sh_b"))).cast("double") >=
        lit(threshold) * greatest(size(col("sh_a")), size(col("sh_b"))).cast("double") - lit(1e-9))
      // |a ∪ b| = |a| + |b| − |a ∩ b| (shingle arrays are distinct), so the
      // union array is never materialized — identical values, half the
      // set-operation work on the |candidates| hot path
      .withColumn("__i", org.apache.spark.sql.graftbridge.ColumnBridge.column(
        graft.functions.SortedIntersectSizeExpr(
          org.apache.spark.sql.graftbridge.ColumnBridge.expression(col("sh_a")),
          org.apache.spark.sql.graftbridge.ColumnBridge.expression(col("sh_b")))).cast("double"))
      .withColumn("jaccard", round(
        col("__i") / (size(col("sh_a")) + size(col("sh_b")) - col("__i")), 6))
      .filter(col("jaccard") >= threshold)
      .select(aName, bName, "jaccard")
  }

  /** MinHash+LSH near-duplicate pairs with exact Jaccard verification.
    *
    * bands × rowsPerBand must equal the signature length. A pair collides if
    * any band's sub-signature matches exactly; candidates are then verified
    * against `threshold` with the true shingle-set Jaccard.
    */
  def minhashLsh(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
                 k: Int = 32, bands: Int = 8, threshold: Double = 0.5, shingleN: Int = 3,
                 maxBucket: Int = 1000): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val base = persistedBase(docs, idCol, textCol, Nil, shingleN)
    val cand = lshCandidates(base, idCol, Nil, k, bands, maxBucket)
    verifyJaccard(cand, base, idCol, threshold)
  }

  /** Incremental NEAR-dup detection — the LSH analog of
    * [[dedupAgainstBaseline]]: near-duplicate pairs BETWEEN an incoming
    * batch and the baseline corpus, never within either side. Re-running
    * full-corpus LSH per crawl re-pairs the baseline against itself —
    * O(corpus) band-join work for pairs that were already adjudicated;
    * here the band join's left side is only the batch's banded rows, so
    * steady-state cost tracks the batch (the baseline contributes its
    * banded rows to the shuffle but generates no intra-baseline pairs,
    * and a production run persists its banded table bucketed by band key
    * the same way the fingerprint baseline is bucketed for exact dedup).
    *
    * Hot-bucket capping applies to the UNION of both sides' rows — a
    * degenerate band key (boilerplate) is degenerate regardless of which
    * side its members came from, and capping per side would let
    * |inc|·|bas| pairs through a bucket that self-LSH would have dropped.
    * Output: (id_in, id_bas, jaccard) — exact-verified like `minhashLsh`,
    * with each side's shingles resolved from its own (persisted) base.
    */
  def minhashLshAgainstBaseline(incoming: DataFrame, baseline: DataFrame,
                                idCol: String = "doc_id", textCol: String = "text",
                                k: Int = 32, bands: Int = 8, threshold: Double = 0.5,
                                shingleN: Int = 3, maxBucket: Int = 1000): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val rowsPer = k / bands
    val bInc = persistedBase(incoming, idCol, textCol, Nil, shingleN)
    val bBas = persistedBase(baseline, idCol, textCol, Nil, shingleN)
    def banded(base: DataFrame, side: String) = signatures(base, idCol, Nil, k)
      .select(col(idCol) +: Seq(posexplode(array(bandKeyCols(bands, rowsPer): _*))): _*)
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bk")
      .withColumn("__side", lit(side))
    val capped = capBuckets(
      banded(bInc, "i").unionByName(banded(bBas, "b")), Seq("band", "bk"), maxBucket)
    val l = capped.filter(col("__side") === "i")
      .select(col("band"), col("bk"), col(idCol).as("id_in"))
    val r = capped.filter(col("__side") === "b")
      .select(col("band"), col("bk"), col(idCol).as("id_bas"))
    val cand = l.join(r, Seq("band", "bk"))
      .select("id_in", "id_bas").dropDuplicates("id_in", "id_bas")
    verifyJaccardTwoSided(cand, bInc, bBas, idCol, "id_in", "id_bas", threshold)
  }

  /** Bloom-gated twin of [[minhashLshAgainstBaseline]] — IDENTICAL output,
    * same argument as [[dedupAgainstBaselineBloom]]: a Bloom filter built
    * over the BATCH's band keys drops baseline banded rows map-side before
    * they reach the bucket-cap/join shuffle. Zero false negatives means
    * every baseline row sharing a band key with ANY batch row survives, so
    * buckets that can produce a cross-side pair keep exactly the rows the
    * ungated path had (the cap decision included); buckets the gate empties
    * held no batch row and could never emit a pair. False positives only
    * let dead rows through to die in the join.
    *
    * Why this matters at 100 TB: the ungated plan shuffles the ENTIRE
    * baseline's bands·|corpus| banded rows per crawl just to discover that
    * most share no key with the batch. The gate reduces the baseline's
    * shuffle contribution to ~|key-collisions| + fpp·bands·|corpus| rows —
    * the same semi-join reduction Spark's runtime filters apply where the
    * optimizer can see the join key as a stored column (these keys are
    * computed, so it can't). Eager by design like the exact-dedup twin
    * (the filter must exist before the baseline plan is built; the batch
    * side is persisted since the union reuses it); excluded from PlanDump
    * for that reason.
    */
  def minhashLshAgainstBaselineBloom(incoming: DataFrame, baseline: DataFrame,
                                     idCol: String = "doc_id", textCol: String = "text",
                                     k: Int = 32, bands: Int = 8, threshold: Double = 0.5,
                                     shingleN: Int = 3, maxBucket: Int = 1000,
                                     expectedItems: Long = 1000000L, fpp: Double = 0.01): DataFrame =
    minhashLshAgainstBaselineBloomManaged(incoming, baseline, idCol, textCol,
      k, bands, threshold, shingleN, maxBucket, expectedItems, fpp)._1

  /** Cleanup-handle variant of [[minhashLshAgainstBaselineBloom]] — same
    * rationale as [[dedupAgainstBaselineBloomManaged]]: per-crawl plans
    * differ, so a recurring pipeline should release each crawl's internal
    * caches (the batch's banded table, the capped banded union, both
    * shingle bases, and the shared token-hash layers beneath them) after
    * materializing its pair frame.
    * Each layer's release no-ops if another consumer registered the equal
    * plan first (`Caching.acquire` ownership).
    */
  def minhashLshAgainstBaselineBloomManaged(incoming: DataFrame, baseline: DataFrame,
                                     idCol: String = "doc_id", textCol: String = "text",
                                     k: Int = 32, bands: Int = 8, threshold: Double = 0.5,
                                     shingleN: Int = 3, maxBucket: Int = 1000,
                                     expectedItems: Long = 1000000L, fpp: Double = 0.01)
      : (DataFrame, () => Unit) = {
    require(k % bands == 0, "bands must divide k")
    val rowsPer = k / bands
    val (bInc, relInc) = acquireBase(incoming, idCol, textCol, Nil, shingleN)
    val (bBas, relBas) = acquireBase(baseline, idCol, textCol, Nil, shingleN)
    def banded(base: DataFrame) = signatures(base, idCol, Nil, k)
      .select(col(idCol) +: Seq(posexplode(array(bandKeyCols(bands, rowsPer): _*))): _*)
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bk")
    // the batch's banded table has two consumers (the filter build and the
    // union below) — persisted like the shingle bases, guarded so repeated
    // per-crawl invocations over an equal plan reuse one cache entry
    // (LRU-evicted under pressure) instead of stacking registrations
    val (bandedInc, relBanded) = graft.util.Caching.acquire(
      banded(bInc).withColumn("__side", lit("i")))
    // `bk` embeds the band index in its md5 preimage (bandKeyCols), so the
    // key is unique across bands and the Bloom needs no (band, bk) composite
    val bloom = bandedInc.select(col("bk")).stat.bloomFilter("bk", expectedItems, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    val gate = org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.BloomMightContainExpr(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(col("bk")), bos.toByteArray))
    val bandedBas = banded(bBas).filter(gate).withColumn("__side", lit("b"))
    // managed variant: the per-crawl union's cache entry (distinct every
    // crawl — the Bloom bytes above are a plan literal) joins the release
    // composition below instead of outliving it
    val (capped, relCapped) = capBucketsManaged(
      bandedInc.unionByName(bandedBas), Seq("band", "bk"), maxBucket)
    val l = capped.filter(col("__side") === "i")
      .select(col("band"), col("bk"), col(idCol).as("id_in"))
    val r = capped.filter(col("__side") === "b")
      .select(col("band"), col("bk"), col(idCol).as("id_bas"))
    val cand = l.join(r, Seq("band", "bk"))
      .select("id_in", "id_bas").dropDuplicates("id_in", "id_bas")
    val result = verifyJaccardTwoSided(cand, bInc, bBas, idCol, "id_in", "id_bas", threshold)
    (result, () => { relCapped(); relBanded(); relInc(); relBas() })
  }

  /** The shingle table has TWO consumers — candidate generation and exact
    * verification — so it is persisted (spilling to disk at scale) rather
    * than recomputed: without it the verify pass re-runs the gram fold
    * over the corpus. The persist is GUARDED (`Caching.acquire`):
    * operators sharing a corpus — minhashLsh feeding cluster_dedup AND
    * dedup_keep_best, winnow over the same shingle width — hit ONE cache
    * entry instead of re-registering the plan per call, and cache blocks
    * evict LRU with recompute-on-eviction as the fallback (the lineage
    * stays valid). Same pattern as MLlib's MinHashLSH, which warns when
    * its input is uncached. The returned release handle covers BOTH
    * layers (the shingle frame and the shared full-hash layer beneath it)
    * and no-ops per layer when another consumer registered the entry
    * first — releasing never strands a sibling operator's cache.
    */
  private def acquireBase(docs: DataFrame, idCol: String, textCol: String,
                          blockCols: Seq[(String, Column)], n: Int): (DataFrame, () => Unit) = {
    val (_, relFh) = acquireFullHashBase(docs, idCol, textCol)
    val (sh, relSh) = graft.util.Caching.acquire(
      shingleBase(docs, idCol, textCol, blockCols, n))
    (sh, () => { relSh(); relFh() })
  }

  private def persistedBase(docs: DataFrame, idCol: String, textCol: String,
                            blockCols: Seq[(String, Column)], n: Int): DataFrame =
    acquireBase(docs, idCol, textCol, blockCols, n)._1

  /** 60-bit SimHash per document over token unigrams (count-weighted) —
    * one native pass per row ([[graft.functions.SimHash60Expr]]), a PURE
    * PROJECTION: the previous explode→groupBy tally shuffled N×tokens
    * rows just to bring each document's votes back together; with the
    * tokens in hand as an array there is nothing to regroup, and the only
    * shuffle left in `simhashPairs` is the band join's. Votes come from
    * the SHARED full-hash layer (`preHashed` mode — `hash60(token)` is
    * exactly what the expression would compute from the string), so a
    * corpus whose gram pipelines already ran pays no second md5 pass.
    * Documents with zero tokens are excluded (no bits to vote — the
    * expression returns null and the filter drops it, as the aggregate
    * form's absent group did).
    */
  def simhash(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    fullHashBase(docs, idCol, textCol)
      .select(col(idCol),
        org.apache.spark.sql.graftbridge.ColumnBridge.column(
          graft.functions.SimHash60Expr(
            org.apache.spark.sql.graftbridge.ColumnBridge.expression(col("__fh")),
            preHashed = true)).as("simhash"))
      .filter(col("simhash").isNotNull)

  /** The aggregate (explode→groupBy packed-lane vote) form — KEPT ONLY as
    * the executable spec [[graft.functions.SimHash60Expr]] is equivalence-
    * tested against (DedupSpec); production paths use the projection.
    */
  private[graft] def hofSimhash(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val tok = docs.select(col(idCol), tokens(normalizeText(col(textCol))).as("__tk"))
      .select(col(idCol), explode(col("__tk")).as("tok"))
      .withColumn("h", hash60(col("tok")))
    // bit-vote sums packed 4-per-long (16-bit lanes): 15 aggregates + a
    // count instead of 60 — the naive one-sum-per-bit plan quadruples the
    // aggregation width and its codegen size for the same result. Lanes
    // hold ones-counts; no carry while docs stay under 2^16 tokens.
    // bit b of the simhash is set iff 2*ones_b > n_tokens — identical to
    // the ±1-vote rule (sum(±1) > 0 ⟺ 2*ones > count).
    // nibble-spread: bits [4g, 4g+3] land in the four 16-bit lanes with one
    // multiply — x·(1 + 2^15 + 2^30 + 2^45) lays four non-overlapping copies
    // of the nibble 15 bits apart, so lane masks pick bit j at position 16j
    // (4 ops/group instead of 16 shift-mask-shift chains; identical values)
    val spread = 1L | (1L << 15) | (1L << 30) | (1L << 45)
    val lanes = 1L | (1L << 16) | (1L << 32) | (1L << 48)
    val packed: Seq[Column] = (0 until 15).map { g =>
      val term = (shiftright(col("h"), 4 * g).bitwiseAND(lit(0xFL)) * lit(spread))
        .bitwiseAND(lit(lanes))
      sum(term).as(s"p$g")
    }
    val agg = tok.groupBy(idCol).agg(packed.head, (packed.tail :+ count(lit(1)).as("__cnt")): _*)
    val sim = (0 until 60).map { b =>
      val ones = shiftright(col(s"p${b / 4}"), 16 * (b % 4)).bitwiseAND(lit(0xFFFFL))
      when(ones * 2 > col("__cnt"), shiftleft(lit(1L), b)).otherwise(lit(0L))
    }.reduce(_ + _)
    agg.select(col(idCol), sim.as("simhash"))
  }

  /** SimHash near-dup pairs: band the 60-bit hash into four 15-bit chunks
    * (any equal chunk -> candidate; guarantees full recall for hamming
    * distance <= 3 — hence the default), verify with
    * `bit_count(xor) <= maxHamming`.
    */
  def simhashPairs(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
                   maxHamming: Int = 3, maxBucket: Int = 1000): DataFrame = {
    require(maxHamming <= 3, "4-band LSH only guarantees recall for hamming <= 3")
    val sh = simhash(docs, idCol, textCol)
    val chunks = array((0 until 4).map { b =>
      shiftright(col("simhash"), b * 15).bitwiseAND(lit(0x7FFFL))
    }: _*)
    val banded = capBuckets(
      sh.select(col(idCol), col("simhash"), posexplode(chunks))
        .withColumnRenamed("pos", "band").withColumnRenamed("col", "chunk"),
      Seq("band", "chunk"), maxBucket)
    // id-only band join (the candidate shuffle carries no payload);
    // simhash values are joined back once per side after the pair dedup
    val l = banded.select(col("band"), col("chunk"), col(idCol).as("id_a"))
    val r = banded.select(col("band"), col("chunk"), col(idCol).as("id_b"))
    val cand = l.join(r, Seq("band", "chunk"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").dropDuplicates("id_a", "id_b")
    val shA = sh.select(col(idCol).as("id_a"), col("simhash").as("sh_a"))
    val shB = sh.select(col(idCol).as("id_b"), col("simhash").as("sh_b"))
    cand.join(shA, Seq("id_a")).join(shB, Seq("id_b"))
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Cluster-collapse: assign every document the MINIMUM id reachable
    * through the near-duplicate pair graph (connected components), so a
    * duplicate CLUSTER — not just a pair — keeps exactly one survivor.
    *
    * Min-label propagation with a POINTER-DOUBLING hop: each round a node
    * takes the least of its own label, its neighbors' labels, and its
    * label's label (`label(label(x))` — the shortcut that collapses chains
    * logarithmically), so rounds are O(log diameter) rather than
    * O(diameter). Each round persists its labels and releases the previous
    * round's — bounded lineage, executor-resident state, the driver sees
    * only the convergence count.
    *
    * The iteration state is a SLIVER of the corpus (pair-participating
    * nodes only), so its partitioning is sized from the measured edge
    * count, not inherited from the corpus-scale shuffle setting: at sf0.1
    * that is ONE partition (hundreds of edges — per-round cost is job
    * overhead, not data), while a 100 TB corpus with billions of near-dup
    * edges gets the session's full shuffle width.
    *
    * Every round ends in `localCheckpoint`, which CUTS THE LOGICAL LINEAGE.
    * This is load-bearing, not an optimization: `labels` appears 2-3× in
    * each round's plan, so without the cut the analyzed plan tree grows
    * ~3× per round — caching the data does not cap the plan, and by round
    * ~8 AQE's plan stringification alone overflows the driver heap. With
    * the cut, every round plans against a constant-size RDD scan (the same
    * shape GraphX uses for iterative graph algorithms; for recovery under
    * executor loss swap in reliable `checkpoint`).
    */
  /** Collapse each near-dup cluster to its BEST representative — the
    * standard curation step after pair generation: near-duplicates are
    * dropped, but the kept copy is the highest-`scoreCol` member (tie →
    * lowest id), not an arbitrary one. `scores` is any (id, score) frame,
    * e.g. `TextAnalysis.qualityScore` output; one row per cluster comes
    * back with the winner's id/score and the cluster size.
    *
    * Shape: clusters from `dedupClusters` (size-gated union-find /
    * pointer-doubling), then ONE `min_by` aggregate keyed by cluster —
    * the shuffle carries |docs| (id, score, cluster) triples, never text.
    * The ordering struct (−score, id) makes the winner a total order, so
    * output is stable across engines and partitionings.
    */
  def collapseKeepBest(docs: DataFrame, pairs: DataFrame, scores: DataFrame,
                       idCol: String = "doc_id", scoreCol: String = "score"): DataFrame = {
    val clusters = dedupClusters(docs, pairs, idCol)
    clusters.join(scores.select(col(idCol), col(scoreCol).as("__s")), Seq(idCol))
      .groupBy("cluster_id")
      .agg(
        // a NULL score must rank LAST, not first: a null struct field
        // sorts lowest under min_by, so without the coalesce the one
        // member with NO quality signal would win its whole cluster —
        // +Inf puts unscored members behind every scored one (ties
        // among them still break to the lowest id)
        min_by(struct(col(idCol), col("__s")),
          struct(coalesce(col("__s") * lit(-1.0), lit(Double.PositiveInfinity)).as("n"),
            col(idCol))).as("__k"),
        count(lit(1)).as("n_members"))
      .select(col(s"__k.$idCol").as(idCol), col("cluster_id"),
        col("n_members"), col("__k.__s").as(scoreCol))
  }

  /** Default union-find gate for [[dedupClusters]], derived from the
    * driver's ACTUAL heap rather than fixed: the r15 measurement
    * (docs/SCALE.md, "Round 15") puts the edge collect at ~128 bytes per
    * symmetrized edge (~0.5 GB of Row+HashMap at the 2^22 ceiling, on a
    * 16 g driver), so
    * the derived gate spends at most 1/8 of `Runtime.maxMemory` on the
    * collect and never exceeds the measured 2^22 ceiling. A driver left on
    * Spark's default ~1 g heap therefore derives ~2^20 — the pre-r15 gate
    * that was safe there — instead of inheriting a collect sized for the
    * measurement box; floored at 2^16 so tiny test heaps keep a useful
    * local path. Callers that know their driver can pass an explicit gate.
    */
  def defaultMaxLocalEdges: Long = {
    val collectBudgetBytes = Runtime.getRuntime.maxMemory() / 8
    math.max(1L << 16, math.min(1L << 22, collectBudgetBytes / 128))
  }

  def dedupClusters(docs: DataFrame, pairs: DataFrame,
                    idCol: String = "doc_id", maxIters: Int = 50,
                    maxLocalEdges: Long = defaultMaxLocalEdges): DataFrame = {
    val sym = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      // a null id is not a node: an upstream outer join can leak null-id
      // pairs, which the local path's union-find would NPE on while the
      // distributed path silently tolerated them — the two size-gated
      // strategies must agree, so null edges are dropped before either
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
    val sym0 = sym.localCheckpoint() // materializes the (expensive) pair lineage once
    val edgeCount = sym0.count()
    // Size-gated strategy switch (the measured edge count is already in
    // hand): a deduped near-dup edge list within `maxLocalEdges` is solved
    // with one driver-side union-find pass and broadcast back — the same
    // runtime size-based re-plan AQE applies to joins. Iterating Spark jobs
    // over a graph that fits in tens of MB spends O(log d) full scheduler
    // round-trips on no data; above the gate (billions of edges at 100 TB)
    // the distributed pointer-doubling loop below is the path.
    //
    // The 2^22 CEILING is MEASURED, not argued (r15, docs/SCALE.md "Round
    // 15" table, chain-cluster graphs, min-of-3 alternating A/B): driver
    // union-find beats the propagation loop 7× at 2^19 symmetrized edges
    // (2.98 vs 21.66 s) and still 2× at 2^22 (14.73 vs 28.97 s); the TIME
    // crossover extrapolates to ~2^24 (local grows ~3.5 s/M edges over a
    // ~2 s base, the loop is a near-flat 20-29 s scheduling floor). The
    // ceiling stays at 2^22 rather than the time crossover because driver
    // MEMORY binds first: the collect is ~0.5 GB of Row+HashMap at 2^22
    // and would be ~8× that at 2^24 — a latency win is not worth an OOM
    // class of failure; and below the ceiling the DEFAULT gate scales
    // with the driver's real heap (`defaultMaxLocalEdges`), so small
    // drivers keep a safe bound automatically. See docs/SCALE.md (r15).
    val (labels, small) =
      if (edgeCount <= maxLocalEdges) (localLabels(sym0), true)
      else (propagateLabels(sym0, edgeCount, maxIters), false)
    // both strategies are EAGER against sym0 (the union-find collects it;
    // the propagation loop checkpoints its repartitioned copy before
    // iterating), so its blocks are unreachable from here on — drop them
    // instead of leaking one symmetrized edge copy per invocation
    graft.util.Caching.dropLocalCheckpoint(sym0)
    docs.select(col(idCol).as("id")).distinct()
      .join(if (small) broadcast(labels) else labels, Seq("id"), "left")
      .select(col("id").as(idCol), coalesce(col("cluster_id"), col("id")).as("cluster_id"))
  }

  /** Min-labels of pair-participating nodes by driver-side union-find
    * (union-by-min-root + path compression, so every root IS its
    * component's minimum). One `collect` of the deduped edge list — gated
    * by `maxLocalEdges` in `dedupClusters`.
    */
  private def localLabels(sym0: DataFrame): DataFrame = {
    val spark = sym0.sparkSession
    val idType = sym0.schema("src").dataType
    val parent = new java.util.HashMap[Any, Any]()
    def find(x0: Any): Any = {
      var x = x0
      var p = parent.getOrDefault(x, x)
      while (p != x) { val gp = parent.getOrDefault(p, p); parent.put(x, gp); x = p; p = gp }
      x
    }
    val seen = new java.util.LinkedHashSet[Any]()
    sym0.collect().foreach { r =>
      val (a, b) = (r.get(0), r.get(1))
      seen.add(a); seen.add(b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        if (labelOrdering.lt(ra, rb)) parent.put(rb, ra) else parent.put(ra, rb)
      }
    }
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row](seen.size())
    seen.forEach(id => rows.add(org.apache.spark.sql.Row(id, find(id))))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", idType),
      org.apache.spark.sql.types.StructField("cluster_id", idType)))
    spark.createDataFrame(rows, schema)
  }

  /** Driver-side value ordering that MATCHES Spark's: numerics naturally,
    * strings as UTF-8 binary (`UTF8String` ordering) — Java's UTF-16
    * `compareTo` disagrees on supplementary-plane code points, which would
    * silently flip min-labels between the local and distributed paths.
    */
  private val labelOrdering: Ordering[Any] = new Ordering[Any] {
    def compare(a: Any, b: Any): Int = (a, b) match {
      case (x: String, y: String) => java.util.Arrays.compareUnsigned(
        x.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        y.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      case (x, y) => x.asInstanceOf[Comparable[Any]].compareTo(y)
    }
  }

  /** Distributed min-label propagation with pointer doubling — see the
    * `dedupClusters` scaladoc above for the plan-shape rationale
    * (localCheckpoint lineage cuts, edge-count-sized partitioning).
    */
  private def propagateLabels(sym0: DataFrame, edgeCount: Long, maxIters: Int): DataFrame = {
    val spark = sym0.sparkSession
    val sessionParts = spark.sessionState.conf.numShufflePartitions
    val parts = math.max(1L, math.min(sessionParts.toLong, edgeCount / 2_000_000L + 1)).toInt
    val edges = sym0.repartition(parts, col("dst")).localCheckpoint()
    // iterate over pair-PARTICIPATING nodes only (both edge directions are
    // present, so `src` covers them all): duplicate-cluster membership is a
    // sliver of the corpus, and singletons trivially label themselves —
    // they join back once at the end
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("cluster_id", col("id"))
      .repartition(parts, col("id")).localCheckpoint()
    var changed = if (edgeCount == 0) 0L else 1L
    var iter = 0
    while (changed > 0 && iter < maxIters) {
      val msgs = edges
        .join(labels.select(col("id").as("dst"), col("cluster_id").as("nl")), Seq("dst"))
        .groupBy(col("src").as("id")).agg(min("nl").as("min_nbr"))
      val obs = org.apache.spark.sql.Observation()
      // second join = POINTER-DOUBLING hop: also consider label(label(x)),
      // which collapses long chains logarithmically instead of one hop/round
      val next = labels.join(msgs, Seq("id"), "left")
        .join(labels.select(col("id").as("__lbl"), col("cluster_id").as("__ll")),
          col("cluster_id") === col("__lbl"), "left")
        .withColumn("__new", least(
          col("cluster_id"),
          coalesce(col("min_nbr"), col("cluster_id")),
          coalesce(col("__ll"), col("cluster_id"))))
        // convergence count rides the materializing action itself
        // (Dataset.observe) — one job per round, no compare-join
        .observe(obs, sum(when(col("__new") < col("cluster_id"), 1L).otherwise(0L)).as("n_changed"))
        .select(col("id"), col("__new").as("cluster_id"))
        .repartition(parts, col("id"))
        .localCheckpoint() // eager: runs the round AND cuts lineage
      changed = obs.get("n_changed").asInstanceOf[Long]
      // next is materialized (localCheckpoint is eager), so nothing can
      // re-read the previous round's blocks — drop them now instead of
      // accumulating one label table per round until driver GC notices
      // (the pageRank loop's discipline)
      graft.util.Caching.dropLocalCheckpoint(labels)
      labels = next
      iter += 1
    }
    // the final labels frame is self-contained; the repartitioned edge
    // copy's blocks are unreachable once the loop exits
    graft.util.Caching.dropLocalCheckpoint(edges)
    labels
  }

  /** Winnowing sketch (MOSS-style): the distinct set of window-minima over
    * sliding windows of `w` consecutive shingle hashes. Guarantee: two
    * documents sharing a run of at least `w + n − 1` tokens share at least
    * one sketch hash — so the sketch is a CONTAINMENT-oriented candidate
    * key (long verbatim overlaps), complementary to MinHash's
    * whole-document resemblance.
    *
    * Computed by the native `WinnowSketchExpr` (monotonic-deque sliding
    * minimum, O(m), dedup fused into the same pass). The equivalent HOF
    * form — `array_distinct(transform(sequence(0, greatest(size−w, 0)),
    * i → array_min(slice(sh, i+1, w))))` — runs interpreted at O(m·w)
    * with an array copy per window and dominated `winnow_dedup`'s cost;
    * FunctionsSpec asserts the two agree.
    */
  private[graft] def winnowSketch(sh: Column, w: Int): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.WinnowSketchExpr(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(sh), w))

  /** Exact duplicate SPANS across documents — the span-level complement of
    * the doc-pair family: for every pair of documents sharing a verbatim
    * token run of ≥ `n` tokens, emit the MAXIMAL runs as
    * `(id_a, id_b, start_a, start_b, n_tokens)` (0-based token offsets).
    * This is the "exact substring duplication" measure of Lee et al. 2021
    * (Deduplicating Training Data Makes Language Models Better), where
    * span removal — not whole-document dropping — is the remedy for
    * boilerplate-heavy corpora; `winnow` finds such pairs approximately,
    * this names the exact spans.
    *
    * Shape (hash-join, not suffix arrays): the shared 60-bit layer's
    * positional n-gram stream `(id, pos, gram)` equi-joins itself on the
    * gram key — never all-pairs — and maximal runs fall out of a
    * gaps-and-islands pass: matches on one diagonal (`pos_a − pos_b`
    * constant) with consecutive `pos_a` are one span. Each surviving span
    * is then VERIFIED exactly: the candidate stream's 31-bit gram keys can
    * collide, so spans are checked against the full 60-bit token-hash
    * slices — a cheap whole-slice compare for the common case, with the
    * rare failures (a collision extending or bridging a TRUE run on its
    * own diagonal) repaired gram-wise so the true sub-runs survive
    * (`verifySpans`). The output is exactly the maximal runs of
    * 60-bit-agreeing windows — the md5-fingerprint assumption every
    * exact-dedup path here already makes; a false span needs a 2^-60
    * per-token collision run.
    *
    * Shape at 100 TB: the gram stream is ~|corpus tokens| rows (the
    * `doc_freq` shape) and shuffles once per side on the gram key; grams
    * occurring more than `maxOcc` times corpus-wide are dropped
    * ALL-or-nothing before the join (`capBuckets` semantics — a gram in
    * thousands of documents is boilerplate, surfaced by `docFrequency` /
    * `gramRepetition`, and would pair quadratically); the islands window
    * partitions by (pair, diagonal) — millions of tiny partitions, no
    * global sort; the verify join touches only span-emitting documents.
    * The `n = 8` default matches the dense synthetic fixture; production
    * corpora typically run n ≈ 50 (the published exact-substring
    * threshold), which leaves the gram-stream SIZE unchanged but shrinks
    * match volume — and with it the join output and islands state —
    * by orders of magnitude.
    */
  def duplicateSpans(docs: DataFrame, n: Int = 8, maxOcc: Int = 64,
                     idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(n >= 2, "span gram width must be at least 2")
    val base = fullHashBase(docs, idCol, textCol)
    val gated = capBuckets(posGramStream(base, n, idCol), Seq("g"), maxOcc)
    val l = gated.select(col("g"), col(idCol).as("id_a"), col("pos").as("pos_a"))
    val r = gated.select(col("g"), col(idCol).as("id_b"), col("pos").as("pos_b"))
    val matches = l.join(r, Seq("g"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "pos_a", "pos_b")
    verifySpans(islandSpans(matches, n),
      base.select(col(idCol).as("id_a"), col("__fh").as("__fh_a")),
      base.select(col(idCol).as("id_b"), col("__fh").as("__fh_b")), n)
  }

  /** Positional mod-P gram stream `(id, pos, g)` off the shared 60-bit
    * hash layer — the `doc_freq` shape every span operator joins on.
    */
  private def posGramStream(base: DataFrame, n: Int, idCol: String): DataFrame =
    base.select(col(idCol), posexplode(rolledGramHashes(col("__fh"), n, reduceInputs = true)))
      .withColumnRenamed("col", "g")

  /** INTRA-document twin of [[duplicateSpans]]: maximal verbatim token
    * runs of ≥ `n` tokens repeated WITHIN one document — Lee et al.'s
    * substring dedup removes within-document repeats too (the signal
    * `gramRepetition` detects but does not locate). Output
    * `(id, start_a, start_b, n_tokens)` with `start_a < start_b` — the
    * earlier occurrence first (the keep side under keep-first excision);
    * each unordered occurrence pair emits once. Overlapping occurrences
    * (tandem repeats with period < n_tokens) emit legitimately: a
    * period-p repetition is a match run on diagonal −p.
    *
    * Shape: the SAME capped gram stream self-join as the cross-document
    * family, restricted to `id_a = id_b ∧ pos_a < pos_b` (diagonal ≠ 0 by
    * construction — diagonal 0 is the trivial self-match), then the same
    * (pair, diagonal) islands pass and 60-bit slice verification, both
    * slices read from the one document's hash array. Every 100 TB posture
    * argued on [[duplicateSpans]] carries over unchanged: the restriction
    * only shrinks the join output, and the occurrence cap already counts
    * within-document repeats toward its corpus-wide total.
    */
  def duplicateSpansIntra(docs: DataFrame, n: Int = 8, maxOcc: Int = 64,
                          idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(n >= 2, "span gram width must be at least 2")
    val base = fullHashBase(docs, idCol, textCol)
    val gated = capBuckets(posGramStream(base, n, idCol), Seq("g"), maxOcc)
    val l = gated.select(col("g"), col(idCol).as("id_a"), col("pos").as("pos_a"))
    val r = gated.select(col("g"), col(idCol).as("id_b"), col("pos").as("pos_b"))
    val matches = l.join(r, Seq("g"))
      .filter(col("id_a") === col("id_b") && col("pos_a") < col("pos_b"))
      .select("id_a", "id_b", "pos_a", "pos_b")
    verifySpans(islandSpans(matches, n),
      base.select(col(idCol).as("id_a"), col("__fh").as("__fh_a")),
      base.select(col(idCol).as("id_b"), col("__fh").as("__fh_b")), n)
      .select(col("id_a").as(idCol), col("start_a"), col("start_b"), col("n_tokens"))
  }

  /** Cross-document AND intra-document spans from ONE capped self-join —
    * what [[exciseSpans]]`(includeIntra = true)` consumes: the two graded
    * ops restrict the same join to complementary predicates
    * (`id_a < id_b` vs `id_a = id_b ∧ pos_a < pos_b`), so composing them
    * by union would pay the gram self-join, islands pass, and
    * verification twice; the disjunction produces both families in one
    * pipeline (island groups key on (pair, diagonal), and intra rows'
    * keys are disjoint from cross rows' by construction). Rows with
    * `id_a = id_b` are the intra spans.
    */
  private def duplicateSpansCombined(docs: DataFrame, n: Int, maxOcc: Int,
                                     idCol: String, textCol: String): DataFrame = {
    require(n >= 2, "span gram width must be at least 2")
    val base = fullHashBase(docs, idCol, textCol)
    val gated = capBuckets(posGramStream(base, n, idCol), Seq("g"), maxOcc)
    val l = gated.select(col("g"), col(idCol).as("id_a"), col("pos").as("pos_a"))
    val r = gated.select(col("g"), col(idCol).as("id_b"), col("pos").as("pos_b"))
    val matches = l.join(r, Seq("g"))
      .filter(col("id_a") < col("id_b") ||
        (col("id_a") === col("id_b") && col("pos_a") < col("pos_b")))
      .select("id_a", "id_b", "pos_a", "pos_b")
    verifySpans(islandSpans(matches, n),
      base.select(col(idCol).as("id_a"), col("__fh").as("__fh_a")),
      base.select(col(idCol).as("id_b"), col("__fh").as("__fh_b")), n)
  }

  /** Maximal runs via gaps-and-islands over candidate gram matches
    * `(id_a, id_b, pos_a, pos_b)`: matches on one diagonal
    * (`pos_a − pos_b` constant) with consecutive `pos_a` share one island
    * id (`pos_a` minus its rank is constant on a contiguous run).
    */
  private def islandSpans(matches: DataFrame, n: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id_a"), col("id_b"), col("__diag")).orderBy(col("pos_a"))
    matches
      .withColumn("__diag", col("pos_a") - col("pos_b"))
      .withColumn("__island", col("pos_a") - row_number().over(w))
      .groupBy("id_a", "id_b", "__diag", "__island")
      .agg(min("pos_a").as("start_a"), min("pos_b").as("start_b"),
        (count(lit(1)) + lit(n - 1)).cast("long").as("n_tokens"))
      .select("id_a", "id_b", "start_a", "start_b", "n_tokens")
  }

  /** Exact 60-bit verification with rare-path REPAIR. The cheap pass
    * compares each span's whole token-hash slices end-to-end; a span can
    * only fail it when a mod-P gram collision rode the same diagonal
    * touching a true run (extending or bridging islands) — dropping the
    * whole span there would throw away the TRUE run with the impostor.
    * Failed spans (collision-rare by construction) explode back to their
    * per-gram windows, keep exactly the windows whose full 60-bit slices
    * agree, and re-island: the combined output is precisely the maximal
    * runs of TRUE windows — what verifying every match up front would
    * compute, without paying the hash-array join on the full match
    * stream.
    */
  private def verifySpans(spans: DataFrame, fhA: DataFrame, fhB: DataFrame,
                          n: Int): DataFrame = {
    val joined = spans.join(fhA, Seq("id_a")).join(fhB, Seq("id_b"))
    val ok = slice(col("__fh_a"), col("start_a") + 1, col("n_tokens")) ===
      slice(col("__fh_b"), col("start_b") + 1, col("n_tokens"))
    joined.filter(ok).select("id_a", "id_b", "start_a", "start_b", "n_tokens")
      .unionByName(reverifySpans(joined.filter(!ok), n))
  }

  /** Gram-window re-verification of spans that failed the whole-slice
    * compare: `(id_a, id_b, start_a, start_b, n_tokens, __fh_a, __fh_b)`
    * rows explode to their window offsets, windows verify individually
    * against the full 60-bit slices, and the survivors re-island.
    * Package-visible for direct testing — real collisions cannot be
    * synthesized at test scale, but this path's arithmetic can be driven
    * with fabricated hash arrays.
    */
  private[graft] def reverifySpans(failed: DataFrame, n: Int): DataFrame = {
    val windows = failed
      .filter(col("n_tokens") >= n) // defensive: sequence() would run backwards
      .select(col("id_a"), col("id_b"), col("__fh_a"), col("__fh_b"),
        col("start_a"), col("start_b"),
        explode(sequence(lit(0), col("n_tokens").cast("int") - n)).as("__off"))
      .select(col("id_a"), col("id_b"),
        (col("start_a") + col("__off")).as("pos_a"),
        (col("start_b") + col("__off")).as("pos_b"),
        col("__fh_a"), col("__fh_b"))
      .filter(slice(col("__fh_a"), col("pos_a") + 1, lit(n)) ===
        slice(col("__fh_b"), col("pos_b") + 1, lit(n)))
      .select("id_a", "id_b", "pos_a", "pos_b")
    islandSpans(windows, n)
  }

  /** Cross-crawl n-gram NOVELTY — per incoming document, the fraction of
    * its n-gram occurrences never seen in the baseline corpus: the cheap
    * crawl-health complement to [[duplicateSpansAgainstBaseline]]. A crawl
    * whose novelty collapses is re-fetching content the corpus already
    * holds (feed loops, recrawl storms) and can be triaged BEFORE paying
    * the span family's positional self-join; a crawl whose novelty spikes
    * flags a source shift worth a `TextAnalysis.vocabDrift` look. Output
    * `(id, n_grams, n_novel, novelty)` — `novelty` NULL for documents
    * shorter than `n` tokens (no grams to judge; 0/0 is not 0% novel).
    *
    * Shape at 100 TB: the baseline reduces to DISTINCT gram hashes before
    * any exchange (the `inc_para_dedup` baseline rule — corpus text and
    * positions never leave their side); the incoming gram stream joins it
    * LEFT on the gram key (hash-partitioned equi-join, 8 bytes a row) and
    * folds straight into a per-document map-side-combined count — no cap
    * is needed because nothing here pairs: each incoming gram occurrence
    * emits at most one row regardless of how hot the gram is. Both sides
    * read their shared 60-bit hash layers, so a crawl that goes on to run
    * the span family tokenizes nothing twice.
    */
  def noveltyRate(incoming: DataFrame, baseline: DataFrame,
                  n: Int = 8,
                  idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    noveltyRateManaged(incoming, baseline, n, idCol, textCol)._1

  /** Cleanup-handle twin of [[noveltyRate]] — the per-micro-batch form
    * (`EventsStream.noveltyStream`): each batch's incoming hash layer is
    * a distinct plan, so an unbounded stream must release it after the
    * sink or stack one cache registration per batch; the release no-ops
    * on a pre-registered baseline layer (`Caching.acquire` ownership),
    * which is how the stream keeps the baseline resident across batches.
    */
  def noveltyRateManaged(incoming: DataFrame, baseline: DataFrame,
                         n: Int = 8,
                         idCol: String = "doc_id", textCol: String = "text")
      : (DataFrame, () => Unit) = {
    require(n >= 2, "novelty gram width must be at least 2")
    val (bBas, relBas) = acquireFullHashBase(baseline, idCol, textCol)
    val seen = posGramStream(bBas, n, idCol).select(col("g")).distinct()
    val (out, relInc) = noveltyAgainstGramsManaged(incoming, seen, n, idCol, textCol)
    (out, () => { relInc(); relBas() })
  }

  /** [[noveltyRate]] against a precomputed DISTINCT gram-hash set — both
    * the stateless form and the carry-forward form ([[advanceGramSet]])
    * land here.
    */
  def noveltyAgainstGrams(incoming: DataFrame, seenGrams: DataFrame,
                          n: Int = 8,
                          idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    noveltyAgainstGramsManaged(incoming, seenGrams, n, idCol, textCol)._1

  /** Cleanup-handle form of [[noveltyAgainstGrams]] — what
    * `EventsStream.noveltyStream` calls per micro-batch (each batch's
    * hash layer is a distinct plan; release after the sink, or an
    * unbounded stream stacks registrations). The seen set is the
    * CALLER's frame — persist it once (`initGramSet` + a guard) and
    * every batch pays only its own side.
    */
  def noveltyAgainstGramsManaged(incoming: DataFrame, seenGrams: DataFrame,
                                 n: Int = 8,
                                 idCol: String = "doc_id", textCol: String = "text")
      : (DataFrame, () => Unit) = {
    require(n >= 2, "novelty gram width must be at least 2")
    val (bInc, relInc) = acquireFullHashBase(incoming, idCol, textCol)
    val out = noveltyFromGrams(posGramStream(bInc, n, idCol),
      incoming.select(col(idCol)), seenGrams, idCol)
    (out, relInc)
  }

  /** Per-doc novelty fold shared by the stateless, streaming, and
    * carry-forward forms. The gram stream arrives AS-IS: the single-
    * consumer forms must not pay a corpus-token-sized persist, and
    * [[advanceGramSetManaged]] — whose state merge is a second consumer —
    * acquires it before calling here.
    */
  private def noveltyFromGrams(grams: DataFrame, incomingIds: DataFrame,
                               seenGrams: DataFrame, idCol: String): DataFrame = {
    val seen = seenGrams.select(col("g")).withColumn("__seen", lit(1))
    val perDoc = grams
      .join(seen, Seq("g"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__seen").isNull, 1L).otherwise(0L)).as("n_novel"))
    incomingIds.join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        round(col("n_novel").cast("double") / col("n_grams"), 6).as("novelty"))
  }

  /** The seen-gram SET a corpus contributes — [[advanceGramSet]]'s
    * initial state: DISTINCT gram hashes, 8 bytes a row.
    */
  def initGramSet(docs: DataFrame, n: Int = 8,
                  idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(n >= 2, "novelty gram width must be at least 2")
    posGramStream(fullHashBase(docs, idCol, textCol), n, idCol).select(col("g")).distinct()
  }

  /** Gram-set EVOLUTION — [[noveltyRate]]'s carry-forward shape (the
    * `SpanBaseline` pattern without its excision subtlety: the seen set
    * is append-only and text-derived, so the cumulative set IS the union
    * corpus's set). Per crawl: the batch's novelty against the CARRIED
    * set, and the evolved set for the next crawl — one gram-keyed
    * distinct over (set ∪ batch grams). At 100 TB the settled corpus is
    * NEVER re-tokenized for monitoring: a nightly novelty check costs
    * the incoming scan plus set-sized hash work, and the state the loop
    * checkpoints is 8-byte gram hashes, not text. Two advances from a
    * seed reproduce the stateless novelty against the seed∪batch₁ corpus
    * exactly (the graded `novelty_evolve` replay).
    */
  def advanceGramSet(seen: DataFrame, incoming: DataFrame, n: Int = 8,
                     idCol: String = "doc_id", textCol: String = "text")
      : (DataFrame, DataFrame) = {
    require(n >= 2, "novelty gram width must be at least 2")
    // one-shot form: only the hash layer registers (LRU, the standing
    // rule) — the gram stream recomputes from it for each output rather
    // than pinning a corpus-token-scale persist nobody will release;
    // loops use the Managed twin, which acquires the stream once for
    // both consumers AND releases it
    val bInc = fullHashBase(incoming, idCol, textCol)
    val stream = posGramStream(bInc, n, idCol)
    val novelty = noveltyFromGrams(stream, incoming.select(col(idCol)), seen, idCol)
    val merged = seen.select(col("g"))
      .unionByName(stream.select(col("g")))
      .distinct()
    (novelty, merged)
  }

  /** Cleanup-handle twin of [[advanceGramSet]] — the nightly-loop form:
    * the incoming batch's hash layer and gram stream are acquired here
    * and released once the novelty rows are read and the merged set
    * checkpointed, so a loop that advances per crawl never stacks
    * registrations (the `noveltyRateManaged` rule). The shared gram
    * stream feeds both the novelty fold and the state merge — one
    * explode, two consumers.
    */
  def advanceGramSetManaged(seen: DataFrame, incoming: DataFrame, n: Int = 8,
                            idCol: String = "doc_id", textCol: String = "text")
      : (DataFrame, DataFrame, () => Unit) = {
    require(n >= 2, "novelty gram width must be at least 2")
    val (bInc, relInc) = acquireFullHashBase(incoming, idCol, textCol)
    // the gram stream feeds BOTH the novelty fold and the state merge;
    // column pruning makes their exchange subtrees distinct, so without
    // this acquire the explode would run twice
    val (stream, relStream) = graft.util.Caching.acquire(posGramStream(bInc, n, idCol))
    val novelty = noveltyFromGrams(stream, incoming.select(col(idCol)), seen, idCol)
    val merged = seen.select(col("g"))
      .unionByName(stream.select(col("g")))
      .distinct()
    (novelty, merged, () => { relStream(); relInc() })
  }

  /** Inter-run twin of [[duplicateSpans]] — the nightly-crawl shape: spans
    * the INCOMING batch shares verbatim with the established baseline
    * corpus, and only those (no baseline-baseline pairing — the baseline
    * was already span-deduped when it was ingested, and at 100 TB
    * re-pairing it against itself would dominate the run). Output
    * `(id_in, id_bas, start_in, start_bas, n_tokens)`; excising the spans
    * from the incoming side before appending keeps the corpus keep-first
    * globally. Sides are independent corpora, so no id ordering
    * constraint applies (the same id may exist in both).
    *
    * The occurrence cap is counted over BOTH sides' gram streams (the
    * same union-then-cap the incremental LSH variant uses): boilerplate
    * is corpus-wide, and a gram hot in the baseline must gate incoming
    * matches too, or every crawl re-pairs against the same boilerplate.
    */
  def duplicateSpansAgainstBaseline(incoming: DataFrame, baseline: DataFrame,
                                    n: Int = 8, maxOcc: Int = 64,
                                    idCol: String = "doc_id",
                                    textCol: String = "text"): DataFrame =
    duplicateSpansAgainstBaselineManaged(incoming, baseline, n, maxOcc, idCol, textCol)._1

  /** Cleanup-handle variant of [[duplicateSpansAgainstBaseline]] — same
    * rationale as [[dedupAgainstBaselineBloomManaged]]: per-crawl (and
    * per-micro-batch — `EventsStream.spanDedupStream`) incoming plans are
    * DISTINCT every invocation, so the internal guard-persists (the
    * incoming side's hash layer and the capped gram union) would stack one
    * cache registration per invocation for the session's lifetime.
    * release() after materializing the span frame drops this invocation's
    * entries; it no-ops on any layer another consumer registered first —
    * in particular a pre-registered BASELINE hash layer survives, which is
    * how the streaming twin keeps the baseline resident across batches.
    */
  def duplicateSpansAgainstBaselineManaged(incoming: DataFrame, baseline: DataFrame,
                                           n: Int = 8, maxOcc: Int = 64,
                                           idCol: String = "doc_id",
                                           textCol: String = "text")
      : (DataFrame, () => Unit) = {
    require(n >= 2, "span gram width must be at least 2")
    val (bInc, relInc) = acquireFullHashBase(incoming, idCol, textCol)
    val (bBas, relBas) = acquireFullHashBase(baseline, idCol, textCol)
    def grams(base: DataFrame, side: String) = base
      .select(col(idCol), posexplode(rolledGramHashes(col("__fh"), n, reduceInputs = true)))
      .withColumnRenamed("col", "g").withColumn("__side", lit(side))
    val (gated, relCap) = capBucketsManaged(
      grams(bInc, "i").unionByName(grams(bBas, "b")), Seq("g"), maxOcc)
    // canonical (a = incoming, b = baseline) through the shared island +
    // verify helpers, renamed back at the end
    val l = gated.filter(col("__side") === "i")
      .select(col("g"), col(idCol).as("id_a"), col("pos").as("pos_a"))
    val r = gated.filter(col("__side") === "b")
      .select(col("g"), col(idCol).as("id_b"), col("pos").as("pos_b"))
    val matches = l.join(r, Seq("g")).select("id_a", "id_b", "pos_a", "pos_b")
    val out = verifySpans(islandSpans(matches, n),
      bInc.select(col(idCol).as("id_a"), col("__fh").as("__fh_a")),
      bBas.select(col(idCol).as("id_b"), col("__fh").as("__fh_b")), n)
      .select(col("id_a").as("id_in"), col("id_b").as("id_bas"),
        col("start_a").as("start_in"), col("start_b").as("start_bas"), col("n_tokens"))
    (out, () => { relCap(); relInc(); relBas() })
  }

  /** Cross-run span-dedup STATE — the span family's carry-forward shape
    * (the same previous-run-state-is-an-input pattern as the reference's
    * snapshot restore, main_pls.py:101-186): `docs` is the settled corpus
    * `(id, text)` — the original seed plus every prior batch's EXCISED
    * survivors — and `gramCounts` the CUMULATIVE gram occurrence counts
    * `(g, c)` over every batch AS-ARRIVED (pre-excision). Counting
    * as-arrived is the point of carrying counts at all: boilerplate that
    * was excised from the stored text — or dropped with its capped gram —
    * no longer exists to be re-counted from `docs`, so a text-derived
    * recount would forget exactly the corpus-wide-hot grams the cap
    * exists to gate, and every crawl would re-pair against the same
    * boilerplate. The gram width `n` travels IN the state: counts at one
    * width are meaningless at another, so advancing reads the width the
    * state was seeded with instead of trusting every caller to repeat it.
    */
  final case class SpanBaseline(docs: DataFrame, gramCounts: DataFrame, n: Int)

  /** One crawl's advance: the spans found, the evolved state for the next
    * crawl, and a release handle for this invocation's guard-persists
    * (call after BOTH the spans and the next state are materialized —
    * or checkpointed, in a production multi-crawl loop).
    */
  final case class SpanAdvance(spans: DataFrame, state: SpanBaseline, release: () => Unit)

  /** Seed state from an existing (already span-deduped) corpus: the docs
    * as the baseline, their gram occurrence counts as the cumulative
    * count state.
    */
  def initSpanBaseline(docs: DataFrame, n: Int = 8, idCol: String = "doc_id",
                       textCol: String = "text"): SpanBaseline = {
    require(n >= 2, "span gram width must be at least 2")
    val counts = posGramStream(fullHashBase(docs, idCol, textCol), n, idCol)
      .groupBy("g").agg(count(lit(1)).as("c"))
    SpanBaseline(docs.select(col(idCol), col(textCol)), counts, n)
  }

  /** Span-baseline EVOLUTION — the fold [[duplicateSpansAgainstBaseline]]
    * lacks between crawls: find the incoming batch's duplicate spans
    * against the baseline, excise them from the incoming side, append the
    * excised survivors to the baseline, and carry the gram occurrence
    * counts forward so the occurrence cap is CROSS-RUN. Per crawl:
    *
    *   1. `counts' = counts + gramCounts(incoming as-arrived)` — one
    *      narrow (g, c) merge, no text;
    *   2. hot = `counts' > maxOcc` gates BOTH sides' gram streams
    *      all-or-nothing (capBuckets semantics, but against the
    *      cumulative total: a gram under the cap within any single
    *      (batch ∪ baseline) pairing but hot across crawls IS gated here,
    *      where per-invocation counting would re-pair every crawl
    *      against the same aggregate boilerplate);
    *   3. spans = the cross-side island+verify pairing of
    *      [[duplicateSpansAgainstBaseline]], output
    *      `(id_in, id_bas, start_in, start_bas, n_tokens)`;
    *   4. fold: incoming documents are excised at the span positions
    *      (keep-first globally — each passage survives only where it
    *      first landed) and the survivors append to `docs`.
    *
    * Monotonicity caveat, documented in SCALE.md: a gram crossing the cap
    * in crawl k pairs normally in crawls 1..k−1 and never after — spans
    * already found (and excised) stay found; only FUTURE pairing stops.
    * That is the intended semantics of an occurrence cap over an
    * append-only corpus: by the time a gram is corpus-hot, its early
    * duplicates were already excised, and everything arriving later that
    * still carries it is boilerplate for `spanCoverage`/`gramRepetition`
    * to flag, not for quadratic pairing to enumerate.
    *
    * Scale shape: identical joins to the inter-run operator, plus one
    * (g, c) count merge — the state that crosses runs is the docs frame
    * (append-only) and a gram-count frame bounded by |distinct grams|;
    * a production loop checkpoints both between crawls (SnapshotStore),
    * so no crawl's lineage embeds the previous crawl's plan.
    */
  def advanceSpanBaseline(state: SpanBaseline, incoming: DataFrame,
                          maxOcc: Int = 64,
                          idCol: String = "doc_id", textCol: String = "text"): SpanAdvance = {
    val n = state.n
    val (bInc, relInc) = acquireFullHashBase(incoming, idCol, textCol)
    val (bBas, relBas) = acquireFullHashBase(state.docs, idCol, textCol)
    // gi feeds BOTH the cumulative gram-count merge and the match join's
    // left side — column pruning makes the two subtrees distinct, so
    // without this acquire the incoming batch's posexplode would run
    // twice per crawl (the advanceGramSetManaged rule)
    val (gi, relGi) = graft.util.Caching.acquire(posGramStream(bInc, n, idCol))
    val (newCounts, relCounts) = graft.util.Caching.acquire(
      state.gramCounts.unionByName(gi.groupBy("g").agg(count(lit(1)).as("c")))
        .groupBy("g").agg(sum("c").as("c")))
    val hot = newCounts.filter(col("c") > maxOcc).select("g")
    val l = gi.join(hot, Seq("g"), "left_anti")
      .select(col("g"), col(idCol).as("id_a"), col("pos").as("pos_a"))
    val r = posGramStream(bBas, n, idCol).join(hot, Seq("g"), "left_anti")
      .select(col("g"), col(idCol).as("id_b"), col("pos").as("pos_b"))
    val matches = l.join(r, Seq("g")).select("id_a", "id_b", "pos_a", "pos_b")
    val (spans, relSpans) = graft.util.Caching.acquire(
      verifySpans(islandSpans(matches, n),
        bInc.select(col(idCol).as("id_a"), col("__fh").as("__fh_a")),
        bBas.select(col(idCol).as("id_b"), col("__fh").as("__fh_b")), n)
        .select(col("id_a").as("id_in"), col("id_b").as("id_bas"),
          col("start_a").as("start_in"), col("start_b").as("start_bas"), col("n_tokens")))
    val removed = spanPositions(spans, "id_in", "start_in", idCol).distinct()
    val newDocs = state.docs.select(col(idCol), col(textCol)).unionByName(
      exciseAt(incoming, removed, idCol, textCol)
        .select(col(idCol), col("clean_text").as(textCol)))
    SpanAdvance(spans, SpanBaseline(newDocs, newCounts, n),
      () => { relSpans(); relCounts(); relGi(); relInc(); relBas() })
  }

  /** Per-document duplication coverage — the signal that decides DROP vs
    * EXCISE vs KEEP: for each document, the fraction of its tokens covered
    * by at least one cross-document duplicated span (either side of the
    * pair — a passage's ORIGINAL is as covered as its copy). Curation
    * policy reads it directly: coverage ≈ 1 is a wholesale duplicate
    * (drop; cheaper than excising everything), moderate coverage is
    * boilerplate-wrapped unique content (excise), ≈ 0 keeps as-is.
    *
    * Shape: spans contribute one half-open [start, start+n_tokens)
    * INTERVAL per side — never per-token rows — and the union's size is
    * computed arithmetically from a per-doc gaps-and-islands interval
    * merge (running-max-of-end over the start-sorted intervals; an
    * interval opens a new island when its start clears everything seen).
    * The exchange carries two rows per span, where the pre-r17 form
    * exploded O(duplicated tokens × multiplicity) per-position rows
    * before its distinct — with k near-identical documents the same
    * positions were named ~k times. The islands window partitions by doc
    * — many tiny sorted runs, no global sort. The covered-token count of
    * each island is exactly `max(end) − min(start)` (half-open integer
    * intervals: union length = distinct covered positions), so the
    * semantics are bit-identical to the per-position distinct the oracle
    * still computes. A left join keeps zero-coverage documents. Ratios
    * round to 6dp like every other quality signal.
    */
  def spanCoverage(docs: DataFrame, n: Int = 8, maxOcc: Int = 64,
                   idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spans = duplicateSpans(docs, n, maxOcc, idCol, textCol)
    val intervals = spans.select(col("id_a").as(idCol), col("start_a").cast("long").as("__s"),
        (col("start_a") + col("n_tokens")).as("__e"))
      .unionByName(spans.select(col("id_b").as(idCol), col("start_b").cast("long").as("__s"),
        (col("start_b") + col("n_tokens")).as("__e")))
    val ord = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("__s"), col("__e"))
    val covered = intervals
      .withColumn("__pmax", max(col("__e")).over(
        ord.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)))
      .withColumn("__grp", sum(
        when(col("__pmax").isNull || col("__s") > col("__pmax"), 1L).otherwise(0L)).over(
        ord.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy(col(idCol), col("__grp"))
      .agg((max(col("__e")) - min(col("__s"))).as("__len"))
      .groupBy(idCol).agg(sum("__len").as("n_dup_tokens"))
    // token counts project off the SHARED hash layer duplicateSpans just
    // guard-persisted (hashes are 1:1 with tokens) — a second corpus-wide
    // normalize+tokenize scan for a length would double the signal's cost
    fullHashBase(docs, idCol, textCol)
      .select(col(idCol), size(col("__fh")).cast("long").as("n_tokens"))
      .join(covered, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("n_dup_tokens"), lit(0L)).as("n_dup_tokens"),
        round(when(col("n_tokens") > 0,
          coalesce(col("n_dup_tokens"), lit(0L)).cast("double") / col("n_tokens"))
          .otherwise(lit(0.0d)), 6).as("dup_frac"))
  }

  /** Containment attribution — [[spanCoverage]] with a WHO: for each
    * document, the single partner covering most of its tokens through
    * shared spans, with that pair's covered-token count and fraction.
    * `dup_frac ≈ 1` with one dominant partner means the document is
    * CONTAINED in (or contains) that partner — the quote-heavy /
    * aggregation-page / near-superset cases document-level dedup misses
    * and whole-corpus coverage cannot attribute. Clean documents pass
    * through with a NULL partner and zero coverage.
    *
    * Shape at 100 TB: interval union runs per (document, partner) —
    * gaps-and-islands one partition level deeper than [[spanCoverage]]'s
    * merge, so partitions stay span-pair-sized (millions of tiny windows,
    * no global sort); the per-document winner is ONE hash-aggregable
    * argmax (max over (covered, ~partner) structs — bitwise complement,
    * an overflow-free order reversal on the whole long range —
    * partial-aggregated map-side, never a row_number over the
    * corpus); token counts project off the SHARED hash layer
    * duplicateSpans just guard-persisted.
    */
  def spanContainment(docs: DataFrame, n: Int = 8, maxOcc: Int = 64,
                      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // the smallest-partner tie-break encodes through bitwise_not, which
    // only exists for integral ids — a string-keyed corpus (supported by
    // dedupClusters' UTF8 ordering) would hit an ANSI CAST_INVALID_INPUT
    // deep in the aggregate; fail at the API instead
    require(Seq[org.apache.spark.sql.types.DataType](
        org.apache.spark.sql.types.LongType, org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.ShortType, org.apache.spark.sql.types.ByteType)
      .contains(docs.schema(idCol).dataType),
      s"spanContainment's partner tie-break needs an integral '$idCol' column")
    val spans = duplicateSpans(docs, n, maxOcc, idCol, textCol)
    val sides = spans.select(col("id_a").as(idCol), col("id_b").as("partner_id"),
        col("start_a").cast("long").as("__s"), (col("start_a") + col("n_tokens")).as("__e"))
      .unionByName(spans.select(col("id_b").as(idCol), col("id_a").as("partner_id"),
        col("start_b").cast("long").as("__s"), (col("start_b") + col("n_tokens")).as("__e")))
    val ord = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol), col("partner_id")).orderBy(col("__s"), col("__e"))
    val cov = sides
      .withColumn("__pmax", max(col("__e")).over(
        ord.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)))
      .withColumn("__grp", sum(
        when(col("__pmax").isNull || col("__s") > col("__pmax"), 1L).otherwise(0L)).over(
        ord.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy(col(idCol), col("partner_id"), col("__grp"))
      .agg((max(col("__e")) - min(col("__s"))).as("__len"))
      .groupBy(idCol, "partner_id").agg(sum("__len").as("covered_tokens"))
    // smallest-partner tie-break via bitwise complement, NOT negation:
    // ~x is a total order-reversing bijection on the full long range
    // (negation overflows at Long.MinValue, silently breaking the
    // preference for the most-negative partner id)
    val best = cov
      .groupBy(idCol)
      .agg(max(struct(col("covered_tokens"), bitwise_not(col("partner_id")).as("__np"))).as("__b"))
      .select(col(idCol), col("__b.covered_tokens").as("covered_tokens"),
        bitwise_not(col("__b.__np")).as("partner_id"))
    fullHashBase(docs, idCol, textCol)
      .select(col(idCol), size(col("__fh")).cast("long").as("n_tokens"))
      .join(best, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"), col("partner_id"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        round(when(col("n_tokens") > 0,
          coalesce(col("covered_tokens"), lit(0L)).cast("double") / col("n_tokens"))
          .otherwise(lit(0.0d)), 6).as("containment_frac"))
  }

  /** Span-level dedup: rebuild the corpus with every duplicated span
    * excised from the HIGHER-id document of its pair (keep-first by id —
    * applied transitively, each duplicated passage survives only in the
    * lowest-id document carrying it). This is [[duplicateSpans]] made
    * actionable: Lee et al.'s remedy is removing the repeated substring,
    * not dropping documents that are otherwise unique.
    *
    * Output `(id, clean_text, n_removed)` — `clean_text` is the kept
    * tokens of the NORMALIZED text rejoined with single spaces (the same
    * token stream the spans index into; raw-whitespace fidelity is not
    * preserved, by design), `n_removed` the count of excised token
    * positions. Documents with no spans pass through with `n_removed` 0.
    *
    * Shape at 100 TB: span intervals explode to removed (id, pos) rows —
    * bounded by total duplicated tokens, not corpus size — and anti-join
    * the positional token stream (~|corpus tokens| rows, the `doc_freq`
    * shape); reassembly is one groupBy with an array_sort on (pos, token)
    * structs, partial-aggregated map-side. Nothing corpus-sized sorts
    * globally and the only corpus-wide shuffles are the token-stream
    * groupBy and duplicateSpans' own gram join.
    */
  def exciseSpans(docs: DataFrame, n: Int = 8, maxOcc: Int = 64,
                  idCol: String = "doc_id", textCol: String = "text",
                  includeIntra: Boolean = false): DataFrame = {
    // includeIntra folds within-document repeats in through the COMBINED
    // single-join path (one gram self-join, one islands pass, one verify
    // for both families): the LATER occurrence of each intra span excises
    // (keep-first inside the document, the same rule the cross-document
    // side applies across ids) — and the id_b/start_b side names the
    // excised position for cross and intra rows alike
    val spans = if (includeIntra) duplicateSpansCombined(docs, n, maxOcc, idCol, textCol)
      else duplicateSpans(docs, n, maxOcc, idCol, textCol)
    val removed = spanPositions(spans, "id_b", "start_b", idCol)
      .distinct() // overlapping spans may name a position twice
    exciseAt(docs, removed, idCol, textCol)
  }

  /** One (id, pos) row per token position a span frame excises — the
    * explicit removal set both excision paths anti-join against.
    */
  private def spanPositions(spans: DataFrame, spanIdCol: String, startCol: String,
                            idCol: String): DataFrame =
    spans.select(col(spanIdCol).as(idCol),
      explode(sequence(col(startCol),
        col(startCol) + col("n_tokens").cast("int") - 1)).as("pos"))

  /** Token-level rebuild shared by [[exciseSpans]] and
    * [[advanceSpanBaseline]]'s fold: drop the `removed` (id, pos) token
    * positions and reassemble each document's surviving tokens in order.
    * `removed` must already be distinct. Output (id, clean_text,
    * n_removed) — one row per input document, zero-removal documents pass
    * through.
    */
  private def exciseAt(docs: DataFrame, removed: DataFrame,
                       idCol: String, textCol: String): DataFrame = {
    val toks = docs
      .select(col(idCol), posexplode(tokens(normalizeText(col(textCol)))))
      .withColumnRenamed("col", "tok")
    val rebuilt = toks.join(removed, Seq(idCol, "pos"), "left_anti")
      .groupBy(idCol)
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("tok")))), _("tok")),
        " ").as("clean_text"))
    val removedCounts = removed.groupBy(idCol).agg(count(lit(1)).as("n_removed"))
    docs.select(col(idCol))
      .join(rebuilt, Seq(idCol), "left")
      .join(removedCounts, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"))
  }

  /** Paragraph-level exact dedup, keep-first — the line/paragraph-dedup
    * stage of web-corpus pipelines (CCNet dedups shard-wise by paragraph
    * hash, MassiveText/Gopher removes repeated lines), generalized to any
    * delimiter. A paragraph whose NORMALIZED text already occurred at a
    * smaller (doc, position) — in any document, including earlier in the
    * same one — is removed, and every document is rebuilt from its
    * surviving paragraphs in original order. Granularity sits between
    * document-level [[exact]] (whole-text fingerprint) and token-level
    * [[exciseSpans]] (delimiter-free maximal runs), and it is the cheapest
    * of the three: one fingerprint per paragraph, no positional gram
    * stream.
    *
    * Scale shape (the span-family shuffle policy: hashes and positions,
    * never text). The winner per fingerprint is one map-side-combined
    * `min_by` over (id, pos); the winner join runs on (fp, id, pos)
    * triples. Paragraph TEXT crosses an exchange exactly once — the
    * rebuild groupBy — and the removed-position set the rebuild anti-joins
    * against is bounded by duplicated paragraph INSTANCES, so AQE
    * broadcasts it when duplication is sparse. Paragraphs that normalize
    * to empty (blank separators) are structure, not content — deduping
    * them would collapse every blank line corpus-wide into one — so they
    * always survive and never enter the winner aggregate.
    *
    * Output: one row per input document — (id, clean_text, n_removed),
    * where n_removed counts removed paragraph instances.
    */
  def dedupParagraphs(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text", delim: String = "\n"): DataFrame = {
    require(delim.nonEmpty, "need a non-empty paragraph delimiter")
    val paras = explodedParas(docs, idCol, textCol, delim)
    val content = contentFps(paras, idCol)
    val removed = content
      .join(paraWinners(content, idCol), Seq("fp"))
      .filter(col(idCol) =!= col("wid") || col("pos") =!= col("wpos"))
      .select(col(idCol), col("pos"))
    rebuildWithoutRemoved(docs, paras, removed, idCol, delim)
  }

  /** One (id, pos, para, __norm) row per delimiter-split paragraph;
    * `-1` split limit keeps trailing empties so rebuild is faithful.
    */
  private def explodedParas(docs: DataFrame, idCol: String, textCol: String,
                            delim: String): DataFrame = docs
    .select(col(idCol),
      posexplode(split(col(textCol), java.util.regex.Pattern.quote(delim), -1)))
    .select(col(idCol), col("pos"), col("col").as("para"))
    .withColumn("__norm", normalizeText(col("para")))

  /** Content (non-blank) paragraph instances as (id, pos, fp) — the only
    * shape the winner/removal joins ever shuffle.
    */
  private def contentFps(paras: DataFrame, idCol: String): DataFrame =
    paras.filter(length(col("__norm")) > 0)
      .select(col(idCol), col("pos"), md5(col("__norm")).as("fp"))

  /** First (id, pos) per fingerprint — one map-side-combined min_by. */
  private def paraWinners(content: DataFrame, idCol: String): DataFrame =
    content.groupBy("fp")
      .agg(min_by(struct(col(idCol).as("wid"), col("pos").as("wpos")),
        struct(col(idCol), col("pos"))).as("__w"))
      .select(col("fp"), col("__w.wid").as("wid"), col("__w.wpos").as("wpos"))

  /** Anti-join the removed positions, reassemble per document (the one
    * exchange paragraph TEXT crosses), emit one row per input document.
    */
  private def rebuildWithoutRemoved(docs: DataFrame, paras: DataFrame, removed: DataFrame,
                                    idCol: String, delim: String): DataFrame = {
    val rebuilt = paras.select(col(idCol), col("pos"), col("para"))
      .join(removed, Seq(idCol, "pos"), "left_anti")
      .groupBy(idCol)
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("para")))), _("para")),
        delim).as("clean_text"))
    val removedCounts = removed.groupBy(idCol).agg(count(lit(1)).as("n_removed"))
    docs.select(col(idCol))
      .join(rebuilt, Seq(idCol), "left")
      .join(removedCounts, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"))
  }

  /** Inter-run twin of [[dedupParagraphs]]: a paragraph in the INCOMING
    * batch is removed when its normalized form already exists anywhere in
    * the BASELINE corpus, or earlier within the batch itself (keep-first
    * inside the batch, same rule as the batch variant) — the nightly-crawl
    * shape: yesterday's corpus is settled, only new documents are
    * rewritten. Output is one row per incoming document, identical schema
    * to [[dedupParagraphs]].
    *
    * Scale shape: the baseline reduces to DISTINCT paragraph fingerprints
    * before it crosses any exchange (the [[dedupAgainstBaseline]]
    * pattern — never baseline text, never baseline positions), and the
    * batch-internal winner aggregate is the batch variant's (fp, id, pos)
    * shuffle. Incoming paragraph text still moves exactly once, in the
    * rebuild groupBy.
    */
  def dedupParagraphsAgainstBaseline(incoming: DataFrame, baseline: DataFrame,
                                     idCol: String = "doc_id", textCol: String = "text",
                                     delim: String = "\n"): DataFrame = {
    require(delim.nonEmpty, "need a non-empty paragraph delimiter")
    val paras = explodedParas(incoming, idCol, textCol, delim)
    val content = contentFps(paras, idCol)
    val basFp = explodedParas(baseline, idCol, textCol, delim)
      .filter(length(col("__norm")) > 0)
      .select(md5(col("__norm")).as("fp")).distinct()
    val removedIntra = content
      .join(paraWinners(content, idCol), Seq("fp"))
      .filter(col(idCol) =!= col("wid") || col("pos") =!= col("wpos"))
      .select(col(idCol), col("pos"))
    val removedCross = content
      .join(basFp, Seq("fp"), "left_semi")
      .select(col(idCol), col("pos"))
    val removed = removedIntra.unionByName(removedCross).distinct()
    rebuildWithoutRemoved(incoming, paras, removed, idCol, delim)
  }

  /** Boilerplate-line removal by DOCUMENT FREQUENCY — the web-corpus
    * hygiene pass distinct from keep-first [[dedupParagraphs]]: a
    * paragraph whose normalized form appears in at least `minDf` DISTINCT
    * documents is navigation/footer/cookie-banner furniture, and EVERY
    * occurrence is removed — including the first (keep-first dedup would
    * preserve one copy of the cookie banner forever; CCNet/RefinedWeb-
    * style pipelines drop them all). Frequency is per-DOCUMENT, not
    * per-instance: a paragraph repeated five times inside one document
    * has df = 1 and survives (that is intra-doc repetition —
    * [[gramRepetition]] territory), so the two signals stay orthogonal.
    *
    * Scale shape (the span-family shuffle policy: hashes and positions,
    * never text). The df count reduces (fp, id) pairs to DISTINCT before
    * counting — two map-side-combined hash aggregates, nothing
    * text-sized; the surviving hot-fingerprint set is bounded by the
    * number of genuinely corpus-wide paragraphs (boilerplate, by
    * definition small), so AQE broadcasts the removal semi-join.
    * Paragraph text crosses exactly one exchange, the rebuild groupBy.
    * Blank paragraphs are structure and never removed, exactly as in
    * [[dedupParagraphs]].
    *
    * Output: one row per input document — (id, clean_text, n_removed),
    * the paragraph-family schema.
    */
  def stripBoilerplate(docs: DataFrame, minDf: Int = 3, idCol: String = "doc_id",
                       textCol: String = "text", delim: String = "\n"): DataFrame = {
    require(minDf >= 2, "a boilerplate threshold below 2 would empty the corpus")
    require(delim.nonEmpty, "need a non-empty paragraph delimiter")
    val paras = explodedParas(docs, idCol, textCol, delim)
    val content = contentFps(paras, idCol)
    val hot = content.select(col("fp"), col(idCol)).distinct()
      .groupBy("fp").agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minDf)
      .select(col("fp"))
    val removed = content.join(hot, Seq("fp"), "left_semi")
      .select(col(idCol), col("pos"))
    rebuildWithoutRemoved(docs, paras, removed, idCol, delim)
  }

  /** Winnowing near-dup pairs: candidates share a sketch hash (equi join on
    * the hash — never all pairs; hot sketch hashes capped like LSH
    * buckets), then exact shingle-Jaccard verification. Detects documents
    * with long shared passages that MinHash banding can miss when overall
    * resemblance is low.
    */
  def winnow(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
             shingleN: Int = 3, w: Int = 4, threshold: Double = 0.3,
             maxBucket: Int = 1000): DataFrame = {
    val base = persistedBase(docs, idCol, textCol, Nil, shingleN)
    val ex = base.select(col(idCol), explode(winnowSketch(col("sh"), w)).as("wh"))
    val capped = capBuckets(ex, Seq("wh"), maxBucket)
    val l = capped.select(col("wh"), col(idCol).as("id_a"))
    val r = capped.select(col("wh"), col(idCol).as("id_b"))
    val cand = l.join(r, Seq("wh"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").dropDuplicates("id_a", "id_b")
    verifyJaccard(cand, base, idCol, threshold)
  }

  /** End-to-end near-dup collapse: the full corpus minus every
    * non-canonical cluster member — each near-duplicate CLUSTER (from
    * `dedupClusters` over any pair source) keeps exactly its minimum-id
    * row. The winner set is |clusters| ids, broadcast-joinable back
    * against the corpus under AQE.
    */
  def survivors(docs: DataFrame, pairs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val winners = dedupClusters(docs, pairs, idCol)
      .filter(col(idCol) === col("cluster_id"))
      .select(idCol)
    docs.join(winners, Seq(idCol), "left_semi")
  }

  /** N-gram Jaccard near-dup: candidates from MinHash-LSH *within* a cheap
    * blocking key (language), verified with exact shingle-set Jaccard. The
    * block column narrows LSH collisions across languages; the LSH banding
    * keeps pair counts linear in corpus size (the round-1 all-pairs-per-block
    * variant was quadratic in block size).
    */
  def ngramJaccard(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
                   langCol: String = "lang", shingleN: Int = 3,
                   k: Int = 32, bands: Int = 16, threshold: Double = 0.5,
                   maxBucket: Int = 1000): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val base = persistedBase(docs, idCol, textCol, Seq("__blk" -> col(langCol)), shingleN)
    val cand = lshCandidates(base, idCol, Seq("__blk"), k, bands, maxBucket)
    verifyJaccard(cand, base, idCol, threshold)
  }
}
