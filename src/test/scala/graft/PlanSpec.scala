package graft

/** Plan hygiene across the ENTIRE registry: no query may plan a
  * CartesianProduct — every pair-generating operator must go through an
  * equi join (LSH buckets, band keys, blocking) or an explicit broadcast.
  * This is the executable form of the 100 TB design rule.
  */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("no registered query plans a CartesianProduct") {
    val offenders = Queries.registry.flatMap { case (name, q, _) =>
      val plan = q(spark, dir).queryExecution.executedPlan.toString
      if (plan.contains("CartesianProduct")) Some(name) else None
    }
    assert(offenders.isEmpty, s"cartesian plans: $offenders")
  }

  test("address assembly broadcasts its small dimension sides") {
    val plan = Queries.registry.collectFirst { case ("address_assembly", q, _) => q }
      .get(spark, dir).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast joins in:\n$plan")
  }

  test("address_assembly: the latest-per-key payload prunes to the consumed orders columns") {
    // Shape 1b (Project over Filter over Aggregate) was written FOR this
    // query — lock the narrowed field set on the graded plan itself. The
    // assembly consumes o_custkey (key/join), o_orderkey (join), the
    // o_orderstatus filter, and the o_orderpriority vocab join; everything
    // else (comment, clerk, totalprice, shippriority, orderdate) must be
    // out of the max_by payload, carried only by the ordering argument.
    import org.apache.spark.sql.catalyst.expressions.CreateNamedStruct
    import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, MaxBy}
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    val q = Queries.registry.collectFirst { case ("address_assembly", qq, _) => qq }
      .get(spark, dir)
    val payloads = q.queryExecution.optimizedPlan.collect { case a: Aggregate => a }
      .flatMap(_.aggregateExpressions)
      .flatMap(_.collect { case ae: AggregateExpression => ae.aggregateFunction })
      .collect { case mb: MaxBy => mb.valueExpr }
      .collect { case s: CreateNamedStruct => s.names.map(_.toString).toSet }
    assert(payloads.nonEmpty, "no max_by aggregate in the assembly plan")
    val fields = payloads.head
    assert(fields == Set("o_custkey", "o_orderkey", "o_orderstatus", "o_orderpriority"),
      s"assembly payload not pruned to the consumed set: $fields")
  }

  test("per-key dedup queries aggregate — no whole-table Window sort may reappear") {
    // latestPerKey/firstWinsDedup/exact are max_by/min_by aggregates whose
    // shuffle carries ~|keys|; a row_number Window (shuffle-sorts the whole
    // table) sneaking back in is a 100 TB regression, caught here
    for (name <- Seq("latest_per_key", "first_wins_dedup", "exact_dedup")) {
      val plan = Queries.registry.collectFirst { case (`name`, q, _) => q }
        .get(spark, dir).queryExecution.executedPlan.toString
      assert(!plan.contains("Window"), s"$name plans a Window:\n$plan")
      assert(plan.contains("Aggregate"), s"$name lost its aggregate:\n$plan")
    }
  }

  test("topk_per_key aggregates with the bounded TopKAgg — no whole-partition Window sort") {
    // groupBy + udaf keeps per-key state bounded at k rows and combines
    // map-side; a row_number Window would shuffle-sort EVERY lineitem row
    // within its key partition — the shuffle carries |rows|, not |keys|·k
    val plan = Queries.registry.collectFirst { case ("topk_per_key", q, _) => q }
      .get(spark, dir).queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"topk_per_key plans a Window sort:\n$plan")
    assert(plan.contains("Aggregate"), s"topk_per_key lost its aggregate:\n$plan")
    assert(plan.contains("partial_topkagg"), s"no map-side partial TopKAgg in:\n$plan")
  }

  test("decontaminate and mix_apply broadcast their small sides") {
    // decontaminate: the benchmark gram set must broadcast (the corpus is
    // never shuffled on content); mix_apply: the |strata| ppm-weight frame
    // must broadcast back over the corpus
    for (name <- Seq("decontaminate", "mix_apply")) {
      val plan = Queries.registry.collectFirst { case (`name`, q, _) => q }
        .get(spark, dir).queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"), s"$name has no broadcast join:\n$plan")
    }
  }

  test("pack_sequences shuffles once on the stream column — no global sort") {
    val plan = Queries.registry.collectFirst { case ("pack_sequences", q, _) => q }
      .get(spark, dir).queryExecution.executedPlan.toString
    // exactly one exchange: hash-partition by stream for the per-stream
    // window. A range partition (global sort) would serialize all streams.
    val exchanges = plan.linesIterator.count(_.contains("Exchange"))
    assert(exchanges === 1, s"expected 1 exchange, plan:\n$plan")
    assert(!plan.contains("rangepartitioning"), s"global sort in:\n$plan")
  }

  test("scans prune columns: q1_agg reads only the needed lineitem columns") {
    val plan = Queries.registry.collectFirst { case ("q1_agg", q, _) => q }
      .get(spark, dir).queryExecution.executedPlan.toString
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_returnflag") && !readSchema.contains("l_shipdate"),
      s"column pruning failed: $readSchema")
  }

  test("the shared image-fingerprint layer backs every perceptual consumer's plan") {
    // the layer memo is by REFERENCE (RDD-bridge plans never canonicalize
    // equal, so CacheManager substitution can't fire — the reason the memo
    // exists); the assert is that each graded consumer's plan reads an
    // InMemoryRelation rather than re-running its own decode bridge
    for (name <- Seq("mm_near_dup", "inc_mm_near_dup", "mm_evolve", "mm_semantic_dedup")) {
      val df = Queries.registry.collectFirst { case (`name`, q, _) => q }.get(spark, dir)
      assert(df.queryExecution.withCachedData.toString.contains("InMemoryRelation"),
        s"$name did not read the shared grid layer:\n${df.queryExecution.withCachedData}")
    }
  }

  test("url_dedup prunes the scan to doc_id and aggregates map-side") {
    // the url fixture synthesizes from doc_id alone, so the parquet scan
    // must not read text (the wide column) — on a real corpus the same
    // pruning reads only the url column; and the keep-first groupBy must
    // plan partial+final HashAggregate (map-side combine), the shape that
    // makes the canonical-key shuffle carry one row per key per partition
    val plan = Queries.registry.collectFirst { case ("url_dedup", q, _) => q }
      .get(spark, dir).queryExecution.executedPlan.toString
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("doc_id") && !readSchema.contains("text"),
      s"column pruning failed: $readSchema")
    assert("HashAggregate".r.findAllIn(plan).size >= 2, s"no partial aggregation:\n$plan")
  }

  test("curation_pipeline_v2: the url gate scans prune; no text attribute rides any shuffle") {
    // stage 1's survivor-id aggregate (Dedup.urlDedup, verbatim the v2
    // entry stage) must come from a scan pruned to (id, url) — never the
    // wide text column; asserted on the stage's own plan because the
    // composed pipeline cuts lineage at the exact-dedup seam (the
    // localCheckpoint in runV2), so upstream scans don't appear in the
    // final executed plan.
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.functions.{col, concat, lit}
    def allNodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => allNodes(a.executedPlan)
      case q: QueryStageExec => q +: allNodes(q.plan)
      case other => other +: other.children.flatMap(allNodes)
    }
    val gate = operators.Dedup.urlDedup(
      sources.Tables.documents(spark, dir)
        .withColumn("url", concat(lit("https://x.example.com/"), col("doc_id"))))
      .select(col("doc_id"))
    gate.collect()
    val gateScans = allNodes(gate.queryExecution.executedPlan)
      .collect { case f: FileSourceScanExec => f }
    assert(gateScans.nonEmpty &&
        gateScans.forall(s => !s.requiredSchema.fieldNames.contains("text")),
      s"url gate reads text:\n${gateScans.map(_.requiredSchema.catalogString).mkString("\n")}")
    // the composed pipeline: everything heavy sits behind the two
    // materialized layers (the cut means NO file scan survives to the
    // final plan), and none of the final assembly's exchanges — cluster
    // distinct, keep-best aggregate, survivor join — carries text
    val df = Queries.registry.collectFirst { case ("curation_pipeline_v2", q, _) => q }
      .get(spark, dir)
    df.collect()
    val nodes = allNodes(df.queryExecution.executedPlan)
    assert(nodes.collect { case f: FileSourceScanExec => f }.isEmpty,
      "a file scan leaked above the pipeline's lineage cut")
    val shuffles = nodes.collect { case s: ShuffleExchangeLike => s }
    assert(shuffles.nonEmpty, "expected at least one shuffle")
    for (s <- shuffles)
      assert(!s.output.exists(_.name == "text"),
        s"document text rides a v2 shuffle: ${s.output.map(_.name)}")
  }

  test("curation_pipeline_v3: the rank-prior join is id-keyed — no text on any exchange") {
    // the centrality gate joins (doc_id) × (doc_id, rank_micro) on the
    // url-survivor spine and the final attach joins the same spine back on
    // the survivor ids — by construction neither side carries text, and
    // nothing the prior adds may widen any exchange: assert the composed
    // plan keeps every shuffle text-free and nothing leaks above the
    // pipeline's lineage cut (the v2 invariants, preserved under v3)
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    def allNodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => allNodes(a.executedPlan)
      case q: QueryStageExec => q +: allNodes(q.plan)
      case other => other +: other.children.flatMap(allNodes)
    }
    val df = Queries.registry.collectFirst { case ("curation_pipeline_v3", q, _) => q }
      .get(spark, dir)
    val rows = df.collect()
    assert(rows.nonEmpty && df.columns.contains("rank_micro"))
    val nodes = allNodes(df.queryExecution.executedPlan)
    assert(nodes.collect { case f: FileSourceScanExec => f }.isEmpty,
      "a file scan leaked above the pipeline's lineage cut")
    val shuffles = nodes.collect { case s: ShuffleExchangeLike => s }
    for (s <- shuffles)
      assert(!s.output.exists(_.name == "text"),
        s"document text rides a v3 shuffle: ${s.output.map(_.name)}")
  }

  test("curation_pipeline_v4: the domain tail is survivor-sized — no text or url on any exchange") {
    // v4's cap stage re-reads the SOURCE for its (id, url)→domain
    // projection (deliberately above the lineage cut: the domain join is
    // survivor-sized, far cheaper than carrying url through the pipeline),
    // so unlike v2/v3 a file scan IS expected in the final plan — but it
    // must be pruned to the projection's needs (never text), and the
    // domain window's exchange must carry the computed eTLD+1 stratum,
    // not the raw url and never text
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    def allNodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => allNodes(a.executedPlan)
      case q: QueryStageExec => q +: allNodes(q.plan)
      case other => other +: other.children.flatMap(allNodes)
    }
    val df = Queries.registry.collectFirst { case ("curation_pipeline_v4", q, _) => q }
      .get(spark, dir)
    val rows = df.collect()
    assert(rows.nonEmpty && df.columns.contains("domain")
      && df.columns.contains("rank_in_domain"))
    val nodes = allNodes(df.queryExecution.executedPlan)
    val scans = nodes.collect { case f: FileSourceScanExec => f }
    assert(scans.forall(s => !s.requiredSchema.fieldNames.contains("text")),
      s"the domain projection reads text:\n${scans.map(_.requiredSchema.catalogString).mkString("\n")}")
    val shuffles = nodes.collect { case s: ShuffleExchangeLike => s }
    assert(shuffles.nonEmpty, "expected the domain window exchange")
    for (s <- shuffles; bad <- Seq("text", "url"))
      assert(!s.output.exists(_.name == bad),
        s"$bad rides a v4 shuffle: ${s.output.map(_.name)}")
  }

  test("quality_score stays one whole-stage-codegen span — no interpreted projection") {
    // The signal stage is the native QualitySignalsExpr (one pass over one
    // split) plus codegen'd regex counts; a CodegenFallback expression
    // sneaking back in (e.g. a higher-order filter) re-splits the
    // interpreted/compiled boundary and re-tokenizes per signal. Assert no
    // ProjectExec executes outside WholeStageCodegen.
    import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec, SparkPlan}
    val exec = operators.TextAnalysis.qualityScore(sources.Tables.documents(spark, dir))
      .queryExecution.executedPlan
    def bare(p: SparkPlan, inCodegen: Boolean): Seq[ProjectExec] = p match {
      case w: WholeStageCodegenExec => w.children.flatMap(bare(_, inCodegen = true))
      case pr: ProjectExec if !inCodegen => pr +: pr.children.flatMap(bare(_, inCodegen = false))
      case other => other.children.flatMap(bare(_, inCodegen))
    }
    val offenders = bare(exec, inCodegen = false)
    assert(offenders.isEmpty, s"interpreted projections:\n${offenders.mkString("\n")}\nplan:\n$exec")
  }

  test("the shared token-hash layer is substituted into every dedup family's plan") {
    // winnow / ngram_jaccard / simhash all derive from ONE guarded-persisted
    // (id, __fh) frame (Dedup.fullHashBase) — the round-12 extension of the
    // sharedLshPairs idiom down to the tokenize+md5 layer. Materialize the
    // layer once, then assert a freshly built plan from each family
    // resolves it from cache (CacheManager substitution by canonicalized
    // plan) instead of re-scanning and re-hashing the corpus.
    val fh = operators.Dedup.fullHashBase(
      sources.Tables.documents(spark, dir), "doc_id", "text")
    fh.count() // materialize the shared layer
    try {
      val plans = Seq(
        "simhash" -> operators.Dedup.simhash(sources.Tables.documents(spark, dir)),
        "ngram_jaccard" -> operators.Dedup.ngramJaccard(
          sources.Tables.documents(spark, dir), shingleN = 2, k = 32, bands = 16, threshold = 0.3),
        "winnow" -> operators.Dedup.winnow(sources.Tables.documents(spark, dir)),
        "gram_repetition" -> operators.TextAnalysis.gramRepetition(
          sources.Tables.documents(spark, dir)))
      for ((name, df) <- plans)
        assert(df.queryExecution.withCachedData.toString.contains("InMemoryRelation"),
          s"$name did not substitute the shared token-hash layer:\n${df.queryExecution.withCachedData}")
    } finally SparkEntry.releaseSharedCaches()
  }

  test("the shared token-string layer is substituted into every text family's plan") {
    // docFrequency / chunkTokens / collocations / the tfidf-unigram term
    // frame all derive from ONE guarded-persisted (id, __tok) frame
    // (TextAnalysis.tokenBase) — the string-domain sibling of the r12
    // token-hash layer. Materialize the layer once, then assert a freshly
    // built plan from each consumer resolves it from cache instead of
    // re-tokenizing the corpus.
    val tb = operators.TextAnalysis.tokenBase(
      sources.Tables.documents(spark, dir), "doc_id", "text")
    tb.count() // materialize the shared layer
    try {
      val plans = Seq(
        "doc_frequency" -> operators.TextAnalysis.docFrequency(
          sources.Tables.documents(spark, dir)),
        "chunk_tokens" -> operators.TextAnalysis.chunkTokens(
          sources.Tables.documents(spark, dir)),
        "collocations" -> operators.TextAnalysis.collocations(
          sources.Tables.documents(spark, dir), minCount = 2, k = 10),
        "tfidf_top_terms" -> operators.TextAnalysis.tfidfTopTerms(
          sources.Tables.documents(spark, dir), k = 3))
      for ((name, df) <- plans)
        assert(df.queryExecution.withCachedData.toString.contains("InMemoryRelation"),
          s"$name did not substitute the shared token-string layer:\n${df.queryExecution.withCachedData}")
    } finally SparkEntry.releaseSharedCaches()
  }

  test("id-map plans canonicalize stably across invocations — empty() and the entity cache") {
    // The r13 one-pass extend rests on cross-invocation cache reuse, which
    // rests on canonical plan stability. IdMap.empty is the foundation: an
    // emptyRDD-backed frame canonicalizes by RDD IDENTITY, making every
    // invocation plan-distinct and silently defeating reuse for every plan
    // the map participates in (the r12 regression's root cause). Pin both
    // layers: (1) two empty() calls canonical-match; (2) after one
    // extendAndEncode, a REBUILT equal entity plan resolves to the cached
    // entry — Dataset.storageLevel consults the CacheManager by
    // canonicalized plan, so this fails if either layer regresses.
    assert(
      operators.IdMap.empty(spark).queryExecution.analyzed.canonicalized ==
        operators.IdMap.empty(spark).queryExecution.analyzed.canonicalized,
      "IdMap.empty must produce canonically equal plans across invocations")
    import org.apache.spark.sql.functions.col
    val entity = () => sources.Tables.part(spark, dir)
      .select(col("p_name").as("k")).filter(col("k").isNotNull)
    val (enc, map) = operators.IdMap.extendAndEncode(
      operators.IdMap.empty(spark), entity(), "k")
    map.count(); enc.count()
    try {
      assert(entity().storageLevel != org.apache.spark.storage.StorageLevel.NONE,
        "a rebuilt equal entity plan did not resolve to the cached entry")
      assert(enc.queryExecution.withCachedData.toString.contains("InMemoryRelation"),
        s"encode does not read the entity through its cache:\n${enc.queryExecution.withCachedData}")
    } finally SparkEntry.releaseSharedCaches() // entity + delta entries
  }

  test("the minhash pair graph is persisted once and equal rebuilds hit the cache") {
    // minhash_lsh, cluster_dedup and dedup_keep_best all derive their pair
    // frame from one guarded-persist construction (sharedLshPairs). The
    // clustering queries consume it EAGERLY (localCheckpoint + size-gated
    // union-find at build time), so the reuse can't be read off their final
    // plans — assert the mechanism instead: after one materialization, a
    // freshly REBUILT equal plan must resolve to the cached InMemoryRelation
    // (CacheManager substitution by canonicalized plan), which is exactly
    // what the other two queries' constructions trigger.
    val pairs = Queries.registry.collectFirst { case ("minhash_lsh", q, _) => q }
      .get(spark, dir)
    pairs.count() // materialize the shared cache entry
    try {
      val rebuilt = Queries.registry.collectFirst { case ("minhash_lsh", q, _) => q }
        .get(spark, dir)
      assert(rebuilt.queryExecution.withCachedData.toString.contains("InMemoryRelation"),
        s"rebuilt pair plan not substituted from cache:\n${rebuilt.queryExecution.withCachedData}")
    } finally SparkEntry.releaseSharedCaches()
  }

  test("span-family shuffles carry hashes and positions, never a document text column") {
    // the gram stream is (id, pos, g) and verification joins hash ARRAYS —
    // if a refactor ever lets the full `text` column ride a shuffle, the
    // operator stops surviving 100 TB. FINALIZED plans only: collect()
    // first, then walk through AQE wrappers and materialized query stages
    // (docs/SCALE.md plan-probe technique).
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    def allNodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => allNodes(a.executedPlan)
      case q: QueryStageExec => q +: allNodes(q.plan)
      case other => other +: other.children.flatMap(allNodes)
    }
    for (name <- Seq("dup_spans", "span_coverage", "excise_spans", "inc_dup_spans")) {
      val df = Queries.registry.collectFirst { case (`name`, q, _) => q }.get(spark, dir)
      df.collect()
      val shuffles = allNodes(df.queryExecution.executedPlan)
        .collect { case s: ShuffleExchangeLike => s }
      assert(shuffles.nonEmpty, s"$name: expected at least one shuffle")
      for (s <- shuffles)
        assert(!s.output.exists(_.name == "text"),
          s"$name shuffles document text: ${s.output.map(_.name)}")
    }
  }

  test("perceptual-family shuffles carry 64-bit fingerprints, never media bytes") {
    // decode happens inside the RDD-bridge fingerprint pass; everything
    // downstream — band explode, candidate join, pair dedup, hamming
    // verify — exchanges only longs (band, chunk, doc_id, phash). If a
    // refactor ever lets the BINARY payload ride a shuffle, the operator
    // stops surviving 100 TB of media. (mm_near_dup_stream is excluded:
    // a foreachBatch harness, not one inspectable plan — it runs the
    // same nearDupAgainstBaseline body inc_mm_near_dup asserts here.)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    // descends into cached relations' BUILD plans: mm_near_dup now
    // returns the guard-persisted shared pair frame (the sharedLshPairs
    // idiom), so its shuffles live inside the InMemoryRelation
    def allNodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => allNodes(a.executedPlan)
      case q: QueryStageExec => q +: allNodes(q.plan)
      case im: InMemoryTableScanExec => im +: allNodes(im.relation.cachedPlan)
      case other => other +: other.children.flatMap(allNodes)
    }
    for (name <- Seq("mm_near_dup", "mm_near_dup_audio", "inc_mm_near_dup")) {
      val df = Queries.registry.collectFirst { case (`name`, q, _) => q }.get(spark, dir)
      df.collect()
      val shuffles = allNodes(df.queryExecution.executedPlan)
        .collect { case s: ShuffleExchangeLike => s }
      assert(shuffles.nonEmpty, s"$name: expected at least one shuffle")
      for (s <- shuffles)
        assert(!s.output.exists(a => a.name == "media" ||
            a.dataType == org.apache.spark.sql.types.BinaryType),
          s"$name shuffles media bytes: ${s.output.map(a => s"${a.name}:${a.dataType}")}")
    }
  }

  test("span_coverage counts coverage arithmetically — no per-position explode beyond dup_spans") {
    // coverage = per-doc interval merge over the span frame; the pre-r17
    // form exploded O(duplicated tokens × multiplicity) position rows
    // before a distinct. The only generators allowed are the gram-stream
    // (and rare-path reverify) explodes duplicateSpans itself plans — the
    // coverage tail must add ZERO on top of dup_spans' own count.
    import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def allNodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => allNodes(a.executedPlan)
      case q: QueryStageExec => q +: allNodes(q.plan)
      case other => other +: other.children.flatMap(allNodes)
    }
    def generates(name: String): Int = {
      val df = Queries.registry.collectFirst { case (`name`, q, _) => q }.get(spark, dir)
      df.collect()
      allNodes(df.queryExecution.executedPlan).count(_.isInstanceOf[GenerateExec])
    }
    val base = generates("dup_spans")
    val cov = generates("span_coverage")
    assert(cov == base,
      s"span_coverage plans $cov Generate nodes vs dup_spans' $base — the interval merge regressed to an explode")
  }

  test("training_order is ONE fused Catalyst plan: no RDD hop, no global sort, narrow pack exchange") {
    // excise→shuffle→pack composed: the shuffle stage contributes only its
    // KEY (the pack window orders by it), so the plan must contain no
    // ExistingRDD scan (shuffleOrder's zipWithIndex hop) and no range
    // partitioning (the global-sort form of ordering). The pack window's
    // exchange carries exactly (id, shuffle_key, source, n_tokens) —
    // tokenization of clean_text happens BEFORE the exchange, so document
    // text never rides a shuffle. Finalized-plan shuffle count pinned at 5
    // (pack window, rebuild groupBy, token-stream anti-join, removed
    // positions, islands window — the gram join reads the guard-persisted
    // capped stream, and the verify sides broadcast at this scale); caches
    // are released first so the count is measured from a cold plan.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    def allNodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => allNodes(a.executedPlan)
      case q: QueryStageExec => q +: allNodes(q.plan)
      case other => other +: other.children.flatMap(allNodes)
    }
    SparkEntry.releaseSharedCaches()
    val df = Queries.registry.collectFirst { case ("training_order", q, _) => q }.get(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan
    assert(!plan.toString.contains("ExistingRDD"), "fused plan must not exit Catalyst through an RDD hop")
    val shuffles = allNodes(plan).collect { case s: ShuffleExchangeLike => s }
    assert(shuffles.size == 5, s"fused DAG shuffle count changed: ${shuffles.size}\n$plan")
    for (s <- shuffles) {
      assert(!s.outputPartitioning.toString.toLowerCase.startsWith("range"),
        s"global sort in fused plan: ${s.outputPartitioning}")
      assert(!s.output.exists(a => a.name == "text" || a.name == "clean_text"),
        s"document text rides a shuffle: ${s.output.map(_.name)}")
    }
    val pack = shuffles.filter(_.output.map(_.name).toSet ==
      Set("doc_id", "shuffle_key", "source", "n_tokens"))
    assert(pack.size == 1, s"expected exactly one narrow pack exchange:\n$plan")
  }

  test("bpe_pack shuffles carry words and counts, never a document text column") {
    // tokenizer-aware packing: the corpus is read through the shared
    // tokenBase/wordFreq caches, counts aggregate per document, and the
    // pack window exchanges (doc_id, source, n_tokens) — document text
    // exists only inside the cached layer builds, never on an exchange
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    def allNodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => allNodes(a.executedPlan)
      case q: QueryStageExec => q +: allNodes(q.plan)
      case other => other +: other.children.flatMap(allNodes)
    }
    SparkEntry.releaseSharedCaches()
    val df = Queries.registry.collectFirst { case ("bpe_pack", q, _) => q }.get(spark, dir)
    df.collect()
    val shuffles = allNodes(df.queryExecution.executedPlan)
      .collect { case s: ShuffleExchangeLike => s }
    for (s <- shuffles)
      assert(!s.output.exists(_.name == "text"),
        s"document text rides a bpe_pack shuffle: ${s.output.map(_.name)}")
    val pack = shuffles.filter(_.output.map(_.name).toSet ==
      Set("doc_id", "source", "n_tokens"))
    assert(pack.size == 1, "expected exactly one narrow pack exchange")
  }

  test("semantic_decon folds in ObjectHashAggregate — no SortAggregate over the pair stream") {
    // the per-vector argmax is the bounded TopKAgg at k = 1 (typed
    // imperative → ObjectHashAggregate, constant buffers, map-side
    // partial). A max(struct(cosine, −id)) formulation demotes the whole
    // aggregate to SortAggregate, which shuffle-sorts every partition's
    // corpus×benchmark pair stream just to keep one row per vector.
    val plan = Queries.registry.collectFirst { case ("semantic_decon", q, _) => q }
      .get(spark, dir).queryExecution.executedPlan.toString
    assert(!plan.contains("SortAggregate"), s"semantic_decon sorts its pair stream:\n$plan")
    assert(plan.contains("ObjectHashAggregate"), s"semantic_decon lost the typed fold:\n$plan")
  }
}
