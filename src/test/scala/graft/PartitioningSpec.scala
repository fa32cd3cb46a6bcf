package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The size-gated parallelism floor (`Partitioning.spread`) and the
  * shared-stage persists added around it in r14.
  *
  * The load-bearing assertion is the ZERO-JOBS one: under AQE, `.rdd` on
  * a plan containing exchanges finalizes the adaptive plan and eagerly
  * EXECUTES every upstream query stage at plan-construction time — work
  * the repartitioned plan would not reuse. The r14 gate first proves the
  * plan scan-shaped on the optimized logical plan (never a job) and
  * leaves derived frames untouched.
  */
class PartitioningSpec extends SparkSpec {

  private def countJobs(body: => Unit): Int = {
    @volatile var jobs = 0
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      // listener events are posted asynchronously; give the bus time to
      // drain before reading (a missed late event could only turn a REAL
      // regression into a pass, never flake a correct implementation —
      // and 500 ms is far beyond the bus's idle dispatch latency)
      Thread.sleep(500)
    } finally spark.sparkContext.removeSparkListener(listener)
    jobs
  }

  private def docs: DataFrame =
    sources.Tables.documents(spark, "/root/testdata/sf0.001")

  test("spread lifts a single-partition scan to default parallelism, rows intact") {
    val scan = docs.select("doc_id", "lang") // scan-shaped: leaf + project
    assume(scan.rdd.getNumPartitions < spark.sparkContext.defaultParallelism)
    val out = graft.util.Partitioning.spread(scan)
    assert(out.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
    assert(out.select(sum("doc_id")).head().getLong(0) ==
      scan.select(sum("doc_id")).head().getLong(0))
  }

  test("spread is identity on a scan already at/above the floor") {
    val wide = spark.range(0, 1000, 1,
      spark.sparkContext.defaultParallelism + 2) // Range leaf, 6 partitions
    val out = graft.util.Partitioning.spread(wide.toDF())
    assert(out.rdd.getNumPartitions == spark.sparkContext.defaultParallelism + 2)
  }

  test("spread on a derived frame is identity and runs ZERO jobs at plan time") {
    // aggregate + join: the optimized plan contains exchange-planning
    // nodes, so the old `.rdd` gate would finalize the AQE plan here and
    // execute the whole upstream at call time
    val derived = docs.groupBy("lang").agg(count(lit(1)).as("n"))
      .join(docs.select("lang", "source").distinct(), Seq("lang"))
    var out: DataFrame = null
    val jobs = countJobs { out = graft.util.Partitioning.spread(derived) }
    assert(jobs == 0, s"spread must not execute upstream stages at plan time (ran $jobs jobs)")
    assert(out eq derived, "derived frames skip the gate entirely")
  }

  test("shuffleOrder runs exactly 3 jobs: range sample, zipWithIndex count, result") {
    // the deliberate RDD hop's cost, LOCKED: (1) the range partitioner's
    // boundary-sampling job, (2) zipWithIndex's per-partition count job,
    // (3) the result job — jobs 2 and 3 reuse the range exchange's shuffle
    // files (skipped stages), so the corpus shuffles ONCE and the extra
    // job re-runs only the partition-local sort. A fourth job appearing
    // means someone added an action; the count DROPPING to two usually
    // means the zipWithIndex hop was "fixed" backwards into a
    // single-partition window — the scale-killer this shape exists to
    // avoid. See TextAnalysis.shuffleOrder's scaladoc.
    val jobs = countJobs {
      operators.TextAnalysis.shuffleOrder(docs.select("doc_id", "source"), seed = "lock")
        .collect()
    }
    assert(jobs == 3, s"shuffleOrder ran $jobs jobs (expected 3)")
  }

  test("PlsPipeline.run guard-persists the kept-addresses stage (self-contained cost)") {
    val s = spark; import s.implicits._
    val addresses = Seq(("iri_1", "pid_1", "s1"), ("iri_2", "pid_2", null))
      .toDF("address_iri", "address_pid", "site_id")
    val pid = Seq(("iri_1", "pid_1")).toDF("address_iri", "address_pid")
    val geo = Seq(("g1", "PC", "pid_1", null.asInstanceOf[String], 1.0, 2.0))
      .toDF("geocode_id", "geocode_type", "address_pid", "site_id", "centoid_lat", "centoid_lon")
    val out = pipeline.PlsPipeline.run(
      pipeline.PlsPipeline.RunInputs(None, None, pid, geo, addresses))
    try {
      // the stage every caller re-consumes (twice inside the geocode plan,
      // once as an output) is registered BEFORE any action, so whichever
      // consumer acts first fills one shared entry — no sibling-query
      // adjacency needed (the r13 pls_run regression shape)
      assert(out.addresses.storageLevel == StorageLevel.MEMORY_AND_DISK)
      assert(out.geocodes.count() == 1L)
      assert(out.addresses.collect().map(_.getString(0)).toSeq == Seq("iri_1"))
    } finally SparkEntry.releaseSharedCaches()
  }

  test("vocabWithCmsGate id-less fallback caches for the two actions, then releases") {
    val s = spark; import s.implicits._
    import graft.functions.GraftFunctions.{normalizeText, tokens}
    // unique filter constant so no other suite can own an equal plan
    val corpus = Seq("red red blue", "blue red amber", "green blue red")
      .toDF("text").filter(length(col("text")) =!= 94117)
    val out = operators.Sketches.vocabWithCmsGate(corpus, topK = 2)
      .collect().map(r => (r.getString(1), r.getLong(2), r.getBoolean(3)))
    assert(out.toSeq == Seq(("red", 4L, true), ("blue", 3L, true)))
    // the fallback's guarded entry must NOT outlive the call: a rebuilt
    // equal plan resolves uncached (the operator released its own entry)
    val rebuilt = corpus.select(tokens(normalizeText(col("text"))).as("__tok"))
    assert(rebuilt.storageLevel == StorageLevel.NONE,
      "id-less fallback must release its token-array cache after both actions")
  }

  test("collocations id-less fallback shares one tokenize across its three consumers") {
    val s = spark; import s.implicits._
    import graft.functions.GraftFunctions.{normalizeText, tokens}
    val idful = (1L to 6L).map(i => (i, s"the visit to hong kong was trip $i"))
      .toDF("doc_id", "text")
    val idless = idful.select("text").filter(length(col("text")) =!= 94118)
    val a = operators.TextAnalysis.collocations(idful, minCount = 3, k = 5)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    val b = operators.TextAnalysis.collocations(idless, minCount = 3, k = 5)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(a.toSeq == b.toSeq, "id-less fallback must produce identical collocations")
    // the lazy plan's three base consumers read ONE persisted tokenize —
    // the entry is registered (shared-layer lifecycle), so the base plan
    // resolves cached after the action; drop it to leave the session clean
    val base = idless.select(tokens(normalizeText(col("text"))).as("__tk"))
    assert(base.storageLevel != StorageLevel.NONE,
      "id-less collocations base must be guard-persisted across its three consumers")
    SparkEntry.releaseSharedCaches()
  }
}
