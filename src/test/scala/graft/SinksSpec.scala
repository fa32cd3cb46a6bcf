package graft

import java.time.Instant
import java.nio.file.Files

import graft.pipeline.EtlRun
import graft.sinks.Sinks
import graft.sources.SnapshotStore
import graft.util.{FileRunLock, Retry, RunLock}
import graft.sources.LayerSchema

/** Ports of the reference's orchestration tests: exact Kafka header set and
  * formats (`tests/test_main_pls_kafka.py:36-118`), delivery-error raise
  * (`tests/test_kafka.py`), S3 key layout, upload→publish ordering, schema
  * drift (`tests/test_geocode_schema.py`), retry/backoff and the run lock.
  */
class SinksSpec extends SparkSpec {

  private val t0 = Instant.parse("2026-08-12T00:00:00Z")

  test("artifact headers: exact 7-key set, UTC isoformat values, %.3f duration") {
    val h = Sinks.buildArtifactHeaders("pls", t0, t0.plusSeconds(125),
      t0.plusSeconds(126), 125.0, "bkt", "pls-etl/x/pls.db", 3600)
    assert(h.keySet == Set("etl-name", "etl-started-at", "etl-finished-at",
      "artifact-uploaded-at", "etl-duration-seconds", "s3-bucket", "s3-key",
      "presigned-url-expiry-seconds"))
    assert(h("etl-started-at") == "2026-08-12T00:00:00+00:00")
    assert(h("etl-finished-at") == "2026-08-12T00:02:05+00:00")
    assert(h("etl-duration-seconds") == "125.000")
    assert(h("presigned-url-expiry-seconds") == "3600")
    // microseconds only when present, like Python isoformat()
    val hm = Sinks.buildArtifactHeaders("pls", t0.plusNanos(123456000), t0, t0, 0.0, "b", "k", 1)
    assert(hm("etl-started-at") == "2026-08-12T00:00:00.123456+00:00")
  }

  test("brisbane timestamps carry the +1000 offset (S3 key / metadata format)") {
    assert(Sinks.brisbaneTimestamp(t0) == "2026-08-12T10:00:00+1000")
  }

  test("notifier: delivery error is raised, not swallowed") {
    val bad = new Sinks.CollectingNotifier(deliveryError = Some("broker down"))
    val e = intercept[RuntimeException](bad.publish("t", "url", Map()))
    assert(e.getMessage.contains("Failed to deliver Kafka message"))
    assert(bad.records.nonEmpty) // record was produced before the flush failed
  }

  test("EtlRun: snapshot -> upload -> presign -> publish, exact key layout, metadata stamped") {
    val s = spark; import s.implicits._
    val root = Files.createTempDirectory("etlrun").toString
    val store = new SnapshotStore(root)
    val artifacts = new Sinks.FakeArtifactStore
    val notifier = new Sinks.CollectingNotifier()
    val lock = new FileRunLock("test-etl", Files.createTempDirectory("lock"))
    val times = Iterator(t0, t0.plusSeconds(90), t0.plusSeconds(91))

    val result = EtlRun.run(spark, EtlRun.Config("pls", "bkt", "pls-etl/", "geocodes"),
      lock, store, artifacts, notifier, "topic-1",
      () => Map("geocodes" -> Seq(("g1", "p1")).toDF("geocode_id", "address_pid")),
      now = () => times.next())

    assert(result.s3Key == "pls-etl/2026-08-12T10:01:30+1000/geocodes")
    assert(artifacts.uploads.map(_._3).toSeq == Seq(result.s3Key)) // uploaded before publish
    assert(notifier.records.map(r => (r._1, r._2)).toSeq == Seq(("topic-1", result.presignedUrl)))
    assert(notifier.records.head._3("etl-duration-seconds") == "90.000")
    // K4: metadata rode inside the snapshot; next run reads the watermark from it
    val meta = store.read(spark, result.runId, "metadata").collect()
    assert(meta.head.getString(0) == "2026-08-12T10:00:00+1000")
    assert(meta.head.getString(1) == "2026-08-12T10:01:30+1000")
    // failed publish fails the run AFTER the artifact was uploaded
    val badNotifier = new Sinks.CollectingNotifier(Some("down"))
    val times2 = Iterator(t0, t0.plusSeconds(1), t0.plusSeconds(2))
    intercept[RuntimeException] {
      EtlRun.run(spark, EtlRun.Config("pls", "bkt", "pls-etl/", "geocodes"),
        lock, store, artifacts, badNotifier, "topic-1",
        () => Map("geocodes" -> Seq(("g1", "p1")).toDF("geocode_id", "address_pid")),
        now = () => times2.next())
    }
  }

  test("EtlRun atomicity: a failing stage uploads nothing, publishes nothing, releases the lock") {
    val root = Files.createTempDirectory("etlrun-fail").toString
    val artifacts = new Sinks.FakeArtifactStore
    val notifier = new Sinks.CollectingNotifier()
    val lock = new FileRunLock("fail-etl", Files.createTempDirectory("lock2"))
    intercept[RuntimeException] {
      EtlRun.run(spark, EtlRun.Config("pls", "bkt", "pls-etl/", "geocodes"),
        lock, new SnapshotStore(root), artifacts, notifier, "topic",
        () => throw new RuntimeException("stage blew up"),
        now = () => t0)
    }
    assert(artifacts.uploads.isEmpty && notifier.records.isEmpty)
    lock.acquire(); lock.release() // lock was released by the failed run
  }

  test("EtlRun atomicity: a table write failing mid-run leaves no metadata, no marker, no running write") {
    val s = spark; import s.implicits._
    val root = Files.createTempDirectory("etlrun-write-fail").toString
    val inFlight = new java.util.concurrent.atomic.AtomicInteger()
    val store = new SnapshotStore(root) {
      override def write(df: org.apache.spark.sql.DataFrame, runId: String, table: String): Unit = {
        inFlight.incrementAndGet()
        try super.write(df, runId, table) finally { inFlight.decrementAndGet(); () }
      }
    }
    val artifacts = new Sinks.FakeArtifactStore
    val notifier = new Sinks.CollectingNotifier()
    val lock = new FileRunLock("write-fail-etl", Files.createTempDirectory("lock-write-fail"))
    val config = EtlRun.Config("pls", "bkt", "pls-etl/", "geocodes")
    val geocodes = Seq(("g1", "p1")).toDF("geocode_id", "address_pid")
    val times1 = Iterator(t0, t0.plusSeconds(60), t0.plusSeconds(61))
    val committed = EtlRun.run(spark, config, lock, store, artifacts, notifier, "topic",
      () => Map("geocodes" -> geocodes), now = () => times1.next())

    // "poisoned" fails inside a task of its own write; "slow" is still
    // writing when it does, and run must wait for it before returning
    import org.apache.spark.sql.functions.{assert_true, lit, udf}
    val nap = udf { (i: Long) => Thread.sleep(2000); i }
    val slow = spark.range(0, 2, 1, 2).select(nap($"id").as("id"))
    val poisoned = spark.range(0, 3, 1, 1).toDF()
      .where(assert_true($"id" < 2, lit("poisoned row in stage write")).isNull)
    val times2 = Iterator(t0.plusSeconds(120), t0.plusSeconds(180))
    val failedRunId = Sinks.brisbaneTimestamp(t0.plusSeconds(180))
    val e = intercept[Exception] {
      EtlRun.run(spark, config, lock, store, artifacts, notifier, "topic",
        () => Map("geocodes" -> geocodes, "poisoned" -> poisoned, "slow" -> slow),
        now = () => times2.next())
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("poisoned row in stage write")))
    assert(inFlight.get == 0) // every write had ended when run returned
    assert(new java.io.File(store.tablePath(failedRunId, "slow"), "_SUCCESS").exists())
    assert(!new java.io.File(store.tablePath(failedRunId, "metadata")).exists())
    assert(!store.isCommitted(spark, failedRunId))
    assert(store.latestRun(spark).contains(committed.runId))
    assert(artifacts.uploads.size == 1 && notifier.records.size == 1) // the first run's only
    lock.acquire(); lock.release() // released by the failed run
  }

  test("layer schema drift: field renames resolve; missing fields raise") {
    val s1 = LayerSchema.geocodeSchema(Set("objectid", "pid", "type", "last_edited_date"))
    assert(s1.addressPidField == "pid" && s1.geocodeTypeField == "type")
    assert(s1.lastEditedField.contains("last_edited_date"))
    val s2 = LayerSchema.geocodeSchema(Set("address_pid", "geocode_type", "geocode_source"))
    assert(s2.addressPidField == "address_pid" && s2.geocodeSourceField.contains("geocode_source"))
    intercept[RuntimeException](LayerSchema.geocodeSchema(Set("objectid", "type")))
    intercept[RuntimeException](LayerSchema.geocodeSchema(Set("objectid", "pid")))
  }

  test("watermark loss degrades to full refresh (I3/M4)") {
    val withWm = LayerSchema.geocodeSchema(Set("pid", "type", "last_edited_date"))
    val noWm = LayerSchema.geocodeSchema(Set("pid", "type"))
    assert(LayerSchema.whereClause(withWm, Some("2026-01-01 00:00:00")) ==
      "last_edited_date >= DATE '2026-01-01 00:00:00'")
    assert(LayerSchema.whereClause(noWm, Some("2026-01-01 00:00:00")) == "1=1")
    assert(LayerSchema.whereClause(withWm, None) == "1=1")
    assert(LayerSchema.requiresFullRefresh(noWm, Some("x")))
    assert(!LayerSchema.requiresFullRefresh(withWm, Some("x")))
    assert(!LayerSchema.requiresFullRefresh(noWm, None))
  }

  test("retry: transient errors back off then succeed; token refresh retries immediately") {
    var calls = 0
    val slept = scala.collection.mutable.ArrayBuffer[Double]()
    val out = Retry.withBackoff[String](maxTimeSeconds = 900, sleep = slept.+=(_), now = () => 0L) {
      calls += 1
      if (calls < 3) throw new RuntimeException("transient")
      "ok"
    }
    assert(out == "ok" && calls == 3)
    assert(slept.toSeq == Seq(1.0, 2.0)) // exponential

    var reauths = 0; var tCalls = 0
    Retry.withBackoff[Unit](onTokenExpired = () => reauths += 1, sleep = _ => (), now = () => 0L) {
      tCalls += 1
      if (tCalls == 1) throw new Retry.TokenExpired("498")
    }
    assert(reauths == 1 && tCalls == 2)

    // budget exhausted -> the original error escapes
    var n = 0L
    intercept[RuntimeException] {
      Retry.withBackoff[Unit](maxTimeSeconds = 3, sleep = _ => (),
        now = () => { n += 1_000_000_000L; n }) {
        throw new RuntimeException("always")
      }
    }

    // a token the service rejects after EVERY refresh exhausts the
    // wall-clock budget instead of looping forever
    var m = 0L; var refreshes = 0
    intercept[Retry.TokenExpired] {
      Retry.withBackoff[Unit](maxTimeSeconds = 3, sleep = _ => (),
        onTokenExpired = () => refreshes += 1,
        now = () => { m += 1_000_000_000L; m }) {
        throw new Retry.TokenExpired("498 forever")
      }
    }
    assert(refreshes >= 1 && refreshes <= 3)
  }

  test("kafkaTimestamp: sub-microsecond instants have NO fraction (python isoformat parity)") {
    val base = java.time.Instant.parse("2026-01-01T10:00:00Z")
    assert(Sinks.kafkaTimestamp(base.plusNanos(500)) == "2026-01-01T10:00:00+00:00")
    assert(Sinks.kafkaTimestamp(base.plusNanos(1500)) == "2026-01-01T10:00:00.000001+00:00")
    // brisbane form follows the same rule — same-second runs get distinct ids
    assert(Sinks.brisbaneTimestamp(base) == "2026-01-01T20:00:00+1000")
    assert(Sinks.brisbaneTimestamp(base.plusNanos(123000)) == "2026-01-01T20:00:00.000123+1000")
  }

  test("paged source: token expiry thrown from a LAZY page iterator still re-auths") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import graft.sources.{PagedSource, PageFetcher, ScanSpec}
    LazyFetcherState.authed.set(false)
    val fetcher = new PageFetcher {
      override def count(spec: ScanSpec): Long = 1
      // the page streams lazily and only fails when CONSUMED — the retry
      // scope must drain it, or the expiry escapes backoff entirely
      override def fetch(offset: Long, limit: Int, spec: ScanSpec): Iterator[Row] =
        new Iterator[Row] {
          private var emitted = false
          override def hasNext: Boolean = !emitted
          override def next(): Row = {
            if (!LazyFetcherState.authed.get()) throw new Retry.TokenExpired("498 mid-stream")
            emitted = true; Row(s"row-$offset")
          }
        }
      override def refreshAuth(): Unit = LazyFetcherState.authed.set(true)
    }
    val schema = StructType(Seq(StructField("v", StringType)))
    val out = PagedSource.read(spark, fetcher, schema, pageSize = 2)
    assert(out.collect().map(_.getString(0)).toSeq == Seq("row-0"))
    assert(LazyFetcherState.authed.get())
  }

  test("bucketed snapshot tables join WITHOUT a shuffle on either side") {
    val s = spark; import s.implicits._
    val dir = Files.createTempDirectory("bucketed-snap")
    val store = new graft.sources.SnapshotStore(dir.toString)
    val prev = (1L to 1000L).map(i => (i, s"prev_$i")).toDF("k", "pv")
    val cur = (500L to 1500L).map(i => (i, s"cur_$i")).toDF("k", "cv")
    val tPrev = store.writeBucketed(prev, "run1", "prev", "k", 8)
    val tCur = store.writeBucketed(cur, "run1", "cur", "k", 8)
    // disable broadcast so the join would otherwise need a full shuffle
    val thresholdBefore = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table(tPrev).join(spark.table(tCur), Seq("k"))
      val physical = joined.queryExecution.executedPlan.toString
      assert(!physical.contains("Exchange"), s"bucketed join still shuffles:\n$physical")
      assert(joined.count() == 501)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresholdBefore)
      spark.sql(s"DROP TABLE IF EXISTS $tPrev")
      spark.sql(s"DROP TABLE IF EXISTS $tCur")
    }
  }

  test("run lock: held lock blocks, expired lock is reclaimable") {
    val dir = Files.createTempDirectory("locks")
    var clock = 1000L
    def mk(retries: Long = 0) = new FileRunLock("job", dir, ttlSeconds = 100,
      retryTimeoutSeconds = retries * 60, retryIntervalSeconds = 60,
      now = () => clock, sleep = _ => clock += 60)
    val a = mk(); a.acquire()
    intercept[RuntimeException](mk().acquire()) // no retry budget -> fails fast
    clock += 101 // TTL expired
    val b = mk(); b.acquire() // reclaimed
    b.release()
    val c: RunLock = mk(); c.acquire(); c.release()
  }

  test("run lock: corrupt/empty stamp falls back to mtime and stays TTL-reclaimable") {
    val dir = Files.createTempDirectory("locks2")
    // a holder that crashed between CREATE_NEW and the content write
    Files.write(dir.resolve("graft-lock-job"), Array.emptyByteArray)
    val wallNow = System.currentTimeMillis() / 1000
    // clock far past the file's mtime + TTL: the corrupt lock must be
    // reclaimable, not a permanent deadlock
    val l = new FileRunLock("job", dir, ttlSeconds = 100,
      retryTimeoutSeconds = 0, retryIntervalSeconds = 60,
      now = () => wallNow + 200, sleep = _ => ())
    l.acquire(); l.release()
  }

  test("applyEdits write-back: page-bounded batches, add/update split, stringified attrs, geometry") {
    import graft.sinks.FeatureService
    val s = spark; import s.implicits._
    // 3 adds (null objectid) + 6 updates, pageSize 4 → 3 batches in row order
    val rows = Seq(
      (null.asInstanceOf[String], "g1", 1.5, 10.0), ("101", "g2", 2.5, 20.0),
      ("102", "g3", 3.5, 30.0), (null.asInstanceOf[String], "g4", 4.5, 40.0),
      ("103", "g5", 5.5, 50.0), ("104", "g6", 6.5, 60.0),
      (null.asInstanceOf[String], "g7", 7.5, 70.0), ("105", "g8", 8.5, 80.0),
      ("106", "g9", 9.5, 90.0))
    val df = rows.toDF("objectid", "geocode_id", "x", "y").coalesce(1)
    val editor = new FeatureService.RecordingEditor()
    val res = FeatureService.writeBack(df, editor, "https://layer/0",
      xCol = Some("x"), yCol = Some("y"), pageSize = 4)
    assert(res == FeatureService.WriteBackResult(nAdds = 3, nUpdates = 6, nBatches = 3))
    assert(editor.batches.map { case (_, a, u) => (a.size, u.size) }.toSeq ==
      Seq((2, 2), (1, 3), (0, 1)))
    assert(editor.batches.forall(_._1 == "https://layer/0"))
    // geometry rides outside the attribute map; attributes are strings
    val firstAdd = editor.batches.head._2.head
    assert(firstAdd.geometry.contains((1.5, 10.0)))
    assert(firstAdd.attributes == Map("objectid" -> null, "geocode_id" -> "g1"))
    val firstUpd = editor.batches.head._3.head
    assert(firstUpd.attributes("objectid") == "101")
  }

  test("EtlRun write-back (K5): strictly after snapshot -> upload -> publish; add/update split applied") {
    import graft.sinks.FeatureService
    val s = spark; import s.implicits._
    val root = Files.createTempDirectory("etlrun-wb").toString
    val store = new SnapshotStore(root)
    val events = scala.collection.mutable.ArrayBuffer[String]()
    val artifacts = new Sinks.ArtifactStore {
      private val inner = new Sinks.FakeArtifactStore
      override def upload(localPath: String, bucket: String, key: String,
                          expirySeconds: Int): String = {
        events += "upload"; inner.upload(localPath, bucket, key, expirySeconds)
      }
    }
    val notifier = new Sinks.Notifier {
      private val inner = new Sinks.CollectingNotifier()
      override def publish(topic: String, value: String, headers: Map[String, String]): Unit = {
        events += "publish"; inner.publish(topic, value, headers)
      }
    }
    val recording = new FeatureService.RecordingEditor()
    val editor = new FeatureService.FeatureEditor {
      override def applyEdits(layerUrl: String, adds: Seq[FeatureService.FeatureEdit],
                              updates: Seq[FeatureService.FeatureEdit]): Seq[FeatureService.EditResult] = {
        events += "applyEdits"; recording.applyEdits(layerUrl, adds, updates)
      }
    }
    val lock = new FileRunLock("wb-etl", Files.createTempDirectory("lock-wb"))
    // 1 add (null objectid, null geometry) + 2 updates with point geometry
    val geocodes = Seq(
      (null.asInstanceOf[String], "g1", null.asInstanceOf[java.lang.Double], null.asInstanceOf[java.lang.Double]),
      ("201", "g2", java.lang.Double.valueOf(1.5), java.lang.Double.valueOf(2.5)),
      ("202", "g3", java.lang.Double.valueOf(3.5), java.lang.Double.valueOf(4.5)))
      .toDF("objectid", "geocode_id", "x", "y").coalesce(1)
    val times = Iterator.continually(t0)
    val result = EtlRun.run(spark, EtlRun.Config("pls", "bkt", "pls-etl/", "geocodes"),
      lock, store, artifacts, notifier, "topic-1",
      () => Map("geocodes" -> geocodes),
      now = () => times.next(),
      writeBack = Some(EtlRun.WriteBack(editor, "https://layer/0", "geocodes",
        xCol = Some("x"), yCol = Some("y"))))
    // the analogue of the reference's main_pls orchestration-order test
    // (tests/test_main_pls_kafka.py:36-118), extended with the K5 stage
    assert(events.toSeq == Seq("upload", "publish", "applyEdits"))
    assert(result.writeBack.contains(FeatureService.WriteBackResult(1, 2, 1)))
    val (layer, adds, updates) = recording.batches.head
    assert(layer == "https://layer/0" && adds.size == 1 && updates.size == 2)
    assert(adds.head.geometry.isEmpty) // null coords -> attributes-only feature, no NPE
    assert(updates.map(_.geometry).toSet == Set(Some((1.5, 2.5)), Some((3.5, 4.5))))
    // a run WITHOUT the stage still returns no write-back summary
    assert(result.runId.nonEmpty)
  }

  test("applyEdits write-back: a per-feature error raises with batch context, prior batches stand") {
    import graft.sinks.FeatureService
    val s = spark; import s.implicits._
    val df = (1 to 10).map(i => (i.toString, s"g$i")).toDF("objectid", "geocode_id").coalesce(1)
    val editor = new FeatureService.RecordingEditor(failValues = Set("g7"))
    val e = intercept[FeatureService.ApplyEditsException] {
      FeatureService.writeBack(df, editor, "https://layer/0", pageSize = 3)
    }
    assert(e.getMessage.contains("batch 3") && e.getMessage.contains("injected failure"))
    // batches 1-2 were applied before the failing batch raised (at-least-
    // once posture: updates are idempotent per objectId, a retry converges)
    assert(editor.batches.size == 3)
  }

  test("applyEdits write-back: half-specified geometry raises instead of silently degrading") {
    import graft.sinks.FeatureService
    val s = spark; import s.implicits._
    // x set, y null (a partially-failed geocode): keeping the layer's stale
    // point while attributes change would mask the corruption — it must
    // raise, naming the row. Both-null stays the attributes-only path.
    // The check is a distributed PRE-SCAN: adds are not idempotent, so the
    // run must fail while the layer is still untouched, even when the bad
    // row sits beyond the first flushed batch.
    val good = (1 to 5).map(i => (null.asInstanceOf[String], s"g$i",
      java.lang.Double.valueOf(i.toDouble), java.lang.Double.valueOf(i * 10.0)))
    val rows = good :+ (("301", "gbad", java.lang.Double.valueOf(153.02),
      null.asInstanceOf[java.lang.Double]))
    val df = rows.toDF("objectid", "geocode_id", "x", "y").coalesce(1)
    val editor = new FeatureService.RecordingEditor()
    val e = intercept[FeatureService.ApplyEditsException] {
      FeatureService.writeBack(df, editor, "https://layer/0",
        xCol = Some("x"), yCol = Some("y"), pageSize = 2)
    }
    assert(e.getMessage.contains("half-specified") && e.getMessage.contains("301"))
    assert(editor.batches.isEmpty, "edits were applied before the geometry gate")
    // config errors are up front too: a lone coordinate column, a typo'd one
    intercept[IllegalArgumentException] {
      FeatureService.writeBack(df, new FeatureService.RecordingEditor(), "https://layer/0",
        xCol = Some("x"))
    }
    intercept[IllegalArgumentException] {
      FeatureService.writeBack(df, new FeatureService.RecordingEditor(), "https://layer/0",
        xCol = Some("lng"), yCol = Some("lat"))
    }
  }

  test("EtlRun: an unknown write-back table fails BEFORE any side effect") {
    import graft.sinks.FeatureService
    val s = spark; import s.implicits._
    val root = Files.createTempDirectory("etlrun-wb-bad").toString
    val store = new SnapshotStore(root)
    val artifacts = new Sinks.FakeArtifactStore
    val notifier = new Sinks.CollectingNotifier()
    val lock = new FileRunLock("wb-bad", Files.createTempDirectory("lock-wb-bad"))
    val geocodes = Seq(("1", "g1")).toDF("objectid", "geocode_id")
    val e = intercept[IllegalArgumentException] {
      EtlRun.run(spark, EtlRun.Config("pls", "bkt", "pls-etl/", "geocodes"),
        lock, store, artifacts, notifier, "topic-1",
        () => Map("geocodes" -> geocodes),
        writeBack = Some(EtlRun.WriteBack(new FeatureService.RecordingEditor(),
          "https://layer/0", "geocode"))) // typo'd table name
    }
    assert(e.getMessage.contains("geocode") && e.getMessage.contains("geocodes"))
    // EVERY schema-level writeBack misconfiguration fails up front, not
    // just the table name — a typo'd coordinate column here
    intercept[IllegalArgumentException] {
      EtlRun.run(spark, EtlRun.Config("pls", "bkt", "pls-etl/", "geocodes"),
        lock, store, artifacts, notifier, "topic-1",
        () => Map("geocodes" -> geocodes),
        writeBack = Some(EtlRun.WriteBack(new FeatureService.RecordingEditor(),
          "https://layer/0", "geocodes", xCol = Some("lng"), yCol = Some("lat"))))
    }
    // nothing was written, uploaded, or published — and the lock is free
    assert(new java.io.File(root).listFiles() == null ||
      new java.io.File(root).listFiles().isEmpty)
    assert(artifacts.uploads.isEmpty && notifier.records.isEmpty)
    lock.acquire(); lock.release() // re-acquirable = released by the failed run
  }

  test("latestRun restores the latest COMMITTED run; uncommitted-only roots keep the legacy rule") {
    val s = spark; import s.implicits._
    val root = Files.createTempDirectory("snapcommit").toString
    val store = new SnapshotStore(root)
    val df = Seq((1L, "a")).toDF("id", "v")
    // a complete old run, committed
    store.write(df, "2026-01-01T00-00-00", "t")
    store.commit(s, "2026-01-01T00-00-00")
    // a NEWER run that crashed mid-write (no marker): must be skipped
    store.write(df, "2026-02-02T00-00-00", "t")
    assert(store.latestRun(s).contains("2026-01-01T00-00-00"))
    // once the newer run commits, it wins
    store.commit(s, "2026-02-02T00-00-00")
    assert(store.latestRun(s).contains("2026-02-02T00-00-00"))
    // marker-free legacy root: plain latest-by-name fallback
    val legacyRoot = Files.createTempDirectory("snaplegacy").toString
    val legacy = new SnapshotStore(legacyRoot)
    legacy.write(df, "r1", "t"); legacy.write(df, "r2", "t")
    assert(legacy.latestRun(s).contains("r2"))
  }
}

/** Executor-visible auth state for the lazy-iterator retry test (local mode:
  * one JVM, so a static is visible to both the task and the assertion).
  */
object LazyFetcherState {
  val authed = new java.util.concurrent.atomic.AtomicBoolean(false)
}
