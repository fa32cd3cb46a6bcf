package graft

import java.nio.file.Files
import java.time.Instant

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import graft.operators.IdMap
import graft.pipeline.{EtlRun, PlsNightly}
import graft.sinks.Sinks
import graft.sources.SnapshotStore
import graft.util.FileRunLock
import NightlyFixture.{geoSchema, layer, pidSchema}

/** Two consecutive nightly runs through [[PlsNightly.run]] and the real
  * snapshot store — the reference's core cross-run behavior
  * (`main_pls.py:101-186`): run 2 restores run 1's snapshot (S7), reads the
  * watermark from its metadata (I1), carries state forward (U3/M5),
  * upserts the delta (M1/M3), and keeps surrogate ids stable (M6). No
  * fakes on the storage path — parquet in a temp dir.
  */
class TwoRunSpec extends SparkSpec {

  private val t0 = Instant.parse("2026-08-01T00:00:00Z")
  private val before = "2026-07-30 00:00:00" // edited before run 1 started
  private val after = "2026-08-01 05:00:00"  // edited after run 1 started
  private val watermarkClause = "last_edited_date >= DATE '2026-08-01 00:00:00'"

  private val addr1 = Seq(("iri-1", "p1", "s1"), ("iri-2", "p2", "s2"))
  private val addr2 = addr1.take(1) ++ Seq(("iri-2", "p2b", "s2b"), ("iri-3", "p3", "s3"))
  private val geo1 = Seq(Row(1L, "p1", "urn:g/pc", 1.0, 2.0, before),
                         Row(2L, "p2", "urn:g/pc", 3.0, 4.0, before))
  // geocode 2 re-edited (SP, p2b), 3 new
  private val geo2 = geo1.take(1) ++ Seq(Row(2L, "p2b", "urn:g/sp", 5.0, 6.0, after),
                                         Row(3L, "p3", "urn:g/sp", 7.0, 8.0, after))

  private final class Runs {
    val root: String = Files.createTempDirectory("tworun").toString
    val store = new SnapshotStore(root)
    val artifacts = new Sinks.FakeArtifactStore
    private val lock = new FileRunLock("tworun", Files.createTempDirectory("tworun-lock"))

    def run(sources: PlsNightly.Sources, at: Instant, via: SnapshotStore = store): EtlRun.Result = {
      val times = Iterator(at, at.plusSeconds(60), at.plusSeconds(61))
      PlsNightly.run(spark, EtlRun.Config("pls", "bkt", "pls-etl/", "geocodes"), lock, via,
        artifacts, new Sinks.CollectingNotifier(), "t", sources, now = () => times.next())
    }

    def table(r: EtlRun.Result, t: String): DataFrame = spark.read.parquet(store.tablePath(r.runId, t))

    def ids(r: EtlRun.Result, entity: String = "address"): Map[String, Long] =
      table(r, s"id_map_$entity").collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    /** Run 1: a cold start over both full layers. */
    def first(via: SnapshotStore = store): EtlRun.Result = {
      val pid1 = Seq(Row(1L, "iri-1", "p1", before), Row(2L, "iri-2", "p2", before))
      run(NightlyFixture.sources(spark, addr1, layer(pid1, pidSchema)._2, layer(geo1, geoSchema)._2),
        t0, via)
    }

    /** The table directories of run `r`. */
    def tables(r: EtlRun.Result): Seq[String] =
      new java.io.File(store.runPath(r.runId)).listFiles().toSeq.filter(_.isDirectory).map(_.getPath)
  }

  test("run 2 restores run 1's snapshot and preserves state invariants") {
    val s = spark; import s.implicits._
    val runs = new Runs
    val r1 = runs.first()
    assert(r1.startTime == "2026-08-01T10:00:00+1000") // I1 watermark source

    // delta: iri-2 remapped and iri-3 new, both edited after run 1 started
    val (pidFetch, pid2) = layer(Seq(Row(1L, "iri-1", "p1", before),
      Row(2L, "iri-2", "p2b", after), Row(3L, "iri-3", "p3", after)), pidSchema)
    val (geoFetch, geo) = layer(geo2, geoSchema)
    val r2 = runs.run(NightlyFixture.sources(spark, addr2, pid2, geo), t0.plusSeconds(86400))
    // both scans got the watermark from run 1's metadata start_time
    assert(pidFetch.wheres.toSeq == Seq(watermarkClause))
    assert(geoFetch.wheres.toSeq == Seq(watermarkClause))

    // pid map: upserted (iri-2 -> p2b), carried (iri-1), new (iri-3)
    val pids = runs.table(r2, "pid_map").orderBy("address_iri").as[(String, String)].collect().toSeq
    assert(pids == Seq(("iri-1", "p1"), ("iri-2", "p2b"), ("iri-3", "p3")))
    // geocodes: 1 carried (site nulled then backfilled from the listing's
    // s1), 2 incoming wins (SP, p2b -> s2b), 3 new (p3 -> s3)
    val geos = runs.table(r2, "geocodes").orderBy("geocode_id")
      .select("geocode_id", "geocode_type", "address_pid", "site_id")
      .collect().toSeq
    assert(geos == Seq(Row("1", "PC", "p1", "s1"), Row("2", "SP", "p2b", "s2b"),
      Row("3", "SP", "p3", "s3")))
    // id map: run-1 assignments unchanged, iri-3 got the next id (M6)
    val (ids1, ids2) = (runs.ids(r1), runs.ids(r2))
    assert(ids1 == Map("iri-1" -> 1L, "iri-2" -> 2L))
    assert(ids1.forall { case (k, v) => ids2(k) == v })
    assert(ids2("iri-3") == 3L)
    // artifact contract: run-1 upload preceded run-2, key embeds Brisbane end time
    assert(runs.artifacts.uploads.head._3 == s"pls-etl/${r1.runId}/geocodes")
    // metadata times with microseconds convert too
    assert(PlsNightly.esriDatetime("2026-08-01T10:00:00.250000+1000") == "2026-08-01 00:00:00")
  }

  test("run 2 rebuilds pid_map from a full scan when the IRI→PID layer lost its watermark (M4)") {
    val s = spark; import s.implicits._
    val runs = new Runs
    runs.first()

    // the layer drifted to long names and a numeric pid and lost
    // last_edited_date; iri-2 is gone from it
    val drifted = StructType(Seq(StructField("objectid", LongType),
      StructField("address_iri", StringType), StructField("address_pid", LongType)))
    val (pidFetch, pid2) = layer(Seq(Row(1L, "iri-1", 41L), Row(3L, "iri-3", 42L)), drifted)
    val (geoFetch, geo) = layer(geo2, geoSchema)
    val r2 = runs.run(NightlyFixture.sources(spark, addr2, pid2, geo), t0.plusSeconds(86400))
    assert(pidFetch.wheres.toSeq == Seq("1=1"))
    assert(geoFetch.wheres.toSeq == Seq(watermarkClause)) // still incremental

    // exactly the full scan's pairs, F7 string casts: no carried iri-2
    val pids = runs.table(r2, "pid_map").orderBy("address_iri").as[(String, String)].collect().toSeq
    assert(pids == Seq(("iri-1", "41"), ("iri-3", "42")))
    // the incremental geocode import still carried geocode 1 forward
    val geoIds = runs.table(r2, "geocodes").select("geocode_id").as[String].collect().sorted.toSeq
    assert(geoIds == Seq("1", "3")) // 2's address p2b lost its pid mapping and was pruned
  }

  test("run 2 restores a snapshot written in the previous format (v1 pages, unsorted)") {
    val runs = new Runs
    // the snapshot the night before this format shipped: zstd, v1 pages, no sort
    val previous = new SnapshotStore(runs.root) {
      override def write(df: DataFrame, runId: String, table: String): Unit =
        df.write.mode("overwrite").option("compression", "zstd").parquet(tablePath(runId, table))
    }
    val r1 = runs.first(previous)
    assert(runs.tables(r1).exists(t => !SnapshotStoreProps.snapshotFormat(t)))

    val (_, pid2) = layer(Seq(Row(1L, "iri-1", "p1", before),
      Row(2L, "iri-2", "p2b", after), Row(3L, "iri-3", "p3", after)), pidSchema)
    val r2 = runs.run(NightlyFixture.sources(spark, addr2, pid2, layer(geo2, geoSchema)._2),
      t0.plusSeconds(86400))
    PlsNightly.Entities.foreach { e =>
      val (ids1, ids2) = (runs.ids(r1, e), runs.ids(r2, e))
      assert(ids1.nonEmpty && ids1.forall { case (k, v) => ids2(k) == v }, e)
    }
    assert(runs.ids(r2)("iri-3") == 3L)
    // run 2 wrote every table in the new format
    assert(runs.tables(r2).size == runs.tables(r1).size)
    runs.tables(r2).foreach(t => assert(SnapshotStoreProps.snapshotFormat(t), t))
    val keys = SnapshotStoreProps.fileRows(s"${runs.store.runPath(r2.runId)}/id_map_address", IdMap.KEY)
      .map(_.map(_.getString(0)))
    assert(keys.forall(k => k == k.sorted))
  }
}
