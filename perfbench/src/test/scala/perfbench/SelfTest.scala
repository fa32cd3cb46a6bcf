package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{ScanSpec, SnapshotStore}

/** Small-scale self-test of the benchmark's generator and output checker.
  *
  *   cd perfbench && sbt test
  */
class SelfTest extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]").appName("perfbench-selftest")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val N = 3000
  private val base = PlsGen(seed = 7, n = N, latencyMs = 0)
  private val nightly = base.copy(delta = 5)

  // ------------------------------------------------ an independent reference model

  private val Watermark = "2025-06-01 00:00:00"
  private val Edited = "2026-01-01 00:00:00"

  private def esriRows(layer: EsriLayer, where: String): Seq[Map[String, Any]] = {
    val spec = ScanSpec(whereClause = Some(where))
    val total = layer.count(spec)
    (0L until total by 2000L).flatMap(o => layer.fetch(o, 2000, spec))
      .map(r => layer.schema.fieldNames.zip(r.toSeq).toMap)
  }

  private def listing(gen: PlsGen, entity: String): Seq[Seq[String]] = {
    val pages = new SparqlPages(gen, SourceStats(spark))
    val v = pages.vars(entity)
    val Value = "\"([a-z_]+)\":\\{\"type\":\"[a-z]+\",\"value\":\"([^\"]+)\"".r
    (0 until pages.pageCount(entity)).flatMap { p =>
      Value.findAllMatchIn(pages.page(entity, p)).map(m => m.group(1) -> m.group(2)).toSeq
        .grouped(v.size).map(_.map(_._2))
    }
  }

  /** Published row counts by plain collection semantics: upsert by key,
    * carry forward, drop unmapped addresses, prune dangling geocodes.
    */
  private def reference(gen: PlsGen, prev: Option[(Map[String, String], Map[Long, String],
      Map[String, Set[String]])]): Map[String, Long] = {
    val where = if (prev.isEmpty) "1=1" else s"last_edited_date >= DATE '$Watermark'"
    val stats = SourceStats(spark)
    val pidRows = esriRows(new IriPidLayer(gen, Edited, stats), where)
      .map(r => r("iri").toString -> r("pid").toString)
    val geoRows = esriRows(new GeocodeLayer(gen, Edited, stats), where)
      .map(r => r("objectid").asInstanceOf[Long] -> r("address_pid").toString)
    val pidMap = prev.map(_._1).getOrElse(Map.empty) ++ pidRows
    val addresses = listing(gen, "address")
    val kept = addresses.filter(a => pidMap.contains(a.head))
    val keptPids = kept.map(_(1)).toSet
    val geo = (prev.map(_._2).getOrElse(Map.empty) ++ geoRows).filter { case (_, p) => keptPids(p) }
    val prevKeys = prev.map(_._3).getOrElse(Map.empty[String, Set[String]])
    val entities = Seq("site", "parcel", "road", "place_name")
    val lists = entities.map(e => e -> listing(gen, e).map(_.head)).toMap
    Map("geocodes" -> geo.size.toLong, "pid_map" -> pidMap.size.toLong, "address" -> kept.size.toLong,
      "id_map_address" -> (prevKeys.getOrElse("address", Set.empty) ++ kept.map(_.head)).size.toLong,
      "metadata" -> 1L) ++
      entities.map(e => e -> lists(e).size.toLong) ++
      entities.map(e => s"id_map_$e" -> (prevKeys.getOrElse(e, Set.empty) ++ lists(e)).size.toLong)
  }

  private def baseState(): (Map[String, String], Map[Long, String], Map[String, Set[String]]) = {
    val stats = SourceStats(spark)
    val pidMap = esriRows(new IriPidLayer(base, Edited, stats), "1=1")
      .map(r => r("iri").toString -> r("pid").toString).toMap
    val kept = listing(base, "address").filter(a => pidMap.contains(a.head))
    val keptPids = kept.map(_(1)).toSet
    val geo = esriRows(new GeocodeLayer(base, Edited, stats), "1=1")
      .map(r => r("objectid").asInstanceOf[Long] -> r("address_pid").toString)
      .filter { case (_, p) => keptPids(p) }.toMap
    val keys = Map("address" -> kept.map(_.head).toSet) ++
      Seq("site", "parcel", "road", "place_name").map(e => e -> listing(base, e).map(_.head).toSet)
    (pidMap, geo, keys)
  }

  test("cold predictions match the reference model") {
    assert(base.predict().tables == reference(base, None))
  }

  test("nightly predictions match the reference model") {
    val p = nightly.predict()
    assert(p.tables == reference(nightly, Some(baseState())))
    assert(p.newIds("address") == nightly.newPerDelta)
  }

  test("a deserialized fetcher re-authenticates once, then serves pages") {
    val stats = SourceStats(spark)
    val layer = new GeocodeLayer(base, Edited, stats)
    val bytes = new java.io.ByteArrayOutputStream()
    new java.io.ObjectOutputStream(bytes).writeObject(layer)
    val copy = new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(bytes.toByteArray))
      .readObject().asInstanceOf[GeocodeLayer]
    var refreshes = 0
    val rows = graft.util.Retry.withBackoff(
      onTokenExpired = () => { refreshes += 1; copy.refreshAuth() },
      sleep = _ => fail("token refresh must not back off")) {
      copy.fetch(0, 10, ScanSpec(columns = Some(Seq("objectid", "lat")))).toVector
    }
    assert(rows.size == 10 && rows.head.size == 2 && refreshes == 1)
    assert(copy.fetch(10, 10, ScanSpec()).size == 10) // the refreshed token stays valid
  }

  test("a watermark between the modelled states is refused") {
    val layer = new GeocodeLayer(nightly, Edited, SourceStats(spark))
    intercept[IllegalArgumentException](layer.count(ScanSpec(whereClause = Some("last_edited_date >= DATE '2024-06-01 00:00:00'"))))
  }

  // ------------------------------------------------ pipeline runs and the checker

  private lazy val dir = Files.createTempDirectory(
    Files.createDirectories(java.nio.file.Paths.get("target")), "selftest")
  private lazy val coldRun = Pls.run(spark, base, dir.resolve("cold"), NoTrace)
  private def coldStore = (coldRun.store, coldRun.result.runId)
  private lazy val nightlyRoot = {
    val root = dir.resolve("nightly")
    Fs.copy(dir.resolve("cold/snapshots"), root.resolve("snapshots"))
    root
  }
  private lazy val nightlyRun = Pls.run(spark, nightly, nightlyRoot, NoTrace)

  test("a cold run passes every check") {
    assert(Pls.check(spark, coldRun, base.predict(), None) == Seq())
  }

  test("a nightly run over the cold snapshot passes every check") {
    assert(nightlyRun.restoredRun.contains(coldRun.result.runId))
    assert(Pls.check(spark, nightlyRun, nightly.predict(), Some(coldStore)) == Seq())
  }

  /** Replace a table of a run's snapshot with `f` of it. */
  private def corrupt(o: Pls.Outcome, table: String)(f: DataFrame => DataFrame): Unit = {
    val path = o.store.tablePath(o.result.runId, table)
    val tmp = dir.resolve(s"tmp-$table-${System.nanoTime()}").toString
    f(spark.read.parquet(path)).write.parquet(tmp)
    Files.walk(java.nio.file.Paths.get(path)).sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(p => Files.delete(p))
    Files.move(java.nio.file.Paths.get(tmp), java.nio.file.Paths.get(path))
  }

  test("the checker fails a snapshot with one geocode removed") {
    val root = dir.resolve("corrupt-geo")
    Fs.copy(dir.resolve("cold"), root)
    val o = coldRun.copy(store = new SnapshotStore(root.resolve("snapshots").toString), lockDir = root.resolve("lock"))
    corrupt(o, "geocodes") { df =>
      val victim = df.agg(min("geocode_id")).head().getString(0)
      df.filter(col("geocode_id") =!= victim)
    }
    val errs = Pls.check(spark, o, base.predict(), None)
    assert(errs.exists(_.startsWith("table geocodes has")), errs)
  }

  test("the checker fails a nightly snapshot with one restored id reassigned") {
    nightlyRun
    val root = dir.resolve("corrupt-id")
    Fs.copy(nightlyRoot, root)
    val o = nightlyRun.copy(store = new SnapshotStore(root.resolve("snapshots").toString), lockDir = root.resolve("lock"))
    // swap the ids of the two smallest keys: still injective and dense
    corrupt(o, "id_map_site") { df =>
      val two = df.orderBy("key").limit(2).collect()
      val (k1, i1, k2, i2) = (two(0).getString(0), two(0).getLong(1), two(1).getString(0), two(1).getLong(1))
      df.withColumn("id", when(col("key") === k1, lit(i2)).when(col("key") === k2, lit(i1)).otherwise(col("id")))
    }
    val errs = Pls.check(spark, o, nightly.predict(), Some(coldStore))
    assert(errs == Seq("id_map_site changed 2 of " + base.baseListing("site") + " restored ids"), errs)
  }
}
