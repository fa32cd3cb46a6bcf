package graft

import java.nio.file.Files
import java.time.Instant
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

import graft.operators.IdMap
import graft.pipeline.{EtlRun, PlsPipeline}
import graft.sinks.Sinks
import graft.sources.SnapshotStore
import graft.util.{Concurrent, FileRunLock}

/** Independent Spark actions submitted from concurrent driver threads
  * (`util.Concurrent`): the helper's wait-for-all contract, id assignment
  * identical to the sequential encodes, and the caller's job group on
  * every job the worker threads start.
  */
class ConcurrentSpec extends SparkSpec {

  private val entities = Seq("address", "site", "parcel", "road", "place_name")
  private def pk(e: String) = s"${e}_iri"

  test("Concurrent.all runs every thunk at once and returns results in input order") {
    val started = new CountDownLatch(3)
    val out = Concurrent.all((1 to 3).map { i => () =>
      started.countDown()
      // only passes if all three thunks are running at the same time
      assert(started.await(10, TimeUnit.SECONDS))
      i * 10
    })
    assert(out == Seq(10, 20, 30))
    assert(Concurrent.all(Seq.empty[() => Int]).isEmpty)
  }

  test("Concurrent.all waits for every thunk, then rethrows the first failure") {
    val slowDone = new AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      Concurrent.all(Seq[() => Int](
        () => { Thread.sleep(500); slowDone.set(true); 1 },
        () => throw new IllegalStateException("first"),
        () => throw new IllegalArgumentException("second")))
    }
    assert(e.getMessage == "first")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("second"))
    assert(slowDone.get) // the failures did not cut the slow thunk short
  }

  test("Concurrent.all threads see the caller's Spark local properties") {
    val sc = spark.sparkContext
    sc.setLocalProperty("graft.concurrent.probe", "caller")
    try assert(Concurrent.all(Seq.fill(3)(() => sc.getLocalProperty("graft.concurrent.probe")))
      == Seq.fill(3)("caller"))
    finally sc.setLocalProperty("graft.concurrent.probe", null)
  }

  /** Five entities, each with a map restored from parquet (ids 1..n) and a
    * key set overlapping it with fresh keys of its own.
    */
  private def fiveEntities(): (Map[String, DataFrame], Map[String, DataFrame]) = {
    val s = spark; import s.implicits._
    val root = Files.createTempDirectory("concurrent-maps").toString
    val sized = entities.zipWithIndex.map { case (e, i) => e -> (5 + 7 * i) }
    val maps = sized.map { case (e, n) =>
      val path = s"$root/$e"
      (1 to n).map(k => (s"$e/$k", k.toLong)).toDF(IdMap.KEY, IdMap.ID).write.parquet(path)
      e -> spark.read.parquet(path)
    }.toMap
    val frames = sized.map { case (e, n) =>
      e -> (n / 2 to n + 4 + n / 3).map(k => (s"$e/$k", s"v$k")).toDF(pk(e), "v")
    }.toMap
    (frames, maps)
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  test("encodeEntityKeys assigns exactly the ids of sequential extendAndEncode calls") {
    val (frames, maps) = fiveEntities()
    val sequential = entities.map { e =>
      val (enc, m) = IdMap.extendAndEncode(maps(e), frames(e), pk(e))
      e -> (rows(enc), rows(m))
    }.toMap
    val pks = entities.map(e => e -> pk(e)).toMap
    (1 to 2).foreach { _ =>
      val (enc, m) = PlsPipeline.encodeEntityKeys(frames, maps, pks)
      assert(enc.keySet == entities.toSet && m.keySet == entities.toSet)
      entities.foreach { e =>
        assert((rows(enc(e)), rows(m(e))) == sequential(e), s"entity $e")
      }
    }
    // the fresh keys really were new: every map grew past its restored size
    entities.foreach(e => assert(sequential(e)._2.size > maps(e).count()))
  }

  test("every job EtlRun.run and encodeEntityKeys start carries the caller's job group") {
    val s = spark; import s.implicits._
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        groups.add(Option(js.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse("<none>"))
        ()
      }
    }
    val root = Files.createTempDirectory("concurrent-groups").toString
    val lock = new FileRunLock("concurrent-groups", Files.createTempDirectory("lock-groups"))
    val (frames, maps) = fiveEntities()
    // two passes under different groups: a pool shared across calls would
    // run the second pass on threads that still carry the first group
    def pass(group: String, at: Instant): Unit = {
      sc.setJobGroup(group, s"ConcurrentSpec $group")
      try {
        val (enc, m) = PlsPipeline.encodeEntityKeys(frames, maps,
          entities.map(e => e -> pk(e)).toMap)
        val times = Iterator(at, at.plusSeconds(30), at.plusSeconds(31))
        EtlRun.run(spark, EtlRun.Config("pls", "bkt", "pls-etl/", "address"),
          lock, new SnapshotStore(root), new Sinks.FakeArtifactStore, new Sinks.CollectingNotifier(),
          "topic", () => Map("address" -> enc("address"), "id_map_road" -> m("road"),
            "tiny" -> Seq(1, 2).toDF("n")),
          now = () => times.next())
        ()
      } finally sc.clearJobGroup()
    }
    pass("first-pass", Instant.parse("2026-08-12T00:00:00Z"))
    sc.addSparkListener(listener)
    try {
      pass("second-pass", Instant.parse("2026-08-13T00:00:00Z"))
      // listener events arrive asynchronously; let the bus drain
      Thread.sleep(500)
    } finally sc.removeSparkListener(listener)
    val seen = groups.asScala.toSeq
    assert(seen.nonEmpty)
    assert(seen.forall(_ == "second-pass"), s"job groups seen: ${seen.distinct.mkString(", ")}")
  }
}
