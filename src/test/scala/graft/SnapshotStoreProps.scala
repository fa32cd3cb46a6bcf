package graft

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAllNoShrink
import graft.sources.SnapshotStore

/** Randomized roundtrip for the versioned snapshot store: random typed
  * frames (nulls included) written and committed under random run-id sets
  * must read back exactly; `latestRun` picks the lexicographic maximum
  * (the reference's `get_latest_file` rule — pinned against a driver-side
  * string sort, including ids where numeric and lexicographic order
  * disagree); `readIfExists` distinguishes present tables from absent
  * ones per run; and a bucketed write reads back the same rows through
  * its catalog table.
  */
object SnapshotStoreProps extends Properties("SnapshotStore") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10).withWorkers(1)

  private lazy val spark = SparkSpec.session

  // run ids where numeric order and string order diverge ("9" > "10")
  private val runIdGen: Gen[List[String]] = Gen.choose(1, 4).flatMap(n =>
    Gen.listOfN(n, Gen.oneOf("2", "9", "10", "2026-01-05T00", "2026-01-10T00")))
    .map(_.distinct)

  private val frameGen: Gen[List[(Long, Option[String], Double)]] =
    Gen.choose(0, 12).flatMap(m => Gen.listOfN(m, for {
      k <- Gen.choose(0L, 50L)
      v <- Gen.option(Gen.oneOf("a", "b", "c"))
      d <- Gen.choose(-100, 100).map(_ / 4.0)
    } yield (k, v, d)))

  property("write/read roundtrip, latest-by-string-desc, conditional scan, bucketed twin") =
    forAllNoShrink(runIdGen, frameGen, Gen.choose(1, 3)) { (runIds, rows, nBuckets) =>
      val s = spark; import s.implicits._
      val root = java.nio.file.Files.createTempDirectory("snapprop").toString
      val store = new SnapshotStore(root)
      val df = rows.map { case (k, v, d) => (k, v.orNull, d) }.toDF("k", "v", "d")

      runIds.foreach { id => store.write(df, id, "t"); store.commit(s, id) }
      val latest = store.latestRun(s)
      val wantLatest = runIds.sorted(Ordering[String].reverse).headOption

      val okRead = runIds.forall { id =>
        store.read(s, id, "t").collect().map(_.toSeq).toSeq.sortBy(_.mkString("|")) ==
          df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))
      }
      val okCond = runIds.forall { id =>
        store.readIfExists(s, id, "t").isDefined &&
          store.readIfExists(s, id, "missing").isEmpty
      }
      val bucketTable = store.writeBucketed(df, runIds.head, "tb", "k", nBuckets)
      val okBucketed = s.table(bucketTable).collect().map(_.toSeq).toSeq.sortBy(_.mkString("|")) ==
        df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))
      s.sql(s"DROP TABLE IF EXISTS $bucketTable")

      latest == wantLatest && okRead && okCond && okBucketed
    }
}
