package graft

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAllNoShrink
import graft.sources.SnapshotStore

/** Randomized roundtrip for the versioned snapshot store: random typed
  * frames (nulls included) written and committed under random run-id sets
  * must read back exactly; `latestRun` picks the lexicographic maximum
  * (the reference's `get_latest_file` rule — pinned against a driver-side
  * string sort, including ids where numeric and lexicographic order
  * disagree); `readIfExists` distinguishes present tables from absent
  * ones per run; and every column chunk of every parquet file `write`
  * produced is zstd-compressed (read from the footer; a file with no row
  * groups has no chunk to check).
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

  /** Codecs of every column chunk in the parquet files under `dir`. */
  private def chunkCodecs(dir: String): Seq[CompressionCodecName] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val path = new Path(dir)
    path.getFileSystem(conf).listStatus(path).toSeq.map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).flatMap { f =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
        try reader.getFooter.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala.map(_.getCodec))
        finally reader.close()
      }
  }

  property("zstd-coded write/read roundtrip, latest-by-string-desc, conditional scan") =
    forAllNoShrink(runIdGen, frameGen) { (runIds, rows) =>
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
      val okCodec = runIds.forall { id =>
        chunkCodecs(store.tablePath(id, "t")).forall(_ == CompressionCodecName.ZSTD)
      }

      latest == wantLatest && okRead && okCond && okCodec
    }
}
