package graft

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.column.Encoding
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.{ColumnChunkMetaData, CompressionCodecName}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, map}
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAllNoShrink
import graft.sources.SnapshotStore

/** Randomized roundtrip for the versioned snapshot store: random typed
  * frames (nulls included) written and committed under random run-id sets
  * must read back exactly; `latestRun` picks the lexicographic maximum
  * (the reference's `get_latest_file` rule — pinned against a driver-side
  * string sort, including ids where numeric and lexicographic order
  * disagree); `readIfExists` distinguishes present tables from absent
  * ones per run. Every parquet file `write` produced is in the snapshot
  * format, read from its footer and rows: every column chunk is zstd, none
  * uses the v1 `PLAIN_DICTIONARY` encoding, every string or int64 chunk
  * that is not dictionary-encoded uses a `DELTA_*` encoding (v2 pages), and
  * the file's rows ascend by its orderable columns (a file with no row
  * groups has nothing to check). A frame with a map column, which cannot
  * be ordered, still writes and reads back.
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

  private def parquetFiles(dir: String): Seq[Path] = {
    val path = new Path(dir)
    path.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(path).toSeq
      .map(_.getPath).filter(_.getName.endsWith(".parquet"))
  }

  /** Every column chunk of the parquet files under `dir`. */
  private def chunks(dir: String): Seq[ColumnChunkMetaData] =
    parquetFiles(dir).flatMap { f =>
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromPath(f, spark.sparkContext.hadoopConfiguration))
      try reader.getFooter.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala)
      finally reader.close()
    }

  private val delta =
    Set(Encoding.DELTA_BINARY_PACKED, Encoding.DELTA_BYTE_ARRAY, Encoding.DELTA_LENGTH_BYTE_ARRAY)
  private val deltaTyped = Set(PrimitiveTypeName.BINARY, PrimitiveTypeName.INT64)

  /** The snapshot format of the table under `dir`: zstd, no v1
    * dictionary pages, and delta-coded strings and longs wherever the
    * dictionary was not kept.
    */
  def snapshotFormat(dir: String): Boolean = chunks(dir).forall { c =>
    val encodings = c.getEncodings.asScala
    c.getCodec == CompressionCodecName.ZSTD &&
      encodings.forall(e => !e.usesDictionary || e == Encoding.RLE_DICTIONARY) &&
      (!deltaTyped(c.getPrimitiveType.getPrimitiveTypeName) ||
        encodings.exists(_.usesDictionary) || encodings.exists(delta))
  }

  /** Each parquet file's rows, in file order, projected on `cols`. */
  def fileRows(dir: String, cols: String*): Seq[Seq[Row]] =
    parquetFiles(dir).map(f => spark.read.parquet(f.toString).select(cols.map(col): _*).collect().toSeq)

  private val keyOrder: Ordering[Row] =
    Ordering.by((r: Row) => (r.getLong(0), Option(r.getString(1)), r.getDouble(2)))

  private def ascending(rows: Seq[Row]): Boolean =
    rows.zip(rows.drop(1)).forall { case (a, b) => keyOrder.lteq(a, b) }

  property("zstd v2 sorted write/read roundtrip, latest-by-string-desc, conditional scan") =
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
      val okFormat = runIds.forall { id =>
        val dir = store.tablePath(id, "t")
        snapshotFormat(dir) && fileRows(dir, "k", "v", "d").forall(ascending)
      }

      // a map column is no sort key, and does not fail the write
      val mapped = df.na.drop(Seq("v")).select($"k", $"v", $"d", map($"v", $"d").as("m"))
      store.write(mapped, "mapped", "t")
      val mappedDir = store.tablePath("mapped", "t")
      val okMapped = store.read(s, "mapped", "t").count() == mapped.count() &&
        snapshotFormat(mappedDir) && fileRows(mappedDir, "k", "v", "d").forall(ascending)

      latest == wantLatest && okRead && okCond && okFormat && okMapped
    }
}
