package perfbench

import java.nio.file.{Files, Path, Paths}
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.IdMap
import graft.pipeline.{EtlRun, GeocodeImport, PlsPipeline}
import graft.sinks.Sinks
import graft.sources.{LayerSchema, PagedSource, SnapshotStore, SparqlSource}
import graft.util.{FileRunLock, RunLock}

/** One PLS run wired the way a nightly `main` wires it: lock, restore the
  * latest committed snapshot, read the watermark from its metadata, scan
  * the SPARQL listings and both ESRI layers, merge, encode the five entity
  * keys, write and commit the snapshot, upload, publish.
  */
object Pls {
  val Entities: Seq[String] = Seq("address", "site", "parcel", "road", "place_name")
  def pk(entity: String): String = s"${entity}_iri"
  val Topic = "pls-etl"
  val Config: EtlRun.Config = EtlRun.Config("pls", "pls-artifacts", "pls-etl/", "geocodes")

  private val esriFormat = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss").withZone(ZoneOffset.UTC)

  /** Brisbane ISO timestamp (the metadata format) -> ESRI UTC datetime. */
  def esriDatetime(brisbane: String): String =
    esriFormat.format(java.time.OffsetDateTime.parse(
      brisbane.replaceAll("\\+1000$", "+10:00")).toInstant)

  final case class Outcome(result: EtlRun.Result, records: Seq[(String, String, Map[String, String])],
                           lockDir: Path, store: SnapshotStore, stats: SourceStats,
                           restoredRun: Option[String])

  /** Run one ETL of `gen` against the snapshot root `root`. */
  def run(spark: SparkSession, gen: PlsGen, root: Path, tr: Tracer): Outcome = {
    val stats = SourceStats(spark)
    val store: SnapshotStore = tr match {
      case NoTrace => new SnapshotStore(root.resolve("snapshots").toString)
      case _ => new SnapshotStore(root.resolve("snapshots").toString) {
        override def write(df: DataFrame, runId: String, table: String): Unit =
          tr.span("sources.snapshot.write")(super.write(df, runId, table))
      }
    }
    val lockDir = Files.createDirectories(root.resolve("lock"))
    val lock: RunLock = new FileRunLock("pls", lockDir)
    val artifacts = new Sinks.FakeArtifactStore
    val notifier = new Sinks.CollectingNotifier()
    val publishing: Sinks.Notifier = (topic, value, headers) =>
      tr.span("sinks.publish")(notifier.publish(topic, value, headers))
    var restored: Option[String] = None
    val deltaEdited = esriFormat.format(Instant.now())

    val result = tr.span("pipeline.etl_run") {
      EtlRun.run(spark, Config, lock, store, artifacts, publishing, Topic, () =>
        tr.span("pipeline.stages") {
          val prev = store.latestRun(spark)
          restored = prev
          val (prevGeo, prevPid, prevMaps, watermark) = tr.span("sources.snapshot.restore") {
            def restore(t: String) = prev.flatMap(store.readIfExists(spark, _, t)).map(tr.mat)
            val maps = Entities.map(e => e -> restore(s"id_map_$e").getOrElse(IdMap.empty(spark))).toMap
            val wm = prev.map(r => esriDatetime(store.read(spark, r, "metadata").head().getString(0)))
            (restore("geocodes"), restore("pid_map"), maps, wm)
          }

          val sparql = new SparqlPages(gen, stats)
          val listings = tr.span("sources.sparql") {
            Entities.map { e =>
              e -> tr.mat(SparqlSource.bindings(sparql.pages(spark, e), sparql.vars(e))
                .select(sparql.vars(e).map(col): _*))
            }.toMap
          }

          val pidLayer = new IriPidLayer(gen, deltaEdited, stats)
          val pidSchema = LayerSchema.iriPidSchema(pidLayer.schema.fieldNames.toSet)
          val importedPid = tr.span("sources.esri.iri_pid") {
            tr.mat(PagedSource.read(spark, pidLayer, pidLayer.schema, gen.esriPage,
              graft.sources.ScanSpec(whereClause = Some(LayerSchema.whereClause(pidSchema, watermark)),
                columns = Some(Seq(pidSchema.addressIriField, pidSchema.addressPidField))))
              .select(col(pidSchema.addressIriField).as("address_iri"),
                col(pidSchema.addressPidField).as("address_pid")))
          }

          val geoLayer = new GeocodeLayer(gen, deltaEdited, stats)
          val geocodes = tr.span("pipeline.geocode_import") {
            val codes = spark.createDataFrame(gen.typeCodes).toDF("geocode_type_iri", "code")
            val r = GeocodeImport.importGeocodes(spark, geoLayer, geoLayer.schema, codes,
              prevGeo, watermark, gen.esriPage)
            require(!r.fullRefresh, "the layer kept its watermark column; no full refresh expected")
            tr.mat(r.geocodes)
          }

          val out = tr.span("pipeline.pls_run") {
            val o = PlsPipeline.run(PlsPipeline.RunInputs(None, prevPid, importedPid, geocodes,
              listings("address")))
            o.copy(geocodes = tr.mat(o.geocodes), addresses = tr.mat(o.addresses),
              pidMap = tr.mat(o.pidMap))
          }

          val (encoded, maps) = tr.span("operators.idmap") {
            val (enc, m) = PlsPipeline.encodeEntityKeys(listings + ("address" -> out.addresses),
              prevMaps, Entities.map(e => e -> pk(e)).toMap)
            (enc.map { case (k, v) => k -> tr.mat(v) }, m.map { case (k, v) => k -> tr.mat(v) })
          }

          Map("geocodes" -> out.geocodes, "pid_map" -> out.pidMap) ++ encoded ++
            maps.map { case (e, m) => s"id_map_$e" -> m }
        })
    }
    Outcome(result, notifier.records.toSeq, lockDir, store, stats, restored)
  }

  // ------------------------------------------------------------------ checks

  /** Every violation found in a finished run's published state. `previous`
    * is the snapshot the run restored from, whose ids must survive.
    */
  def check(spark: SparkSession, o: Outcome, expected: Prediction,
            previous: Option[(SnapshotStore, String)]): Seq[String] = {
    val errs = Seq.newBuilder[String]
    val runId = o.result.runId
    def fail(msg: String): Unit = errs += msg
    try {
      if (!o.store.isCommitted(spark, runId)) fail(s"snapshot $runId is not committed")
      if (!o.store.latestRun(spark).contains(runId)) fail(s"snapshot $runId is not latestRun")
      if (Files.exists(o.lockDir.resolve("graft-lock-pls"))) fail("run lock not released")
      o.records match {
        case Seq((topic, _, headers)) =>
          if (topic != Topic) fail(s"published to topic $topic")
          if (headers.size != 8) fail(s"${headers.size} headers, want 8")
          val key = s"pls-etl/$runId/${Config.artifactName}"
          if (!headers.get("s3-key").contains(key)) fail(s"s3-key ${headers.get("s3-key")} != $key")
        case rs => fail(s"${rs.size} notifications, want exactly 1")
      }
      def rows(store: SnapshotStore, run: String, t: String, cols: String*) =
        Fs.parquetRows(spark, Paths.get(store.tablePath(run, t)), cols)
      expected.tables.foreach { case (t, want) =>
        val got = Fs.parquetCount(spark, Paths.get(o.store.tablePath(runId, t)))
        if (got != want) fail(s"table $t has $got rows, predicted $want")
      }
      Entities.foreach { e =>
        val m = rows(o.store, runId, s"id_map_$e", IdMap.KEY, IdMap.ID)
        val ids = m.map(_(1).asInstanceOf[Long])
        val n = m.size
        if (m.map(_(0)).distinct.size != n || ids.distinct.size != n) fail(s"id_map_$e is not injective")
        if (n > 0 && (ids.min != 1L || ids.max != n)) fail(s"id_map_$e ids are not dense 1..$n")
        previous.foreach { case (prevStore, prevRun) =>
          val now = m.map(r => r(0) -> r(1)).toMap
          val before = rows(prevStore, prevRun, s"id_map_$e", IdMap.KEY, IdMap.ID)
          val changed = before.count(r => !now.get(r(0)).contains(r(1)))
          if (changed > 0) fail(s"id_map_$e changed $changed of ${before.size} restored ids")
        }
      }
      val kept = rows(o.store, runId, "address", "address_pid").map(_(0)).toSet
      val dangling = rows(o.store, runId, "geocodes", "address_pid").count(r => !kept(r(0)))
      if (dangling > 0) fail(s"$dangling geocodes reference no kept address")
    } catch {
      case e: Exception => fail(s"check raised ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    errs.result()
  }

  /** Bytes and files under the committed snapshot of `runId`. */
  def snapshotSize(store: SnapshotStore, runId: String): (Long, Long) =
    Fs.size(java.nio.file.Paths.get(store.tablePath(runId, "metadata")).getParent)
}

object Fs {
  /** (bytes, regular files) under `dir`. */
  def size(dir: Path): (Long, Long) = {
    var bytes = 0L; var files = 0L
    val s = Files.walk(dir)
    try s.filter(Files.isRegularFile(_)).forEach { p => bytes += Files.size(p); files += 1 }
    finally s.close()
    (bytes, files)
  }

  private def parquetFiles(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toList.sorted
    finally s.close()
  }

  /** Row count of a parquet table directory, from the file footers. */
  def parquetCount(spark: SparkSession, dir: Path): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    parquetFiles(dir).map { p =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new HPath(p.toUri), conf))
      try r.getRecordCount finally r.close()
    }.sum
  }

  /** The named string and long columns of every row of a parquet table
    * directory, read from the files without a Spark job, so checking a run
    * costs far less than the run.
    */
  def parquetRows(spark: SparkSession, dir: Path, cols: Seq[String]): Seq[Array[Any]] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val out = ArrayBuffer[Array[Any]]()
    parquetFiles(dir).foreach { p =>
      val r = ParquetReader.builder(new GroupReadSupport(), new HPath(p.toUri)).withConf(conf).build()
      try {
        var g = r.read()
        while (g != null) {
          out += cols.map { c =>
            if (g.getFieldRepetitionCount(c) == 0) null
            else if (g.getType.getType(c).asPrimitiveType.getPrimitiveTypeName == PrimitiveTypeName.INT64)
              g.getLong(c, 0)
            else g.getString(c, 0)
          }.toArray[Any]
          g = r.read()
        }
      } finally r.close()
    }
    out.toSeq
  }

  def copy(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
    } finally s.close()
  }
}
