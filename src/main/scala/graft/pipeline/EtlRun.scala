package graft.pipeline

import java.time.Instant

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sinks.Sinks
import graft.sources.SnapshotStore
import graft.util.{Concurrent, RunLock}

/** The reference's outer run shape (`main_pls.py:59-227`): lock → metadata
  * start → stages → metadata end → snapshot write → artifact upload →
  * presigned URL → Kafka publish → (optional) feature-service write-back.
  * Failure atomicity (SURVEY §7.4.7): the artifact uploads only after every
  * stage succeeded, the notification only after the upload — and the
  * notifier throws on delivery failure, so a failed publish fails the run
  * (at-least-once with a durable artifact). The write-back runs LAST: the
  * snapshot + published artifact are the durable source of truth, and a
  * partially-applied layer recovers by re-running against them
  * (applyEdits updates are idempotent per objectId), whereas publishing
  * only after an edit succeeded would leave consumers without an artifact
  * for a run whose data was already durable.
  */
object EtlRun {

  final case class Config(
    etlName: String,
    bucket: String,
    keyPrefix: String,          // reference: "pls-etl/"
    artifactName: String,       // reference: "pls.db"; S3 key suffix of the uploaded run dir
    presignedUrlExpirySeconds: Int = 3600,
  )

  /** Optional K5 write-back stage: push `table` (one of the run's stage
    * frames) to a feature layer through the injected [[FeatureService
    * .FeatureEditor]] — same trait+fake discipline as `Notifier`, so the
    * orchestration (ordering, add/update split, raise-on-failure) is
    * assertable against `RecordingEditor` with no egress.
    */
  final case class WriteBack(editor: graft.sinks.FeatureService.FeatureEditor,
                             layerUrl: String, table: String,
                             objectIdCol: String = "objectid",
                             xCol: Option[String] = None, yCol: Option[String] = None,
                             pageSize: Int = 2000)

  final case class Result(runId: String, s3Key: String, presignedUrl: String,
                          headers: Map[String, String], startTime: String, endTime: String,
                          writeBack: Option[graft.sinks.FeatureService.WriteBackResult] = None)

  /** Execute `stages` (name -> frame to persist) and publish the artifact.
    * `now` is injectable for the exact-timestamp tests.
    *
    * Write order: every stage table CONCURRENTLY (one driver thread per
    * table, see [[graft.util.Concurrent]] — the writes are independent
    * Spark actions, and one after another they left the cores idle
    * between small jobs), then `metadata`, then the commit marker.
    * `metadata` carries the next run's watermark, so it is written only
    * after every data table succeeded; the marker makes the run dir a
    * restore point only once everything is on disk. If any table write
    * fails, `run` waits for the other writes to end and rethrows: no
    * metadata, no marker, no upload, no notification, and the lock is
    * released only after no write is still running.
    */
  def run(spark: SparkSession, config: Config, lock: RunLock, store: SnapshotStore,
          artifacts: Sinks.ArtifactStore, notifier: Sinks.Notifier, topic: String,
          stages: () => Map[String, DataFrame],
          now: () => Instant = () => Instant.now(),
          writeBack: Option[WriteBack] = None): Result = {
    lock.acquire()
    try {
      val startedAt = now()
      val startStr = Sinks.brisbaneTimestamp(startedAt)

      val frames = stages()
      // fail a misconfigured write-back HERE, not after the snapshot is
      // written, the artifact uploaded and consumers notified — the table
      // name and EVERY schema-level writeBack check (objectId/coordinate
      // columns, pairing, page size) are checkable the moment the stage
      // map exists, with zero Spark jobs
      writeBack.foreach { wb =>
        require(frames.contains(wb.table),
          s"write-back table '${wb.table}' is not a run stage (stages: ${frames.keys.toSeq.sorted.mkString(", ")})")
        graft.sinks.FeatureService.validateWriteBack(
          frames(wb.table), wb.objectIdCol, wb.xCol, wb.yCol, wb.pageSize)
      }

      val finishedAt = now()
      val endStr = Sinks.brisbaneTimestamp(finishedAt)
      val runId = endStr // snapshot version = end timestamp, like the S3 key

      // K4 — run metadata rides inside the snapshot (next run's watermark I1)
      import spark.implicits._
      val metadata = Seq((startStr, endStr)).toDF("start_time", "end_time")
      // data tables concurrently; the watermark-carrying metadata table
      // strictly after them (written earlier, it would advance the
      // watermark past data a crash would then lose), then the commit
      // marker: latestRun only restores from committed runs, so a
      // partial run dir can never become the restore point
      Concurrent.all(frames.toSeq.sortBy(_._1).map { case (table, df) =>
        () => store.write(df, runId, table)
      })
      store.write(metadata, runId, "metadata")
      store.commit(spark, runId)

      // K2 → K3, strictly in this order. The artifact is the whole
      // committed run directory (every table, metadata, marker), as the
      // reference uploads its whole pls.db (`main_pls.py:193-218`)
      val s3Key = s"${config.keyPrefix}$endStr/${config.artifactName}"
      val presigned = artifacts.upload(store.runPath(runId),
        config.bucket, s3Key, config.presignedUrlExpirySeconds)
      val uploadedAt = now()
      val headers = Sinks.buildArtifactHeaders(
        etlName = config.etlName, startedAt = startedAt, finishedAt = finishedAt,
        uploadedAt = uploadedAt,
        durationSeconds = (finishedAt.toEpochMilli - startedAt.toEpochMilli) / 1000.0,
        s3Bucket = config.bucket, s3Key = s3Key,
        presignedUrlExpirySeconds = config.presignedUrlExpirySeconds)
      notifier.publish(topic, presigned, headers)
      // K5 (extension) — write-back only after the artifact is durable and
      // announced (the table name was validated before the first side
      // effect). It reads the JUST-WRITTEN SNAPSHOT, not the stage frame:
      // the snapshot is what was published (pushing exactly the durable
      // rows, even if the stage plan is non-deterministic), and re-reading
      // parquet costs a columnar scan where the stage frame would re-run
      // the whole upstream DAG a second time
      val wbResult = writeBack.map { wb =>
        graft.sinks.FeatureService.writeBack(
          store.read(spark, runId, wb.table), wb.editor, wb.layerUrl,
          wb.objectIdCol, wb.xCol, wb.yCol, wb.pageSize)
      }
      Result(runId, s3Key, presigned, headers, startStr, endStr, wbResult)
    } finally lock.release()
  }
}
