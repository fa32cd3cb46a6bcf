package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** S7/K1 — versioned snapshot persistence. The reference keeps each run's
  * whole SQLite DB at `pls-etl/<endTs>/pls.db` on S3 and restores the
  * lexicographically-latest one (`main_pls.py:101-186`, `s3.py:111-121`).
  *
  * Spark-native shape: one directory per run (`<root>/<runTs>/<table>/`,
  * parquet) plus a commit marker; the restore point is the newest
  * committed run (one rule, [[latestRun]]). Parquet per table replaces the
  * monolithic DB so the next run prunes columns/partitions on read instead
  * of copying everything.
  */
class SnapshotStore(root: String) {
  private def fs(spark: SparkSession) = {
    val conf = spark.sparkContext.hadoopConfiguration
    new org.apache.hadoop.fs.Path(root).getFileSystem(conf)
  }

  private val commitMarker = "_graft_committed"

  /** Mark `runId` COMPLETE: the run directory becomes a restore point
    * only once every table is on disk (see [[latestRun]]). `EtlRun`
    * commits after its last table write.
    */
  def commit(spark: SparkSession, runId: String): Unit = {
    val out = fs(spark).create(
      new org.apache.hadoop.fs.Path(s"$root/$runId/$commitMarker"), true)
    out.close()
  }

  def isCommitted(spark: SparkSession, runId: String): Boolean =
    fs(spark).exists(new org.apache.hadoop.fs.Path(s"$root/$runId/$commitMarker"))

  /** The restore point: the newest COMMITTED run under the root, by
    * descending lexicographic order (the reference's `get_latest_file`
    * rule), else `None`. A run dir without the marker — a crash or a run
    * still in flight, whatever tables it holds — is never restored from:
    * its missing carried-forward tables would read as legitimately absent
    * (the S8 path) while its metadata advanced the watermark past a delta
    * that was never written.
    */
  def latestRun(spark: SparkSession): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(root)
    val f = fs(spark)
    if (!f.exists(p)) None
    else f.listStatus(p).filter(_.isDirectory).map(_.getPath.getName)
      .sorted(Ordering[String].reverse)
      .find(isCommitted(spark, _))
  }

  def tablePath(runId: String, table: String): String = s"$root/$runId/$table"

  def write(df: DataFrame, runId: String, table: String): Unit =
    df.write.mode("overwrite").parquet(tablePath(runId, table))

  def read(spark: SparkSession, runId: String, table: String): DataFrame =
    spark.read.parquet(s"$root/$runId/$table")

  /** S8 — conditional scan: the reference checks `sqlite_master` before
    * copying carried-forward tables that older snapshots may lack.
    */
  def readIfExists(spark: SparkSession, runId: String, table: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(s"$root/$runId/$table")
    if (fs(spark).exists(p)) Some(spark.read.parquet(p.toString)) else None
  }

  /** K1 at 100 TB — bucketed snapshot write: hash-bucket the table by its
    * join key on the way out. The snapshot is rewritten every run anyway,
    * so the bucketing costs one extra sort within the write — and every
    * keyed join of the NEXT run (previous snapshot ⋈ current delta on the
    * entity key, the recurring big⋈big join of the incremental flow) then
    * reads both sides pre-partitioned and skips the shuffle entirely when
    * bucket layouts line up (asserted in SinksSpec). Bucket metadata lives
    * in the session catalog (`bucketBy` requires `saveAsTable`); the files
    * stay under the snapshot layout via the external-table path.
    *
    * Returns the catalog table name to `spark.table(...)` (reading the
    * path directly would see the data but not the bucketing).
    */
  def writeBucketed(df: DataFrame, runId: String, table: String,
                    key: String, numBuckets: Int): String = {
    // collision-proof catalog name: sanitization can map DISTINCT
    // (runId, table) pairs to one name ("addr.points" vs "addr_points"),
    // and mode-overwrite would silently re-point the first caller's
    // table at the second's data — a changed raw name gains a short
    // digest of the original so sanitized twins stay distinct
    val raw = s"snap_${runId}_$table"
    val sanitized = raw.replaceAll("[^A-Za-z0-9_]", "_")
    val name =
      if (sanitized == raw) sanitized
      else {
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(raw.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
        s"${sanitized}_$d"
      }
    df.write.mode("overwrite")
      .format("parquet")
      .option("path", tablePath(runId, table))
      .bucketBy(numBuckets, key)
      .sortBy(key)
      .saveAsTable(name)
    name
  }
}
