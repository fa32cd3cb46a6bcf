package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.sources.{FixtureFetcher, PagedSource, ScanSpec, SnapshotStore, SparqlSource, Tables}
import Queries.Q

/** Source/sink-adapter query registrations: paginated remote scan (S3/S4 +
  * P8 pushdown), SPARQL bindings parse (S1/S2 + P9 optionals), and the
  * versioned snapshot store round-trip (S7/S8/K1/O1).
  */
object SourceQueries {

  // -- paginated layer scan over a deterministic fixture ------------------
  private val pageSchema = StructType(Seq(
    StructField("feature_id", LongType, nullable = false),
    StructField("name", StringType, nullable = false),
    StructField("last_edited", StringType, nullable = false)))

  private def fixtureRows: Seq[Row] =
    (1 to 20).map(i => Row(i.toLong, s"name_$i", f"2020-01-${(i % 9) + 1}%02d"))

  private val pagedFull: Q = (s, _) =>
    PagedSource.read(s, new FixtureFetcher(fixtureRows, pageSchema), pageSchema, pageSize = 3)

  private val pagedDelta: Q = (s, _) =>
    PagedSource.read(s, new FixtureFetcher(fixtureRows, pageSchema), pageSchema,
      pageSize = 3, spec = ScanSpec(whereClause = Some("last_edited >= 2020-01-04")))

  /** P2/P7/A4 — projection + key-set + distinct pushdown in one scan. */
  private val pagedPushdown: Q = (s, _) =>
    PagedSource.read(s, new FixtureFetcher(fixtureRows, pageSchema), pageSchema,
      pageSize = 3, spec = ScanSpec(
        columns = Some(Seq("last_edited")),
        keys = Some(("feature_id", (4 to 12).map(_.toString).toSet)),
        distinct = true))

  private def fixtureValues(pred: Int => Boolean): String =
    (1 to 20).filter(pred)
      .map(i => f"(CAST($i AS BIGINT), 'name_$i', '2020-01-${(i % 9) + 1}%02d')")
      .mkString(", ")

  private val pagedFullSql =
    s"SELECT * FROM (VALUES ${fixtureValues(_ => true)}) AS t(feature_id, name, last_edited)"

  private val pagedDeltaSql =
    s"SELECT * FROM (VALUES ${fixtureValues(i => (i % 9) + 1 >= 4)}) AS t(feature_id, name, last_edited)"

  private val pagedPushdownSql =
    s"""SELECT DISTINCT last_edited
       |FROM (VALUES ${fixtureValues(_ => true)}) AS t(feature_id, name, last_edited)
       |WHERE feature_id BETWEEN 4 AND 12""".stripMargin

  // -- snapshot store round-trip -------------------------------------------
  private val snapshot: Q = (s, d) => {
    val store = new SnapshotStore("/tmp/graft_snapshots")
    store.write(Tables.nation(s, d).filter(org.apache.spark.sql.functions.col("n_nationkey") < 10),
      "run_a", "nation")
    store.write(Tables.nation(s, d), "run_b", "nation")
    Seq("run_a", "run_b").foreach(store.commit(s, _))
    val latest = store.latestRun(s).getOrElse(sys.error("no snapshot written"))
    store.read(s, latest, "nation")
  }

  private val snapshotSql = "SELECT * FROM nation"

  // -- SPARQL bindings parse --------------------------------------------------
  private val sparqlJson =
    """{"head":{"vars":["addr","pid","status"]},
      |"results":{"bindings":[
      |{"addr":{"type":"uri","value":"iri:a1"},"pid":{"type":"literal","value":"P1"},"status":{"type":"literal","value":"ACTIVE","datatype":"urn:dt:code"}},
      |{"addr":{"type":"uri","value":"iri:a2"},"pid":{"type":"literal","value":"P2"},"status":{"type":"literal","value":"RETIRED","datatype":"urn:dt:code"}},
      |{"addr":{"type":"uri","value":"iri:a3"},"status":{"type":"literal","value":"ACTIVE","datatype":"urn:dt:other"}},
      |{"addr":{"type":"uri","value":"iri:a4"},"pid":{"type":"literal","value":"P4"}}
      |]}}""".stripMargin

  private val sparql: Q = (s, _) => SparqlSource.fromJson(s, sparqlJson)

  private val sparqlSql =
    """SELECT * FROM (VALUES
      |  ('iri:a1', CAST(NULL AS VARCHAR), 'P1', CAST(NULL AS VARCHAR), 'ACTIVE', 'urn:dt:code'),
      |  ('iri:a2', CAST(NULL AS VARCHAR), 'P2', CAST(NULL AS VARCHAR), 'RETIRED', 'urn:dt:code'),
      |  ('iri:a3', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), 'ACTIVE', 'urn:dt:other'),
      |  ('iri:a4', CAST(NULL AS VARCHAR), 'P4', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR))
      |) AS t(addr, addr_datatype, pid, pid_datatype, status, status_datatype)""".stripMargin

  // -- geocode import (S5 + P8 + F6/F7 + M3/M5 in one flow) ---------------
  private val geoSchema = StructType(Seq(
    StructField("objectid", LongType), StructField("pid", StringType),
    StructField("type", StringType), StructField("lat", DoubleType),
    StructField("lon", DoubleType), StructField("last_edited_date", StringType)))

  private def geoRows: Seq[Row] = (1 to 24).map { i =>
    Row(i.toLong, s"pid_$i",
      Seq("urn:g/property-centroid", "urn:g/structural", "urn:g/water-meter-location")(i % 3),
      -27.0 - i, 153.0 + i, f"2026-01-${(i % 9) + 1}%02d")
  }

  private val geocodeImport: Q = (s, d) => {
    import org.apache.spark.sql.functions.col
    val typeCodes = Tables.region(s, d) // any tiny frame; we build codes from it
      .limit(0).select(col("r_name").as("geocode_type_iri"), col("r_name").as("code"))
      .unionByName(s.createDataFrame(
        s.sparkContext.parallelize(Seq(Row("urn:g/structural", "STRU"))),
        StructType(Seq(StructField("geocode_type_iri", StringType), StructField("code", StringType)))))
    graft.pipeline.GeocodeImport.importGeocodes(
      s, new FixtureFetcher(geoRows, geoSchema), geoSchema, typeCodes,
      previous = None, watermark = Some("2026-01-04")).geocodes
  }

  private val geocodeImportSql = {
    val values = (1 to 24).filter(i => (i % 9) + 1 >= 4).map { i =>
      val code = Seq("PC", "STRU", "WML")(i % 3)
      f"('$i', '$code', 'pid_$i', CAST(NULL AS VARCHAR), CAST(${-27.0 - i} AS DOUBLE), CAST(${153.0 + i} AS DOUBLE))"
    }.mkString(", ")
    s"SELECT * FROM (VALUES $values) AS t(geocode_id, geocode_type, address_pid, site_id, centoid_lat, centoid_lon)"
  }

  val registry: Vector[(String, Q, Option[String])] = Vector(
    ("geocode_import", geocodeImport, Some(geocodeImportSql)),
    ("paged_source_full", pagedFull, Some(pagedFullSql)),
    ("paged_source_delta", pagedDelta, Some(pagedDeltaSql)),
    ("paged_source_pushdown", pagedPushdown, Some(pagedPushdownSql)),
    ("snapshot_roundtrip", snapshot, Some(snapshotSql)),
    ("sparql_bindings", sparql, Some(sparqlSql)),
  )
}
