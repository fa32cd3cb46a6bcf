package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.pipeline.GeocodeImport
import graft.sources.FixtureFetcher

/** The §3.3 incremental import flow against a drifted fixture layer:
  * physical field names `pid`/`type` (not `address_pid`/`geocode_type`),
  * watermark honored when the layer has `last_edited_date`, full refresh
  * (carried state dropped) when it doesn't.
  */
class GeocodeImportSpec extends SparkSpec {

  private val driftedSchema = StructType(Seq(
    StructField("objectid", LongType), StructField("pid", StringType),
    StructField("type", StringType), StructField("lat", DoubleType),
    StructField("lon", DoubleType), StructField("last_edited_date", StringType)))

  private val rows = Seq(
    Row(1L, "p1", "urn:g/property-centroid", -27.0, 153.0, "2026-01-05"),
    Row(2L, "p2", "urn:g/structural", -28.0, 152.0, "2026-01-02"),
    Row(3L, "p3", "urn:g/water-meter-location", -29.0, 151.0, "2026-01-09"))

  private def typeCodes = {
    val s = spark; import s.implicits._
    Seq(("urn:g/structural", "STRU")).toDF("geocode_type_iri", "code")
  }

  private def prev = {
    val s = spark; import s.implicits._
    Seq(("1", "PC", "p1-old", "site-kept", -1.0, -2.0),
        ("9", "PC", "p9", "site-9", -3.0, -4.0))
      .toDF("geocode_id", "geocode_type", "address_pid", "site_id", "centoid_lat", "centoid_lon")
  }

  test("incremental: watermark pushed down, cache code + initialism fallback, carry-forward merge") {
    val out = GeocodeImport.importGeocodes(spark,
      new FixtureFetcher(rows, driftedSchema), driftedSchema, typeCodes,
      Some(prev), watermark = Some("last_edited_date >= 2026-01-04".split(" >= ")(1)))
    assert(!out.fullRefresh)
    val got = out.geocodes.orderBy("geocode_id").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).toSeq
    // rows 1,3 pass the watermark (2026-01-05, 2026-01-09); row 2 doesn't.
    // id 1: incoming wins over prev (type PC from initialism of
    // property-centroid, pid p1, site reset to null); id 9: carried with
    // site_id nulled (M5); id 3: WML initialism (no cache entry)
    assert(got == Seq(
      ("1", "PC", "p1", null),
      ("3", "WML", "p3", null),
      ("9", "PC", "p9", null)))
  }

  test("iri-pid layer schema: live short names preferred, objectIdFieldName fallback, drift long forms") {
    import graft.sources.LayerSchema
    // live field names (reference test_address_iri_pid_map.py:16-34)
    val live = LayerSchema.iriPidSchema(
      Set("objectid", "iri", "pid", "last_edited_date"), objectIdField = Some("objectid"))
    assert(live == LayerSchema.IriPidLayerSchema("objectid", "iri", "pid", Some("last_edited_date")))
    assert(!LayerSchema.requiresFullRefresh(live, Some("2026-04-14 00:00:00")))
    // drift: long forms accepted; short forms preferred when BOTH exist
    val drift = LayerSchema.iriPidSchema(Set("oid", "address_iri", "address_pid"),
      objectIdFieldName = Some("oid"))
    assert(drift == LayerSchema.IriPidLayerSchema("oid", "address_iri", "address_pid", None))
    assert(LayerSchema.requiresFullRefresh(drift, Some("2026-04-14 00:00:00")))
    val both = LayerSchema.iriPidSchema(Set("iri", "address_iri", "pid", "address_pid"))
    assert(both.addressIriField == "iri" && both.addressPidField == "pid")
    intercept[RuntimeException](LayerSchema.iriPidSchema(Set("pid")))      // no iri field
    intercept[RuntimeException](LayerSchema.iriPidSchema(Set("iri")))      // no pid field
    // where clause + watermark degradation (reference :37-49)
    assert(LayerSchema.whereClause(live, None) == "1=1")
    assert(LayerSchema.whereClause(live, Some("2026-04-14 00:00:00")) ==
      "last_edited_date >= DATE '2026-04-14 00:00:00'")
    assert(LayerSchema.whereClause(drift, Some("2026-04-14 00:00:00")) == "1=1")
    // normalization to string columns (reference :52-74): see TwoRunSpec's M4 case
  }

  test("full refresh on watermark loss: carried state cleared, all rows fetched") {
    val noWmSchema = StructType(driftedSchema.fields.filterNot(_.name == "last_edited_date"))
    val noWmRows = rows.map(r => Row(r.toSeq.dropRight(1): _*))
    val out = GeocodeImport.importGeocodes(spark,
      new FixtureFetcher(noWmRows, noWmSchema), noWmSchema, typeCodes,
      Some(prev), watermark = Some("2026-01-04"))
    assert(out.fullRefresh)
    val ids = out.geocodes.select("geocode_id").collect().map(_.getString(0)).sorted.toSeq
    assert(ids == Seq("1", "2", "3")) // no carried id 9; row 2 fetched (no watermark)
    // cached code applied for structural
    val types = out.geocodes.orderBy("geocode_id").collect().map(_.getString(1)).toSeq
    assert(types == Seq("PC", "STRU", "WML"))
  }
}
