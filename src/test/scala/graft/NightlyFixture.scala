package graft

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{Encoders, Row, SparkSession}
import org.apache.spark.sql.types._
import graft.pipeline.PlsNightly
import graft.sources.{FixtureFetcher, ScanSpec}

/** Offline sources for [[PlsNightly.run]]: one SPARQL result document per
  * entity listing and two in-memory ESRI layers.
  */
object NightlyFixture {

  val pidSchema: StructType = StructType(Seq(
    StructField("objectid", LongType), StructField("iri", StringType),
    StructField("pid", StringType), StructField("last_edited_date", StringType)))

  val geoSchema: StructType = StructType(Seq(
    StructField("objectid", LongType), StructField("address_pid", StringType),
    StructField("geocode_type", StringType), StructField("lat", DoubleType),
    StructField("lon", DoubleType), StructField("last_edited_date", StringType)))

  /** A [[FixtureFetcher]] that records the `whereClause` of every count,
    * which `PagedSource.read` issues once per scan on the driver.
    */
  final class RecordingFetcher(rows: Seq[Row], schema: StructType)
      extends FixtureFetcher(rows, schema) {
    @transient val wheres: ArrayBuffer[String] = ArrayBuffer[String]()
    override def count(spec: ScanSpec): Long = {
      wheres ++= spec.whereClause
      super.count(spec)
    }
  }

  def layer(rows: Seq[Row], schema: StructType): (RecordingFetcher, PlsNightly.Layer) = {
    val f = new RecordingFetcher(rows, schema)
    (f, PlsNightly.Layer(f, schema))
  }

  /** A SPARQL SELECT result document binding `vars` to each row's values. */
  def sparqlDoc(vars: Seq[String], rows: Seq[Seq[String]]): String = {
    val bindings = rows.map(r => vars.zip(r).map { case (v, value) =>
      s""""$v":{"type":"literal","value":"$value"}""" }.mkString("{", ",", "}"))
    s"""{"head":{"vars":[${vars.map("\"" + _ + "\"").mkString(",")}]},""" +
      s""""results":{"bindings":[${bindings.mkString(",")}]}}"""
  }

  /** The five listings: `addresses` as (address_iri, address_pid, site_id);
    * every other entity lists the one key `<entity>-1`.
    */
  def listings(spark: SparkSession,
               addresses: Seq[(String, String, String)]): Map[String, PlsNightly.Listing] =
    PlsNightly.Entities.map { e =>
      val (vars, rows) =
        if (e == "address") (Seq("address_iri", "address_pid", "site_id"),
          addresses.map { case (i, p, s) => Seq(i, p, s) })
        else (Seq(PlsNightly.pk(e)), Seq(Seq(s"$e-1")))
      e -> PlsNightly.Listing(spark.createDataset(Seq(sparqlDoc(vars, rows)))(Encoders.STRING), vars)
    }.toMap

  def sources(spark: SparkSession, addresses: Seq[(String, String, String)],
              iriPid: PlsNightly.Layer, geocodes: PlsNightly.Layer): PlsNightly.Sources = {
    val s = spark; import s.implicits._
    PlsNightly.Sources(listings(spark, addresses), iriPid, geocodes,
      Seq(("urn:g/pc", "PC"), ("urn:g/sp", "SP")).toDF("geocode_type_iri", "code"))
  }
}
