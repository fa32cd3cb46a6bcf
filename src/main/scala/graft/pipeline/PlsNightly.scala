package graft.pipeline

import java.time.{Instant, OffsetDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.operators.IdMap
import graft.sinks.Sinks
import graft.sources.{LayerSchema, PagedSource, PageFetcher, ScanSpec, SnapshotStore, SparqlSource}
import graft.util.RunLock

/** The nightly PLS run, wired in one place (reference `main_pls.py:59-227`):
  * under [[EtlRun.run]]'s lock, restore the carried tables of the newest
  * committed snapshot (S7/S8), take the watermark from its metadata (I1),
  * read the five SPARQL listings (S1/S2), scan the IRI→PID layer (S4) and
  * import the geocode layer (§3.3), merge (M1/M3/J4-J6), encode the five
  * entity keys (M6), then write, commit, upload and publish.
  *
  * Each ESRI layer that lost its `last_edited_date` column while a
  * watermark exists is scanned whole and its carried table dropped (M4):
  * `GeocodeImport` does so for the geocodes, this module for `pid_map`
  * (`address_iri_pid_map.py:268-275`).
  */
object PlsNightly {

  /** The five encoded entities; each lists its key as `<entity>_iri`. */
  val Entities: Seq[String] = Seq("address", "site", "parcel", "road", "place_name")
  def pk(entity: String): String = s"${entity}_iri"

  /** ESRI page size, as in the reference. */
  val PageSize = 2000

  /** One SPARQL listing: its result documents (one per fetched page) and
    * the projection variables it keeps.
    */
  final case class Listing(docs: Dataset[String], vars: Seq[String])

  /** One ESRI layer: its fetcher and physical schema. */
  final case class Layer(fetcher: PageFetcher, schema: StructType)

  /** @param listings one per entity of [[Entities]]; `address` also binds
    *   `address_pid` and `site_id`
    * @param typeCodes the geocode type-code cache (geocode_type_iri, code)
    */
  final case class Sources(listings: Map[String, Listing], iriPid: Layer, geocodes: Layer,
                           typeCodes: DataFrame)

  private val brisbaneFormat = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss[.SSSSSS]xx")
  private val esriFormat = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss").withZone(ZoneOffset.UTC)

  /** A metadata timestamp ([[Sinks.brisbaneTimestamp]]) as the ESRI UTC
    * datetime a layer's watermark predicate compares with.
    */
  def esriDatetime(brisbane: String): String =
    esriFormat.format(OffsetDateTime.parse(brisbane, brisbaneFormat))

  def run(spark: SparkSession, config: EtlRun.Config, lock: RunLock, store: SnapshotStore,
          artifacts: Sinks.ArtifactStore, notifier: Sinks.Notifier, topic: String,
          sources: Sources, now: () => Instant = () => Instant.now()): EtlRun.Result = {
    require(sources.listings.keySet == Entities.toSet,
      s"listings ${sources.listings.keys.toSeq.sorted.mkString(", ")} are not the entities ${Entities.mkString(", ")}")
    EtlRun.run(spark, config, lock, store, artifacts, notifier, topic,
      () => stages(spark, store, sources), now)
  }

  private def stages(spark: SparkSession, store: SnapshotStore,
                     sources: Sources): Map[String, DataFrame] = {
    val prev = store.latestRun(spark)
    def restore(table: String) = prev.flatMap(store.readIfExists(spark, _, table))
    val prevMaps = Entities.map(e => e -> restore(s"id_map_$e").getOrElse(IdMap.empty(spark))).toMap
    val watermark = prev.map(r =>
      esriDatetime(store.read(spark, r, "metadata").select("start_time").head().getString(0)))

    val listings = sources.listings.map { case (e, l) =>
      e -> SparqlSource.bindings(l.docs, l.vars).select(l.vars.map(col): _*)
    }

    // F7: the layer's physical names and types -> string address_iri/address_pid
    val pidLayer = LayerSchema.iriPidSchema(sources.iriPid.schema.fieldNames.toSet)
    val importedPid = PagedSource.read(spark, sources.iriPid.fetcher, sources.iriPid.schema, PageSize,
      ScanSpec(whereClause = Some(LayerSchema.whereClause(pidLayer, watermark)),
        columns = Some(Seq(pidLayer.addressIriField, pidLayer.addressPidField))))
      .select(col(pidLayer.addressIriField).cast("string").as("address_iri"),
        col(pidLayer.addressPidField).cast("string").as("address_pid"))
    val prevPid = if (LayerSchema.requiresFullRefresh(pidLayer, watermark)) None else restore("pid_map")

    val geocodes = GeocodeImport.importGeocodes(spark, sources.geocodes.fetcher,
      sources.geocodes.schema, sources.typeCodes, restore("geocodes"), watermark, PageSize).geocodes

    val out = PlsPipeline.run(PlsPipeline.RunInputs(None, prevPid, importedPid, geocodes,
      listings("address")))
    val (encoded, maps) = PlsPipeline.encodeEntityKeys(listings + ("address" -> out.addresses),
      prevMaps, Entities.map(e => e -> pk(e)).toMap)
    Map("geocodes" -> out.geocodes, "pid_map" -> out.pidMap) ++ encoded ++
      maps.map { case (e, m) => s"id_map_$e" -> m }
  }
}
