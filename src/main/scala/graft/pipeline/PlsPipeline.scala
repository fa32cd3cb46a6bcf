package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{IdMap, RelOps}

/** The reference's run DAG (`main_pls.py:59-227`, SURVEY.md §3.1) as a
  * composition of the engine's operators over DataFrames. Remote boundaries
  * (SPARQL/ESRI/S3/Kafka) are injected as plain DataFrames / callbacks so
  * the pipeline itself is pure and unit-testable; production wires
  * PagedSource/SnapshotStore/sink adapters into the same shape.
  */
object PlsPipeline {

  /** §7.2 minimum slice — geocode→site backfill then referential prune
    * (reference `update_geocode_site_id` + `prune_geocodes_without_addresses`,
    * `address_etl/pls/tables.py:833-908`; test fixture
    * `tests/test_pls_address_pid_flow.py:160-241`).
    *
    * `addresses(address_pid, site_id, ...)`, `geocodes(geocode_id,
    * address_pid, site_id, ...)`. Geocodes get site_id filled from the
    * (deterministically pre-aggregated) address mapping, then geocodes whose
    * address_pid has no surviving address are pruned.
    */
  def backfillAndPruneGeocodes(geocodes: DataFrame, addresses: DataFrame): DataFrame = {
    val mapping = addresses
      .filter(col("address_pid").isNotNull && col("site_id").isNotNull)
      .select("address_pid", "site_id")
    val filled = RelOps.backfillFromJoin(geocodes, mapping, "address_pid", "site_id", "site_id")
    RelOps.pruneUnreferenced(filled, addresses.select("address_pid"), "address_pid")
  }

  /** Prune addresses that have no IRI→PID mapping, keeping the dropped rows
    * as a lazily-countable metric frame (reference J4 + the counted, sampled
    * warning — SURVEY.md §7.4.4). One left join computes the membership flag;
    * both outputs filter the same plan, so with the input cached (or under
    * AQE shuffle reuse) this is a single pass — never an eager mid-pipeline
    * action like the round-1 version.
    */
  def pruneAddressesWithoutPid(addresses: DataFrame, pidMap: DataFrame): (DataFrame, DataFrame) = {
    val flagged = addresses.join(
      pidMap.select(col("address_iri")).distinct().withColumn("__mapped", lit(true)),
      Seq("address_iri"), "left")
    val kept = flagged.filter(col("__mapped").isNotNull).drop("__mapped")
    val dropped = flagged.filter(col("__mapped").isNull).drop("__mapped")
    (kept, dropped)
  }

  /** M6 ×5 — encode the five entity PKs to stable integers, threading the
    * carried-forward id maps (reference `pls/tables.py:934-938`).
    * Returns encoded entities plus the updated maps (to persist).
    *
    * The reference encodes one entity after another; here each
    * `IdMap.extendAndEncode` runs on its own driver thread
    * ([[graft.util.Concurrent]]), because its assignment jobs (the map
    * probe, the range-sort sample, the `zipWithIndex` pass) are eager and
    * small, and in sequence they left the cores idle between jobs. The
    * encodes are independent — an entity's new ids depend only on its own
    * map and keys — so the assigned ids are exactly the sequential ones.
    * Returns once every encode has ended; the first failure is rethrown.
    */
  def encodeEntityKeys(entities: Map[String, DataFrame], maps: Map[String, DataFrame],
                       pkCols: Map[String, String]): (Map[String, DataFrame], Map[String, DataFrame]) = {
    val names = entities.keys.toSeq
    val results = names.zip(graft.util.Concurrent.all(names.map { name =>
      () => IdMap.extendAndEncode(maps(name), entities(name), pkCols(name))
    })).toMap
    (results.map { case (n, (e, _)) => n -> e }, results.map { case (n, (_, m)) => n -> m })
  }

  /** Full in-memory run over injected source frames — the §3.1 stage order
    * with SQLite/S3/Kafka boundaries replaced by DataFrames.
    */
  case class RunInputs(
    prevGeocodes: Option[DataFrame],      // carried forward with site_id nulled (M5)
    prevPidMap: Option[DataFrame],        // carried forward if present (S8)
    importedPidMap: DataFrame,            // ESRI delta (S4, already watermark-filtered)
    importedGeocodes: DataFrame,          // ESRI delta (S3)
    addresses: DataFrame,                 // SPARQL-populated entity frames
  )

  /** `droppedAddresses` is a lazy metric frame — count it at
    * materialization time (the reference logs the count once, at the end).
    */
  case class RunOutputs(geocodes: DataFrame, addresses: DataFrame, pidMap: DataFrame,
                        droppedAddresses: DataFrame)

  def run(inputs: RunInputs): RunOutputs = {
    // restore + upsert the IRI→PID cache (M1)
    val pidBase = inputs.prevPidMap.getOrElse(inputs.importedPidMap.limit(0))
    val pidMap = RelOps.upsert(pidBase, inputs.importedPidMap, Seq("address_iri"))

    // carry forward geocodes with site_id nulled, incoming rows win (M3/M5)
    val geoBase = inputs.prevGeocodes match {
      case Some(prev) => RelOps.carryForward(prev, inputs.importedGeocodes, Seq("geocode_id"), Seq("site_id"))
      case None => inputs.importedGeocodes
    }

    // prune unmapped addresses (J4), backfill + prune geocodes (J6 + J5).
    // addrKept is the run's shared stage: it appears TWICE inside the
    // geocode plan (the backfill mapping and the referential prune) and is
    // itself an output every caller consumes again (the pls_encoded encode
    // chain, EtlRun's stage write) — so it is guard-persisted here
    // (spill-to-disk at scale; the reference materializes the same stage
    // to a SQLite table, `pls/tables.py:833-908`). The guard makes the
    // entry SHARED across invocations over equal inputs — whichever
    // consumer acts first pays one upstream materialization and every
    // other occurrence substitutes from cache — and makes each caller's
    // cost self-contained instead of depending on which sibling query
    // happened to fill the cache first. Lifecycle as every shared layer:
    // LRU eviction recomputes from lineage; releaseSharedCaches drops.
    // no `observe` here: its fresh UUID name makes each call's plan, so its cache entry, distinct
    val (addrKept, dropped) = pruneAddressesWithoutPid(inputs.addresses, pidMap)
    val kept = graft.util.Caching.ensurePersisted(addrKept)
    val geocodes = backfillAndPruneGeocodes(geoBase, kept)
    RunOutputs(geocodes, kept, pidMap, dropped)
  }
}
