package perfbench

import org.apache.spark.sql.{Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.types._
import org.apache.spark.util.LongAccumulator
import graft.sources.{PageFetcher, ScanSpec}
import graft.util.Retry

/** Counter-based randomness: every generated value is a pure function of
  * (seed, stream, index), so any page of any layer can be produced in
  * O(page) on whichever task thread asks for it, and a prediction can
  * enumerate the same values on the driver.
  */
object Mix {
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def h(seed: Long, stream: Long, i: Long): Long = mix(mix(mix(seed) ^ stream) ^ i)
  def u(seed: Long, stream: Long, i: Long): Double = (h(seed, stream, i) >>> 11) * (1.0 / (1L << 53))
  def hex(x: Long): String = {
    val s = java.lang.Long.toHexString(x)
    ("0" * (16 - s.length)) + s
  }
}

/** Counters the simulated services update from task threads. Fetches of a
  * plan that Spark re-executes are counted again: that is real traffic.
  */
final class SourceStats(val pages: LongAccumulator, val rows: LongAccumulator,
                        val bytes: LongAccumulator, val waitNs: LongAccumulator,
                        val busyNs: LongAccumulator, val refreshes: LongAccumulator,
                        val retries: LongAccumulator) extends Serializable {

  /** One service request: the fixed latency, then the generator's work,
    * which returns (result, rows, bytes). A request the service rejects
    * still costs its latency.
    */
  def request[T](latencyMs: Int)(work: => (T, Long, Long)): T = {
    val t0 = System.nanoTime()
    Thread.sleep(latencyMs)
    val t1 = System.nanoTime()
    waitNs.add(t1 - t0)
    try {
      val (out, nRows, nBytes) = work
      pages.add(1); rows.add(nRows); bytes.add(nBytes)
      out
    } finally busyNs.add(System.nanoTime() - t1)
  }
}

object SourceStats {
  def apply(spark: SparkSession): SourceStats = {
    def acc(name: String) = spark.sparkContext.longAccumulator(name)
    new SourceStats(acc("pages"), acc("rows"), acc("bytes"), acc("wait_ns"), acc("busy_ns"),
      acc("token_refreshes"), acc("retries"))
  }
}

/** The PLS source universe for one base seed. `delta` 0 is the state a cold
  * run scans; a positive `delta` names one nightly edit over that state, so
  * every nightly run, cold or warm, applies its own delta to a fresh copy of
  * the same base snapshot.
  *
  * Addresses `a` in [0, n) exist in the base state; the first `nPid` of them
  * have an IRI->PID row (about 97%). A delta retires about 0.2% of them and
  * adds `newPerDelta` (0.5%) fresh ones, each with a PID row and a geocode.
  * Base geocode rows: one primary per address, `extraGeo` extra ones drawn
  * with a heavy tail over addresses, and `orphans` that reference none.
  */
final case class PlsGen(seed: Long, n: Int, latencyMs: Int, delta: Long = 0L) {
  val esriPage = 2000
  val addressPage = 5000
  val entityPage = 10000

  val nPid: Int = (n * 0.97).toInt
  val extraGeo: Int = n / 10
  val orphans: Int = math.max(1, n / 200)
  val g0: Int = n + extraGeo + orphans
  val newPerDelta: Int = math.max(1, n / 200)
  val changeStride = 200
  val changed: Int = g0 / changeStride
  val touched: Int = nPid / changeStride
  val retireRate = 0.002
  /** The seed of everything this delta decides. */
  private val ds: Long = Mix.h(seed, 99, delta)
  private def isDelta = delta > 0

  // entity listings and their growth in a delta
  private val base0 = Map("site" -> n * 9 / 10, "parcel" -> n * 8 / 10,
    "road" -> math.max(1, n / 50), "place_name" -> math.max(1, n / 500))
  def listing(entity: String): Int = {
    val b = base0(entity)
    if (isDelta && entity != "place_name") b + b / 200 else b
  }
  def baseListing(entity: String): Int = base0(entity)

  def retired(a: Int): Boolean = isDelta && a < n && Mix.u(ds, 100, a) < retireRate
  def isNew(a: Int): Boolean = isDelta && a >= n && a < n + newPerDelta
  def alive(a: Int): Boolean = (a < n && !retired(a)) || isNew(a)
  def hasPid(a: Int): Boolean = a < nPid || a >= n
  def kept(a: Int): Boolean = alive(a) && hasPid(a)
  /** Kept in the base state the nightly snapshot holds. */
  def keptBase(a: Int): Boolean = a >= 0 && a < nPid

  private val iriBase = "https://linked.data.gov.au/dataset/qld-addr/"
  private def keySeed(i: Int, baseCount: Int) = if (i < baseCount) seed else ds
  def addressIri(a: Int): String = iriBase + "address/" + Mix.hex(Mix.h(keySeed(a, n), 1, a))
  def pid(a: Int): String = "QA" + Mix.hex(Mix.h(keySeed(a, n), 2, a))
  def entityIri(entity: String, i: Int): String =
    iriBase + entity + "/" + Mix.hex(Mix.h(keySeed(i, base0(entity)), 3 + entity.hashCode.toLong, i))
  def siteOf(a: Int): Int = (a.toLong * 9 / 10).toInt

  val geocodeTypes: IndexedSeq[String] =
    Seq("building-centroid", "property-centroid", "frontage-centre", "driveway-frontage",
      "property-access-point", "parcel-centroid", "unit-centroid", "postal-delivery")
      .map("https://linked.data.gov.au/def/geocode-types/" + _).toIndexedSeq
  /** The stored type-code cache knows six of the eight types; the other two
    * take the initialism fallback.
    */
  val typeCodes: Seq[(String, String)] =
    geocodeTypes.take(6).zip(Seq("BC", "PC", "FC", "DF", "PAP", "PCL"))

  /** Address of base geocode row g, or -1 for an orphan. */
  def geoAddress(g: Int): Int =
    if (g < n) g
    else if (g < n + extraGeo) math.min(n - 1, (n * math.pow(Mix.u(seed, 4, g), 4)).toInt)
    else -1
  /** Random-looking value of base geocode row g: base state, or as this delta changed it. */
  def geoValue(g: Int, stream: Long, changed: Boolean): Long =
    Mix.h(if (changed) ds else seed, stream, g)
  def changedRow(i: Int): Int = i * changeStride + (Mix.h(ds, 300, i) & 0xffff).toInt % changeStride
  def touchedRow(i: Int): Int = i * changeStride + (Mix.h(ds, 400, i) & 0xffff).toInt % changeStride
  def newAddress(i: Int): Int = n + i

  /** Base edit dates all lie in 2024, before any watermark a run records. */
  def baseEdited(i: Long, stream: Long): String = {
    val x = Mix.h(seed, stream, i)
    f"2024-${1 + (x & 0xff) % 12}%02d-${1 + ((x >>> 8) & 0xff) % 28}%02d 00:00:00"
  }

  // ---------------------------------------------------------------- predictions

  /** Exact row counts of every table this run publishes (cold: no snapshot;
    * a delta: over the base snapshot), plus the counts the per-layer report
    * explains the run with.
    */
  def predict(): Prediction = {
    var keptAddr = 0L; var aliveAddr = 0L; var keptBase0 = 0L
    var a = 0
    while (a < n) {
      if (alive(a)) { aliveAddr += 1; if (hasPid(a)) keptAddr += 1 }
      if (keptBase(a)) keptBase0 += 1
      a += 1
    }
    val nNew = if (isDelta) newPerDelta.toLong else 0L
    aliveAddr += nNew; keptAddr += nNew
    var geo = 0L; var published0 = 0L
    var g = 0
    while (g < g0) {
      val ad = geoAddress(g)
      if (ad >= 0 && kept(ad)) geo += 1
      if (keptBase(ad)) published0 += 1
      g += 1
    }
    geo += nNew
    // rows entering the referential prune, and delta rows that survive it
    var entering = g0.toLong
    var changedKept = 0L
    if (isDelta) {
      var reEntering = 0L
      var i = 0
      while (i < changed) {
        val ad = geoAddress(changedRow(i))
        if (!keptBase(ad)) reEntering += 1
        if (ad >= 0 && kept(ad)) changedKept += 1
        i += 1
      }
      entering = published0 + reEntering + nNew
    }
    val entities = Seq("site", "parcel", "road", "place_name")
    val listed = entities.map(x => listing(x).toLong).sum
    val tables = Map(
      "geocodes" -> geo,
      "pid_map" -> (nPid + nNew),
      "address" -> keptAddr,
      "id_map_address" -> (keptBase0 + nNew),
      "metadata" -> 1L,
    ) ++ entities.map(x => x -> listing(x).toLong) ++
      entities.map(x => s"id_map_$x" -> listing(x).toLong)
    val newIds = Map("address" -> (if (isDelta) nNew else keptBase0)) ++
      entities.map(x => x -> (listing(x) - (if (isDelta) baseListing(x) else 0)).toLong)
    val pidFetched = if (isDelta) touched.toLong + nNew else nPid.toLong
    Prediction(tables, newIds,
      keysScanned = keptAddr + listed,
      addressesDropped = aliveAddr - keptAddr,
      geocodesPruned = entering - geo,
      carriedRows = if (isDelta) geo - changedKept - nNew else 0L,
      keptFetched = (if (isDelta) changedKept + nNew else geo) + pidFetched + keptAddr + listed)
  }
}

final case class Prediction(tables: Map[String, Long], newIds: Map[String, Long],
                            keysScanned: Long, addressesDropped: Long,
                            geocodesPruned: Long, carriedRows: Long,
                            keptFetched: Long)

/** Shared page arithmetic of the two ESRI layers. Each layer has two index
  * views: the full layer (a watermark at or before every base edit, or
  * `1=1`) and the delta of rows edited since the last run's watermark. A
  * watermark between the two is not a state the scheduler produces and is
  * refused, so a wrong watermark fails the run instead of passing silently.
  */
abstract class EsriLayer(gen: PlsGen, deltaEdited: String, stats: SourceStats)
    extends PageFetcher {
  def schema: StructType
  protected def fullSize: Long
  protected def deltaSize: Long
  /** Field values of the row at `i` of the chosen view, in schema order. */
  protected def row(delta: Boolean, i: Long): Array[Any]

  // a deserialized copy (one per task) starts with an expired token
  @transient private var authed = true

  private def view(spec: ScanSpec): Boolean = {
    val from = spec.whereClause.filter(_ != "1=1").map { w =>
      val Array(_, v) = w.split(">=").map(_.trim)
      v.stripPrefix("DATE").trim.stripPrefix("'").stripSuffix("'")
    }.toSeq ++ spec.lowerBound.map(_._2).toSeq
    from.sorted.lastOption match {
      case None => false
      case Some(w) if w <= "2024-01-01 00:00:00" => false
      case Some(w) if gen.delta > 0 && w > "2024-12-31 23:59:59" && w <= deltaEdited => true
      case Some(w) => throw new IllegalArgumentException(
        s"watermark '$w' matches no modelled layer state (delta ${gen.delta} edited $deltaEdited)")
    }
  }

  private def requireToken(): Unit =
    if (!authed) { stats.retries.add(1); throw new Retry.TokenExpired("498 invalid token") }

  override def count(spec: ScanSpec): Long =
    stats.request(gen.latencyMs) {
      requireToken()
      (if (view(spec)) deltaSize else fullSize, 0L, 16L)
    }

  override def fetch(offset: Long, limit: Int, spec: ScanSpec): Iterator[Row] =
    stats.request(gen.latencyMs) {
      requireToken()
      val delta = view(spec)
      val end = math.min(offset + limit, if (delta) deltaSize else fullSize)
      val idx = spec.columns.getOrElse(schema.fieldNames.toSeq).map(schema.fieldIndex).toArray
      val out = new Array[Row]((end - offset).max(0L).toInt)
      var bytes = 0L
      var i = offset
      while (i < end) {
        val r = row(delta, i)
        val vals = idx.map(r(_))
        vals.foreach { v => bytes += (if (v == null) 4 else v.toString.length + 8) }
        out((i - offset).toInt) = Row.fromSeq(vals.toSeq)
        i += 1
      }
      (out.iterator, out.length.toLong, bytes)
    }

  override def refreshAuth(): Unit = { stats.refreshes.add(1); authed = true }
}

final class GeocodeLayer(gen: PlsGen, deltaEdited: String, stats: SourceStats)
    extends EsriLayer(gen, deltaEdited, stats) {
  val schema: StructType = StructType(Seq(
    StructField("objectid", LongType), StructField("address_pid", StringType),
    StructField("geocode_type", StringType), StructField("geocode_status", StringType),
    StructField("lat", DoubleType), StructField("lon", DoubleType),
    StructField("last_edited_date", StringType)))
  protected def fullSize: Long = gen.g0
  protected def deltaSize: Long = if (gen.delta > 0) gen.changed + gen.newPerDelta else 0L

  protected def row(delta: Boolean, i: Long): Array[Any] =
    if (!delta) geocode(i.toInt, changed = false, gen.baseEdited(i, 7))
    else if (i < gen.changed) geocode(gen.changedRow(i.toInt), changed = true, deltaEdited)
    else {
      val a = gen.newAddress((i - gen.changed).toInt)
      val g = gen.g0 + (a - gen.n)
      Array[Any](g.toLong + 1, gen.pid(a), gen.geocodeTypes((gen.geoValue(g, 8, true) & 7).toInt),
        "active", coord(-28.0, gen.geoValue(g, 9, true)), coord(153.0, gen.geoValue(g, 10, true)),
        deltaEdited)
    }

  private def coord(origin: Double, x: Long): Double = origin + (x >>> 11) * (1.0 / (1L << 53))

  private def geocode(g: Int, changed: Boolean, edited: String): Array[Any] = {
    val a = gen.geoAddress(g)
    val pid = if (a >= 0) gen.pid(a) else "QX" + Mix.hex(Mix.h(gen.seed, 5, g))
    Array[Any](g.toLong + 1, pid, gen.geocodeTypes((gen.geoValue(g, 6, changed) & 7).toInt),
      "active", coord(-28.0, gen.geoValue(g, 11, changed)), coord(153.0, gen.geoValue(g, 12, changed)),
      edited)
  }
}

final class IriPidLayer(gen: PlsGen, deltaEdited: String, stats: SourceStats)
    extends EsriLayer(gen, deltaEdited, stats) {
  val schema: StructType = StructType(Seq(
    StructField("objectid", LongType), StructField("iri", StringType),
    StructField("pid", StringType), StructField("last_edited_date", StringType)))
  protected def fullSize: Long = gen.nPid
  protected def deltaSize: Long = if (gen.delta > 0) gen.touched + gen.newPerDelta else 0L

  protected def row(delta: Boolean, i: Long): Array[Any] = {
    val (a, edited) =
      if (!delta) (i.toInt, gen.baseEdited(i, 13))
      else if (i < gen.touched) (gen.touchedRow(i.toInt), deltaEdited)
      else (gen.newAddress((i - gen.touched).toInt), deltaEdited)
    Array[Any](a.toLong + 1, gen.addressIri(a), gen.pid(a), edited)
  }
}

/** SPARQL SELECT result pages for the five entity listings, generated on
  * the task thread that "fetches" each page.
  */
final class SparqlPages(gen: PlsGen, stats: SourceStats) extends Serializable {
  val vars: Map[String, Seq[String]] = Map(
    "address" -> Seq("address_iri", "address_pid", "site_id"),
    "site" -> Seq("site_iri"), "parcel" -> Seq("parcel_iri"),
    "road" -> Seq("road_iri"), "place_name" -> Seq("place_name_iri"))

  private def basePages = (gen.n + gen.addressPage - 1) / gen.addressPage

  def pageCount(entity: String): Int = entity match {
    case "address" =>
      basePages + (if (gen.delta > 0) (gen.newPerDelta + gen.addressPage - 1) / gen.addressPage else 0)
    case e => (gen.listing(e) + gen.entityPage - 1) / gen.entityPage
  }

  def pages(spark: SparkSession, entity: String): Dataset[String] = {
    val self = this
    spark.range(0, pageCount(entity).toLong).map((p: java.lang.Long) => self.page(entity, p.intValue))(
      Encoders.STRING)
  }

  def page(entity: String, p: Int): String = stats.request(gen.latencyMs) {
    val vs = vars(entity)
    val sb = new java.lang.StringBuilder(1 << 16)
    sb.append("{\"head\":{\"vars\":[").append(vs.map("\"" + _ + "\"").mkString(","))
      .append("]},\"results\":{\"bindings\":[")
    var rows = 0L
    def uri(v: String, value: String): Unit =
      sb.append('"').append(v).append("\":{\"type\":\"uri\",\"value\":\"").append(value).append("\"}")
    def binding(values: Seq[(String, String)]): Unit = {
      if (rows > 0) sb.append(',')
      sb.append('{')
      var first = true
      values.foreach { case (v, value) =>
        if (!first) sb.append(',')
        first = false
        if (v == "address_pid")
          sb.append("\"address_pid\":{\"type\":\"literal\",\"value\":\"").append(value)
            .append("\",\"datatype\":\"http://www.w3.org/2001/XMLSchema#string\"}")
        else uri(v, value)
      }
      sb.append('}')
      rows += 1
    }
    entity match {
      case "address" =>
        val (lo, hi) =
          if (p < basePages) (p * gen.addressPage, math.min(gen.n, (p + 1) * gen.addressPage))
          else {
            val q = p - basePages
            (gen.n + q * gen.addressPage, math.min(gen.n + gen.newPerDelta, gen.n + (q + 1) * gen.addressPage))
          }
        var a = lo
        while (a < hi) {
          if (gen.alive(a))
            binding(Seq("address_iri" -> gen.addressIri(a), "address_pid" -> gen.pid(a),
              "site_id" -> gen.entityIri("site", gen.siteOf(a))))
          a += 1
        }
      case e =>
        val lo = p * gen.entityPage
        val hi = math.min(gen.listing(e), lo + gen.entityPage)
        var i = lo
        while (i < hi) { binding(Seq(vs.head -> gen.entityIri(e, i))); i += 1 }
    }
    sb.append("]}}")
    (sb.toString, rows, sb.length.toLong)
  }
}
