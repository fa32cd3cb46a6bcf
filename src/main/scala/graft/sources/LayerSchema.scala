package graft.sources

/** S5/I3/M4 — remote-layer schema introspection and drift degradation
  * (reference `address_etl/geocode.py:148-202`,
  * `address_iri_pid_map.py:31-81`): physical field names drift
  * (`pid`↔`address_pid`, `type`↔`geocode_type`), and losing the
  * `last_edited_date` column silently downgrades an incremental run to a
  * full refresh (`geocode.py:478-483` then clears carried state).
  *
  * Pure driver-side functions over the layer-definition JSON field list —
  * unit-tested exactly like the reference (`tests/test_geocode_schema.py`).
  */
object LayerSchema {

  /** What both remote layers share: the edit-watermark column, `None` once
    * the layer has lost it.
    */
  sealed trait EditedLayerSchema {
    def lastEditedField: Option[String]
  }

  final case class GeocodeLayerSchema(
    objectIdField: String,
    addressPidField: String,
    geocodeTypeField: String,
    geocodeSourceField: Option[String],
    geocodeStatusField: Option[String],
    lastEditedField: Option[String],
  ) extends EditedLayerSchema

  private def pick(names: Set[String], preferred: String, fallback: String): Option[String] =
    if (names.contains(preferred)) Some(preferred)
    else if (names.contains(fallback)) Some(fallback)
    else None

  /** Resolve physical field names from the layer's field list.
    * @param objectIdField the layer's advertised objectIdField, if any
    */
  def geocodeSchema(fieldNames: Set[String], objectIdField: Option[String] = None): GeocodeLayerSchema =
    GeocodeLayerSchema(
      objectIdField = objectIdField.getOrElse("objectid"),
      addressPidField = pick(fieldNames, "address_pid", "pid")
        .getOrElse(throw new RuntimeException("Geocode layer schema is missing address PID field")),
      geocodeTypeField = pick(fieldNames, "geocode_type", "type")
        .getOrElse(throw new RuntimeException("Geocode layer schema is missing geocode type field")),
      geocodeSourceField = pick(fieldNames, "geocode_source", "source"),
      geocodeStatusField = if (fieldNames.contains("geocode_status")) Some("geocode_status") else None,
      lastEditedField = if (fieldNames.contains("last_edited_date")) Some("last_edited_date") else None,
    )

  /** P8 — watermark predicate for the remote scan; degrades to `1=1` (full
    * scan) when the watermark column is gone (`geocode.py:190-202`,
    * `address_iri_pid_map.py:69-81`).
    */
  def whereClause(schema: EditedLayerSchema, esriDate: Option[String]): String =
    (esriDate, schema.lastEditedField) match {
      case (Some(d), Some(f)) => s"$f >= DATE '$d'"
      case _ => "1=1"
    }

  /** M4 — a watermark was requested but the layer can no longer honor it:
    * the caller must drop carried-forward state and rebuild from the full
    * scan.
    */
  def requiresFullRefresh(schema: EditedLayerSchema, esriDate: Option[String]): Boolean =
    esriDate.isDefined && schema.lastEditedField.isEmpty

  /** S4/S5 — the IRI→PID layer's own schema resolution (reference
    * `address_etl/address_iri_pid_map.py:19-66`). Note the preferences are
    * the REVERSE of the geocode layer's: this layer's live names are the
    * short forms (`iri`, `pid`), with the long forms as drift fallbacks;
    * the object id honors `objectIdField` then `objectIdFieldName`.
    */
  final case class IriPidLayerSchema(
    objectIdField: String,
    addressIriField: String,
    addressPidField: String,
    lastEditedField: Option[String],
  ) extends EditedLayerSchema

  def iriPidSchema(fieldNames: Set[String], objectIdField: Option[String] = None,
                   objectIdFieldName: Option[String] = None): IriPidLayerSchema =
    IriPidLayerSchema(
      objectIdField = objectIdField.orElse(objectIdFieldName).getOrElse("objectid"),
      addressIriField = pick(fieldNames, "iri", "address_iri")
        .getOrElse(throw new RuntimeException(
          "Address IRI to PID layer schema is missing address IRI field")),
      addressPidField = pick(fieldNames, "pid", "address_pid")
        .getOrElse(throw new RuntimeException(
          "Address IRI to PID layer schema is missing address PID field")),
      lastEditedField =
        if (fieldNames.contains("last_edited_date")) Some("last_edited_date") else None,
    )
}
