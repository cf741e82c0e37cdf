package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{Metadata, MetadataBuilder, StructField, StructType}

/** Delta-style COLUMN MAPPING for the snapshot format — the mechanism
  * behind `ALTER TABLE … RENAME/DROP COLUMN` as pure schema commits:
  *
  *  - every column has an immutable PHYSICAL name: the name its data
  *    files actually store. It is the logical name at creation and
  *    NEVER changes afterwards — so every data file of a column, no
  *    matter when written, carries the same physical name, and neither
  *    RENAME nor DROP rewrites a single data file;
  *  - RENAME changes only the LOGICAL name: the new schema's field
  *    records its physical name in field metadata (`graft.physical`);
  *    reads fetch physical columns and project them to logical names;
  *    time travel below the rename reads the version's own schema —
  *    the old name, exactly as committed;
  *  - DROP removes the field from the recorded schema; the data stays
  *    in the files (history/time travel still read it) but the pinned
  *    projection of newer versions never fetches it;
  *  - abandoned physical names are TOMBSTONED (a monotonic table
  *    property): a later ADD COLUMN of the same name gets a fresh,
  *    version-stamped physical name instead of silently resurrecting
  *    the old files' values — the hazard field-id formats (Iceberg)
  *    solve with ids, solved here with name freshness.
  *
  * At 100 TB this is the only acceptable shape: a rename that rewrote
  * files would be a full-table job; here it is one manifest commit. */
object ColumnMapping {
  /** Field-metadata key holding a column's physical (file) name. */
  val PhysicalKey = "graft.physical"
  /** Table-property listing physical names no new column may claim. */
  val TombstonesProp = "graft.tombstones"

  def physicalName(f: StructField): String =
    if (f.metadata.contains(PhysicalKey)) f.metadata.getString(PhysicalKey)
    else f.name

  /** Does any field read/write under a name other than its logical one? */
  def hasMapping(schema: StructType): Boolean =
    schema.fields.exists(f => physicalName(f) != f.name)

  /** logical name -> physical name, only where they differ. */
  def mappingOf(schema: StructType): Map[String, String] =
    schema.fields.iterator
      .map(f => f.name -> physicalName(f))
      .filter { case (l, p) => l != p }.toMap

  /** The schema as stored in data files: physical field names. */
  def physicalSchema(schema: StructType): StructType =
    StructType(schema.fields.map(f => f.copy(name = physicalName(f))))

  /** Project a physically-read frame back to logical names (identity
    * when the schema carries no mapping — the common, zero-cost case). */
  def toLogical(df: DataFrame, schema: StructType): DataFrame =
    if (!hasMapping(schema)) df
    else df.select(schema.fields.toIndexedSeq.map(f =>
      col(physicalName(f)).as(f.name, f.metadata)): _*)

  /** Rename a write schema's fields to physical names per `mapping`
    * (fields outside the mapping — including genuinely new columns,
    * whose physical name IS their logical name — pass through). */
  def renameFields(schema: StructType, mapping: Map[String, String]): StructType =
    if (mapping.isEmpty) schema
    else StructType(schema.fields.map(f =>
      f.copy(name = mapping.getOrElse(f.name, f.name))))

  /** A field re-pointed at `physical` (metadata key added/replaced). */
  def withPhysical(f: StructField, physical: String): StructField =
    if (physical == f.name && !f.metadata.contains(PhysicalKey)) f
    else f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
      .putString(PhysicalKey, physical).build())

  /** Carry the tip schema's mapping onto a same-named field of a new
    * schema (overwrites replace data, not column identity). */
  def inheritMapping(schema: StructType, tip: Option[StructType]): StructType =
    tip match {
      case None => schema
      case Some(t) =>
        val byName = t.fields.map(f => f.name -> f).toMap
        StructType(schema.fields.map { f =>
          byName.get(f.name) match {
            case Some(tf) if physicalName(tf) != tf.name =>
              withPhysical(f, physicalName(tf))
            case _ => f
          }
        })
    }

  def parseTombstones(props: Map[String, String]): Set[String] =
    props.get(TombstonesProp).toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty).toSet

  def renderTombstones(ts: Set[String]): String = ts.toSeq.sorted.mkString(",")

  /** Strip the mapping metadata (for user-facing displays, if needed). */
  def stripMapping(m: Metadata): Metadata =
    if (!m.contains(PhysicalKey)) m
    else {
      // Metadata has no remove: rebuild from the json minus our key
      val json = org.json4s.jackson.JsonMethods.parse(m.json)
        .removeField { case (k, _) => k == PhysicalKey }
      Metadata.fromJson(org.json4s.jackson.JsonMethods.compact(json))
    }
}
